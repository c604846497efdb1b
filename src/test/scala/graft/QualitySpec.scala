package graft

import graft.quality.Quality
import org.apache.spark.sql.functions._

/** Quality-suite tests over the sf0.001 tables: each check must both
  * compute the right counters and reach the right verdict on the seeded
  * defects its gate query injects (reference `data_quality_check.py` and
  * the dbt custom tests). */
class QualitySpec extends SparkSpec {

  test("composite uniqueness treats (k, NULL) and (NULL, k) as distinct keys") {
    import SparkSpec.spark.implicits._
    // all three pairs are distinct — a concat_ws encoding collapses the
    // first two to "1" and would report a false duplicate
    val unique = Seq(
      (Option(1), Option.empty[Int]),
      (Option.empty[Int], Option(1)),
      (Option(1), Option(1))).toDF("a", "b")
    assert(unique.agg(Quality.compositeUniquePassed("a", "b")).head.getBoolean(0),
      "distinct nullable pairs misreported as duplicates")
    // a genuinely repeated (NULL, NULL) pair must still fail
    val dup = Seq(
      (Option.empty[Int], Option.empty[Int]),
      (Option.empty[Int], Option.empty[Int])).toDF("a", "b")
    assert(!dup.agg(Quality.compositeUniquePassed("a", "b")).head.getBoolean(0),
      "repeated (NULL, NULL) pair not detected as a duplicate")
  }

  test("Q4 flags injected null surrogate keys but confirms non-empty facts") {
    val row = Quality.q4NonEmptyNullSk.run(spark, sfDir).head()
    assert(row.getAs[Boolean]("fact_nonempty"))
    assert(row.getAs[Long]("null_sk_rows") > 0) // o_orderkey % 41 nulls injected
    assert(!row.getAs[Boolean]("sk_check_passed"))
    assert(row.getAs[Long]("fact_rows") > row.getAs[Long]("null_sk_rows"))
  }

  test("Q5 unique/not_null verdicts: clean keys pass, duplicate-keyed lineitem fails unique") {
    val rows = Quality.q5UniqueNotNull.run(spark, sfDir).collect()
      .map(r => r.getAs[String]("table_name") ->
        (r.getAs[Boolean]("not_null_passed"), r.getAs[Boolean]("unique_passed"))).toMap
    assert(rows("orders") === ((true, true)))
    assert(rows("customer") === ((true, true)))
    // base lineitem carries duplicate (l_orderkey, l_linenumber) keys by
    // construction (see FIXTURES.md) — the composite unique test must catch it
    assert(rows("lineitem")._1 === true)
    assert(rows("lineitem")._2 === false)
  }

  test("composite unique keeps (k, NULL) and (NULL, k) distinct, still catches real dups") {
    import SparkSpec.spark.implicits._
    // the pre-fix concat_ws encoding collapsed both mixed-NULL pairs to "1"
    // and reported a false duplicate here
    val pairs = Seq((Option(1), Option.empty[Int]), (Option.empty[Int], Option(1)),
      (Option(2), Option(3))).toDF("a", "b")
    assert(pairs.agg(Quality.compositeUniquePassed("a", "b")).head().getBoolean(0))
    // a genuine duplicate of a NULL-bearing pair must still fail
    val withDup = pairs.unionAll(Seq((Option(1), Option.empty[Int])).toDF("a", "b"))
    assert(!withDup.agg(Quality.compositeUniquePassed("a", "b")).head().getBoolean(0))
  }

  test("Q6 negative-amount test fails on injected negatives with an exact count") {
    val row = Quality.q6NoNegativeAmounts.run(spark, sfDir).head()
    assert(row.getAs[Long]("negative_rows") > 0)
    assert(!row.getAs[Boolean]("test_passed"))
  }

  test("Q7 date-key validity fails on injected nulls") {
    val row = Quality.q7DateKeyValidity.run(spark, sfDir).head()
    assert(row.getAs[Long]("invalid_rows") > 0)
    assert(!row.getAs[Boolean]("test_passed"))
  }

  test("S11 audit row accounts extracted = loaded + rejected with the right status") {
    val row = Quality.s11AuditLog.run(spark, sfDir).head()
    val (e, l, r) = (row.getAs[Long]("records_extracted"),
      row.getAs[Long]("records_loaded"), row.getAs[Long]("records_rejected"))
    assert(e === l + r)
    assert(r > 0) // orphans injected at o_orderkey % 11
    assert(row.getAs[String]("run_status") === "SUCCESS_WITH_REJECTS")
  }

  test("MAD anomaly: flagged days exceed 3 MADs, constants are frame-wide, scores check out") {
    val rows = graft.quality.Quality.qAnomalyMad.run(spark, sfDir).collect()
    assert(rows.nonEmpty, "no anomalous days flagged — fixture drifted")
    val meds = rows.map(_.getAs[Double]("med")).distinct
    val mads = rows.map(_.getAs[Double]("mad")).distinct
    assert(meds.length === 1 && mads.length === 1, "median/MAD must be frame constants")
    assert(mads.head > 0.0)
    rows.foreach { r =>
      val dev = math.abs(r.getAs[Double]("revenue") - meds.head)
      assert(dev > 3.0 * mads.head, s"day ${r.getAs[java.time.Instant]("day")} under threshold")
      assert(math.abs(r.getAs[Double]("score_r") - dev / mads.head) < 1e-4)
      assert(r.getAs[Double]("score_r") > 3.0)
    }
  }

  test("pipeline_e2e summary is internally consistent end-to-end") {
    val row = pipeline.Pipeline.pipelineE2e.run(spark, sfDir).head()
    val e = row.getAs[Long]("records_extracted")
    val l = row.getAs[Long]("records_loaded")
    assert(e === l + row.getAs[Long]("records_rejected"))
    assert(row.getAs[Long]("fact_rows") === l) // SK inner join keeps every valid order
    assert(row.getAs[Long]("fact_daily_rows") <= row.getAs[Long]("dim_date_rows"))
    assert(row.getAs[Double]("total_revenue") > 0.0)
    assert(row.getAs[String]("run_status") === "SUCCESS_WITH_REJECTS")
  }

  test("live-warehouse audit: the maintained dimension passes every dbt-posture check") {
    val rows = Quality.qLiveWarehouse.run(spark, sfDir).collect()
    assert(rows.length === 5)
    val expected = core.tbl(spark, sfDir, "customer")
      .filter(col("c_custkey") % 2 === 0 || col("c_custkey") % 3 =!= 1).count()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_rows") === expected,
        s"warehouse row count drifted from the key-coverage contract: $r")
      assert(r.getAs[Long]("violations") === 0L, s"live warehouse check failed: $r")
      assert(r.getAs[Boolean]("passed"))
    }
  }

  test("after a failed run drops the daily DAG's commit record, the mart audit rebuilds and matches its golden") {
    import pipeline.{ModelDef, ModelRegistry}
    val daily = pipeline.Pipeline.dailyDag
    daily.run(spark, sfDir)
    assert(daily.committed(spark, sfDir).isDefined)
    // a run under the daily DAG's mart prefix whose later model throws
    val failing = new ModelRegistry(Nil, Seq(
      ModelDef("mart_fail_early", Nil, mart = true) { (s, _, _) => s.range(3).toDF("k") },
      ModelDef("mart_fail_late", Seq("mart_fail_early"), mart = true) { (_, _, _) =>
        throw new IllegalStateException("late model failed")
      }))
    intercept[IllegalStateException](failing.run(spark, sfDir))
    assert(daily.committed(spark, sfDir).isEmpty)
    assert(Golden.fingerprint(Quality.qMartQuality.run(spark, sfDir)) ===
      Golden.load()("q_mart_quality"))
    assert(daily.committed(spark, sfDir).isDefined, "the audit's own run was not committed")
  }

  test("the mart audit over a committed daily run reads each mart once") {
    pipeline.Pipeline.dailyDag.run(spark, sfDir)
    val (rows, jobs) = jobsOf(Quality.qMartQuality.run(spark, sfDir).collect())
    assert(rows.map(r => (r.getAs[String]("table_name"), r.getAs[String]("check_name"))).toSeq ===
      Seq("dim_customer" -> "unique_not_null_sk", "fact_daily" -> "nonempty",
        "fact_orders" -> "date_key_validity", "fact_orders" -> "no_negative_amounts",
        "fact_orders" -> "nonempty_null_sk"))
    assert(rows.forall(_.getAs[Boolean]("passed")))
    assert(jobs === 1, s"$jobs jobs")
  }
}
