package graft

import graft.model.Warehouse
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Model-layer unit tests mirroring the reference's loader suite
  * (reference `tests/test_pipeline.py:173–208`): date-dim generation span
  * and attributes, surrogate-key density/determinism, upsert and
  * append-if-absent sink semantics. */
class WarehouseSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  test("CDC apply tolerates at-least-once delivery: replaying the log changes nothing") {
    // real CDC transports redeliver; last-write-wins keyed on (k, seq) must
    // make a duplicate-delivered log indistinguishable from a clean one.
    // The gate's own run IS the clean log; a doubled log puts every op in
    // the stream twice with identical (seq, payload), and max_by picks the
    // same survivor either way.
    val ops = Seq(
      (1L, "I", 1, "O", 10.0), (1L, "U", 2, "O", 20.0),
      (2L, "I", 1, "F", 30.0), (2L, "D", 2, "F", 0.0),
      (3L, "I", 1, "P", 40.0))
      .toDF("k", "op", "seq", "status", "price")
    def apply(log: org.apache.spark.sql.DataFrame) = log
      .groupBy("k")
      .agg(max_by(col("op"), col("seq")).as("op"),
        max_by(col("status"), col("seq")).as("status"),
        max_by(col("price"), col("seq")).as("price"))
      .filter(col("op") =!= "D")
      .orderBy("k").collect().toSeq
    assert(apply(ops) === apply(ops.unionAll(ops)))
    assert(apply(ops).map(_.getAs[Long]("k")) === Seq(1L, 3L)) // 2 deleted
    assert(apply(ops).head.getAs[Double]("price") === 20.0)    // update won
  }

  test("dateDim generates 31 rows for January (test_pipeline.py:173–185)") {
    val facts = Seq("2024-01-01", "2024-01-31").toDF("d")
      .select(col("d").cast(TimestampType).as("d"))
    val dd = Warehouse.dateDim(facts, "d")
    assert(dd.count() === 31)
    val first = dd.orderBy("date_key").head()
    assert(first.getAs[Int]("date_key") === 20240101)
    assert(first.getAs[Int]("day_of_week") === 0) // 2024-01-01 was a Monday
    assert(first.getAs[String]("day_name") === "Monday")
    assert(first.getAs[Int]("quarter") === 1)
    assert(!first.getAs[Boolean]("is_weekend"))
    // exactly 8 weekend days in Jan 2024
    assert(dd.filter(col("is_weekend")).count() === 8)
  }

  test("surrogate keys are dense 1..N in business-key order and deterministic (W8)") {
    uncoalesced {
      val dim = (1 to 500).map(i => (i * 7 % 501, s"name_$i")).toDF("bk", "name")
      val keyed = Warehouse.withSurrogateKey(dim, "bk", "sk")
      assert(keyed.rdd.getNumPartitions === 4)
      val pairs = keyed.select("sk", "bk").as[(Long, Int)].collect().sortBy(_._1)
      assert(pairs.map(_._1).toSeq === (1L to 500L)) // dense, no gaps
      assert(pairs.map(_._2).toSeq === pairs.map(_._2).sorted.toSeq) // sk order == bk order
      // run twice → identical assignment (no nondeterministic ids)
      val again = Warehouse.withSurrogateKey(dim, "bk", "sk")
        .select("sk", "bk").as[(Long, Int)].collect().sortBy(_._1)
      assert(again.toSeq === pairs.toSeq)
    }
  }

  test("surrogate keys fail on a repeated business key, naming the column and the key") {
    uncoalesced {
      val dim = ((1 to 200) :+ 137).map(i => (i, s"name_$i")).toDF("bk", "name")
      val err = intercept[org.apache.spark.SparkException] {
        Warehouse.withSurrogateKey(dim, "bk", "sk").collect()
      }
      assert(err.getMessage.contains("withSurrogateKey: bk = 137 repeats"), err.getMessage)
    }
  }

  test("one surrogate-key build runs 3 jobs: range sample, partition counts, numbering") {
    val dim = (1 to 500).map(i => (i, s"name_$i")).toDF("bk", "name")
    val (rows, jobs) = jobsOf(Warehouse.withSurrogateKey(dim, "bk", "sk").collect())
    assert(rows.length === 500)
    assert(jobs === 3)
  }

  test("upsert: incoming replaces existing on key, others survive (S8)") {
    val existing = Seq((1, "old1"), (2, "old2"), (3, "old3")).toDF("k", "v")
    val incoming = Seq((2, "new2"), (4, "new4")).toDF("k", "v")
    val out = Warehouse.upsert(existing, incoming, Seq("k"))
      .orderBy("k").as[(Int, String)].collect()
    assert(out === Array((1, "old1"), (2, "new2"), (3, "old3"), (4, "new4")))
  }

  test("append-if-absent: only novel keys append (S9)") {
    val existing = Seq((1, "e1"), (2, "e2")).toDF("k", "v")
    val incoming = Seq((2, "i2"), (3, "i3")).toDF("k", "v")
    val out = Warehouse.appendIfAbsent(existing, incoming, Seq("k"))
      .orderBy("k").as[(Int, String)].collect()
    assert(out === Array((1, "e1"), (2, "e2"), (3, "i3"))) // existing 2 wins
    // idempotent: replaying the same incoming adds nothing
    val replay = Warehouse.appendIfAbsent(
      Warehouse.appendIfAbsent(existing, incoming, Seq("k")), incoming, Seq("k"))
    assert(replay.count() === 3)
  }

  test("SCD2: intervals tile each key's timeline, one current row per key, no no-op versions") {
    val rows = Warehouse.wScd2Dim.run(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getAs[java.time.LocalDateTime]("eff_from"),
        Option(r.getAs[java.time.LocalDateTime]("eff_to")),
        r.getBoolean(4)))
    rows.groupBy(_._1).foreach { case (uid, vs) =>
      val sorted = vs.sortBy(_._3)(Ordering.fromLessThan[java.time.LocalDateTime](_ isBefore _))
      // exactly one open (current) interval, and it is the last one
      assert(vs.count(_._5) === 1, s"user $uid: current-row count != 1")
      assert(sorted.last._5 && sorted.last._4.isEmpty, s"user $uid: open row not last")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          // each interval closes exactly where the next opens (gap-free tiling)
          assert(a._4.contains(b._3), s"user $uid: interval gap/overlap at ${b._3}")
          // consecutive versions must differ — SCD2 records transitions only
          assert(a._2 != b._2, s"user $uid: no-op version at ${b._3}")
        case _ =>
      }
    }
    assert(rows.nonEmpty)
  }

  test("incremental aggregate maintenance equals the full monthly recompute") {
    val incr = Warehouse.wIncrementalAgg.run(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val full = core.tbl(spark, sfDir, "orders")
      .groupBy(year(col("o_orderdate")).as("o_year"), month(col("o_orderdate")).as("o_month"))
      .agg(count(lit(1)).as("n_orders"),
        core.moneySumD(col("o_totalprice")).as("revenue"))
      .orderBy("o_year", "o_month")
      .collect().map(_.toSeq).toSeq
    assert(incr === full)
  }

  test("incremental SCD2 equals the full rebuild at every cutoff, including degenerate ones") {
    val full = Warehouse.wScd2Dim.run(spark, sfDir).collect().map(_.toSeq).toSeq
    // mid-span (the gated cutoff), before-span (all delta, empty dim),
    // after-span (empty delta, dim passes through untouched)
    for (cutoff <- Seq("2024-01-21 00:00:00", "2000-01-01 00:00:00", "2100-01-01 00:00:00")) {
      val incr = Warehouse.scd2IncrementalAt(spark, sfDir, cutoff)
        .orderBy("user_id", "eff_from").collect().map(_.toSeq).toSeq
      assert(incr === full, s"incremental diverged from full rebuild at cutoff $cutoff")
    }
  }
}
