package graft.pipeline

import graft.{QueryDef, RunContext, core}
import graft.core._
import graft.model.Warehouse
import graft.sources.Watermark
import graft.transform.Cleaning
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.time.LocalDate

/** The end-to-end pipeline runner: the reference's 9-task daily DAG
  * (reference `airflow/dags/etl_daily_pipeline.py:403–412` — extract →
  * transform/validate → load dims → load facts → quality → audit) collapsed
  * into ONE Spark lineage (SURVEY.md §3.1). Airflow's process boundaries and
  * per-task parquet handoffs become Spark stage boundaries; the XCom count
  * bookkeeping becomes the registry's run log, whose counts and control
  * totals are observed on the passes that write the marts.
  *
  * Scale posture: the fact table flows through exactly one shuffle (the
  * daily rollup); both dimension joins are broadcast; the surrogate-key
  * pass is one partition-parallel sorted pass (no global window); and the
  * run accounting costs no pass of its own: the audit row is built on the
  * driver from the run log.
  */
object Pipeline {

  /** The daily warehouse DAG as registry models — the reference's dbt
    * `ref()` graph re-expressed: staging extractions and validation as
    * views, dims/facts as mart tables, dependency order derived (and
    * cycle-checked) by [[ModelRegistry]] instead of hand-sequenced.
    *
    * Per-model scale posture is unchanged from the hand-built lineage:
    * validation is a broadcast semi join (the fact side never shuffles),
    * surrogate keys are one partition-parallel sorted pass, both
    * fact joins broadcast their dimension, and the daily rollup is the
    * fact's single shuffle. */
  val dailyDag: ModelRegistry = new ModelRegistry(Seq("orders", "customer"), Seq(
    // -- extract (S1/S3) --------------------------------------------------
    ModelDef("stg_orders", Nil, mart = false) { (spark, dir, _) =>
      tbl(spark, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    },
    ModelDef("stg_customer", Nil, mart = false) { (spark, dir, _) =>
      tbl(spark, dir, "customer")
    },
    // orphan injection (o_orderkey % 11 → shifted keys) exercises the
    // validate → reject path end-to-end
    ModelDef("stg_src", Seq("stg_orders"), mart = false,
        metrics = Seq(count(lit(1)).as("n"))) { (_, _, ref) =>
      val orders = ref("stg_orders")
      orders.unionAll(
        orders.filter(col("o_orderkey") % 11 === 0)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            (col("o_custkey") + 10000000L).as("o_custkey"),
            col("o_orderdate"), col("o_totalprice")))
    },
    // -- transform & validate (D4/J6) -------------------------------------
    ModelDef("stg_valid", Seq("stg_src", "stg_customer"), mart = false,
        metrics = Seq(count(lit(1)).as("n"))) { (_, _, ref) =>
      Cleaning.integrityFilter(ref("stg_src"),
        ref("stg_customer").select(col("c_custkey").as("o_custkey")), "o_custkey")
    },
    // -- dimensions (W8 sorted-pass surrogate keys, S10 date dim) ---------
    ModelDef("dim_customer", Seq("stg_customer"), mart = true) { (_, _, ref) =>
      Warehouse.withSurrogateKey(
        ref("stg_customer").select("c_custkey"), "c_custkey", "customer_key")
    },
    ModelDef("dim_date", Seq("stg_orders"), mart = true) { (_, _, ref) =>
      Warehouse.dateDim(ref("stg_orders"), "o_orderdate")
    },
    // -- facts (J4 SK resolution + J5 date-expression join, broadcast dims;
    //    the mart parquet IS the reference's stage handoff) ----------------
    ModelDef("fact_orders", Seq("stg_valid", "dim_customer", "dim_date"), mart = true,
        metrics = Seq(moneySumD(col("total_amount")).as("revenue"))) { (_, _, ref) =>
      val valid = ref("stg_valid")
      val dimCustomer = ref("dim_customer")
      val dimDate = ref("dim_date")
      valid
        .join(broadcast(dimCustomer), valid("o_custkey") === dimCustomer("c_custkey"))
        .join(broadcast(dimDate),
          valid("o_orderdate").cast(DateType) === dimDate("full_date"), "left")
        .select(col("o_orderkey"), col("customer_key"), col("date_key"),
          dec2(col("o_totalprice")).as("total_amount"))
    },
    ModelDef("fact_daily", Seq("fact_orders"), mart = true) { (_, _, ref) =>
      ref("fact_orders").groupBy("date_key")
        .agg(moneySum(col("total_amount")).as("rev"))
    }))

  // -- incremental daily DAG (SURVEY §2.10 wired end-to-end) --------------

  /** The daily DAG in INCREMENTAL form: the extract model reads strictly
    * past the persisted high-watermark and no further than the run's
    * logical date (reference: the watermark handed extract→transform→load,
    * `airflow/dags/etl_daily_pipeline.py:87–88`,
    * `extractors/postgres_extractor.py:41–50`), the fact mart is
    * append-materialized (each run ADDS its batch), and after load the
    * watermark advances to the batch max — so a re-triggered run is a
    * provably-empty no-op. Dimensions stay full-refresh (the reference
    * rebuilds dims every run too). The watermark is read at DAG-build
    * time, so each [[runIncremental]] call binds the current checkpoint
    * as a pushed-down scan predicate. */
  def incrementalDag(ctx: RunContext, seed: LocalDate): ModelRegistry =
    new ModelRegistry(Seq("orders", "customer"), Seq(
      ModelDef("inc_orders", Nil, mart = false,
          metrics = Seq(count(lit(1)).as("n"), max(col("o_orderdate")).as("mx"))) {
        (spark, dir, _) =>
          val wm = Watermark.read(spark, dir, "orders", seed, tag = "dag")
          tbl(spark, dir, "orders")
            .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
            .filter(col("o_orderdate") > lit(wm.toString).cast(DateType) &&
              col("o_orderdate") <= ctx.asOfCol)
      },
      ModelDef("stg_customer", Nil, mart = false) { (spark, dir, _) =>
        tbl(spark, dir, "customer")
      },
      ModelDef("inc_valid", Seq("inc_orders", "stg_customer"), mart = false,
          metrics = Seq(count(lit(1)).as("n"))) { (_, _, ref) =>
        Cleaning.integrityFilter(ref("inc_orders"),
          ref("stg_customer").select(col("c_custkey").as("o_custkey")), "o_custkey")
      },
      ModelDef("dim_customer", Seq("stg_customer"), mart = true) { (_, _, ref) =>
        Warehouse.withSurrogateKey(
          ref("stg_customer").select("c_custkey"), "c_custkey", "customer_key")
      },
      ModelDef("fact_orders_inc", Seq("inc_valid", "dim_customer"),
        mart = true, append = true) { (_, _, ref) =>
        val valid = ref("inc_valid")
        val dimCustomer = ref("dim_customer")
        valid
          .join(broadcast(dimCustomer), valid("o_custkey") === dimCustomer("c_custkey"))
          .select(col("o_orderkey"), col("customer_key"),
            dateKey(col("o_orderdate").cast(DateType)).as("date_key"),
            dec2(col("o_totalprice")).as("total_amount"))
      }))

  private final case class IncRun(extracted: Long, loaded: Long, built: DagRun)

  /** One incremental daily run: build the DAG (fact batch appended to the
    * mart inside), then advance the checkpoint to the batch max. The batch
    * accounting (extracted count and max date, valid count) is read from
    * the run log, observed on the fact append itself, so the watermark
    * moves only after the append has committed and no pass re-reads the
    * batch. */
  private def runIncremental(spark: SparkSession, dir: String,
      ctx: RunContext, seed: LocalDate): IncRun = {
    val built = incrementalDag(ctx, seed)
      .run(spark, dir, viewPrefix = "graft_inc_", martPrefix = "marts_inc")
    val extracted = built.metric[Long]("inc_orders", "n")
    if (extracted > 0)
      Watermark.advance(spark, dir, "orders",
        Watermark.asLocalDate(built.metric[Any]("inc_orders", "mx")), tag = "dag")
    IncRun(extracted, built.metric[Long]("inc_valid", "n"), built)
  }

  /** Gate — three incremental daily runs against one persisted checkpoint:
    * run 1 (as-of 1998-07-31) loads the seed→July batch, run 2 (as-of
    * year-end) loads everything the advanced watermark now excludes from
    * run 1's batch, run 3 re-triggers run 2's context and extracts
    * PROVABLY ZERO rows while the fact mart stays unchanged — the
    * idempotence contract of a scheduled daily pipeline. */
  val pipelineIncremental: QueryDef = QueryDef(
    "pipeline_incremental",
    Some("""
      WITH b1 AS (
        SELECT * FROM orders
        WHERE o_orderdate > DATE '1998-06-30' AND o_orderdate <= DATE '1998-07-31'),
      v1 AS (SELECT * FROM b1 WHERE o_custkey IN (SELECT c_custkey FROM customer)),
      b2 AS (
        SELECT * FROM orders
        WHERE o_orderdate > (SELECT max(o_orderdate) FROM b1)
          AND o_orderdate <= DATE '1998-12-31'),
      v2 AS (SELECT * FROM b2 WHERE o_custkey IN (SELECT c_custkey FROM customer)),
      fact AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
      SELECT
        (SELECT count(*) FROM v1) AS run1_loaded,
        (SELECT count(*) FROM v2) AS run2_loaded,
        CAST(0 AS BIGINT) AS run3_extracted,
        (SELECT count(*) FROM fact) AS fact_rows_total,
        (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) FROM fact)
          AS total_revenue,
        CAST((SELECT max(o_orderdate) FROM b2) AS TIMESTAMP) AS final_watermark,
        'INCREMENTAL_OK' AS run_status
    """)) { (spark, dir) =>
    val seed = LocalDate.parse("1998-06-30")
    // deterministic gate: drop the checkpoint and the accumulated fact mart
    Watermark.reset(spark, dir, "orders", tag = "dag")
    val factLoc = new org.apache.hadoop.fs.Path(
      scratch(dir, "marts_inc/fact_orders_inc"))
    factLoc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(factLoc, true)

    val r1 = runIncremental(spark, dir,
      RunContext(LocalDate.parse("1998-07-31")), seed)
    val r2 = runIncremental(spark, dir, RunContext.default, seed)
    val r3 = runIncremental(spark, dir, RunContext.default, seed)
    val wmFinal = Watermark.read(spark, dir, "orders", seed, tag = "dag")

    r3.built("fact_orders_inc")
      .agg(count(lit(1)).as("fact_rows_total"),
        moneySumD(col("total_amount")).as("total_revenue"))
      .select(
        lit(r1.loaded).as("run1_loaded"),
        lit(r2.loaded).as("run2_loaded"),
        lit(r3.extracted).as("run3_extracted"),
        col("fact_rows_total"), col("total_revenue"),
        to_timestamp(lit(wmFinal.toString)).as("final_watermark"),
        // self-checking status: idempotent re-run AND append accounting
        when(lit(r3.extracted == 0L) &&
          col("fact_rows_total") === lit(r1.loaded + r2.loaded),
          "INCREMENTAL_OK").otherwise("INCREMENTAL_MISMATCH").as("run_status"))
  }

  /** The whole DAG, gated by one auditable summary row (the reference's
    * `etl_run_log` shape). Orphans are injected (o_orderkey % 11 → shifted
    * keys) so the validate → reject path is exercised end-to-end. The row
    * is built on the driver from the run's log: every count and the
    * revenue total were observed while the marts were written, so the gate
    * runs no Spark job after its last mart write. */
  val pipelineE2e: QueryDef = QueryDef(
    "pipeline_e2e",
    Some(s"""
      WITH src AS (
        SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice FROM orders
        UNION ALL
        SELECT o_orderkey + 10000000, o_custkey + 10000000, o_orderdate, o_totalprice
        FROM orders WHERE o_orderkey % 11 = 0),
      valid AS (
        SELECT * FROM src WHERE o_custkey IN (SELECT c_custkey FROM customer)),
      dim_customer AS (
        SELECT row_number() OVER (ORDER BY c_custkey) AS customer_key, c_custkey
        FROM customer),
      dim_date AS (${Warehouse.dateDimSql}),
      fact_orders AS (
        SELECT v.o_orderkey, dc.customer_key, dd.date_key,
               CAST(v.o_totalprice AS DECIMAL(18,2)) AS total_amount
        FROM valid v
        JOIN dim_customer dc ON v.o_custkey = dc.c_custkey
        LEFT JOIN dim_date dd ON CAST(v.o_orderdate AS DATE) = dd.full_date),
      fact_daily AS (
        SELECT date_key, sum(total_amount) AS rev FROM fact_orders GROUP BY date_key)
      SELECT
        (SELECT count(*) FROM src) AS records_extracted,
        (SELECT count(*) FROM valid) AS records_loaded,
        (SELECT count(*) FROM src) - (SELECT count(*) FROM valid) AS records_rejected,
        (SELECT count(*) FROM dim_customer) AS dim_customer_rows,
        (SELECT count(*) FROM dim_date) AS dim_date_rows,
        (SELECT count(*) FROM fact_orders) AS fact_rows,
        (SELECT count(*) FROM fact_daily) AS fact_daily_rows,
        (SELECT CAST(sum(total_amount) AS DOUBLE) FROM fact_orders) AS total_revenue,
        CASE WHEN (SELECT count(*) FROM src) - (SELECT count(*) FROM valid) > 0
             THEN 'SUCCESS_WITH_REJECTS' ELSE 'SUCCESS' END AS run_status
    """)) { (spark, dir) =>
    // The DAG runs through the model registry (SURVEY §3.2): dependency
    // order is derived from the declared deps, staging models stay lazy
    // views, dim/fact marts materialize as parquet tables (the reference's
    // staging=view / marts=table split).
    val run = dailyDag.run(spark, dir)
    val extracted = run.metric[Long]("stg_src", "n")
    val loaded = run.metric[Long]("stg_valid", "n")
    def rows(model: String) = run.metric[Long](model, "rows")
    val audit = Row(extracted, loaded, extracted - loaded,
      rows("dim_customer"), rows("dim_date"), rows("fact_orders"), rows("fact_daily"),
      run.metric[Any]("fact_orders", "revenue"),
      if (extracted - loaded > 0) "SUCCESS_WITH_REJECTS" else "SUCCESS")
    spark.createDataFrame(java.util.List.of(audit), auditSchema)
  }

  /** The columns of `pipeline_e2e`'s audit row. */
  private val auditSchema: StructType = StructType(
    Seq("records_extracted", "records_loaded", "records_rejected", "dim_customer_rows",
      "dim_date_rows", "fact_rows", "fact_daily_rows")
      .map(StructField(_, LongType, nullable = false)) ++ Seq(
      StructField("total_revenue", DoubleType),
      StructField("run_status", StringType, nullable = false)))

  // -- corpus curation DAG (the LLM-side twin of the warehouse dailyDag) --

  /** The training-corpus pipeline as a REGISTRY DAG — normalize → quality
    * filter → exact dedup → per-source stats, the same staging/mart split
    * the warehouse models use: text-bearing stages stay lazy views
    * (Catalyst inlines them, so the filter reaches the document scan), the
    * deduped corpus and its rollup materialize as parquet marts. A planted
    * duplicate set (doc_id % 7, cloned under +200000) exercises the dedup
    * stage; the dedup window partitions on `md5(ntext)` so the shuffle key
    * is a fixed-width digest, never document text. */
  private val corpusDefs: Seq[ModelDef] = Seq(
    ModelDef("stg_corpus_raw", Nil, mart = false) { (spark, dir, _) =>
      val d = tbl(spark, dir, "documents").select("doc_id", "source", "text")
      d.unionAll(d.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 200000L).as("doc_id"), col("source"), col("text")))
    },
    ModelDef("stg_corpus_norm", Seq("stg_corpus_raw"), mart = false) { (_, _, ref) =>
      ref("stg_corpus_raw").select(col("doc_id"), col("source"),
        graft.llm.Curation.normalizeWs(col("text")).as("ntext"))
    },
    ModelDef("stg_corpus_kept", Seq("stg_corpus_norm"), mart = false) { (_, _, ref) =>
      val t = split(col("ntext"), "\\s+")
      val mwl = length(regexp_replace(col("ntext"), " ", "")).cast(DoubleType) /
        size(t).cast(DoubleType)
      ref("stg_corpus_norm")
        .filter(size(t).between(20, 1000) && mwl.between(2.0, 12.0))
        .withColumn("n_toks", size(t).cast(LongType))
    },
    ModelDef("mart_corpus", Seq("stg_corpus_kept"), mart = true) { (_, _, ref) =>
      val byFp = org.apache.spark.sql.expressions.Window.partitionBy(md5(col("ntext")))
      ref("stg_corpus_kept")
        .withColumn("canon_id", min("doc_id").over(byFp))
        .filter(col("doc_id") === col("canon_id"))
        .select("doc_id", "source", "n_toks")
    },
    ModelDef("mart_corpus_stats", Seq("mart_corpus"), mart = true) { (_, _, ref) =>
      ref("mart_corpus").groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"))
    },
    // the training-export tail: deduped docs → per-doc block offsets in
    // 8 shards of 512-token blocks (same offset arithmetic as
    // t_pack_sequences — a per-shard prefix sum, no sequential packer)
    ModelDef("mart_packed", Seq("mart_corpus"), mart = true) { (_, _, ref) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("shard").orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      ref("mart_corpus")
        .select(col("doc_id"), (col("doc_id") % 8).as("shard"), col("n_toks"))
        .withColumn("tok_start", coalesce(sum("n_toks").over(w), lit(0L)))
        .withColumn("first_block", expr("tok_start div 512"))
        .withColumn("last_block", expr("(tok_start + n_toks - 1) div 512"))
    },
    ModelDef("mart_shards", Seq("mart_packed"), mart = true) { (_, _, ref) =>
      ref("mart_packed").groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"),
          (max(col("last_block")) + 1).as("n_blocks"))
    })

  val corpusDag: ModelRegistry = new ModelRegistry(Seq("documents"), corpusDefs)

  /** The corpus DAG EXTENDED with the trigram-LM quality stage (round-13
    * queue #5): `mart_corpus_lm` labels every deduped corpus doc with its
    * CCNet-style head/middle/tail bucket ([[graft.llm.LangModel
    * .lmBucketLabels]] — the SAME labeling `t_lm_buckets` rolls up), so
    * the materialized corpus mart carries the LM quality signal and a
    * consumer picks its quality/volume cut by bucket (Wenzek et al. 2020
    * §4.3 ship all three; dropping `tail` is the conventional train
    * filter). A SEPARATE registry, sharing every stage definition with
    * [[corpusDag]], so the three stageless corpus gates keep their cost
    * while `pipeline_corpus_lm` prices the LM pass it adds. */
  val corpusLmDag: ModelRegistry = new ModelRegistry(Seq("documents"), corpusDefs :+
    ModelDef("mart_corpus_lm", Seq("mart_corpus"), mart = true) { (spark, dir, ref) =>
      ref("mart_corpus").join(
        graft.llm.LangModel.lmBucketLabels(spark, dir).select("doc_id", "bucket"),
        Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"), col("n_toks"),
          coalesce(col("bucket"), lit("unscored")).as("lm_bucket"))
    })

  /** The corpus curation chain — src (with the planted +200000 clones) →
    * whitespace-normalize → heuristic keep rule → token count — shared
    * VERBATIM by all four corpus-DAG oracles (`pipeline_corpus`,
    * `q_corpus_quality`, `pipeline_corpus_lm`, `pipeline_train_export`);
    * one definition so the keep-rule can never silently desynchronize
    * between them (the r14 review's four-copies finding). Defined in a
    * PLAIN string so the regex escapes stay literal when interpolated
    * into s-string oracles ([[graft.core]] parity rules). */
  private val corpusKeptSql: String = """src AS (
        SELECT doc_id, source, text FROM documents
        UNION ALL
        SELECT doc_id + 200000, source, text FROM documents WHERE doc_id % 7 = 0),
      norm AS (
        SELECT doc_id, source,
               trim(regexp_replace(text, '[ \t\n\r]+', ' ', 'g')) AS ntext
        FROM src),
      kept AS (
        SELECT doc_id, source, ntext,
               CAST(len(string_split_regex(ntext, '\s+')) AS BIGINT) AS n_toks
        FROM norm
        WHERE len(string_split_regex(ntext, '\s+')) BETWEEN 20 AND 1000
          AND CAST(length(replace(ntext, ' ', '')) AS DOUBLE)
              / CAST(len(string_split_regex(ntext, '\s+')) AS DOUBLE)
              BETWEEN 2.0 AND 12.0)"""

  /** §3.2 on the corpus side: run the curation DAG through the registry
    * and emit the per-source mart; the oracle replays every stage
    * (normalize → keep rule → min-id dedup → rollup) in SQL. */
  val pipelineCorpus: QueryDef = QueryDef(
    "pipeline_corpus",
    Some(s"""
      WITH $corpusKeptSql,
      canon AS (
        SELECT doc_id, source, n_toks,
               doc_id = min(doc_id) OVER (PARTITION BY md5(ntext)) AS is_canon
        FROM kept)
      SELECT source, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens
      FROM canon WHERE is_canon
      GROUP BY source
      ORDER BY source
    """)) { (spark, dir) =>
    corpusDag.run(spark, dir, viewPrefix = "graft_corpus_", martPrefix = "corpus_marts")
      .apply("mart_corpus_stats")
      .orderBy("source")
  }

  /** Post-load quality audit over the MATERIALIZED corpus marts (the
    * corpus twin of `q_mart_quality`): key uniqueness, the token-range
    * contract the filter stage guarantees, and cross-mart consistency
    * between the corpus and its rollup — each check a single-pass
    * aggregate over the parquet the DAG actually wrote, not the lazy
    * lineage that produced it. */
  val qCorpusQuality: QueryDef = QueryDef(
    "q_corpus_quality",
    Some(s"""
      WITH $corpusKeptSql,
      mart AS (
        SELECT doc_id, source, n_toks FROM (
          SELECT doc_id, source, n_toks,
                 doc_id = min(doc_id) OVER (PARTITION BY md5(ntext)) AS is_canon
          FROM kept) WHERE is_canon)
      SELECT count(*) AS n_docs,
             CAST(count(*) - count(DISTINCT doc_id) AS BIGINT) AS n_dup_ids,
             CAST(sum(CASE WHEN n_toks BETWEEN 20 AND 1000 THEN 0 ELSE 1 END) AS BIGINT)
               AS n_tok_out_of_range,
             true AS stats_match
      FROM mart
    """)) { (spark, dir) =>
    val outs = corpusDag.run(spark, dir,
      viewPrefix = "graft_corpus_", martPrefix = "corpus_marts")
    val mart = outs("mart_corpus")
    val stats = outs("mart_corpus_stats")
    val m = mart.agg(
      count(lit(1)).as("n_docs"),
      (count(lit(1)) - countDistinct(col("doc_id"))).as("n_dup_ids"),
      sum(when(col("n_toks").between(20, 1000), 0).otherwise(1)).as("n_tok_out_of_range"),
      sum(col("n_toks")).as("mart_tokens"))
    val s = stats.agg(
      sum(col("n_docs")).as("stats_docs"), sum(col("n_tokens")).as("stats_tokens"))
    m.crossJoin(broadcast(s))
      .select(col("n_docs"), col("n_dup_ids"), col("n_tok_out_of_range"),
        (col("stats_docs") === col("n_docs") &&
          col("stats_tokens") === col("mart_tokens")).as("stats_match"))
  }

  /** §3.2 corpus DAG + LM QUALITY (round-13 queue #5): run the
    * LM-extended curation registry ([[corpusLmDag]]) and emit the
    * per-(source, bucket) accounting of the LABELED corpus mart — the
    * CCNet-style signal materialized in-lineage: normalize → heuristic
    * filter → exact dedup → trigram-LM head/middle/tail labeling, every
    * stage replayed by the oracle ([[graft.llm.LangModel
    * .lmBucketLabeledSql]] composed with the corpus CTEs). Two contracts
    * are ENFORCED before the mart leaves the gate (the `q_corpus_quality`
    * posture applied to the new stage): the labeling is TOTAL (every
    * deduped doc carries exactly one bucket — the left join cannot drop
    * or fan out) and the label space is the closed set
    * {head, middle, tail, unscored}. Scoring is the interpolated
    * TRIGRAM-KN mass since round 16 (r15 verdict #7 — the filter now
    * derives from `t_lm_kneser_ney3`'s full recursion; sub-3-token docs
    * are absent from the trigram stream and land `unscored`, while a
    * ≥3-token doc with no known context keeps bin −1 and buckets
    * through the thresholds like any other bin); measured sf0.01 funnel:
    * 149/157/151 head/middle/tail docs at ~8.4–9.2k tokens each. Shape
    * at 100 TB: the LM stage adds one scoring pass over the kept corpus
    * (trigram positions against the MartCache'd tri/bigram model marts)
    * plus a counter-scale histogram — the labeling join shuffles
    * (doc_id, bucket) scalars only. */
  val pipelineCorpusLm: QueryDef = QueryDef(
    "pipeline_corpus_lm",
    Some(s"""
      WITH ${graft.llm.LangModel.lmBucketLabeledSql},
      $corpusKeptSql,
      mart AS (
        SELECT doc_id, source, n_toks FROM (
          SELECT doc_id, source, n_toks,
                 doc_id = min(doc_id) OVER (PARTITION BY md5(ntext)) AS is_canon
          FROM kept) WHERE is_canon),
      lab AS (
        SELECT m.source, coalesce(l.bucket, 'unscored') AS lm_bucket, m.n_toks
        FROM mart m LEFT JOIN lmb l ON m.doc_id = l.doc_id)
      SELECT source, lm_bucket, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_toks) AS BIGINT) AS n_tokens
      FROM lab GROUP BY source, lm_bucket
      ORDER BY source, lm_bucket
    """)) { (spark, dir) =>
    val outs = corpusLmDag.run(spark, dir,
      viewPrefix = "graft_corpus_", martPrefix = "corpus_marts")
    val lm = outs("mart_corpus_lm")
    // the stage contracts, enforced on counter-scale aggregates over the
    // materialized marts before the rollup is emitted
    val chk = lm.agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("nd"),
      sum(when(col("lm_bucket").isin("head", "middle", "tail", "unscored"), 0)
        .otherwise(1)).as("bad")).head()
    val nCorpus = outs.metric[Long]("mart_corpus", "rows")
    require(chk.getAs[Long]("n") == nCorpus && chk.getAs[Long]("nd") == nCorpus,
      s"LM labeling not total/1:1: ${chk.getAs[Long]("n")} labeled rows, " +
        s"${chk.getAs[Long]("nd")} distinct ids, $nCorpus corpus docs")
    require(chk.getAs[Long]("bad") == 0L, "labels outside the closed bucket set")
    lm.groupBy("source", "lm_bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      .orderBy("source", "lm_bucket")
  }

  /** The corpus DAG's export tail as a gate: raw documents all the way to
    * per-shard training-data accounting (docs, tokens, 512-token blocks),
    * with every stage — normalize, filter, dedup, per-shard prefix-sum
    * packing — replayed by the oracle. `n_blocks` comes from the packed
    * mart's own offsets (`max(last_block)+1`), so a broken prefix sum
    * fails the gate even though the rollup could be derived from totals
    * alone. */
  val pipelineTrainExport: QueryDef = QueryDef(
    "pipeline_train_export",
    Some(s"""
      WITH $corpusKeptSql,
      mart AS (
        SELECT doc_id, n_toks FROM (
          SELECT doc_id, n_toks,
                 doc_id = min(doc_id) OVER (PARTITION BY md5(ntext)) AS is_canon
          FROM kept) WHERE is_canon),
      cum AS (
        SELECT doc_id, doc_id % 8 AS shard, n_toks,
               CAST(COALESCE(sum(n_toks) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
        FROM mart)
      SELECT shard, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens,
             CAST(max((tok_start + n_toks - 1) // 512) + 1 AS BIGINT) AS n_blocks
      FROM cum
      GROUP BY shard
      ORDER BY shard
    """)) { (spark, dir) =>
    corpusDag.run(spark, dir, viewPrefix = "graft_corpus_", martPrefix = "corpus_marts")
      .apply("mart_shards")
      .orderBy("shard")
  }

  val all: Seq[QueryDef] = Seq(
    pipelineE2e, pipelineIncremental, pipelineCorpus, qCorpusQuality,
    pipelineCorpusLm, pipelineTrainExport)
}
