package graft.llm

import graft.{QueryDef, core}
import graft.core._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus-trained n-gram language-model scoring (builder brief: quality
  * scoring for a training-data pipeline). CCNet-style curation scores every
  * candidate document by how predictable it is under a language model
  * trained on a trusted stratum, then keeps the head of that ranking
  * (Wenzek et al., "CCNet: Extracting High Quality Monolingual Datasets
  * from Web Crawl Data", 2020 — the public recipe this follows). Here the
  * trusted stratum is the `lang = 'en'` slice of `documents` (the same
  * target [[Curation.cDsirWeight]] uses), the model is a BIGRAM table, and
  * the emitted signal is log-free: per-document EXACT INTEGER probability
  * masses plus a digit-count surprisal surrogate, so Spark and DuckDB
  * compute bit-identical values with no cross-row float sums and no libm
  * (the t_dsir_weight / t_salient_terms precedent — both engines' `ln`
  * are only 1-ulp-accurate, which is exactly the kind of divergence the
  * hash gate exists to catch).
  *
  * Scale posture: tokenize+pair once (map), shuffle bigram pairs to build
  * the model (map-side-combined partial counts), then one shuffle join of
  * the corpus bigram stream against the model keyed by (w1, w2) — document
  * text never travels, only word pairs, and the per-doc rollup partial-
  * aggregates map-side. The model table grows with VOCABULARY², not corpus
  * size, and the context table is a pure rollup of the model; at 100 TB
  * both stay orders of magnitude smaller than the corpus and the join
  * stays a standard shuffled hash join (switch the join key to
  * `xxhash64(w1, w2)` if profiling ever shows the string shuffle dominating
  * — not done here so the oracle join stays verbatim-replayable).
  *
  * The model is a MART (round-11 queue #2): training runs once per
  * (session, corpus snapshot) through the [[graft.pipeline.ModelRegistry]]
  * and every consumer ([[lmScore]], [[lmFilter]], [[lmTopBigrams]]) reads
  * the parquet tables
  * back — the [[Cluster.clusterLabels]] posture. The oracle CTEs still
  * derive the model inline from the corpus: the mart holds exactly those
  * counts, so the values are identical and the SQL stays verbatim-
  * replayable.
  */
object LangModel {

  /** Whitespace tokens (same canonical tokenizer as TextOps/Curation). */
  private def toks(c: Column): Column = split(c, "\\s+")

  /** Corpus bigram stream (doc_id, lang, w1, w2): gram START POSITIONS
    * explode first, then each pair builds row-at-a-time from codegen'd
    * element_at — the array-of-pairs `transform` form runs interpreted per
    * element (the t_decontaminate finding). */
  private def bigrams(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      // single-file source → spread the token+pair pass across cores
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), col("lang"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("lang"), col("t"),
        explode(sequence(lit(2), size(col("t")))).as("i"))
      .select(col("doc_id"), col("lang"),
        element_at(col("t"), col("i") - 1).as("w1"),
        element_at(col("t"), col("i")).as("w2"))

  /** The oracle's twin of [[bigrams]] (parallel unnest = positional zip). */
  private val bigramsSql: String = """
      d AS (
        SELECT doc_id, lang, string_split_regex(text, '\s+') AS t
        FROM documents
        WHERE len(string_split_regex(text, '\s+')) >= 2),
      bg AS (
        SELECT doc_id, lang,
               unnest(list_transform(range(2, len(t)+1), i -> t[i-1])) AS w1,
               unnest(list_transform(range(2, len(t)+1), i -> t[i])) AS w2
        FROM d)"""

  /** lm1 — per-document LM predictability score. For every document, each
    * of its bigrams looks up the en-trained model: `n_bg` = times the en
    * stratum produced this exact pair, `n_ctx` = times the en stratum
    * produced ANY pair with this context word (the LM denominator — a pure
    * rollup of the model, so numerator and denominator are consistent by
    * construction). The document then rolls up:
    *
    *  - `pred_mass` / `ctx_mass`: Σ n_bg and Σ n_ctx — the exact-integer
    *    numerator/denominator whose single final division `predict_r` is
    *    the order-insensitive stand-in for mean conditional probability
    *    (higher = the en LM finds the text more predictable);
    *  - `surprisal_r`: mean over known bigrams of
    *    `digits((n_ctx·10⁶) div n_bg)` — an integer ⌊log₁₀⌋+1 of the
    *    inverse conditional probability (≈ 6 + log₁₀(ctx/bg)), the
    *    log-free perplexity surrogate: all-integer per row, one final
    *    int/int division, bit-identical on both engines;
    *  - `known_bigrams`: coverage of the doc by the model (OOV pairs carry
    *    no mass — exactly add-zero smoothing).
    *
    * A curation pass keeps documents above a `predict_r` (or below a
    * `surprisal_r`) threshold; the score columns are emitted raw so the
    * threshold stays a downstream policy choice. */
  /** The scoring CTE chain shared by [[lmScore]] and [[lmFilter]]: model,
    * context rollup, per-bigram lookup, and the per-doc aggregate `scored`
    * — one definition, so the filter can never drift from the score. */
  private val scoredSql: String = s"""
      $bigramsSql,
      model AS MATERIALIZED (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_bg
        FROM bg WHERE lang = 'en' GROUP BY w1, w2),
      ctx AS (
        SELECT w1, CAST(sum(n_bg) AS BIGINT) AS n_ctx FROM model GROUP BY w1),
      j AS (
        SELECT b.doc_id, b.lang, m.n_bg, c.n_ctx
        FROM bg b
        LEFT JOIN model m ON b.w1 = m.w1 AND b.w2 = m.w2
        LEFT JOIN ctx c ON b.w1 = c.w1),
      scored AS (
        SELECT doc_id, lang,
             CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(sum(CASE WHEN n_bg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS known_bigrams,
             CAST(coalesce(sum(n_bg), 0) AS BIGINT) AS pred_mass,
             CAST(coalesce(sum(n_ctx), 0) AS BIGINT) AS ctx_mass,
             CASE WHEN coalesce(sum(n_ctx), 0) > 0
                  THEN round(CAST(sum(n_bg) AS DOUBLE) / CAST(sum(n_ctx) AS DOUBLE), 6)
             END AS predict_r,
             -- surprisal digit-count WITHOUT the scaled remainder (round-12
             -- ADVICE): the rendered value is v = (n_ctx·10⁶) div n_bg, and
             -- n_bg ≤ n_ctx by construction (ctx is the sum over the model's
             -- n_bg), so q = n_ctx div n_bg ≥ 1 and q·10⁶ ≤ v < (q+1)·10⁶
             -- ⇒ digits(v) = digits(q) + 6 EXACTLY — the remainder can never
             -- change the digit count. Dropping it removes every scaled
             -- intermediate: the only arithmetic left is one BIGINT integer
             -- division, so the overflow bound is n_ctx < 2⁶³ (a 9.2e18
             -- token mass) instead of the old quotient-term bound
             -- n_ctx/n_bg·10⁶ < 2⁶³ that a hapax bigram under a huge
             -- context could reach
             CASE WHEN sum(CASE WHEN n_bg IS NOT NULL THEN 1 ELSE 0 END) > 0
                  THEN round(
                    CAST(sum(CASE WHEN n_bg IS NOT NULL
                             THEN length(CAST(n_ctx // n_bg AS VARCHAR)) + 6 END) AS DOUBLE)
                    / CAST(sum(CASE WHEN n_bg IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE), 6)
             END AS surprisal_r
        FROM j GROUP BY doc_id, lang)"""

  val lmScore: QueryDef = QueryDef(
    "t_lm_score",
    Some(s"""
      WITH $scoredSql
      SELECT doc_id, lang, n_bigrams, known_bigrams, pred_mass, ctx_mass,
             predict_r, surprisal_r
      FROM scored ORDER BY doc_id
    """)) { (spark, dir) => lmScored(spark, dir).orderBy("doc_id") }

  /** LM mart DAG (the §3.2 staging/mart split applied to LM training):
    * the en bigram stream stays a lazy staging model; the MODEL table
    * (w1, w2, n_bg) and its CONTEXT rollup (w1, n_ctx) are marts a real
    * pipeline materializes once per corpus snapshot — every scoring run
    * then reads the tables instead of re-deriving them (the round-11
    * verdict's missing #3; the ctx mart builds FROM the model mart's
    * parquet, so numerator and denominator stay consistent by
    * construction even across snapshots). */
  private val lmDag = new graft.pipeline.ModelRegistry(Seq("documents"), Seq(
    graft.pipeline.ModelDef("stg_lm_bigrams", Nil, mart = false) {
      (s, d, _) => bigrams(s, d).filter(col("lang") === "en")
    },
    graft.pipeline.ModelDef("mart_lm_model", Seq("stg_lm_bigrams"), mart = true) {
      (_, _, ref) =>
        ref("stg_lm_bigrams").groupBy("w1", "w2").agg(count(lit(1)).as("n_bg"))
    },
    graft.pipeline.ModelDef("mart_lm_ctx", Seq("mart_lm_model"), mart = true) {
      (_, _, ref) =>
        ref("mart_lm_model").groupBy("w1").agg(sum(col("n_bg")).as("n_ctx"))
    }))

  /** Materialize-once accessor for the (model, ctx) marts. */
  private[graft] def lmMarts(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val Seq(model, ctx) = graft.pipeline.MartCache.read(spark, dir, lmDag,
      "lm_marts", "graft_lm_", "mart_lm_model", "mart_lm_ctx")
    (model, ctx)
  }

  /** Spark twin of the `scored` CTE (shared by both gates): ONE corpus pass
    * (the per-doc bigram stream being scored — irreducible: scoring touches
    * every document) joined against the mart tables. The former per-gate
    * model rebuild — and the persist that fed it — are gone: the model
    * arrives as a parquet scan. */
  private def lmScored(spark: SparkSession, dir: String): DataFrame = {
    val (model, ctx) = lmMarts(spark, dir)
    val known = col("n_bg").isNotNull
    // digit count of (n_ctx·10⁶) div n_bg as digits(n_ctx div n_bg) + 6 —
    // exact because n_bg ≤ n_ctx ⇒ quotient ≥ 1 (see the oracle comment);
    // no scaled intermediate, so the only overflow bound is n_ctx < 2⁶³
    bigrams(spark, dir)
      .join(model, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .groupBy("doc_id", "lang")
      .agg(
        count(lit(1)).as("n_bigrams"),
        countIf(known).as("known_bigrams"),
        coalesce(sum(col("n_bg")), lit(0L)).as("pred_mass"),
        coalesce(sum(col("n_ctx")), lit(0L)).as("ctx_mass"),
        when(coalesce(sum(col("n_ctx")), lit(0L)) > 0,
          round(sum(col("n_bg")).cast(DoubleType) /
            sum(col("n_ctx")).cast(DoubleType), 6)).as("predict_r"),
        when(countIf(known) > 0,
          round(sum(when(known,
              length(expr("n_ctx div n_bg").cast(StringType)) + lit(6)))
              .cast(DoubleType) / countIf(known).cast(DoubleType), 6))
          .as("surprisal_r"))
  }

  /** lm2 — the trained model head: top-20 bigrams by en-stratum count with
    * fully pinned tie-breaks. The model is a first-class mart a pipeline
    * materializes once and reuses across scoring runs; this gate pins the
    * training itself (counts, not just downstream scores) to the oracle. */
  val lmTopBigrams: QueryDef = QueryDef(
    "t_lm_top_bigrams",
    Some(s"""
      WITH $bigramsSql
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_bg
      FROM bg WHERE lang = 'en'
      GROUP BY w1, w2
      ORDER BY n_bg DESC, w1, w2 LIMIT 20
    """)) { (spark, dir) =>
    // the head of the MART, not a fresh corpus pass: mart_lm_model IS the
    // en bigram count table this gate ranks (round-12 review finding — a
    // third consumer silently re-deriving the model broke the
    // materialize-once posture lmScore/lmFilter follow)
    lmMarts(spark, dir)._1
      .orderBy(col("n_bg").desc, col("w1"), col("w2"))
      .limit(20)
  }

  /** lm3 — the FILTER stage that closes the CCNet arc (train → score →
    * filter): keep documents whose predictability under the en model
    * clears a FIXED threshold, with per-language accounting of what the
    * filter did. The threshold is a deployment policy input (CCNet tunes
    * it offline against held-out labels), pinned here like RunContext pins
    * the as-of date — NOT learned in-query, so the filter stays a pure
    * map-side keep decision plus one rollup: no global rank, no
    * single-partition window, nothing that wouldn't hold at 100 TB.
    * Kept-set identity travels as the same commutative doc_id checksum the
    * split/sample gates use, so the oracle verifies WHICH docs survived,
    * not just how many. */
  val lmFilter: QueryDef = QueryDef(
    "t_lm_filter",
    Some(s"""
      WITH $scoredSql
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN predict_r >= 0.0345 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             round(CAST(sum(CASE WHEN predict_r >= 0.0345 THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE), 6) AS kept_frac,
             CAST(CAST(sum(CASE WHEN predict_r >= 0.0345 THEN doc_id END) AS DECIMAL(38, 0)) AS DOUBLE) AS kept_sum
      FROM scored GROUP BY lang ORDER BY lang
    """)) { (spark, dir) =>
    val kept = col("predict_r") >= 0.0345
    lmScored(spark, dir)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        countIf(kept).as("n_kept"),
        round(countIf(kept).cast(DoubleType) / count(lit(1)).cast(DoubleType), 6)
          .as("kept_frac"),
        sum(when(kept, col("doc_id").cast(DecimalType(38, 0)))).cast(DoubleType)
          .as("kept_sum"))
      .orderBy("lang")
  }

  /** lm4 — INCREMENTAL model maintenance (round-11 queue #6): apply a
    * corpus DELTA to the bigram model without retraining on the base — the
    * same posture as `dedup_incremental`/`w_scd2_incremental`, extended to
    * a trained artifact. Counts are exactly additive, so the incremental
    * recipe is: count bigrams over the delta ONLY, then full-outer-merge
    * with the base model summing per (w1, w2) — at 100 TB the delta pass
    * touches only the new documents and the merge shuffles two model-sized
    * frames (vocab², not corpus). Here the split is doc_id % 7 == 3 as the
    * delta; the base model is derived in-query from the complement so the
    * gate is hermetic (in production it's the previous snapshot's
    * `mart_lm_model` — this harness has only one snapshot per dir). The
    * ORACLE is the FULL REBUILD over the whole en stratum: additivity means
    * merged counts must equal retrained counts exactly — that equality IS
    * the gate. `src` (base/delta/both provenance from the outer-join null
    * pattern) pins the merge structure itself, not just the sums. */
  val lmIncremental: QueryDef = QueryDef(
    "t_lm_incremental",
    Some(s"""
      WITH $bigramsSql,
      en AS (SELECT doc_id, w1, w2 FROM bg WHERE lang = 'en'),
      full_model AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_bg
        FROM en GROUP BY w1, w2),
      membership AS (
        SELECT w1, w2,
               max(CASE WHEN doc_id % 7 <> 3 THEN 1 ELSE 0 END) AS in_base,
               max(CASE WHEN doc_id % 7 = 3 THEN 1 ELSE 0 END) AS in_delta
        FROM en GROUP BY w1, w2)
      SELECT f.w1, f.w2, f.n_bg,
             CASE WHEN m.in_base = 1 AND m.in_delta = 1 THEN 'both'
                  WHEN m.in_base = 1 THEN 'base' ELSE 'delta' END AS src
      FROM full_model f JOIN membership m USING (w1, w2)
      ORDER BY f.n_bg DESC, f.w1, f.w2 LIMIT 30
    """)) { (spark, dir) =>
    val en = bigrams(spark, dir).filter(col("lang") === "en")
    // two INDEPENDENT models — deliberately not one split-counter pass:
    // the operator under test is the merge of separately-built artifacts
    // (base trained yesterday, delta counted today), so the base and delta
    // lineages must not share a scan
    val base = en.filter(col("doc_id") % 7 =!= 3)
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_base"))
    val delta = en.filter(col("doc_id") % 7 === 3)
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_delta"))
    base.join(delta, Seq("w1", "w2"), "full_outer")
      .select(col("w1"), col("w2"),
        (coalesce(col("n_base"), lit(0L)) + coalesce(col("n_delta"), lit(0L)))
          .as("n_bg"),
        when(col("n_base").isNotNull && col("n_delta").isNotNull, "both")
          .when(col("n_base").isNotNull, "base").otherwise("delta").as("src"))
      .orderBy(col("n_bg").desc, col("w1"), col("w2"))
      .limit(30)
  }

  /** Corpus trigram stream (doc_id, lang, w1, w2, w3) — [[bigrams]] one
    * order up. The `size >= 3` filter matters on the Spark side:
    * `sequence(3, 2)` would generate a DESCENDING range, not an empty one
    * (unlike DuckDB's `range(3, 3)`). */
  private def trigrams(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), col("lang"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), col("lang"), col("t"),
        explode(sequence(lit(3), size(col("t")))).as("i"))
      .select(col("doc_id"), col("lang"),
        element_at(col("t"), col("i") - 2).as("w1"),
        element_at(col("t"), col("i") - 1).as("w2"),
        element_at(col("t"), col("i")).as("w3"))

  /** Trigram-model marts (the [[lmDag]] discipline, one order up): the en
    * trigram counts and their context rollup, materialized once per
    * (session, corpus snapshot) under their own prefix so the bigram-only
    * gates never pay for trigram training. */
  private val lmTriDag = new graft.pipeline.ModelRegistry(Seq("documents"), Seq(
    graft.pipeline.ModelDef("stg_lm_trigrams", Nil, mart = false) {
      (s, d, _) => trigrams(s, d).filter(col("lang") === "en")
    },
    graft.pipeline.ModelDef("mart_lm_tri", Seq("stg_lm_trigrams"), mart = true) {
      (_, _, ref) =>
        ref("stg_lm_trigrams").groupBy("w1", "w2", "w3")
          .agg(count(lit(1)).as("n_tri"))
    },
    graft.pipeline.ModelDef("mart_lm_tri_ctx", Seq("mart_lm_tri"), mart = true) {
      (_, _, ref) =>
        ref("mart_lm_tri").groupBy("w1", "w2").agg(sum(col("n_tri")).as("n_tctx"))
    }))

  private def lmTriMarts(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val Seq(tri, ctx) = graft.pipeline.MartCache.read(spark, dir, lmTriDag,
      "lm3_marts", "graft_lm3_", "mart_lm_tri", "mart_lm_tri_ctx")
    (tri, ctx)
  }

  /** lm5 — TRIGRAM scoring with STUPID BACKOFF (Brants et al., "Large
    * Language Models in Machine Translation", EMNLP 2007 — the backoff
    * scheme designed precisely for distributed count-based LMs: no
    * discounting state, just raw counts at each order and a fixed 0.4
    * penalty per backoff step). Every trigram position classifies into the
    * deepest model level that knows it — 0: trigram seen; 1: backoff to
    * the (w2, w3) bigram; 2: backoff to the w3 unigram (its mass as a
    * context word); 3: OOV — and each level's conditional probability uses
    * the numerator/denominator pair that is consistent BY CONSTRUCTION
    * (n_tri/n_tctx from the trigram mart and its own rollup; n_bg/n_ctx
    * from the bigram marts; n_ctx/C_total for unigrams). The per-doc
    * emission keeps the family's log-free integer discipline: level
    * counts, exact trigram mass sums, one final ratio, and the
    * digit-count surprisal surrogate — the backoff penalty enters exactly
    * as 1/(0.4·p) = 5·den/(2·num) and 1/(0.16·p) = 25·den/(4·num), all
    * integer arithmetic with the divide-before-scale identity (overflow
    * bound on the per-pair counts, not the context masses — the
    * [[scoredSql]] posture). Shape at 100 TB: the models grow with
    * vocab³/vocab², not corpus; scoring is one trigram-stream pass with
    * five model-keyed shuffle joins (each against a mart orders of
    * magnitude smaller than the corpus) and a map-side-combined per-doc
    * rollup — document text never travels. */
  val lmTrigram: QueryDef = QueryDef(
    "t_lm_trigram",
    Some(s"""
      WITH $bigramsSql,
      tg AS (
        SELECT doc_id, lang,
               unnest(list_transform(range(3, len(t)+1), i -> t[i-2])) AS w1,
               unnest(list_transform(range(3, len(t)+1), i -> t[i-1])) AS w2,
               unnest(list_transform(range(3, len(t)+1), i -> t[i])) AS w3
        FROM d WHERE len(t) >= 3),
      tri AS (
        SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS n_tri
        FROM tg WHERE lang = 'en' GROUP BY w1, w2, w3),
      tctx AS (
        SELECT w1, w2, CAST(sum(n_tri) AS BIGINT) AS n_tctx FROM tri GROUP BY w1, w2),
      model AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_bg
        FROM bg WHERE lang = 'en' GROUP BY w1, w2),
      ctx AS (
        SELECT w1, CAST(sum(n_bg) AS BIGINT) AS n_ctx FROM model GROUP BY w1),
      tot AS (SELECT CAST(sum(n_ctx) AS BIGINT) AS c_total FROM ctx),
      j AS (
        SELECT g.doc_id, g.lang, t.n_tri, tc.n_tctx, m.n_bg AS n_bg23,
               c2.n_ctx AS n_ctx2, c3.n_ctx AS n_ctx3, tot.c_total
        FROM tg g
        LEFT JOIN tri t ON g.w1 = t.w1 AND g.w2 = t.w2 AND g.w3 = t.w3
        LEFT JOIN tctx tc ON g.w1 = tc.w1 AND g.w2 = tc.w2
        LEFT JOIN model m ON g.w2 = m.w1 AND g.w3 = m.w2
        LEFT JOIN ctx c2 ON g.w2 = c2.w1
        LEFT JOIN ctx c3 ON g.w3 = c3.w1
        CROSS JOIN tot),
      lv AS (
        SELECT doc_id, lang,
               CASE WHEN n_tri IS NOT NULL THEN 0
                    WHEN n_bg23 IS NOT NULL THEN 1
                    WHEN n_ctx3 IS NOT NULL THEN 2
                    ELSE 3 END AS lvl,
               -- digit counts as digits(quotient) + 6, no scaled remainder
               -- (round-12 ADVICE — the level-2 remainder's bound sat on
               -- n_ctx3, a CONTEXT mass): each divisor ≤ its dividend
               -- (n_tri ≤ n_tctx; 2·n_bg23 ≤ 5·n_ctx2 since n_bg23 ≤ n_ctx2;
               -- 4·n_ctx3 ≤ 25·c_total since n_ctx3 ≤ c_total), so q ≥ 1 and
               -- digits(q·10⁶ + r) = digits(q) + 6 exactly. Remaining bounds:
               -- 25·c_total < 2⁶³ ⇒ c_total < 3.7e17 tokens — three decades
               -- past the 1e13-token posture, on the corpus TOTAL only
               CASE WHEN n_tri IS NOT NULL THEN
                      length(CAST(n_tctx // n_tri AS VARCHAR)) + 6
                    WHEN n_bg23 IS NOT NULL THEN
                      length(CAST((5 * n_ctx2) // (2 * n_bg23) AS VARCHAR)) + 6
                    WHEN n_ctx3 IS NOT NULL THEN
                      length(CAST((25 * c_total) // (4 * n_ctx3) AS VARCHAR)) + 6
               END AS dg,
               n_tri, n_tctx
        FROM j)
      SELECT doc_id, lang,
             CAST(count(*) AS BIGINT) AS n_pos,
             CAST(sum(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_l0,
             CAST(sum(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_l1,
             CAST(sum(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_l2,
             CAST(sum(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
             CAST(coalesce(sum(n_tri), 0) AS BIGINT) AS tri_mass,
             CAST(coalesce(sum(n_tctx), 0) AS BIGINT) AS tri_ctx_mass,
             round(CAST(sum(CASE WHEN lvl IN (1, 2) THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE), 6) AS backoff_r,
             CASE WHEN sum(CASE WHEN lvl < 3 THEN 1 ELSE 0 END) > 0 THEN
               round(CAST(sum(dg) AS DOUBLE)
                     / CAST(sum(CASE WHEN lvl < 3 THEN 1 ELSE 0 END) AS DOUBLE), 6)
             END AS surprisal3_r
      FROM lv GROUP BY doc_id, lang ORDER BY doc_id
    """)) { (spark, dir) =>
    val (tri, tctx) = lmTriMarts(spark, dir)
    val (model, ctx) = lmMarts(spark, dir)
    val cTotal = ctx.agg(sum(col("n_ctx")).as("c_total"))
    val j = trigrams(spark, dir)
      .join(tri, Seq("w1", "w2", "w3"), "left")
      .join(tctx, Seq("w1", "w2"), "left")
      .join(model.select(col("w1").as("w2"), col("w2").as("w3"),
        col("n_bg").as("n_bg23")), Seq("w2", "w3"), "left")
      .join(ctx.select(col("w1").as("w2"), col("n_ctx").as("n_ctx2")),
        Seq("w2"), "left")
      .join(ctx.select(col("w1").as("w3"), col("n_ctx").as("n_ctx3")),
        Seq("w3"), "left")
      .crossJoin(broadcast(cTotal))
    val lvl = when(col("n_tri").isNotNull, 0)
      .when(col("n_bg23").isNotNull, 1)
      .when(col("n_ctx3").isNotNull, 2)
      .otherwise(3)
    // identical digits(quotient) + 6 arithmetic as the oracle CTE (each
    // divisor ≤ its dividend ⇒ q ≥ 1 ⇒ the dropped remainder can never
    // change the digit count; the only overflow bound left is
    // 25·c_total < 2⁶³ — the corpus total, not any context mass)
    val dg = when(col("n_tri").isNotNull,
        length(expr("n_tctx div n_tri").cast(StringType)) + lit(6))
      .when(col("n_bg23").isNotNull,
        length(expr("(5 * n_ctx2) div (2 * n_bg23)").cast(StringType)) + lit(6))
      .when(col("n_ctx3").isNotNull,
        length(expr("(25 * c_total) div (4 * n_ctx3)").cast(StringType)) + lit(6))
    j.select(col("doc_id"), col("lang"), lvl.as("lvl"), dg.as("dg"),
        col("n_tri"), col("n_tctx"))
      .groupBy("doc_id", "lang")
      .agg(
        count(lit(1)).as("n_pos"),
        countIf(col("lvl") === 0).as("n_l0"),
        countIf(col("lvl") === 1).as("n_l1"),
        countIf(col("lvl") === 2).as("n_l2"),
        countIf(col("lvl") === 3).as("n_oov"),
        coalesce(sum(col("n_tri")), lit(0L)).as("tri_mass"),
        coalesce(sum(col("n_tctx")), lit(0L)).as("tri_ctx_mass"),
        round(countIf(col("lvl").isin(1, 2)).cast(DoubleType)
          / count(lit(1)).cast(DoubleType), 6).as("backoff_r"),
        when(countIf(col("lvl") < 3) > 0,
          round(sum(col("dg")).cast(DoubleType)
            / countIf(col("lvl") < 3).cast(DoubleType), 6)).as("surprisal3_r"))
      .orderBy("doc_id")
  }

  /** The KN type-count rollups over the `model` CTE (follow types,
    * preceding types, total bigram types) — ONE definition consumed by
    * [[lmKneserNey]]'s oracle and [[lmBucketLabeledSql]] (r15 review:
    * the bucket rendering is not covered by an in-gate conservation
    * require, so it must be LITERALLY the covered gate's text, not a
    * hand-kept copy). */
  private val knTypeSql: String =
    """fol AS (SELECT w1, CAST(count(*) AS BIGINT) AS n_follow FROM model GROUP BY w1),
      prc AS (SELECT w2, CAST(count(*) AS BIGINT) AS n_prec FROM model GROUP BY w2),
      b AS (SELECT CAST(count(*) AS BIGINT) AS bt FROM model)"""

  /** The two per-pair KN micro terms over BARE column names (n_bg,
    * n_ctx, n_follow, n_prec, bt) — the discounted seen-pair mass and
    * the λ·p_cont interpolation — shared verbatim between the
    * conservation-covered bigram gate and the bucket labeling. The
    * coalesce is a no-op on seen pairs (a model row's w2 always has a
    * preceding type) and supplies the zero continuation for an unseen
    * w2 in the bucket path. */
  private val knDiscSql: String = "((4 * n_bg - 3) * 1000000) // (4 * n_ctx)"
  private val knContSql: String =
    "(3 * n_follow * coalesce((n_prec * 1000000) // bt, 0)) // (4 * n_ctx)"

  /** Spark twins of [[knDiscSql]]/[[knContSql]] (`div` = the same
    * truncating BIGINT division as DuckDB `//`). */
  private def knDisc: Column = expr("((4 * n_bg - 3) * 1000000) div (4 * n_ctx)")
  private def knCont(bt: Long): Column =
    expr(s"(3 * n_follow * coalesce((n_prec * 1000000) div $bt, 0)) div (4 * n_ctx)")

  /** The (fol, prc, bt) type frames off the model mart — the Spark twin
    * of [[knTypeSql]]. */
  private def knTypeFrames(model: DataFrame): (DataFrame, DataFrame, Long) = (
    model.groupBy("w1").agg(count(lit(1)).cast(LongType).as("n_follow")),
    model.groupBy("w2").agg(count(lit(1)).cast(LongType).as("n_prec")),
    model.count())

  /** The KN3 model-side rollups off the trigram mart — [[knTypeFrames]]
    * one order up: (nf12, cont, cwc, ntw), shared by [[lmKneserNey3]]
    * and [[lmBucketLabels]] so the filter's frames can never drift from
    * the conservation-covered gate's (round-16 review). */
  private def kn3TypeFrames(tri: DataFrame): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val nf12 = tri.groupBy("w1", "w2").agg(count(lit(1)).cast(LongType).as("n_f12"))
    val cont = tri.groupBy("w2", "w3").agg(count(lit(1)).cast(LongType).as("c23"))
    (nf12, cont,
      cont.groupBy("w2").agg(sum(col("c23")).as("cw2")),
      cont.groupBy("w2").agg(count(lit(1)).cast(LongType).as("n2")))
  }

  /** The interpolated-KN3 micro rendering, SINGLE-SOURCED (round-16
    * review — the bucket labeling is not conservation-covered, so its
    * arithmetic must be literally the covered gate's text, the
    * [[knDiscSql]] discipline one order up). `idiv` is the engine's
    * truncating integer division ("//" DuckDB, "div" Spark — identical
    * on the non-negative operands here). [[kn3P2Sql]] is the middle
    * order p_KN2(w3|w2) over continuation counts; [[kn3TopSql]] the full
    * p_KN3 with `p2` injected (a column name or the inlined fragment).
    * `guarded = true` NULL-guards each term for the doc-scoring stream
    * (unseen trigram/pair contributes only the lower-order mass; callers
    * guard the unknown-(w1,w2)-context case outside); `guarded = false`
    * is the model-row form where every join key matched — the coalesce
    * on the OOV-w3 continuation term is shared by both (a no-op on
    * model rows). */
  private def kn3P2Sql(idiv: String, guarded: Boolean, bt: String): String = {
    val disc = s"((4 * c23 - 3) * 1000000) $idiv (4 * cw2)"
    val lam = s"(3 * n2 * coalesce((n_prec * 1000000) $idiv $bt, 0)) $idiv (4 * cw2)"
    if (guarded)
      s"(CASE WHEN c23 IS NOT NULL THEN $disc ELSE 0 END) + (CASE WHEN cw2 IS NOT NULL THEN $lam ELSE 0 END)"
    else s"$disc + $lam"
  }
  private def kn3TopSql(idiv: String, p2: String, guarded: Boolean): String = {
    val disc = s"((4 * n_tri - 3) * 1000000) $idiv (4 * n_tctx)"
    val head = if (guarded) s"(CASE WHEN n_tri IS NOT NULL THEN $disc ELSE 0 END)" else disc
    s"$head + (3 * n_f12 * ($p2)) $idiv (4 * n_tctx)"
  }

  /** The head/middle/tail LABELING arc of [[lmBuckets]] as a shared SQL
    * fragment, scored since round 16 by the TRIGRAM interpolated
    * KNESER–NEY mean probability mass (r15 verdict queue #7 — round 15
    * moved the cut from the raw-count ratio to bigram KN; this round
    * re-derives it on [[lmKneserNey3]]'s better-calibrated full
    * recursion, so the filter the corpus DAG materializes scores with
    * the BEST model the suite trains): per trigram position, the
    * exact-integer micro rendering of p_KN3 — a seen trigram gets
    * discount + λ₁₂·p_KN2(w3|w2), an unseen trigram under a KNOWN
    * (w1,w2) context gets the λ₁₂·p_KN2 generalization mass alone
    * (p_KN2 itself interpolating continuation counts down to
    * N1+(·w3)/B, zero only at an OOV w3), and unknown contexts
    * contribute 0 — then k = (Σ p_micro · 4096) div (n_positions · 10⁶).
    * A doc with ≥ 3 tokens but NO known context keeps bin −1 and labels
    * through the thresholds like any other bin (landing `tail` on any
    * ordinary histogram); only sub-3-token docs — absent from the
    * trigram stream entirely — fall out of `lmb` and surface as
    * `unscored` through the corpus DAG's left-join coalesce (round-16
    * review: the two cases are distinct and must not be conflated).
    * From there the 4096-bin histogram thresholds are
    * unchanged, ending in CTE `lmb(doc_id, k, bucket)` (plus
    * `tot(n_total)`), reused verbatim by the corpus DAG's LM-stage
    * oracle (`pipeline_corpus_lm`). `j`/`scored`/`fol` from the shared
    * prefixes go unreferenced here — DuckDB prunes unused inline CTEs;
    * keeping the fragments shared keeps model/ctx/prc/b
    * single-sourced. */
  private[graft] val lmBucketLabeledSql: String = s"""$scoredSql,
      $knTypeSql,
      tg3 AS (
        SELECT doc_id, lang,
               unnest(list_transform(range(3, len(t)+1), i -> t[i-2])) AS w1,
               unnest(list_transform(range(3, len(t)+1), i -> t[i-1])) AS w2,
               unnest(list_transform(range(3, len(t)+1), i -> t[i])) AS w3
        FROM d WHERE len(t) >= 3),
      tri AS MATERIALIZED (
        SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS n_tri
        FROM tg3 WHERE lang = 'en' GROUP BY w1, w2, w3),
      tctx AS (SELECT w1, w2, CAST(sum(n_tri) AS BIGINT) AS n_tctx FROM tri GROUP BY w1, w2),
      nf12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_f12 FROM tri GROUP BY w1, w2),
      cont3 AS MATERIALIZED (
        SELECT w2, w3, CAST(count(*) AS BIGINT) AS c23 FROM tri GROUP BY w2, w3),
      cwc AS (SELECT w2, CAST(sum(c23) AS BIGINT) AS cw2 FROM cont3 GROUP BY w2),
      ntw AS (SELECT w2, CAST(count(*) AS BIGINT) AS n2 FROM cont3 GROUP BY w2),
      knj AS (
        SELECT g.doc_id, t.n_tri, tc.n_tctx, f.n_f12, co.c23, c2.cw2, nn.n2, p.n_prec, b.bt
        FROM tg3 g
        LEFT JOIN tri t ON g.w1 = t.w1 AND g.w2 = t.w2 AND g.w3 = t.w3
        LEFT JOIN tctx tc ON g.w1 = tc.w1 AND g.w2 = tc.w2
        LEFT JOIN nf12 f ON g.w1 = f.w1 AND g.w2 = f.w2
        LEFT JOIN cont3 co ON g.w2 = co.w2 AND g.w3 = co.w3
        LEFT JOIN cwc c2 ON g.w2 = c2.w2
        LEFT JOIN ntw nn ON g.w2 = nn.w2
        LEFT JOIN prc p ON g.w3 = p.w2
        CROSS JOIN b),
      kdoc AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS nbg,
               CAST(coalesce(sum(n_tctx), 0) AS BIGINT) AS cmass,
               CAST(coalesce(sum(
                 CASE WHEN n_tctx IS NOT NULL THEN
                   ${kn3TopSql("//", kn3P2Sql("//", guarded = true, "bt"), guarded = true)}
                 END), 0) AS BIGINT) AS kmass
        FROM knj GROUP BY doc_id),
      sc AS (
        SELECT doc_id,
               CASE WHEN cmass = 0 THEN -1
                    ELSE (kmass * 4096) // (nbg * 1000000) END AS k
        FROM kdoc),
      hist AS (SELECT k, CAST(count(*) AS BIGINT) AS n FROM sc GROUP BY k),
      c AS (SELECT k, CAST(sum(n) OVER (ORDER BY k DESC) AS BIGINT) AS cum FROM hist),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM sc),
      th AS (
        SELECT coalesce(min(CASE WHEN cum <= n_total // 3 THEN k END), 1073741824) AS kh,
               coalesce(min(CASE WHEN cum <= 2 * (n_total // 3) THEN k END), 1073741824) AS kt
        FROM c CROSS JOIN tot),
      lmb AS (
        SELECT s.doc_id, s.k,
               CASE WHEN s.k >= th.kh THEN 'head'
                    WHEN s.k >= th.kt THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM sc s CROSS JOIN th)"""

  /** (doc_id, k, bucket) for every scored doc — the Spark twin of
    * [[lmBucketLabeledSql]]'s `lmb` CTE, factored out of [[lmBuckets]] so
    * the corpus DAG's `mart_corpus_lm` stage joins the SAME labeling the
    * bucket gate rolls up. Scale shape unchanged: the histogram/threshold
    * arc windows over ≤ 4098 (bin, count) scalars; the thresholds
    * broadcast as one 2-column row. Round 17 (r16 verdict #6): the
    * labeling is itself a per-corpus-snapshot artifact — integer bins and
    * closed-set strings, parquet-exact — so it joins the MartCache
    * family ([[lmLabelMart]]) and BOTH consumers (`t_lm_buckets`,
    * `mart_corpus_lm`) read the label table back instead of re-running
    * the corpus-scale 7-join scoring pass per gate per bench pass; this
    * inline builder runs once per snapshot. The oracles keep replaying
    * the whole scoring arc (referee pricing). */
  private def lmBucketLabelsInline(spark: SparkSession, dir: String): DataFrame = {
    val (model, _) = lmMarts(spark, dir)
    val (tri, tctx) = lmTriMarts(spark, dir)
    // the lmKneserNey3 model-side rollups — the SHARED kn3TypeFrames,
    // plus the bigram-type continuation tail
    val (nf12, cont, cwc, ntw) = kn3TypeFrames(tri)
    val (_, prcW2, bt) = knTypeFrames(model)
    val prc = prcW2.withColumnRenamed("w2", "w3")
    // per-position interpolated-KN3 micro mass (see lmBucketLabeledSql):
    // seen trigram → discount + λ₁₂·p_KN2; unseen trigram, known (w1,w2)
    // context → λ₁₂·p_KN2 alone; unknown context → no mass — LITERALLY
    // the shared kn3TopSql/kn3P2Sql fragments the conservation-covered
    // lmKneserNey3 gate renders, so this path cannot drift from it
    val pMicro = expr(s"""CASE WHEN n_tctx IS NOT NULL THEN
        ${kn3TopSql("div", kn3P2Sql("div", guarded = true, bt.toString), guarded = true)}
      END""")
    val sc = trigrams(spark, dir).drop("lang")
      .join(tri, Seq("w1", "w2", "w3"), "left")
      .join(tctx, Seq("w1", "w2"), "left")
      .join(nf12, Seq("w1", "w2"), "left")
      .join(cont, Seq("w2", "w3"), "left")
      .join(cwc, Seq("w2"), "left")
      .join(ntw, Seq("w2"), "left")
      .join(prc, Seq("w3"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("nbg"),
        coalesce(sum(col("n_tctx")), lit(0L)).as("cmass"),
        coalesce(sum(pMicro), lit(0L)).as("kmass"))
      .select(col("doc_id"),
        when(col("cmass") === 0, lit(-1L))
          .otherwise(expr("(kmass * 4096) div (nbg * 1000000)")).as("k"))
    val hist = sc.groupBy("k").agg(count(lit(1)).as("n"))
    // partition-less window: safe because it runs over the ≤4098-bin
    // histogram, never the docs (see the lmBuckets Scaladoc scale argument)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("k").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = hist.select(col("k"), sum(col("n")).over(w).as("cum"))
    val tot = sc.agg(count(lit(1)).as("n_total"))
    val th = cum.crossJoin(broadcast(tot))
      .agg(
        coalesce(min(when(col("cum") <= expr("n_total div 3"), col("k"))),
          lit(1073741824L)).as("kh"),
        coalesce(min(when(col("cum") <= expr("2 * (n_total div 3)"), col("k"))),
          lit(1073741824L)).as("kt"))
    val bucket = when(col("k") >= col("kh"), "head")
      .when(col("k") >= col("kt"), "middle")
      .otherwise("tail")
    sc.crossJoin(broadcast(th))
      .select(col("doc_id"), col("k"), bucket.as("bucket"))
  }

  /** The persisted label artifact's one-model DAG. */
  private val lmLabelDag = new graft.pipeline.ModelRegistry(Seq("documents"), Seq(
    graft.pipeline.ModelDef("mart_lm_labels", Nil, mart = true) { (s, d, _) =>
      lmBucketLabelsInline(s, d)
    }))

  /** Materialize-once accessor for the (doc_id, k, bucket) label mart. */
  private[graft] def lmBucketLabels(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.MartCache.read(spark, dir, lmLabelDag, "lml_marts",
      "graft_lml_", "mart_lm_labels").head

  /** lm6 — HEAD/MIDDLE/TAIL perplexity bucketing (the CCNet release
    * layout: Wenzek et al. 2020 §4.3 ship each language in three buckets
    * by LM score so consumers can choose their quality/volume trade-off).
    * Thirds are cut with the scale-honest HISTOGRAM-QUANTILE recipe, not a
    * global sort: the per-doc interpolated TRIGRAM-KN mean probability
    * mass (round 16 — see [[lmBucketLabeledSql]]; round 15 cut on bigram
    * KN, before that the raw-count predictability ratio — each move
    * re-pointing the filter at the best-calibrated model the suite
    * trains) quantizes to k = (kmass·4096) div (nbg·10⁶)
    * (unknown-context docs land in bin −1), one count-per-bin histogram is
    * built (≤ 4098 bins REGARDLESS of corpus size — that bound, not the
    * row count, is what the cumulative window runs over, which is why the
    * partition-less window here is safe at 100 TB while one over docs
    * would not be), the descending cumulative picks the bin thresholds
    * closest to N/3 and 2N/3 from the top (bucket boundaries land on bin
    * edges — the standard histogram-quantile granularity trade), and every
    * doc then maps through the broadcast 2-threshold row. Three passes
    * total: score rollup, tiny histogram, map-side bucket tag + rollup —
    * nothing but (bin, count) scalars ever windows or broadcasts. */
  val lmBuckets: QueryDef = QueryDef(
    "t_lm_buckets",
    Some(s"""
      WITH $lmBucketLabeledSql
      SELECT bucket,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(min(k) AS BIGINT) AS k_min,
             CAST(max(k) AS BIGINT) AS k_max,
             round(CAST(count(*) AS DOUBLE) / CAST(tot.n_total AS DOUBLE), 6) AS share_r,
             CAST(CAST(sum(CAST(doc_id AS DECIMAL(38, 0))) AS DECIMAL(38, 0)) AS DOUBLE) AS doc_sum
      FROM lmb CROSS JOIN tot
      GROUP BY bucket, tot.n_total ORDER BY bucket
    """)) { (spark, dir) =>
    // the labeling arc lives in [[lmBucketLabels]]; the share denominator's
    // count materializes its lazy checkpoint, so the rollup reads those
    // blocks instead of racing a second compute of the same partitions
    val lab = lmBucketLabels(spark, dir).localCheckpoint(false)
    val nTotal = lab.count()
    lab.groupBy("bucket")
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("k")).as("k_min"),
        max(col("k")).as("k_max"),
        sum(col("doc_id").cast(DecimalType(38, 0))).cast(DecimalType(38, 0))
          .cast(DoubleType).as("doc_sum"))
      .select(col("bucket"), col("n_docs"), col("k_min"), col("k_max"),
        round(col("n_docs").cast(DoubleType) / lit(nTotal.toDouble), 6)
          .as("share_r"),
        col("doc_sum"))
      .orderBy("bucket")
  }

  /** lm7 — COUNT-THRESHOLD MODEL PRUNING: the size/quality dial every
    * production n-gram LM ships with (Brants et al. 2007 prune by count
    * cutoff precisely because it needs no held-out data and distributes
    * trivially — a row-local `count ≥ t`). The audit that justifies the
    * cutoff is this gate's output: rows drop much faster than probability
    * MASS (rare types are many but light), so per candidate threshold the
    * gate reports rows kept vs mass kept — both shares exact-integer until
    * one final division. Thresholds bracket the fixture's count median so
    * all three regimes show: keep-all, drop-the-tail, drop-the-median.
    * Shape at 100 TB: one pass over the MODEL MART (vocab², not corpus),
    * exploded ×3 thresholds, one rollup — the corpus is never touched. */
  val lmPrune: QueryDef = QueryDef(
    "t_lm_prune",
    Some(s"""
      WITH $bigramsSql,
      model AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_bg
        FROM bg WHERE lang = 'en' GROUP BY w1, w2),
      tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(n_bg) AS BIGINT) AS mass
        FROM model),
      th AS (SELECT unnest([1, 13, 16]) AS threshold)
      SELECT CAST(th.threshold AS BIGINT) AS threshold,
             CAST(sum(CASE WHEN m.n_bg >= th.threshold THEN 1 ELSE 0 END) AS BIGINT) AS rows_kept,
             round(CAST(sum(CASE WHEN m.n_bg >= th.threshold THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(tot.n_rows AS DOUBLE), 6) AS rows_share_r,
             CAST(sum(CASE WHEN m.n_bg >= th.threshold THEN m.n_bg ELSE 0 END) AS BIGINT) AS mass_kept,
             round(CAST(sum(CASE WHEN m.n_bg >= th.threshold THEN m.n_bg ELSE 0 END) AS DOUBLE)
                   / CAST(tot.mass AS DOUBLE), 6) AS mass_share_r
      FROM model m CROSS JOIN th CROSS JOIN tot
      GROUP BY th.threshold, tot.n_rows, tot.mass ORDER BY th.threshold
    """)) { (spark, dir) =>
    val (model, _) = lmMarts(spark, dir)
    val tot = model.agg(count(lit(1)).as("n_rows"), sum(col("n_bg")).as("mass"))
    model
      .select(col("n_bg"), explode(array(lit(1L), lit(13L), lit(16L))).as("threshold"))
      .crossJoin(broadcast(tot))
      .groupBy("threshold", "n_rows", "mass")
      .agg(
        countIf(col("n_bg") >= col("threshold")).as("rows_kept"),
        coalesce(sum(when(col("n_bg") >= col("threshold"), col("n_bg"))), lit(0L))
          .as("mass_kept"))
      .select(col("threshold"), col("rows_kept"),
        round(col("rows_kept").cast(DoubleType) / col("n_rows").cast(DoubleType), 6)
          .as("rows_share_r"),
        col("mass_kept"),
        round(col("mass_kept").cast(DoubleType) / col("mass").cast(DoubleType), 6)
          .as("mass_share_r"))
      .orderBy("threshold")
  }

  /** lm — interpolated Kneser–Ney bigram model (Kneser & Ney 1995; the
    * interpolated form of Chen & Goodman 1999 §2.7) with absolute
    * discount D = 3/4 held as an exact rational:
    *
    *   p_KN(w2|w1) = (c(w1,w2) − D)/c(w1·) + λ(w1) · p_cont(w2)
    *   λ(w1) = D · N1+(w1·)/c(w1·)      p_cont(w2) = N1+(·w2)/B
    *
    * where N1+(w1·)/N1+(·w2) are the follow/preceding TYPE counts and B
    * the total bigram types — the continuation distribution is KN's whole
    * point: a word that appears in many contexts ("york" appearing only
    * after "new" gets a LOW continuation weight however frequent it is)
    * is what the raw-count interpolations get wrong. All arithmetic is
    * exact-integer micro-unit rendering in the suite's
    * divide-before-scale discipline: the discounted term is
    * ((4c−3)·10⁶) div (4·c₁), the interpolation term chains two
    * truncating divisions — pc = (N1+(·w2)·10⁶) div B first, then
    * (3·N1+(w1·)·pc) div (4·c₁) — so the widest intermediate is
    * 3·N1+(w1·)·10⁶ (overflow only past a 3·10¹² vocabulary; the old
    * common-denominator form would have overflowed at B ≈ 5.5·10⁵
    * types). The gate enforces the conservation law the rational form
    * guarantees — per context, Σ discounted + λ == 1 exactly, so the
    * micro rendering must land in [10⁶ − (N1+(w1·)+1), 10⁶] (each
    * truncation loses < 1 micro) — loudly over EVERY context, then emits
    * the top-20 bigrams with MLE and KN micro columns side by side.
    * Model/ctx arrive from the MartCache'd parquet marts ([[lmMarts]]);
    * the type-count rollups are counter-scale aggregates of the model
    * mart, so at 100 TB this prices as mart scans, not corpus passes. */
  val lmKneserNey: QueryDef = QueryDef(
    "t_lm_kneser_ney",
    Some(s"""
      WITH $bigramsSql,
      model AS MATERIALIZED (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_bg
        FROM bg WHERE lang = 'en' GROUP BY w1, w2),
      ctx AS (SELECT w1, CAST(sum(n_bg) AS BIGINT) AS n_ctx FROM model GROUP BY w1),
      $knTypeSql,
      kj AS (
        SELECT m.w1, m.w2, m.n_bg, c.n_ctx, f.n_follow, p.n_prec, b.bt
        FROM model m JOIN ctx c ON m.w1 = c.w1 JOIN fol f ON m.w1 = f.w1
        JOIN prc p ON m.w2 = p.w2 CROSS JOIN b)
      SELECT w1, w2, n_bg, n_ctx, n_follow, n_prec,
             (n_bg * 1000000) // n_ctx AS p_mle_micro,
             $knDiscSql + $knContSql AS p_kn_micro
      FROM kj
      ORDER BY n_bg DESC, w1, w2 LIMIT 20
    """)) { (spark, dir) =>
    val (model, ctxM) = lmMarts(spark, dir)
    val (fol, prc, bt) = knTypeFrames(model)
    val kn = model.join(ctxM, "w1").join(fol, "w1").join(prc, "w2")
      .withColumn("p_mle_micro", expr("(n_bg * 1000000) div n_ctx"))
      .withColumn("p_kn_micro", knDisc + knCont(bt))
    // conservation: per context w1, Σ discounted + λ = 1 in rationals —
    // each of the nf+1 truncations loses STRICTLY less than 1 micro, so
    // the rendered mass lies in (10⁶ − (nf+1), 10⁶]: the lower bound is
    // open (r14 ADVICE — a sum landing exactly ON 10⁶−(nf+1) is already
    // impossible under the law, so it must flag, not pass)
    val bad = kn.groupBy("w1")
      .agg(sum(expr("((4 * n_bg - 3) * 1000000) div (4 * n_ctx)")).as("s1"),
        max(expr("(3 * n_follow * 1000000) div (4 * n_ctx)")).as("lam"),
        max(col("n_follow")).as("nf"))
      .filter(col("s1") + col("lam") > lit(1000000L) ||
        col("s1") + col("lam") <= lit(1000000L) - (col("nf") + lit(1L)))
      .count()
    require(bad == 0L,
      s"t_lm_kneser_ney: $bad contexts break discount mass conservation")
    kn.select(col("w1"), col("w2"), col("n_bg"), col("n_ctx"),
        col("n_follow"), col("n_prec"), col("p_mle_micro"), col("p_kn_micro"))
      .orderBy(col("n_bg").desc, col("w1"), col("w2")).limit(20)
  }

  /** lm — interpolated Kneser–Ney at TRIGRAM order (Chen & Goodman 1999
    * §2.7's recursive interpolated form; the r14 verdict queue #5 — the
    * trigram model previously stopped at stupid backoff), completing the
    * LM family at the same exact-rational D = 3/4 discipline as
    * [[lmKneserNey]]:
    *
    *   p_KN(w3|w1w2) = (c(w1w2w3) − D)/c(w1w2·) + λ(w1w2)·p_KN(w3|w2)
    *   λ(w1w2) = D·N1+(w1w2·)/c(w1w2·)
    *
    * with the MIDDLE order built from CONTINUATION counts, per the full
    * KN recursion — raw bigram counts would re-import exactly the
    * burstiness KN exists to remove:
    *
    *   p_KN(w3|w2) = (N1+(·w2w3) − D)/N1+(·w2·) + λ(w2)·p_cont(w3)
    *   λ(w2) = D·N2(w2)/N1+(·w2·)     p_cont(w3) = N1+(·w3)/B
    *
    * where N1+(·w2w3) = |{w1 : c(w1w2w3) > 0}| (one row per trigram TYPE,
    * so a per-(w2,w3) row count), N1+(·w2·) its per-w2 rollup, N2(w2) the
    * distinct-w3 type count, and N1+(·w3)/B the bigram-type continuation
    * distribution [[lmKneserNey]] already pins. Micro rendering chains
    * divide-before-scale truncating divisions inward-out — pc first, then
    * the middle order, then the top — so the widest intermediate is
    * 3·N1+(w1w2·)·p2_micro ≤ 3·(type count)·2·10⁶ (overflow only past a
    * ~10¹² type table). The conservation law is ENFORCED at BOTH orders
    * over EVERY context (the r14 ADVICE strict bound from round one):
    * per (w1,w2), Σ_seen discounted + λ = 1 exactly in rationals, so the
    * micro mass must land in (10⁶ − (nf+1), 10⁶]; same per w2 at the
    * middle order with nf = N2(w2). Shape at 100 TB: every frame here is
    * a rollup of the trigram/bigram MARTS (vocab-scale, not corpus) —
    * five model-keyed joins and two counter-scale conservation
    * aggregates; the corpus is never touched. */
  val lmKneserNey3: QueryDef = QueryDef(
    "t_lm_kneser_ney3",
    Some(s"""
      WITH $bigramsSql,
      tg AS (
        SELECT doc_id, lang,
               unnest(list_transform(range(3, len(t)+1), i -> t[i-2])) AS w1,
               unnest(list_transform(range(3, len(t)+1), i -> t[i-1])) AS w2,
               unnest(list_transform(range(3, len(t)+1), i -> t[i])) AS w3
        FROM d WHERE len(t) >= 3),
      tri AS MATERIALIZED (
        SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS n_tri
        FROM tg WHERE lang = 'en' GROUP BY w1, w2, w3),
      tctx AS (SELECT w1, w2, CAST(sum(n_tri) AS BIGINT) AS n_tctx FROM tri GROUP BY w1, w2),
      nf12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_f12 FROM tri GROUP BY w1, w2),
      cont AS MATERIALIZED (
        SELECT w2, w3, CAST(count(*) AS BIGINT) AS c23 FROM tri GROUP BY w2, w3),
      cwc AS (SELECT w2, CAST(sum(c23) AS BIGINT) AS cw2 FROM cont GROUP BY w2),
      ntw AS (SELECT w2, CAST(count(*) AS BIGINT) AS n2 FROM cont GROUP BY w2),
      model AS MATERIALIZED (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_bg
        FROM bg WHERE lang = 'en' GROUP BY w1, w2),
      prc AS (SELECT w2, CAST(count(*) AS BIGINT) AS n_prec FROM model GROUP BY w2),
      b AS (SELECT CAST(count(*) AS BIGINT) AS bt FROM model),
      kj3 AS (
        SELECT t.w1, t.w2, t.w3, t.n_tri, tc.n_tctx, f.n_f12, co.c23,
               c2.cw2, nn.n2, p.n_prec, b.bt
        FROM tri t
        JOIN tctx tc ON t.w1 = tc.w1 AND t.w2 = tc.w2
        JOIN nf12 f ON t.w1 = f.w1 AND t.w2 = f.w2
        JOIN cont co ON t.w2 = co.w2 AND t.w3 = co.w3
        JOIN cwc c2 ON t.w2 = c2.w2
        JOIN ntw nn ON t.w2 = nn.w2
        JOIN prc p ON t.w3 = p.w2
        CROSS JOIN b)
      SELECT w1, w2, w3, n_tri, n_tctx,
             (n_tri * 1000000) // n_tctx AS p_mle3_micro,
             ${kn3P2Sql("//", guarded = false, "bt")} AS p_kn2_micro,
             ${kn3TopSql("//", kn3P2Sql("//", guarded = false, "bt"), guarded = false)} AS p_kn3_micro
      FROM kj3
      ORDER BY n_tri DESC, w1, w2, w3 LIMIT 20
    """)) { (spark, dir) =>
    val (tri, tctx) = lmTriMarts(spark, dir)
    val (model, _) = lmMarts(spark, dir)
    val (nf12, cont, cwc, ntw) = kn3TypeFrames(tri)
    val (_, prcW2, bt) = knTypeFrames(model)
    val prc = prcW2.withColumnRenamed("w2", "w3")
    // conservation at the TOP order: per (w1, w2), Σ discounted + λ = 1
    // exactly in rationals; the nf+1 truncations keep the micro mass in
    // the OPEN-bottom interval (10⁶ − (nf+1), 10⁶]
    val badTop = tri.join(tctx, Seq("w1", "w2")).groupBy("w1", "w2")
      .agg(sum(expr("((4 * n_tri - 3) * 1000000) div (4 * n_tctx)")).as("s1"),
        count(lit(1)).as("nf"), max(col("n_tctx")).as("nc"))
      .filter(col("s1") + expr("(3 * nf * 1000000) div (4 * nc)") > lit(1000000L) ||
        col("s1") + expr("(3 * nf * 1000000) div (4 * nc)") <=
          lit(1000000L) - (col("nf") + lit(1L)))
      .count()
    require(badTop == 0L,
      s"t_lm_kneser_ney3: $badTop trigram contexts break discount mass conservation")
    // conservation at the MIDDLE order: per w2 over continuation counts
    val badMid = cont.join(cwc, Seq("w2")).groupBy("w2")
      .agg(sum(expr("((4 * c23 - 3) * 1000000) div (4 * cw2)")).as("s1"),
        count(lit(1)).as("nf"), max(col("cw2")).as("nc"))
      .filter(col("s1") + expr("(3 * nf * 1000000) div (4 * nc)") > lit(1000000L) ||
        col("s1") + expr("(3 * nf * 1000000) div (4 * nc)") <=
          lit(1000000L) - (col("nf") + lit(1L)))
      .count()
    require(badMid == 0L,
      s"t_lm_kneser_ney3: $badMid middle-order contexts break discount mass conservation")
    tri.join(tctx, Seq("w1", "w2")).join(nf12, Seq("w1", "w2"))
      .join(cont, Seq("w2", "w3")).join(cwc, Seq("w2")).join(ntw, Seq("w2"))
      .join(prc, Seq("w3"))
      .withColumn("p_mle3_micro", expr("(n_tri * 1000000) div n_tctx"))
      .withColumn("p_kn2_micro", expr(kn3P2Sql("div", guarded = false, bt.toString)))
      .withColumn("p_kn3_micro", expr(kn3TopSql("div", "p_kn2_micro", guarded = false)))
      .select(col("w1"), col("w2"), col("w3"), col("n_tri"), col("n_tctx"),
        col("p_mle3_micro"), col("p_kn2_micro"), col("p_kn3_micro"))
      .orderBy(col("n_tri").desc, col("w1"), col("w2"), col("w3")).limit(20)
  }

  val all: Seq[QueryDef] = Seq(lmScore, lmTopBigrams, lmFilter, lmIncremental,
    lmTrigram, lmBuckets, lmPrune, lmKneserNey, lmKneserNey3)
}
