package graft.llm

import graft.{QueryDef, core}
import graft.core._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus-curation operators (builder brief; SURVEY.md §7.5) — the
  * selection passes that run BETWEEN per-doc scoring (TextOps) and dedup
  * (Dedup/Cluster) in a training-data pipeline: source-level gating,
  * token-budget selection, cross-source contamination accounting, and
  * whitespace normalization.
  *
  * Scale posture: per-source state is tiny (one row per source/domain —
  * thousands of rows at 100 TB, not billions), so every source-level
  * decision aggregates once and BROADCASTS back; per-doc work stays
  * map-parallel codegen'd expressions. No operator here shuffles document
  * text except where the semantics require grouping it (overlap matrix
  * groups 16-byte digests, never text).
  */
object Curation {

  /** Whitespace tokens (same canonical tokenizer as TextOps). */
  private def toks(c: Column): Column = split(c, "\\s+")

  /** Whitespace canonicalization: collapse runs of blank characters to one
    * space and trim. Exposed for property tests (idempotence and
    * noise-invariance in PropertySpec); the char class is explicit because
    * Java \\s and RE2 \\s disagree on vertical tab. */
  private[graft] def normalizeWs(c: Column): Column =
    trim(regexp_replace(c, "[ \t\n\r]+", " "))

  /** Per-doc quality flag — the t_quality_score keep rule (token count in
    * [20,1000], mean word length in [2,12]), recomputed here so the gate is
    * self-contained. */
  private def keepDoc: Column = {
    val t = toks(col("text"))
    val mwl = length(regexp_replace(col("text"), " ", "")).cast(DoubleType) /
      size(t).cast(DoubleType)
    size(t).between(20, 1000) && mwl.between(2.0, 12.0)
  }
  private val keepDocSql = """
    len(string_split_regex(text, '\s+')) BETWEEN 20 AND 1000
    AND CAST(length(replace(text, ' ', '')) AS DOUBLE)
        / CAST(len(string_split_regex(text, '\s+')) AS DOUBLE) BETWEEN 2.0 AND 12.0"""

  /** c1 — SOURCE-LEVEL quality gating (the "drop bad domains wholesale"
    * pass — cheaper than per-doc review and standard before it): score
    * every doc, aggregate a keep-rate per source, keep a source iff at
    * least half its docs pass, then admit only docs of kept sources.
    * The verdict table is one row per source — at 100 TB still just
    * thousands of rows — so the join back to documents is a BROADCAST
    * hash join on the map side of the scan; the only shuffle over doc
    * data is the tiny per-source count aggregation (map-side partials of
    * two longs per source per task). Keep-rate compares as 2·n_keep >=
    * n_docs in exact integers; the emitted rate is one int/int division,
    * bit-identical on both engines. */
  val cDomainFilter: QueryDef = QueryDef(
    "t_domain_filter",
    Some(s"""
      WITH flagged AS (
        SELECT doc_id, source, ($keepDocSql) AS keep_doc FROM documents),
      verdict AS (
        SELECT source, count(*) AS src_docs,
               CAST(sum(CASE WHEN keep_doc THEN 1 ELSE 0 END) AS BIGINT) AS src_keep_docs
        FROM flagged GROUP BY source)
      SELECT f.doc_id, f.source, v.src_docs,
             CAST(v.src_keep_docs AS DOUBLE) / CAST(v.src_docs AS DOUBLE) AS src_keep_rate
      FROM flagged f JOIN verdict v USING (source)
      WHERE 2 * v.src_keep_docs >= v.src_docs
      ORDER BY f.doc_id
    """)) { (spark, dir) =>
    val flagged = tbl(spark, dir, "documents")
      .select(col("doc_id"), col("source"), keepDoc.as("keep_doc"))
    val verdict = flagged.groupBy("source")
      .agg(count(lit(1)).as("src_docs"), countIf(col("keep_doc")).as("src_keep_docs"))
      .filter(lit(2) * col("src_keep_docs") >= col("src_docs"))
    flagged.join(broadcast(verdict), Seq("source"))
      .select(col("doc_id"), col("source"), col("src_docs"),
        (col("src_keep_docs").cast(DoubleType) / col("src_docs").cast(DoubleType))
          .as("src_keep_rate"))
      .orderBy("doc_id")
  }

  /** c2 — TOKEN-BUDGET selection: per source, admit the highest-quality
    * docs until a fixed token budget is spent (the "N tokens per domain"
    * curation rule used to cap dominant domains). Quality = stopword
    * ratio (int/int division — identical doubles on both engines);
    * selection is the PREFIX rule — rank docs by (quality DESC, doc_id),
    * keep while the inclusive running token count stays within budget.
    * Once the cumsum exceeds the budget it never recovers (token counts
    * are positive), so the kept set is a clean prefix — one window
    * cumsum per source partition, no driver loop, no knapsack. Scale:
    * sources partition the window, so the unit of skew is one domain. A
    * mega-domain (billions of docs) would make its window partition
    * sort-heavy even though the budget bounds the OUTPUT to ~1024 tokens;
    * the standard mitigation is a pre-prune — estimate the per-source
    * quality threshold that spends the budget (approx quantile over
    * (source, quality)), pre-filter to docs near-or-above it, and run the
    * exact window over that bounded survivor set. The fixture's domains
    * are small, so the gate runs the exact form directly. */
  val cTokenBudget: QueryDef = QueryDef(
    "t_token_budget",
    Some("""
      WITH scored AS (
        SELECT doc_id, source,
               len(string_split_regex(text, '\s+')) AS n_tokens,
               CAST(len(list_filter(string_split_regex(text, '\s+'),
                                    x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE)
                 / CAST(len(string_split_regex(text, '\s+')) AS DOUBLE) AS quality
        FROM documents),
      ranked AS (
        SELECT doc_id, source, n_tokens, quality,
               CAST(sum(n_tokens) OVER (PARTITION BY source
                 ORDER BY quality DESC, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        FROM scored)
      SELECT doc_id, source, n_tokens, quality, cum_tokens
      FROM ranked WHERE cum_tokens <= 1024
      ORDER BY source, doc_id
    """)) { (spark, dir) =>
    val t = toks(col("text"))
    val stop = Seq("the", "a", "of", "and", "to", "in")
    val quality = size(filter(t, x => x.isin(stop: _*))).cast(DoubleType) /
      size(t).cast(DoubleType)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("quality").desc, col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    tbl(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(t).cast(LongType).as("n_tokens"), quality.as("quality"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= 1024)
      .orderBy("source", "doc_id")
  }

  /** c3 — cross-source OVERLAP MATRIX (split/source contamination
    * accounting: how many documents do two sources share verbatim?).
    * A synthetic "recrawl" source replays every doc_id % 6 == 0 doc, so
    * overlap is planted and provable. Shape: digest each doc (md5 — the
    * only thing that ever shuffles), distinct per (source, digest), then
    * a self-equi-join on the 16-byte digest with source_a < source_b and
    * a pair rollup. At 100 TB: two shuffles of (source, 32-hex) pairs and
    * a bucket join on the digest — text never leaves the scan. */
  val cOverlapMatrix: QueryDef = QueryDef(
    "t_overlap_matrix",
    Some("""
      WITH src AS (
        SELECT source, text FROM documents
        UNION ALL
        SELECT 'recrawl', text FROM documents WHERE doc_id % 6 = 0),
      dd AS (SELECT DISTINCT source, md5(text) AS fp FROM src)
      SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
      FROM dd a JOIN dd b ON a.fp = b.fp AND a.source < b.source
      GROUP BY a.source, b.source
      ORDER BY source_a, source_b
    """)) { (spark, dir) =>
    val d = tbl(spark, dir, "documents")
    val src = d.select(col("source"), col("text"))
      .unionAll(d.filter(col("doc_id") % 6 === 0)
        .select(lit("recrawl").as("source"), col("text")))
    val dd = src.select(col("source"), md5(col("text")).as("fp")).distinct()
    dd.as("a")
      .join(dd.as("b"),
        col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("source_a", "source_b")
  }

  /** KMV sketch size (k minimum hash values kept per source). 32 is the
    * measured operating point: mean relative union error 0.108 at sf0.01
    * and 0.115 at sf0.1 (theory: ~1/sqrt(k-2) = 0.18 σ). The Jaccard
    * denominator is min(k, |merged sketch|), so small-set pairs — where
    * the sketches are the complete sets — estimate exactly. */
  private val KmvK = 32

  /** 2^60 — the hash space of a 15-hex-char md5 prefix. 31·2^60 and the
    * division below are IEEE-exact-rounded identically on both engines
    * (31 has 5 significand bits; the product is exact). */
  private val KmvM = 1152921504606846976.0

  /** c3b — KMV-SKETCH overlap estimation: the 100 TB SCALE PATH for
    * [[cOverlapMatrix]]. The exact matrix is a full digest self-join —
    * at corpus scale that shuffles every (source, digest) pair. The
    * k-minimum-values sketch (Beyer et al., "On synopses for distinct-
    * value estimation under multiset operations", SIGMOD'07) needs ONE
    * scan: per source keep the k smallest 60-bit hash values (a partial
    * top-k, map-side combinable), then estimate per source pair from
    * sketches alone — union via the k-th minimum of the merged sketch
    * (Û = (k−1)·M/τ), Jaccard via the fraction of the merged bottom-k
    * present in both sides, intersection as Ĵ·Û. Sketch state is
    * sources × k rows (thousands at 100 TB, never billions); the pair
    * expansion never touches documents. This gate runs the sketch AND
    * the exact matrix side by side and emits the measured error — plus
    * two laws enforced in-gate: (1) small-set exactness — a pair whose
    * merged sketch holds < k values estimates its union EXACTLY; (2)
    * mean relative union error over all 210 pairs < 0.25 (measured
    * 0.11–0.12 at both rungs, 2× margin). Hash = 15-hex-char md5 prefix
    * kept as a STRING through the top-k (lowercase-hex order ==
    * unsigned-60-bit order, the [[Dedup.rotationSigs]] idiom) and
    * parsed to a number only for the one τ per pair. */
  val cOverlapKmv: QueryDef = QueryDef(
    "t_overlap_kmv",
    Some(s"""
      WITH src AS (
        SELECT source, text FROM documents
        UNION ALL
        SELECT 'recrawl', text FROM documents WHERE doc_id % 6 = 0),
      dd AS (SELECT DISTINCT source, substring(md5(text), 1, 15) AS h FROM src),
      pairs AS (
        SELECT a.source AS source_a, b.source AS source_b
        FROM (SELECT DISTINCT source FROM dd) a,
             (SELECT DISTINCT source FROM dd) b
        WHERE a.source < b.source),
      sk AS (
        SELECT source, h FROM (
          SELECT source, h,
                 row_number() OVER (PARTITION BY source ORDER BY h) AS rn
          FROM dd)
        WHERE rn <= $KmvK),
      merged AS (
        SELECT p.source_a, p.source_b, s.h,
               max(CASE WHEN s.source = p.source_a THEN 1 ELSE 0 END) AS in_a,
               max(CASE WHEN s.source = p.source_b THEN 1 ELSE 0 END) AS in_b
        FROM pairs p JOIN sk s ON s.source IN (p.source_a, p.source_b)
        GROUP BY 1, 2, 3),
      bk AS (
        SELECT source_a, source_b, h, in_a, in_b,
               row_number() OVER (PARTITION BY source_a, source_b ORDER BY h) AS rn
        FROM merged),
      est AS (
        SELECT source_a, source_b,
               CAST(count(*) AS BIGINT) AS sk_rows,
               max(CASE WHEN rn <= $KmvK THEN h END) AS tau_h,
               CAST(sum(CASE WHEN rn <= $KmvK THEN in_a * in_b ELSE 0 END) AS BIGINT) AS n_both
        FROM bk GROUP BY 1, 2),
      pm AS (
        SELECT p.source_a, p.source_b, d.h,
               max(CASE WHEN d.source = p.source_a THEN 1 ELSE 0 END) AS in_a,
               max(CASE WHEN d.source = p.source_b THEN 1 ELSE 0 END) AS in_b
        FROM pairs p JOIN dd d ON d.source IN (p.source_a, p.source_b)
        GROUP BY 1, 2, 3),
      ex AS (
        SELECT source_a, source_b,
               CAST(count(*) AS BIGINT) AS exact_union,
               CAST(sum(in_a * in_b) AS BIGINT) AS exact_inter
        FROM pm GROUP BY 1, 2)
      SELECT e.source_a, e.source_b, e.sk_rows, e.n_both,
             x.exact_union, x.exact_inter,
             CASE WHEN e.sk_rows < $KmvK THEN CAST(e.sk_rows AS DOUBLE)
                  ELSE CAST(${KmvK - 1} AS DOUBLE) * $KmvM
                       / ('0x' || e.tau_h)::BIGINT END AS est_union,
             CAST(e.n_both AS DOUBLE) / CAST(least($KmvK, e.sk_rows) AS DOUBLE) AS est_jacc,
             CAST(e.n_both AS DOUBLE) / CAST(least($KmvK, e.sk_rows) AS DOUBLE)
               * (CASE WHEN e.sk_rows < $KmvK THEN CAST(e.sk_rows AS DOUBLE)
                       ELSE CAST(${KmvK - 1} AS DOUBLE) * $KmvM
                            / ('0x' || e.tau_h)::BIGINT END) AS est_inter
      FROM est e JOIN ex x
        ON x.source_a = e.source_a AND x.source_b = e.source_b
      ORDER BY e.source_a, e.source_b
    """)) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val d = tbl(spark, dir, "documents")
    val src = d.select(col("source"), col("text"))
      .unionAll(d.filter(col("doc_id") % 6 === 0)
        .select(lit("recrawl").as("source"), col("text")))
    // one scan of text, 15-hex-char prefix hash, distinct per source
    val dd = src.select(col("source"), substring(md5(col("text")), 1, 15).as("h"))
      .distinct().localCheckpoint(true)
    val srcs = dd.select("source").distinct()
    val pairs = srcs.select(col("source").as("source_a"))
      .crossJoin(srcs.select(col("source").as("source_b")))
      .filter(col("source_a") < col("source_b"))
    // the sketch: per-source bottom-k (string order == unsigned order)
    val sk = dd
      .withColumn("rn", row_number().over(Window.partitionBy("source").orderBy("h")))
      .filter(col("rn") <= KmvK).select("source", "h")
    def pairSide(rows: DataFrame): DataFrame =
      broadcast(pairs).join(rows,
          col("source") === col("source_a") || col("source") === col("source_b"))
        .groupBy("source_a", "source_b", "h")
        .agg(max(when(col("source") === col("source_a"), 1).otherwise(0)).as("in_a"),
          max(when(col("source") === col("source_b"), 1).otherwise(0)).as("in_b"))
    val wp = Window.partitionBy("source_a", "source_b").orderBy("h")
    val est = pairSide(sk)
      .withColumn("rn", row_number().over(wp))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("sk_rows"),
        max(when(col("rn") <= KmvK, col("h"))).as("tau_h"),
        sum(when(col("rn") <= KmvK, col("in_a") * col("in_b")).otherwise(0))
          .cast(LongType).as("n_both"))
    val ex = pairSide(dd)
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("exact_union"),
        sum(col("in_a") * col("in_b")).cast(LongType).as("exact_inter"))
    val estU = when(col("sk_rows") < KmvK, col("sk_rows").cast(DoubleType))
      .otherwise(lit((KmvK - 1).toDouble) * lit(KmvM)
        / conv(col("tau_h"), 16, 10).cast(LongType).cast(DoubleType))
    // denominator = |merged bottom-k| = min(k, sk_rows): on small-set
    // pairs the sketches are complete, so the Jaccard (and with law 1
    // the intersection) is EXACT, not biased low by the fixed k
    val estJ = col("n_both").cast(DoubleType) /
      least(lit(KmvK.toLong), col("sk_rows")).cast(DoubleType)
    val out = est.join(ex, Seq("source_a", "source_b"))
      .select(col("source_a"), col("source_b"), col("sk_rows"), col("n_both"),
        col("exact_union"), col("exact_inter"),
        estU.as("est_union"), estJ.as("est_jacc"),
        (estJ * estU).as("est_inter"))
      .orderBy("source_a", "source_b")
    val rows = out.collect()
    // law 1: a pair whose merged sketch holds < k values is EXACT — the
    // sketches are the full sets, so union, Jaccard, AND intersection
    // all reproduce the exact side bit-for-bit
    rows.filter(_.getAs[Long]("sk_rows") < KmvK.toLong).foreach { r =>
      val who = s"${r.getAs[String]("source_a")}/${r.getAs[String]("source_b")}"
      require(r.getAs[Double]("est_union") == r.getAs[Long]("exact_union").toDouble,
        s"small-set union exactness broke for $who")
      require(r.getAs[Long]("n_both") == r.getAs[Long]("exact_inter"),
        s"small-set intersection exactness broke for $who")
    }
    // law 2: measured accuracy — mean relative union error under 0.25
    val errs = rows.map(r => math.abs(r.getAs[Double]("est_union") -
      r.getAs[Long]("exact_union")) / r.getAs[Long]("exact_union"))
    require(errs.sum / errs.length < 0.25,
      f"KMV mean union error ${errs.sum / errs.length}%.4f breached the 0.25 bar")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
  }

  /** c4 — whitespace NORMALIZATION (the first text-cleaning pass every
    * pipeline runs): collapse runs of blank characters to one space and
    * trim. Verified as a canonicalization PROPERTY, row-locally: each doc
    * gets a synthetic noisy twin (leading pad, every space tripled, a
    * trailing newline+tab) and the gate proves normalize(noisy) ==
    * normalize(original) by fingerprint — all codegen'd regexp/concat
    * expressions, zero shuffle except the oracle ORDER BY. The character
    * class is spelled [ \\t\\n\\r] explicitly because Java's \\s and RE2's
    * \\s disagree on vertical tab — the one regex-dialect trap between the
    * two engines. */
  val cNormalize: QueryDef = QueryDef(
    "t_normalize",
    Some("""
      WITH pair AS (
        SELECT doc_id, text,
               '  ' || replace(text, ' ', '   ') || chr(10) || chr(9) AS noisy
        FROM documents),
      norm AS (
        SELECT doc_id,
               length(text) AS n_chars_raw,
               length(noisy) AS n_chars_noisy,
               trim(regexp_replace(text, '[ \t\n\r]+', ' ', 'g')) AS norm_base,
               trim(regexp_replace(noisy, '[ \t\n\r]+', ' ', 'g')) AS norm_noisy
        FROM pair)
      SELECT doc_id, n_chars_raw, n_chars_noisy,
             length(norm_noisy) AS n_chars_norm,
             md5(norm_noisy) AS norm_fp,
             md5(norm_noisy) = md5(norm_base) AS fp_match
      FROM norm
      ORDER BY doc_id
    """)) { (spark, dir) =>
    val noisy = concat(lit("  "),
      regexp_replace(col("text"), " ", "   "), lit("\n\t"))
    tbl(spark, dir, "documents")
      .select(col("doc_id"), col("text"), noisy.as("noisy"))
      .select(col("doc_id"),
        length(col("text")).cast(LongType).as("n_chars_raw"),
        length(col("noisy")).cast(LongType).as("n_chars_noisy"),
        normalizeWs(col("text")).as("norm_base"),
        normalizeWs(col("noisy")).as("norm_noisy"))
      .select(col("doc_id"), col("n_chars_raw"), col("n_chars_noisy"),
        length(col("norm_noisy")).cast(LongType).as("n_chars_norm"),
        md5(col("norm_noisy")).as("norm_fp"),
        (md5(col("norm_noisy")) === md5(col("norm_base"))).as("fp_match"))
      .orderBy("doc_id")
  }

  /** c5 — repeated-SUBSTRING detection (the distributed stand-in for
    * suffix-array exact-substring dedup, Lee et al. 2022's "dedup makes LMs
    * better" pass): every 16-token window is digested; a window is
    * duplicated iff its digest occurs in >= 2 distinct documents; each doc
    * reports how much of it is covered by cross-doc repeats. Planted
    * copies (doc_id % 9, one token PREPENDED) shift every window position
    * yet share every interior 16-gram — position-independence is the
    * property that breaks naive text-offset comparison and is exactly what
    * digest matching gives. Shape at 100 TB: windows explode to (doc,
    * digest) pairs — fixed 32-hex keys, never text; the dup-digest set
    * comes from one hash-groupBy on the digest; the join back is
    * digest-bucketed. The per-doc rollups partial-aggregate map-side.
    * Windows are built by exploding START POSITIONS and assembling each
    * digest from codegen'd element_at/concat_ws/md5 (the array-of-digests
    * `transform` form runs interpreted, ~10× slower — same finding as
    * t_decontaminate). */
  val cSubstringDups: QueryDef = QueryDef(
    "t_substring_dups",
    Some("""
      WITH src AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 600000, 'zzpre ' || text FROM documents WHERE doc_id % 9 = 0),
      tok AS (SELECT doc_id, string_split_regex(text, '\s+') AS t FROM src),
      pos AS (
        SELECT doc_id, unnest(list_transform(range(1, len(t) - 14),
                 i -> md5(array_to_string(list_slice(t, i, i + 15), ' ')))) AS g
        FROM tok WHERE len(t) >= 16),
      dupg AS (SELECT g FROM pos GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
      totals AS (SELECT doc_id, count(*) AS n_windows FROM pos GROUP BY doc_id),
      dups AS (
        SELECT p.doc_id, count(*) AS n_dup_windows
        FROM pos p JOIN dupg d USING (g) GROUP BY p.doc_id)
      SELECT t.doc_id, t.n_windows,
             COALESCE(d.n_dup_windows, 0) AS n_dup_windows,
             CAST(COALESCE(d.n_dup_windows, 0) AS DOUBLE)
               / CAST(t.n_windows AS DOUBLE) AS dup_share
      FROM totals t LEFT JOIN dups d USING (doc_id)
      ORDER BY doc_id
    """)) { (spark, dir) =>
    val d = tbl(spark, dir, "documents").select("doc_id", "text")
    val src = d.unionAll(
      d.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 600000L).as("doc_id"),
          concat(lit("zzpre "), col("text")).as("text")))
      // single-file source → spread the window+digest pass across cores
      .repartition(spark.sessionState.conf.numShufflePartitions)
    // the digest stream feeds three consumers (dup-digest set, per-doc
    // totals, per-doc dup counts): persist it so the explode + 16-way
    // concat + md5 work runs ONCE — the persisted form is (id, 32-hex),
    // far smaller than the text it came from
    val pos = src.select(col("doc_id"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= 16)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), size(col("t")) - 15)).as("i"))
      .select(col("doc_id"),
        md5(concat_ws(" ",
          (0 until 16).map(o => element_at(col("t"), col("i") + o)): _*)).as("g"))
      .persist()
    val dupg = pos.groupBy("g")
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select("g")
    val totals = pos.groupBy("doc_id").agg(count(lit(1)).as("n_windows"))
    val dups = pos.join(dupg, "g")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_windows"))
    val out = totals.join(dups, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        (coalesce(col("n_dup_windows"), lit(0L)).cast(DoubleType) /
          col("n_windows").cast(DoubleType)).as("dup_share"))
      .orderBy("doc_id")
      // one row per doc — tiny; eager-checkpoint it so the cached digest
      // frame can be RELEASED here instead of leaking for the rest of a
      // 137-query session (the Dedup.scala ingest / Cluster.components
      // release discipline)
      .localCheckpoint(true)
    pos.unpersist()
    out
  }

  /** THE split-assignment rule — salt `split|`, thresholds 0xcccc/0xe666
    * (~80/10/10) on the first 4 md5 hex chars. ONE definition (SQL twin
    * below), shared by [[cTrainSplit]] and [[Cluster.ddSplitLeakage]]'s
    * leakage audit: the audit's premise is that it replays this exact
    * rule, so the rule must not be copy-pasteable out of sync. */
  private[llm] def splitHashCol(c: Column): Column = {
    val h = substring(md5(concat(lit("split|"), c.cast(StringType))), 1, 4)
    when(h < "cccc", "train").when(h < "e666", "val").otherwise("test")
  }

  /** DuckDB twin of [[splitHashCol]] over column expression `c`. */
  private[llm] def splitHashSqlOf(c: String): String =
    s"""CASE WHEN substr(md5('split|' || CAST($c AS VARCHAR)), 1, 4) < 'cccc'
                      THEN 'train'
                    WHEN substr(md5('split|' || CAST($c AS VARCHAR)), 1, 4) < 'e666'
                      THEN 'val'
                    ELSE 'test' END"""

  /** c6 — train/val/test SPLIT assignment: every doc lands in exactly one
    * split by a salted-hash threshold (~80/10/10 via the first 4 hex chars
    * of md5 against 0xcccc/0xe666) — deterministic, data-independent,
    * stable under repartitioning and reruns, the reproducibility property
    * ad-hoc RNG splits lack. Pure map pass; the per-(split, lang) rollup
    * with commutative id checksums is the audit a split job publishes. */
  val cTrainSplit: QueryDef = QueryDef(
    "t_train_split",
    Some(s"""
      WITH assigned AS (
        SELECT doc_id, lang,
               ${splitHashSqlOf("doc_id")} AS split_name
        FROM documents)
      SELECT split_name, lang, count(*) AS n_docs,
             CAST(sum(CAST(doc_id AS DECIMAL(38,0))) AS DOUBLE) AS id_sum
      FROM assigned GROUP BY split_name, lang
      ORDER BY split_name, lang
    """)) { (spark, dir) =>
    tbl(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        splitHashCol(col("doc_id")).as("split_name"))
      .groupBy("split_name", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id").cast(DecimalType(38, 0))).cast(DoubleType).as("id_sum"))
      .orderBy("split_name", "lang")
  }

  /** c7 — CLASSIFIER-style quality filtering (the fasttext-model pass of
    * modern pipelines — CCNet/LLaMA-style "score with a trained classifier,
    * keep above threshold" — expressed as a fixed linear model over the
    * engine's extracted features). The LOGIT is the decision statistic:
    * keep ⇔ w·f + b > 0, identical to thresholding the sigmoid at 0.5 but
    * with no transcendental function — exp() differs in the last ulp
    * across libm implementations, while the logit is a fixed-order chain
    * of IEEE multiply-adds both engines execute identically. Weights are
    * frozen constants (a real deployment loads them from a trained model;
    * the plumbing — feature extraction, scoring, verdict — is what the
    * engine owns). Pure map pass over the scan. */
  val cQualityLogit: QueryDef = QueryDef(
    "t_quality_logit",
    Some("""
      WITH f AS (
        SELECT doc_id,
               len(string_split_regex(text, '\s+')) AS nt,
               CAST(len(list_filter(string_split_regex(text, '\s+'),
                                    x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE)
                 / CAST(len(string_split_regex(text, '\s+')) AS DOUBLE) AS sw,
               CAST(length(replace(text, ' ', '')) AS DOUBLE)
                 / CAST(len(string_split_regex(text, '\s+')) AS DOUBLE) AS mwl
        FROM documents)
      SELECT doc_id,
             round(-3.0 + 20.0 * sw + 0.5 * mwl + 0.01 * CAST(nt AS DOUBLE), 6) AS logit_r,
             (-3.0 + 20.0 * sw + 0.5 * mwl + 0.01 * CAST(nt AS DOUBLE)) > 0.0 AS keep_doc
      FROM f
      ORDER BY doc_id
    """)) { (spark, dir) =>
    val t = toks(col("text"))
    val stop = Seq("the", "a", "of", "and", "to", "in")
    val nt = size(t).cast(DoubleType)
    val sw = size(filter(t, x => x.isin(stop: _*))).cast(DoubleType) / nt
    val mwl = length(regexp_replace(col("text"), " ", "")).cast(DoubleType) / nt
    // same left-to-right association as the oracle: ((b + w1·sw) + w2·mwl) + w3·nt
    val logit = lit(-3.0) + lit(20.0) * sw + lit(0.5) * mwl + lit(0.01) * nt
    tbl(spark, dir, "documents")
      .select(col("doc_id"),
        round(logit, 6).as("logit_r"),
        (logit > 0.0).as("keep_doc"))
      .orderBy("doc_id")
  }

  /** c2b — SUBWORD-TRUE token budget (round-9 queue #4): identical
    * prefix-rule selection to [[cTokenBudget]], but the running spend is
    * measured in SUBWORD tokens ([[TextOps.docSubwords]]) — the budget a
    * training run actually pays — while quality stays the whitespace
    * stopword ratio (scoring and accounting are independent axes). The
    * budget doubles to 2048 because fertility > 1 inflates every doc's
    * cost; the whitespace gate stays registered untouched. Same scale
    * shape: map-pass counts, one window cumsum per source, prefix filter. */
  val cBudgetSubword: QueryDef = QueryDef(
    "t_budget_subword",
    Some(s"""
      WITH scored AS (
        SELECT doc_id, source,
               ${TextOps.docSubwordsSql("text")} AS n_tokens,
               CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                    x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE)
                 / CAST(len(string_split_regex(text, '\\s+')) AS DOUBLE) AS quality
        FROM documents),
      ranked AS (
        SELECT doc_id, source, n_tokens, quality,
               CAST(sum(n_tokens) OVER (PARTITION BY source
                 ORDER BY quality DESC, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        FROM scored)
      SELECT doc_id, source, n_tokens, quality, cum_tokens
      FROM ranked WHERE cum_tokens <= 2048
      ORDER BY source, doc_id
    """)) { (spark, dir) =>
    val t = toks(col("text"))
    val stop = Seq("the", "a", "of", "and", "to", "in")
    val quality = size(filter(t, x => x.isin(stop: _*))).cast(DoubleType) /
      size(t).cast(DoubleType)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("quality").desc, col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    tbl(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        TextOps.docSubwords(col("text")).as("n_tokens"), quality.as("quality"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= 2048)
      .orderBy("source", "doc_id")
  }

  /** c9 — DSIR-style importance weighting (data selection with importance
    * resampling: weight every raw document by how much it "looks like" a
    * target distribution, using HASHED n-gram features so the feature space
    * is fixed-width no matter how large the vocabulary grows). Target here
    * is the `lang = 'en'` stratum; features are unigrams hashed to 256
    * buckets by the repo's cross-engine hash (the first 2 hex chars of
    * md5 — replayed verbatim by DuckDB, same trick as the mixture/split
    * gates). Each doc scores two EXACT INTEGER masses — Σ over its tokens
    * of the target-corpus count (resp. full-corpus count) of the token's
    * bucket — and the emitted weight is their single int/int division.
    * The real DSIR weight is the log-likelihood ratio Σ log(p_t/p_b); the
    * integer-mass ratio keeps the same "more target-like ⇒ larger" signal
    * while avoiding cross-row float sums AND libm log entirely — both
    * engines compute bit-identical values (the t_salient_terms precedent).
    *
    * Shape at 100 TB: tokenize once (map), shuffle (bucket) partial counts
    * to build the 256-row feature table, broadcast it back, and the
    * per-doc mass is a map-side-combinable groupBy(doc) of two longs —
    * document text never shuffles, and the feature table stays 256 rows
    * whether the corpus is 500 docs or 100 TB (that is the point of
    * hashing). */
  val cDsirWeight: QueryDef = QueryDef(
    "t_dsir_weight",
    Some("""
      WITH tok AS (
        SELECT doc_id, lang, substr(md5(unnest(string_split_regex(text, '\s+'))), 1, 2) AS b
        FROM documents),
      counts AS (
        SELECT b, CAST(count(*) AS BIGINT) AS bg,
               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tgt
        FROM tok GROUP BY b),
      mass AS (
        SELECT t.doc_id, t.lang, CAST(count(*) AS BIGINT) AS n_toks,
               CAST(sum(c.tgt) AS BIGINT) AS tgt_mass,
               CAST(sum(c.bg) AS BIGINT) AS bg_mass
        FROM tok t JOIN counts c USING (b)
        GROUP BY t.doc_id, t.lang)
      SELECT doc_id, lang, n_toks, tgt_mass, bg_mass,
             round(CAST(tgt_mass AS DOUBLE) / CAST(bg_mass AS DOUBLE), 6) AS weight_r
      FROM mass ORDER BY doc_id
    """)) { (spark, dir) =>
    val tok = tbl(spark, dir, "documents")
      // single-file source → spread the token explode across cores
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), col("lang"), explode(toks(col("text"))).as("w"))
      .select(col("doc_id"), col("lang"), substring(md5(col("w")), 1, 2).as("b"))
      .persist() // feeds the feature table AND the per-doc mass join
    val counts = tok.groupBy("b").agg(
      count(lit(1)).as("bg"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tgt"))
    tok.join(broadcast(counts), Seq("b"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_toks"),
        sum(col("tgt")).as("tgt_mass"),
        sum(col("bg")).as("bg_mass"))
      .select(col("doc_id"), col("lang"), col("n_toks"), col("tgt_mass"), col("bg_mass"),
        round(col("tgt_mass").cast(DoubleType) / col("bg_mass").cast(DoubleType), 6)
          .as("weight_r"))
      .orderBy("doc_id")
  }

  /** c11 — the DATASET DATASHEET (Gebru et al., "Datasheets for
    * Datasets", CACM 2021 — the release artifact every published corpus
    * now ships): the headline composition/statistics table a consumer
    * reads before training. One corpus pass computes every row-local
    * statistic as a conditional aggregate (the [[quality.Quality.qExpectationSuite]]
    * evaluation shape), the two genuinely multi-row facts (language and
    * exact-content cardinalities) ride the same aggregation as
    * count_distinct partials, and the metric table pivots out of the one
    * scalar row via the explode(array(struct…)) idiom. Emitted long-form (metric_id, metric, value_r) so the
    * datasheet is itself a mart downstream release tooling renders.
    * At 100 TB this is one corpus read — the cheapest artifact in the
    * pipeline, and the one users see first. */
  val cDatasetCard: QueryDef = QueryDef(
    "t_dataset_card",
    Some("""
      WITH base AS (
        SELECT doc_id, lang, n_chars,
               len(string_split_regex(text, '\s+')) AS n_toks,
               md5(text) AS fp
        FROM documents),
      t AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_toks) AS BIGINT) AS n_tokens,
               CAST(sum(n_chars) AS BIGINT) AS n_chars,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct,
               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
               CAST(sum(CASE WHEN n_toks < 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_short
        FROM base),
      r AS (
        SELECT 1 AS metric_id, 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value_r FROM t
        UNION ALL SELECT 2, 'n_tokens', CAST(n_tokens AS DOUBLE) FROM t
        UNION ALL SELECT 3, 'n_langs', CAST(n_langs AS DOUBLE) FROM t
        UNION ALL SELECT 4, 'mean_tokens', round(CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) FROM t
        UNION ALL SELECT 5, 'chars_per_token', round(CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) FROM t
        UNION ALL SELECT 6, 'en_share', round(CAST(n_en AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) FROM t
        UNION ALL SELECT 7, 'exact_dup_rate', round(1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) FROM t
        UNION ALL SELECT 8, 'short_doc_share', round(CAST(n_short AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) FROM t)
      SELECT CAST(metric_id AS BIGINT) AS metric_id, metric, value_r
      FROM r ORDER BY metric_id
    """)) { (spark, dir) =>
    val t = tbl(spark, dir, "documents")
      .select(col("lang"), col("n_chars"),
        size(toks(col("text"))).cast(LongType).as("n_toks"),
        md5(col("text")).as("fp"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("fp")).as("n_distinct"),
        countIf(col("lang") === "en").as("n_en"),
        countIf(col("n_toks") < 20).as("n_short"))
    // long form via the one-row explode pivot (the qProfileTable idiom):
    // fully lazy, one corpus pass, no driver collect — each struct carries
    // its metric computed from the single aggregate row, rounded in-engine
    def d(c: Column): Column = c.cast(DoubleType)
    def m(id: Int, name: String, v: Column): Column = struct(
      lit(id.toLong).as("metric_id"), lit(name).as("metric"),
      round(v, 6).as("value_r"))
    t.select(explode(array(
        m(1, "n_docs", d(col("n_docs"))),
        m(2, "n_tokens", d(col("n_tokens"))),
        m(3, "n_langs", d(col("n_langs"))),
        m(4, "mean_tokens", d(col("n_tokens")) / d(col("n_docs"))),
        m(5, "chars_per_token", d(col("n_chars")) / d(col("n_tokens"))),
        m(6, "en_share", d(col("n_en")) / d(col("n_docs"))),
        m(7, "exact_dup_rate", lit(1.0) - d(col("n_distinct")) / d(col("n_docs"))),
        m(8, "short_doc_share", d(col("n_short")) / d(col("n_docs"))))).as("r"))
      .select(col("r.metric_id"), col("r.metric"), col("r.value_r"))
      .orderBy("metric_id")
  }

  /** c — corpus SNAPSHOT DIFF: the per-source delta datasheet between
    * two corpus versions (v1 = the standing snapshot, v2 = v1 + an
    * ingest batch — here doc_id % 7 = 6, ~14% spread across every
    * source since 7 is coprime to the 20-source id cycle). The ops
    * question every corpus release answers: what arrived, where, and
    * how much of each source's doc/token mass is new — the diff a
    * release review or a mixture-rebalance decision reads before
    * retraining. FULL OUTER join of the two per-source rollups (so a
    * source present in only one version still reports), exact integer
    * doc/token counts, one final exact division for the added
    * fraction. Laws in-gate: v1 ⊆ v2 here, so per-source
    * docs_v2 = docs_v1 + docs_added with docs_added ≥ 0, and the
    * global doc delta equals the fresh-batch row count — conservation
    * the construction must reproduce or the rollup lost rows. Shape at
    * 100 TB: two map-side token-count passes + a per-source (≤ 20-key)
    * aggregate; nothing but the counter-scale rollup leaves the
    * executors. */
  val cCorpusDiff: QueryDef = QueryDef(
    "t_corpus_diff",
    Some("""
      WITH v1 AS (SELECT * FROM documents WHERE doc_id % 7 < 6),
      t1 AS (SELECT source, CAST(count(*) AS BIGINT) AS docs_v1,
                    CAST(sum(len(string_split_regex(text, '\s+'))) AS BIGINT) AS toks_v1
             FROM v1 GROUP BY source),
      t2 AS (SELECT source, CAST(count(*) AS BIGINT) AS docs_v2,
                    CAST(sum(len(string_split_regex(text, '\s+'))) AS BIGINT) AS toks_v2
             FROM documents GROUP BY source)
      SELECT coalesce(t2.source, t1.source) AS source,
             coalesce(docs_v1, 0) AS docs_v1, coalesce(docs_v2, 0) AS docs_v2,
             coalesce(docs_v2, 0) - coalesce(docs_v1, 0) AS docs_added,
             coalesce(toks_v1, 0) AS toks_v1, coalesce(toks_v2, 0) AS toks_v2,
             coalesce(toks_v2, 0) - coalesce(toks_v1, 0) AS toks_added,
             round(CAST(coalesce(docs_v2, 0) - coalesce(docs_v1, 0) AS DOUBLE)
               / CAST(NULLIF(coalesce(docs_v2, 0), 0) AS DOUBLE), 6) AS added_frac_r
      FROM t2 FULL OUTER JOIN t1 ON t1.source = t2.source
      ORDER BY source
    """)) { (spark, dir) =>
    val docs = tbl(spark, dir, "documents")
      .select(col("doc_id"), col("source"), size(toks(col("text"))).cast(LongType).as("nt"))
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .localCheckpoint(true)
    def roll(df: DataFrame, d: String, t: String): DataFrame = df.groupBy("source")
      .agg(count(lit(1)).as(d), sum(col("nt")).as(t))
    val t1 = roll(docs.filter(col("doc_id") % 7 < 6), "docs_v1", "toks_v1")
    val t2 = roll(docs, "docs_v2", "toks_v2")
    val out = t2.join(t1, Seq("source"), "full_outer")
      .select(col("source"),
        coalesce(col("docs_v1"), lit(0L)).as("docs_v1"),
        coalesce(col("docs_v2"), lit(0L)).as("docs_v2"),
        (coalesce(col("docs_v2"), lit(0L)) - coalesce(col("docs_v1"), lit(0L))).as("docs_added"),
        coalesce(col("toks_v1"), lit(0L)).as("toks_v1"),
        coalesce(col("toks_v2"), lit(0L)).as("toks_v2"),
        (coalesce(col("toks_v2"), lit(0L)) - coalesce(col("toks_v1"), lit(0L))).as("toks_added"),
        // NULLIF-guarded denominator (round-15 ADVICE): the FULL OUTER
        // shape admits a v1-only source in the general datasheet, where a
        // bare division would be engine-divergent (DuckDB inf vs Spark
        // null) — both twins now emit NULL for an empty-v2 source
        round((coalesce(col("docs_v2"), lit(0L)) - coalesce(col("docs_v1"), lit(0L))).cast(DoubleType)
          / when(coalesce(col("docs_v2"), lit(0L)) > 0L,
              coalesce(col("docs_v2"), lit(0L))).cast(DoubleType), 6).as("added_frac_r"))
      .orderBy("source")
    val rows = out.collect()
    // conservation: v1 ⊆ v2 by construction, so no source may shrink
    // (docs_added is the select's own subtraction — re-adding a
    // v2 = v1 + added conjunct would be a tautology, not a check) and
    // the global delta must equal the fresh-batch size
    rows.foreach { r =>
      require(r.getAs[Long]("docs_added") >= 0L,
        s"corpus-diff ledger broke for ${r.getAs[String]("source")}")
    }
    val freshN = docs.filter(col("doc_id") % 7 === 6).count()
    val addedN = rows.map(_.getAs[Long]("docs_added")).sum
    require(addedN == freshN, s"corpus-diff lost rows: added $addedN != fresh $freshN")
    val schema = out.schema
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  val all: Seq[QueryDef] = Seq(
    cDomainFilter, cTokenBudget, cOverlapMatrix, cOverlapKmv, cNormalize,
    cSubstringDups, cTrainSplit, cQualityLogit, cBudgetSubword, cDsirWeight,
    cDatasetCard, cCorpusDiff)
}
