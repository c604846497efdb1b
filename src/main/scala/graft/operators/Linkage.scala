package graft.operators

import graft.{QueryDef, core}
import graft.core._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Entity resolution / record linkage: the fuzzy-matching pass a warehouse
  * runs over a dimension before trusting its keys (reference
  * `data_quality.py` stops at exact uniqueness checks; real MDM needs
  * near-matches too). The non-negotiable scale rule is BLOCKING: never
  * score all pairs — partition candidates into bounded blocks by a cheap
  * deterministic key and only score within a block. Candidate volume is
  * then Σ|block|² with |block| capped by the key design, i.e. linear in
  * the table with a constant factor, instead of N² (the same posture as
  * Dedup's LSH bands: the bucket join IS the candidate generator).
  */
object Linkage {

  /** er1 — blocked pairwise Levenshtein over the customer dimension.
    * Block key = the name's leading digit run minus its last two digits
    * (`substr(c_name, 10, 7)`), so a block holds at most 100 entities no
    * matter how large the dimension grows — the bound that keeps the
    * within-block self-join O(100²) per block. Pairs at edit distance ≤ 1
    * (one typo'd digit) are counted per block; the emitted mart is the
    * per-block audit (members, near-match pairs) a steward reviews before
    * survivorship. Both engines' `levenshtein` is the exact integer DP —
    * no float, no RNG, hash-stable.
    *
    * SCHEMA-SPECIFIC by design (round-11 "What's wrong" #1): the key
    * exploits TPC-H's fixed `Customer#
    * <9 digits>` name format — on free-text names it degenerates to one
    * giant block. It stays because keyed-ID dimensions with a stable
    * surface format are common and the bound is then *exact*; for
    * content-derived keys over arbitrary text use [[dFuzzyPrefixBlock]],
    * whose cap is ENFORCED rather than assumed. */
  val dFuzzyMatch: QueryDef = QueryDef(
    "d_fuzzy_match",
    Some("""
      WITH c AS (
        SELECT c_custkey, c_name, substr(c_name, 10, 7) AS blk FROM customer),
      pairs AS (
        SELECT a.blk, CAST(count(*) AS BIGINT) AS n_pairs
        FROM c a JOIN c b
          ON a.blk = b.blk AND a.c_custkey < b.c_custkey
        WHERE levenshtein(a.c_name, b.c_name) <= 1
        GROUP BY a.blk),
      members AS (
        SELECT blk, CAST(count(*) AS BIGINT) AS n_members FROM c GROUP BY blk)
      SELECT m.blk, m.n_members, CAST(coalesce(p.n_pairs, 0) AS BIGINT) AS n_pairs
      FROM members m LEFT JOIN pairs p ON m.blk = p.blk
      ORDER BY m.blk
    """)) { (spark, dir) =>
    val c = tbl(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"),
        substring(col("c_name"), 10, 7).as("blk"))
    // blocking join: both sides shuffle on blk only — the quadratic
    // levenshtein work is confined inside each ≤100-row block. The
    // THRESHOLDED levenshtein (returns -1 once the distance provably
    // exceeds k) runs the banded O(k·n) DP instead of the full O(n²)
    // table — same ≤1 predicate, ~15× less work per pair, which is the
    // dominant cost of the gate (the oracle's unthresholded form is
    // result-identical under the filter)
    val pairs = c.as("a").join(c.as("b"),
        col("a.blk") === col("b.blk") && col("a.c_custkey") < col("b.c_custkey"))
      .filter(levenshtein(col("a.c_name"), col("b.c_name"), 1) =!= -1)
      .groupBy(col("a.blk").as("blk"))
      .agg(count(lit(1)).as("n_pairs"))
    val members = c.groupBy("blk").agg(count(lit(1)).as("n_members"))
    members.join(pairs, Seq("blk"), "left")
      .select(col("blk"), col("n_members"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"))
      .orderBy("blk")
  }

  /** er2 — CONTENT-DERIVED blocking (round-11 queue #5): the general-text
    * companion to [[dFuzzyMatch]]'s schema-specific key. Entities are
    * document HEADS (first 30 chars of `documents.text`); the block key is
    * derived purely from content — a 12-char prefix plus a length bucket
    * (`div 4`) — the standard "length-bucketed prefix" recipe: a ≤1-edit
    * variant that doesn't touch the prefix lands in the same block (a
    * substitution keeps the length exactly; the bucket tolerates the ±1 of
    * an indel near a boundary only probabilistically — documented recall
    * trade, as in any single-key blocking pass; the production recipe —
    * a second complementary key whose candidates are unioned — is
    * [[dFuzzyDualBlock]], which asserts 100% planted recall).
    *
    * Unlike a format-derived key, a content key has NO a-priori block
    * bound — the degenerate case (every row shares a prefix) is exactly
    * what broke the naive posture. So the cap is ENFORCED, not assumed:
    * the gate measures the max block up front (one aggregate, counter-
    * scale output) and fails loudly past [[BlockCap]] instead of silently
    * going quadratic — the operator's answer is then "lengthen the
    * prefix", not a 10⁹-pair join. Candidate volume is Σ|block|² ≤
    * cap·|corpus|, linear with an enforced constant.
    *
    * Fixture: planted typo'd copies (doc_id % 9 == 0 → +1000000, char 20
    * overwritten with '~' — past the prefix, length-preserving) are the
    * ground truth the per-block pair counts must recover; the thresholded
    * `levenshtein(a, b, 1)` runs the banded O(k·n) DP as in er1. */
  private[graft] val BlockCap = 100
  val dFuzzyPrefixBlock: QueryDef = QueryDef(
    "d_fuzzy_prefix_block",
    Some("""
      WITH src AS (
        SELECT doc_id, substr(text, 1, 30) AS h FROM documents
        UNION ALL
        SELECT doc_id + 1000000,
               substr(substr(text, 1, 30), 1, 19) || '~' || substr(substr(text, 1, 30), 21)
        FROM documents WHERE doc_id % 9 = 0),
      keyed AS (
        SELECT doc_id, h,
               substr(h, 1, 12) || '#' || CAST(length(h) // 4 AS VARCHAR) AS blk
        FROM src),
      pairs AS (
        SELECT a.blk, CAST(count(*) AS BIGINT) AS n_pairs
        FROM keyed a JOIN keyed b
          ON a.blk = b.blk AND a.doc_id < b.doc_id
        WHERE levenshtein(a.h, b.h) <= 1
        GROUP BY a.blk),
      members AS (
        SELECT blk, CAST(count(*) AS BIGINT) AS n_members
        FROM keyed GROUP BY blk)
      SELECT m.blk, m.n_members, CAST(coalesce(p.n_pairs, 0) AS BIGINT) AS n_pairs
      FROM members m LEFT JOIN pairs p ON m.blk = p.blk
      WHERE m.n_members >= 2
      ORDER BY m.blk
    """)) { (spark, dir) =>
    val heads = tbl(spark, dir, "documents")
      .select(col("doc_id"), substring(col("text"), 1, 30).as("h"))
    val planted = heads.filter(col("doc_id") % 9 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(substring(col("h"), 1, 19), lit("~"),
          substring(col("h"), 21, 10)).as("h"))
    // keyed feeds FOUR consumers (the cap aggregate, both self-join sides,
    // and the members rollup) — checkpoint it once so the documents scan +
    // union + key derivation run once, not four times (round-12 review;
    // the frame is (id, 30-char head, key): tiny relative to the corpus)
    val keyed = heads.unionAll(planted)
      .withColumn("blk",
        concat(substring(col("h"), 1, 12), lit("#"),
          expr("length(h) div 4").cast("string")))
      .localCheckpoint(true)
    // the enforced cap: one counter-scale aggregate, loud failure past it
    val mx = keyed.groupBy("blk").agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head().getLong(0)
    require(mx <= BlockCap,
      s"content-derived block key degenerated (max block $mx > cap $BlockCap): " +
        "lengthen the prefix before running the quadratic within-block pass")
    val pairs = keyed.as("a").join(keyed.as("b"),
        col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id"))
      .filter(levenshtein(col("a.h"), col("b.h"), 1) =!= -1)
      .groupBy(col("a.blk").as("blk"))
      .agg(count(lit(1)).as("n_pairs"))
    val members = keyed.groupBy("blk").agg(count(lit(1)).as("n_members"))
    members.filter(col("n_members") >= 2)
      .join(pairs, Seq("blk"), "left")
      .select(col("blk"), col("n_members"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"))
      .orderBy("blk")
  }

  /** er2b — DUAL-KEY blocking (round-13 queue #3): the production recipe
    * [[dFuzzyPrefixBlock]]'s doc names for its single-key recall hole —
    * run a COMPLEMENTARY second blocking key (the head's 12-char SUFFIX
    * beside its 12-char prefix, both length-bucketed) and union the
    * candidate sets. A ≤1-edit variant must leave at least one of the two
    * keys untouched whenever the edit falls outside one key's span, so
    * the union covers edits anywhere except the (prefix ∩ suffix) overlap
    * — empty on these 30-char heads. Planting guards by head length
    * (≥20 for the past-prefix family so char 20 exists and the edit is
    * length-preserving; ≥17 for the in-prefix family so char 5 stays
    * outside the 12-char suffix span) — on a short-text corpus the
    * families shrink rather than turning into key-defeating indels
    * (the r14 review's latent-abort finding). The gate PROVES the recall claim on
    * two planted families chosen to defeat each key alone: a substitution
    * past the prefix (char 20 — inside the suffix span, so only the
    * prefix key holds) and one inside the prefix (char 5 — only the
    * suffix key holds); the emitted mart is the per-family × per-key
    * recovery audit, and the gate FAILS LOUDLY unless union recall is
    * 100% on both families (a counter-scale require over the 2-row mart).
    * Shape at 100 TB: `keyed` is the corpus exploded ×2 (one row per
    * key), the block cap is ENFORCED per key exactly as in er2, the
    * within-block join shuffles on blk only, and the pair set dedups on
    * (keyspace, a, b) longs — candidate volume Σ|block|² over BOTH key
    * spaces, still linear with the enforced constant. */
  val dFuzzyDualBlock: QueryDef = QueryDef(
    "d_fuzzy_dual_block",
    Some("""
      WITH src AS (
        SELECT doc_id, substr(text, 1, 30) AS h FROM documents
        UNION ALL
        SELECT doc_id + 1000000,
               substr(substr(text, 1, 30), 1, 19) || '~' || substr(substr(text, 1, 30), 21)
        FROM documents WHERE doc_id % 9 = 0 AND length(substr(text, 1, 30)) >= 20
        UNION ALL
        SELECT doc_id + 2000000,
               substr(substr(text, 1, 30), 1, 4) || '~' || substr(substr(text, 1, 30), 6)
        FROM documents WHERE doc_id % 9 = 3 AND length(substr(text, 1, 30)) >= 17),
      keyed AS (
        SELECT doc_id, h,
               'p#' || substr(h, 1, 12) || '#' || CAST(length(h) // 4 AS VARCHAR) AS blk
        FROM src
        UNION ALL
        SELECT doc_id, h,
               's#' || substr(h, length(h) - 11, 12) || '#' || CAST(length(h) // 4 AS VARCHAR) AS blk
        FROM src),
      pairs AS (
        SELECT DISTINCT substr(a.blk, 1, 1) AS ks, a.doc_id AS a_id, b.doc_id AS b_id
        FROM keyed a JOIN keyed b ON a.blk = b.blk AND a.doc_id < b.doc_id
        WHERE levenshtein(a.h, b.h) <= 1),
      planted AS (
        SELECT 'subst_past_prefix' AS family, doc_id AS src_id, doc_id + 1000000 AS var_id
        FROM documents WHERE doc_id % 9 = 0 AND length(substr(text, 1, 30)) >= 20
        UNION ALL
        SELECT 'subst_in_prefix', doc_id, doc_id + 2000000
        FROM documents WHERE doc_id % 9 = 3 AND length(substr(text, 1, 30)) >= 17)
      SELECT p.family,
             CAST(count(*) AS BIGINT) AS n_planted,
             CAST(count(*) FILTER (pp.a_id IS NOT NULL) AS BIGINT) AS rec_prefix,
             CAST(count(*) FILTER (ps.a_id IS NOT NULL) AS BIGINT) AS rec_suffix,
             CAST(count(*) FILTER (pp.a_id IS NOT NULL OR ps.a_id IS NOT NULL) AS BIGINT) AS rec_union
      FROM planted p
      LEFT JOIN (SELECT a_id, b_id FROM pairs WHERE ks = 'p') pp
        ON p.src_id = pp.a_id AND p.var_id = pp.b_id
      LEFT JOIN (SELECT a_id, b_id FROM pairs WHERE ks = 's') ps
        ON p.src_id = ps.a_id AND p.var_id = ps.b_id
      GROUP BY p.family
      ORDER BY p.family
    """)) { (spark, dir) =>
    val heads = tbl(spark, dir, "documents")
      .select(col("doc_id"), substring(col("text"), 1, 30).as("h"))
    val famA = heads.filter(col("doc_id") % 9 === 0 && length(col("h")) >= 20)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(substring(col("h"), 1, 19), lit("~"),
          substring(col("h"), 21, 10)).as("h"))
    val famB = heads.filter(col("doc_id") % 9 === 3 && length(col("h")) >= 17)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(substring(col("h"), 1, 4), lit("~"),
          substring(col("h"), 6, 25)).as("h"))
    val bucket = expr("length(h) div 4").cast("string")
    val pk = concat(lit("p#"), substring(col("h"), 1, 12), lit("#"), bucket)
    val sk = concat(lit("s#"), expr("substr(h, length(h) - 11, 12)"), lit("#"), bucket)
    // keyed feeds the cap aggregate + both self-join sides: checkpoint
    // once, same posture as er2 (the frame is (id, head, key) ×2 keys)
    val keyed = heads.unionAll(famA).unionAll(famB)
      .select(col("doc_id"), col("h"), explode(array(pk, sk)).as("blk"))
      .localCheckpoint(true)
    val mx = keyed.groupBy("blk").agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head().getLong(0)
    require(mx <= BlockCap,
      s"dual block key degenerated (max block $mx > cap $BlockCap): " +
        "lengthen the keys before running the quadratic within-block pass")
    val pairs = keyed.as("a").join(keyed.as("b"),
        col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id"))
      .filter(levenshtein(col("a.h"), col("b.h"), 1) =!= -1)
      .select(substring(col("a.blk"), 1, 1).as("ks"),
        col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
      .localCheckpoint(true)
    val planted = heads.filter(col("doc_id") % 9 === 0 && length(col("h")) >= 20)
      .select(lit("subst_past_prefix").as("family"),
        col("doc_id").as("src_id"), (col("doc_id") + 1000000L).as("var_id"))
      .unionAll(heads.filter(col("doc_id") % 9 === 3 && length(col("h")) >= 17)
        .select(lit("subst_in_prefix").as("family"),
          col("doc_id").as("src_id"), (col("doc_id") + 2000000L).as("var_id")))
    def arm(k: String) = pairs.filter(col("ks") === k)
      .select(col("a_id").as(s"${k}a"), col("b_id").as(s"${k}b"))
    val rec = planted
      .join(arm("p"), col("src_id") === col("pa") && col("var_id") === col("pb"), "left")
      .join(arm("s"), col("src_id") === col("sa") && col("var_id") === col("sb"), "left")
      .groupBy("family")
      .agg(count(lit(1)).as("n_planted"),
        count(when(col("pa").isNotNull, lit(1))).as("rec_prefix"),
        count(when(col("sa").isNotNull, lit(1))).as("rec_suffix"),
        count(when(col("pa").isNotNull || col("sa").isNotNull, lit(1))).as("rec_union"))
      .orderBy("family")
    // the gate's whole point, enforced: union recall is TOTAL on both
    // planted families (2-row counter-scale collect; the frame below is
    // rebuilt from the collected rows so the assertion costs no re-run)
    val rows = rec.collect()
    rows.foreach { r =>
      require(r.getAs[Long]("rec_union") == r.getAs[Long]("n_planted"),
        s"family ${r.getAs[String]("family")}: union recall " +
          s"${r.getAs[Long]("rec_union")}/${r.getAs[Long]("n_planted")} < 100%")
    }
    val s2 = spark
    import s2.implicits._
    rows.toSeq.map(r => (r.getAs[String]("family"), r.getAs[Long]("n_planted"),
        r.getAs[Long]("rec_prefix"), r.getAs[Long]("rec_suffix"),
        r.getAs[Long]("rec_union")))
      .toDF("family", "n_planted", "rec_prefix", "rec_suffix", "rec_union")
      .orderBy("family")
  }

  /** Deterministic survivorship merge of clustered entity members into one
    * golden record per cluster — every rule is a pure aggregate or a
    * tie-broken argmax, so the result is PERMUTATION-INVARIANT by
    * construction (LinkageSpec proves it by re-running over reordered and
    * repartitioned member frames):
    *   - master record (name, nation): the member with the highest
    *     account balance, ties to the lower key — "most valuable capture
    *     wins", the [[graft.llm.Cluster.ddSurvivor]] posture applied to
    *     attributes;
    *   - segment: modal value, count ties to the lexicographically
    *     smallest — the classic most-frequent survivorship rule;
    *   - balance: max (a pick, not a sum — no float accumulation);
    *   - member_ids: the sorted audit trail.
    * Scale shape: both argmax windows partition by cluster_id, so any one
    * partition is bounded by a cluster's membership (block-capped
    * upstream), and the rollup carries only scalars. */
  private[graft] def goldenMerge(member: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    // the master-record argmax and the per-cluster scalars ride ONE window
    // pass (r22, guide §2.4: two window specs over the same partition key
    // share one exchange — the old shape paid a second member shuffle for
    // the groupBy plus a join to glue them back). count/max/sorted
    // collect_list are order-insensitive, so the windowed forms are
    // value-identical to the old groupBy aggregates.
    val wp = w.partitionBy("cluster_id")
    val best = member
      .withColumn("rk", row_number().over(wp
        .orderBy(col("c_acctbal").desc, col("c_custkey"))))
      .withColumn("n_members", count(lit(1)).over(wp))
      .withColumn("golden_acctbal", max(col("c_acctbal")).over(wp))
      .withColumn("member_ids",
        array_join(transform(array_sort(collect_list(col("c_custkey")).over(wp)),
          x => x.cast("string")), ","))
      .filter(col("rk") === 1)
      .select(col("cluster_id"), col("n_members"),
        col("c_name").as("golden_name"),
        col("c_nationkey").cast("long").as("golden_nation"),
        col("golden_acctbal"), col("member_ids"))
    val segs = member.groupBy("cluster_id", "c_mktsegment")
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w.partitionBy("cluster_id")
        .orderBy(col("n").desc, col("c_mktsegment"))))
      .filter(col("rk") === 1)
      .select(col("cluster_id"), col("c_mktsegment").as("golden_segment"))
    best.join(segs, Seq("cluster_id"))
      .select(col("cluster_id"), col("n_members"), col("golden_name"),
        col("golden_nation"), col("golden_segment"), col("golden_acctbal"),
        col("member_ids"))
      .orderBy("cluster_id")
  }

  /** er3 — GOLDEN-RECORD entity resolution (round-12 queue #4): the full
    * MDM arc the pair gates stop short of — blocked fuzzy MATCH pairs
    * ([[dFuzzyMatch]]'s key and predicate) → CONNECTED COMPONENTS over the
    * match graph ([[graft.llm.Cluster.components]], the pointer-jumping
    * machinery the dedup family already proves) → SURVIVORSHIP merge into
    * one golden record per entity cluster ([[goldenMerge]]'s deterministic
    * attribute-precedence rules). On this dimension each ≤100-entity block
    * closes into one component (any two of its members differ in one of
    * the last two key digits along some chain), so the gate exercises
    * non-trivial clusters: the master record is genuinely argmax-selected
    * and the modal segment genuinely contested. Coverage is TOTAL:
    * customers with no match pair are unioned back as single-member
    * clusters (cluster_id = own key) on both engine sides, so "one golden
    * record per entity" holds for every source entity, matched or not
    * (the r13 ADVICE scope finding). The oracle replays the
    * identical arc — blocked pairs, a recursive-CTE closure ground to the
    * same min-label canonical, and the same tie-broken windows. Shape at
    * 100 TB: pair volume is Σ|block|² with the block bound; CC shuffles
    * (id, label) longs only, O(log diameter) rounds; the merge windows
    * partition by cluster — nothing all-pairs, nothing driver-side. */
  /** The full-rebuild golden-record SQL — the oracle of BOTH
    * [[dEntityGolden]] (which runs the same arc on Spark) and
    * [[dEntityIncremental]] (whose Spark side maintains the clusters
    * incrementally; the full rebuild IS its oracle, the
    * `w_scd2_incremental` convention). */
  private val entityGoldenSql: String = """
      WITH RECURSIVE c AS (
        SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
               substr(c_name, 10, 7) AS blk FROM customer),
      pairs AS (
        SELECT a.c_custkey AS a_id, b.c_custkey AS b_id
        FROM c a JOIN c b ON a.blk = b.blk AND a.c_custkey < b.c_custkey
        WHERE levenshtein(a.c_name, b.c_name) <= 1),
      eu AS (SELECT a_id AS u, b_id AS v FROM pairs UNION ALL SELECT b_id, a_id FROM pairs),
      reach(id, lbl) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM eu)
        UNION
        SELECT e.v, r.lbl FROM reach r JOIN eu e ON e.u = r.id),
      cc AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
      cc2 AS (
        SELECT id, cluster_id FROM cc
        UNION ALL
        SELECT c.c_custkey AS id, c.c_custkey AS cluster_id
        FROM c ANTI JOIN cc ON c.c_custkey = cc.id),
      member AS (
        SELECT cc2.cluster_id, c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment
        FROM cc2 JOIN c ON cc2.id = c.c_custkey),
      best AS (
        SELECT cluster_id, c_name AS golden_name, CAST(c_nationkey AS BIGINT) AS golden_nation
        FROM (SELECT cluster_id, c_name, c_nationkey,
                     row_number() OVER (PARTITION BY cluster_id
                       ORDER BY c_acctbal DESC, c_custkey) AS rk
              FROM member) WHERE rk = 1),
      seg AS (
        SELECT cluster_id, c_mktsegment AS golden_segment
        FROM (SELECT cluster_id, c_mktsegment,
                     row_number() OVER (PARTITION BY cluster_id
                       ORDER BY count(*) DESC, c_mktsegment) AS rk
              FROM member GROUP BY cluster_id, c_mktsegment) WHERE rk = 1),
      ag AS (
        SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
               max(c_acctbal) AS golden_acctbal,
               string_agg(CAST(c_custkey AS VARCHAR), ',' ORDER BY c_custkey) AS member_ids
        FROM member GROUP BY cluster_id)
      SELECT ag.cluster_id, ag.n_members, b.golden_name, b.golden_nation,
             s.golden_segment, ag.golden_acctbal, ag.member_ids
      FROM ag JOIN best b USING (cluster_id) JOIN seg s USING (cluster_id)
      ORDER BY ag.cluster_id
    """

  /** The customer dimension with its [[dFuzzyMatch]] block key. */
  private def custKeyed(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment"),
        substring(col("c_name"), 10, 7).as("blk"))

  /** Blocked ≤1-edit match pairs over a keyed customer frame (a_id < b_id). */
  private def fuzzyPairs(c: DataFrame): DataFrame =
    c.as("a").join(c.as("b"),
        col("a.blk") === col("b.blk") && col("a.c_custkey") < col("b.c_custkey"))
      .filter(levenshtein(col("a.c_name"), col("b.c_name"), 1) =!= -1)
      .select(col("a.c_custkey").as("a_id"), col("b.c_custkey").as("b_id"))

  /** ONE blocked-Levenshtein pair pass per corpus snapshot (r14 verdict
    * queue #4, the [[graft.llm.Similarity]] `nnRoundsMart` pattern): the
    * full-corpus match-pair mart (a_id < b_id) that every `d_entity_*`
    * gate derives its pair sets from. The key identity that makes one
    * mart serve all three gates AND every batch split: the block key is
    * row-derived (substr of the name) and the ≤1-edit predicate is
    * per-pair, so the pairs of ANY key-subset S are exactly the full
    * mart's pairs with both endpoints in S — the bootstrap reads
    * both-in-batch-0 pairs, and fold step i reads exactly the pairs
    * whose LATER endpoint arrives in batch i (greatest(batch_a,
    * batch_b) = i), which partitions the mart across the fold with no
    * pair ever re-scored. At 100 TB this is the deployment's standing
    * match-pair table: Σ|block|² Levenshtein evaluations paid once per
    * snapshot, key-joined thereafter. */
  private val erDag = new graft.pipeline.ModelRegistry(Seq(
    graft.pipeline.ModelDef("mart_er_pairs", Nil, mart = true) { (s, d, _) =>
      fuzzyPairs(custKeyed(s, d))
    }))

  /** Materialize-once accessor for the match-pair mart; snapshot-signed
    * so a regenerated customer dimension re-scores. */
  private def erPairsMart(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.MartCache.read(spark, dir, erDag, "er_marts", "graft_er_",
      Seq("customer"), "mart_er_pairs").head

  /** (id, label) for EVERY row of `c`: matched entities carry their
    * connected-component label, unmatched ones their own key (the r13
    * ADVICE total-coverage fix). */
  private def totalLabels(c: DataFrame, pairs: DataFrame): DataFrame = {
    val labels = graft.llm.Cluster.components(pairs)
    val singles = c.join(labels, col("c_custkey") === col("id"), "left_anti")
      .select(col("c_custkey").as("id"), col("c_custkey").as("label"))
    labels.unionByName(singles)
  }

  private def memberFrame(labels: DataFrame, c: DataFrame): DataFrame =
    labels.join(c, col("id") === col("c_custkey"))
      .select(col("label").as("cluster_id"), col("c_custkey"), col("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))

  val dEntityGolden: QueryDef = QueryDef(
    "d_entity_golden",
    Some(entityGoldenSql)) { (spark, dir) =>
    val c = custKeyed(spark, dir)
    goldenMerge(memberFrame(totalLabels(c, erPairsMart(spark, dir)), c))
  }

  /** er4 — INCREMENTAL entity resolution (round-13 queue #4): merge a new
    * batch's match pairs into existing golden clusters WITHOUT
    * re-clustering the world — the repo's incremental convention
    * (`dedup_incremental`, `w_scd2_incremental`, `t_lm_incremental`)
    * reaching CC maintenance. The machinery:
    *   1. bootstrap = [[dEntityGolden]]'s arc over the OLD batch only
    *      (labels + golden mart — at 100 TB these are materialized
    *      tables, not recomputed; here the gate simulates both sides);
    *   2. the increment's candidate pairs are the standing match-pair
    *      mart's rows whose later endpoint lands in the new batch
    *      ([[erPairsMart]], round 15 — one Levenshtein pass per corpus
    *      snapshot shared by the whole `d_entity_*` family; old×old
    *      pairs never re-consumed — pair work is priced by the new
    *      batch);
    *   3. the merge runs CC over a REDUCED graph whose nodes are old
    *      cluster LABELS and new ids, with each new pair's endpoints
    *      projected through the old labeling. Because an old label is
    *      the MIN member of its cluster, the reduced component's min
    *      node id equals the merged component's global min member — so
    *      the composed labeling is IDENTICAL to a full rebuild's
    *      min-label canonical form, structurally, not just on this data;
    *   4. survivorship recomputes ONLY affected clusters (those whose
    *      label appears in the reduced graph, plus new singletons); the
    *      untouched bootstrap golden rows are unioned back verbatim.
    * The ORACLE is the full rebuild ([[entityGoldenSql]]) — the gate's
    * hash match proves incremental == full on the driver corpus, and
    * LinkageSpec's property test proves it across random batch splits.
    * Shape at 100 TB: the increment touches new-pair blocks, a reduced
    * graph sized by the new batch's edges, and the affected clusters'
    * members — never the untouched corpus. The step itself lives in
    * [[erMergeStep]]; [[dEntityMultibatch]] proves it FOLDS over a batch
    * sequence. */
  val dEntityIncremental: QueryDef = QueryDef(
    "d_entity_incremental",
    Some(entityGoldenSql)) { (spark, dir) =>
    entityGoldenIncremental(spark, dir, col("c_custkey") % 7 === 0)
  }

  /** The incremental arc, parameterized by the new-batch predicate so
    * LinkageSpec can property-test arbitrary splits. */
  private[graft] def entityGoldenIncremental(spark: SparkSession, dir: String,
      isNew: Column): DataFrame =
    entityGoldenBatched(spark, dir, when(isNew, 1).otherwise(0), 2)

  /** One MERGE STEP of the incremental arc: fold batch `cNew` into the
    * standing (labels, golden) state over population `cAll` (which
    * already includes the new batch). Exactly the er4 machinery — blocked
    * new-side pairs, reduced label graph, affected-only survivorship —
    * factored so a SEQUENCE of batches can be folded ([[dEntityMultibatch]]):
    * the state invariant (every label is the min member of its cluster)
    * is re-established by each step, which is what makes the fold
    * associative with the full rebuild. The step eagerly checkpoints the
    * state it returns, so nothing reads the reduced-CC frame (fully
    * consumed by both outputs) after the step: it is released when it is
    * a checkpoint leaf (components' contraction path) and otherwise goes
    * with its projection at garbage collection — folding N batches never
    * re-reads N reduced graphs. `needLabels=false` (the fold's LAST step)
    * skips materializing the labels state entirely: only a next step
    * reads it. */
  private def erMergeStep(cAll: DataFrame, cNew: DataFrame,
      newPairs: DataFrame,
      oldLabels: DataFrame, oldGolden: DataFrame,
      needLabels: Boolean): (DataFrame, DataFrame) = {
    // the increment's pairs arrive pre-scored from the standing match-pair
    // mart ([[erPairsMart]]): exactly the mart rows whose later endpoint
    // lands in this batch — value-identical to the old in-step blocked
    // join (blocks and the edit predicate are row-derived), with zero
    // Levenshtein work in the step itself
    // project endpoints through the standing labeling and close over the
    // REDUCED graph (standing labels + new ids; disjoint id spaces since
    // a standing label IS an existing customer's key and batches
    // partition the keys)
    val redEdges = newPairs
      .join(oldLabels.select(col("id").as("a_o"), col("label").as("a_l")),
        col("a_id") === col("a_o"), "left")
      .join(oldLabels.select(col("id").as("b_o"), col("label").as("b_l")),
        col("b_id") === col("b_o"), "left")
      .select(coalesce(col("a_l"), col("a_id")).as("ra"),
        coalesce(col("b_l"), col("b_id")).as("rb"))
      .filter(col("ra") =!= col("rb"))
      .select(least(col("ra"), col("rb")).as("a_id"),
        greatest(col("ra"), col("rb")).as("b_id"))
      .distinct()
    // components() already returns a materialized checkpoint (its
    // convergence action materialized the final round) — re-checkpointing
    // it eagerly was one extra no-op job per fold step (r22)
    val redCC = graft.llm.Cluster.components(redEdges)
    // final labels for AFFECTED members only: standing members via their
    // cluster label's resolved component, new ids via their own node (or
    // themselves when untouched — new singletons)
    val touchedOld = oldLabels
      .join(redCC.select(col("id").as("rid"), col("label").as("rlabel")),
        col("label") === col("rid"))
      .select(col("id"), col("rlabel").as("label"))
    val newNodes = cNew.select(col("c_custkey").as("id"))
    val touchedNew = newNodes
      .join(redCC.select(col("id").as("rid"), col("label").as("rlabel")),
        col("id") === col("rid"))
      .select(col("id"), col("rlabel").as("label"))
    val singleNew = newNodes
      .join(redCC.select(col("id").as("rid")), col("id") === col("rid"), "left_anti")
      .select(col("id"), col("id").as("label"))
    val affectedLabels = touchedOld.unionByName(touchedNew).unionByName(singleNew)
    val recomputed = goldenMerge(memberFrame(affectedLabels, cAll))
    // untouched clusters keep their standing golden rows AND labels
    // verbatim (no reduced node names their label)
    val untouched = oldGolden.join(redCC.select(col("id").as("rid")),
      col("cluster_id") === col("rid"), "left_anti")
    val keptLabels = oldLabels.join(redCC.select(col("id").as("rid")),
      col("label") === col("rid"), "left_anti")
    // the two state materializations are independent — overlap them
    // (guide §2.6) so the labels job back-fills the golden job's tail
    val states = core.concurrently(
      Seq(() => untouched.unionByName(recomputed).localCheckpoint(true)) ++
        (if (needLabels)
          Seq(() => keptLabels.unionByName(affectedLabels).localCheckpoint(true))
        else Nil))
    core.release(redCC)
    (if (needLabels) states(1) else null, states(0))
  }

  /** The batched fold: bootstrap full ER on batch 0, then
    * [[erMergeStep]] each later batch in order. Returns the final golden
    * mart; with any batch assignment it must equal the full rebuild
    * (LayoutLinkageSpec property-tests 2- and 3-batch splits; the
    * gates' DuckDB oracle IS the full rebuild). Each step's state is
    * eagerly checkpointed inside [[erMergeStep]] and the previous state
    * released — the fold's working set is the standing (id, label) frame
    * plus the standing golden mart, never the pair history or the
    * per-step reduced graphs; the batch-tagged customer and pair frames
    * are released once the fold ends. A batch id outside [0, nBatches) would
    * silently drop (or, if negative, mislabel) rows, so it fails loudly
    * up front, the BlockCap convention — and a NULL batch id counts as
    * bad too (a null-yielding batch expression would otherwise slip past
    * every range predicate and vanish from all `b === i` filters). */
  private[graft] def entityGoldenBatched(spark: SparkSession, dir: String,
      batchOf: Column, nBatches: Int): DataFrame = {
    val c = custKeyed(spark, dir).withColumn("b", batchOf).localCheckpoint(true)
    val bad = c.filter(
      col("b").isNull || col("b") < 0 || col("b") >= nBatches).count()
    require(bad == 0L,
      s"entityGoldenBatched: $bad rows with batch id outside [0, $nBatches)")
    // the standing pair mart, tagged with the fold step that consumes
    // each pair (the later endpoint's batch): step 0 pairs seed the
    // bootstrap, step i pairs are exactly the old in-step blocked join's
    // output — two key joins replace every Levenshtein pass
    val bmap = c.select(col("c_custkey").as("pid"), col("b").as("pb"))
    val pairsB = erPairsMart(spark, dir)
      .join(bmap.select(col("pid").as("a_id"), col("pb").as("ab")), Seq("a_id"))
      .join(bmap.select(col("pid").as("b_id"), col("pb").as("bb")), Seq("b_id"))
      .select(col("a_id"), col("b_id"), greatest(col("ab"), col("bb")).as("pstep"))
      .localCheckpoint(true)
    val c0 = c.filter(col("b") === 0)
    var labels = totalLabels(c0,
      pairsB.filter(col("pstep") === 0).select("a_id", "b_id")).localCheckpoint(true)
    var golden = goldenMerge(memberFrame(labels, c0)).localCheckpoint(true)
    for (i <- 1 until nBatches) {
      val (nl, ng) = erMergeStep(c.filter(col("b") <= i), c.filter(col("b") === i),
        pairsB.filter(col("pstep") === i).select("a_id", "b_id"),
        labels, golden, needLabels = i < nBatches - 1)
      core.release(labels)
      core.release(golden)
      labels = nl
      golden = ng
    }
    Seq(labels, pairsB, c).filter(_ != null).foreach(core.release)
    golden.orderBy("cluster_id")
  }

  /** er5 — MULTI-BATCH incremental entity resolution: [[dEntityIncremental]]
    * proves ONE merge step equals the full rebuild; this gate proves the
    * step FOLDS — bootstrap on a third of the keys, then merge the second
    * and third batches in sequence, each step working only against the
    * standing labels/golden state. The invariant that makes the fold
    * correct: every step re-establishes min-member-canonical labels, so
    * step i+1's reduced graph composes exactly as step 1's did. Oracle =
    * the same full rebuild. Shape at 100 TB: each day's batch prices as
    * its own increment — pair work by the batch, CC by the batch's edges,
    * survivorship by the affected clusters; state carried between days is
    * the (id, label) mart plus the golden mart, exactly what a deployment
    * persists. */
  val dEntityMultibatch: QueryDef = QueryDef(
    "d_entity_multibatch",
    Some(entityGoldenSql)) { (spark, dir) =>
    entityGoldenBatched(spark, dir, pmod(col("c_custkey"), lit(3)), 3)
  }

  val all: Seq[QueryDef] = Seq(dFuzzyMatch, dFuzzyPrefixBlock, dFuzzyDualBlock,
    dEntityGolden, dEntityIncremental, dEntityMultibatch)
}
