package graft.llm

import graft.{QueryDef, core}
import graft.core._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for a training-data pipeline (builder brief;
  * SURVEY.md §7.5): exact hash dedup, MinHash+LSH near-dup detection,
  * SimHash, and n-gram Jaccard with prefix blocking.
  *
  * Scale posture (the whole point): every candidate-generation step is a
  * *bucket* join — hash-shuffle on a band/block key with O(n·bands)
  * candidates — never an all-pairs O(n²) comparison. Verification (exact
  * Jaccard / Hamming) runs only inside buckets. The hash family is
  * md5-based so the DuckDB oracle replays the **entire pipeline**, not just
  * a planted-answer check: signatures, bands, candidates, and verified
  * pairs all hash-match across engines.
  */
object Dedup {

  /** Documents with planted near-duplicates: every doc_id % 5 == 0 gets a
    * copy at doc_id+100000 with one appended token (Jaccard ≈ 0.93 on
    * 3-shingles) — deterministic, mirrored verbatim in the oracles. */
  private def withNearDups(spark: SparkSession, dir: String): DataFrame = {
    val d = tbl(spark, dir, "documents").select("doc_id", "text")
    d.unionAll(
      d.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(col("text"), lit(" graft dup probe")).as("text")))
  }
  private val withNearDupsSql = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, text || ' graft dup probe'
      FROM documents WHERE doc_id % 5 = 0"""

  /** Distinct word-level 3-shingles of a token array. Built with two
    * `zip_with` passes against offset slices — each array argument is
    * evaluated once per ROW (vs once per element for expressions inside a
    * lambda body; see bindOnce) — then cut back to the n−2 full windows:
    * `zip_with` pads the shorter side with NULL and `concat_ws` skips
    * NULLs, so the last two entries would otherwise be bogus short
    * "shingles". Docs with <3 tokens yield an empty set, matching the
    * oracle's already-empty `range(1, len-1)`. */
  private[graft] def shingles3(t: Column): Column = bindOnce(t) { a =>
    when(size(a) >= 3,
      array_distinct(slice(
        zip_with(
          zip_with(a, slice(a, lit(2), size(a)), (x, y) => concat_ws(" ", x, y)),
          slice(a, lit(3), size(a)),
          (xy, z) => concat_ws(" ", xy, z)),
        lit(1), size(a) - 2)))
      .otherwise(array().cast(ArrayType(StringType)))
  }

  /** Distinct word-level bigrams of a token array — same bindOnce +
    * zip_with shape as shingles3: the argument is evaluated once per row
    * and construction is O(tokens), where the old element_at-in-lambda
    * form re-ran a `split` argument twice per element. */
  private[graft] def bigrams2(t: Column): Column = bindOnce(t) { a =>
    when(size(a) >= 2,
      array_distinct(slice(
        zip_with(a, slice(a, lit(2), size(a)), (x, y) => concat_ws(" ", x, y)),
        lit(1), size(a) - 1)))
      .otherwise(array().cast(ArrayType(StringType)))
  }

  /** dd1 — exact dedup: hash-groupBy on the content digest, keep the
    * smallest doc_id as canonical, count copies. One shuffle on the digest;
    * at 100 TB this is the standard first pass (group by 128-bit hash,
    * never by the full text). Exact copies planted at doc_id % 7. */
  val ddExact: QueryDef = QueryDef(
    "dedup_exact",
    Some("""
      WITH src AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 200000, text FROM documents WHERE doc_id % 7 = 0)
      SELECT md5(text) AS content_fp,
             min(doc_id) AS canonical_doc_id,
             count(*) AS n_copies
      FROM src
      GROUP BY md5(text)
      ORDER BY canonical_doc_id
    """)) { (spark, dir) =>
    val d = tbl(spark, dir, "documents").select("doc_id", "text")
    val src = d.unionAll(
      d.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 200000L).as("doc_id"), col("text")))
    src
      .groupBy(md5(col("text")).as("content_fp"))
      .agg(min(col("doc_id")).as("canonical_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy("canonical_doc_id")
  }

  // -- MinHash + LSH ------------------------------------------------------
  // Signature: ONE md5 per shingle, then 12 derived hash functions
  // h_i(s) = substring(md5(s) || md5(s), 2i+1, 16) — 16-hex-char rotations
  // of the digest. Each rotation induces a distinct lexicographic order over
  // the shingle space (different leading hex chars), so the per-row argmin
  // behaves like an independent permutation — the one-permutation-hashing
  // family. This is 12× fewer digest computations per shingle than the
  // md5(i || s) family, which dominated runtime (344 s → seconds at sf0.1).
  // Banding: 4 bands × 3 rows; band key = b ':' md5(sig[3b]..sig[3b+2]).
  // Two docs collide on a band iff all 3 rows match — the (b=4, r=3)
  // S-curve: P(candidate) at Jaccard .93 ≈ 1-(1-.93³)⁴ ≈ .998.

  private val numBands = 4
  private val rowsPerBand = 3

  private def bandKeysSql(hsCol: String): String = {
    def mh(i: Int): String =
      s"list_min(list_transform($hsCol, m -> substring(m || m, ${i * 2 + 1}, 16)))"
    val bands = (0 until numBands).map { b =>
      val rows = (0 until rowsPerBand).map(r => mh(b * rowsPerBand + r)).mkString(" || ")
      s"'$b:' || md5($rows)"
    }
    s"[${bands.mkString(", ")}]"
  }

  /** The 12-rotation one-permutation minhash signature of a
    * (doc_id, shingles ARRAY) frame: one md5 per shingle, the digest
    * parsed ONCE into four unsigned 32-bit ints, and each 16-hex-char
    * rotation derived as a 64-bit window over the circular digest with
    * shift/or arithmetic — integer ops replace the 12 substring(m||m, …)
    * string builds per row, and min(long) replaces min(16-char string) in
    * the aggregation buffer. The hex string is lowercase-hex ordered ==
    * unsigned-64 ordered; XOR with Long.MinValue makes SIGNED min agree
    * with unsigned min, so the post-agg hex rendering reproduces the
    * oracle's lexicographic list_min exactly. Empty-shingle docs vanish
    * on explode (null minhash on both engines). Shared by
    * [[ddMinHashLsh]] and [[ddLshTuning]] — one definition of the hash
    * family, so the tuning audit measures the production signature. */
  private[llm] def rotationSigs(base: DataFrame): DataFrame = {
    val dig = base.select(col("doc_id"), explode(col("shingles")).as("s"))
      .select(col("doc_id"), md5(col("s")).as("m"))
    val withInts = dig.select(col("doc_id") +: (0 until 4).map(k =>
      conv(substring(col("m"), k * 8 + 1, 8), 16, 10).cast(LongType).as(s"i$k")): _*)
    // 64-bit window at byte offset b of the 16-byte circular digest
    // (== substring(m || m, 2b+1, 16) read as an unsigned number)
    def window(b: Int): Column = {
      val w = b / 4; val o = b % 4
      val hi = shiftleft(col(s"i$w"), 32).bitwiseOR(col(s"i${(w + 1) % 4}"))
      val win = if (o == 0) hi
      else shiftleft(hi, 8 * o)
        .bitwiseOR(shiftrightunsigned(col(s"i${(w + 2) % 4}"), 32 - 8 * o))
      win.bitwiseXOR(lit(Long.MinValue)) // signed order == unsigned order
    }
    val sigCols = (0 until numBands * rowsPerBand).map(i =>
      min(window(i)).as(s"h$i"))
    val sigPacked = withInts.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
    // back to the oracle's 16-lowercase-hex-char rotation strings
    sigPacked.select(col("doc_id") +: (0 until numBands * rowsPerBand).map(i =>
      lpad(lower(hex(col(s"h$i").bitwiseXOR(lit(Long.MinValue)))), 16, "0").as(s"h$i")): _*)
  }

  /** dd2 — MinHash-LSH near-duplicate pairs. Pipeline: shingle → one md5
    * per shingle (persisted — the only expensive pass, run exactly once) →
    * 12-way rotation-minhash signature → 4 band keys → explode →
    * hash-shuffle bucket join on the band key (candidates = docs sharing
    * ≥1 band) → exact 3-shingle Jaccard inside buckets only → threshold
    * 0.8. O(n·bands) candidate rows, never O(n²); the oracle replays the
    * identical hash family (its digest list is a MATERIALIZED CTE for the
    * same compute-once reason). */
  val ddMinHashLsh: QueryDef = QueryDef(
    "dedup_minhash_lsh",
    Some(s"""
      WITH src AS ($withNearDupsSql),
      tok AS (
        SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM src),
      sh AS MATERIALIZED (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(t) - 1),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
        FROM tok),
      dig AS MATERIALIZED (
        SELECT doc_id, list_transform(shingles, s -> md5(s)) AS hs FROM sh),
      bands AS (
        SELECT doc_id, unnest(${bandKeysSql("hs")}) AS band_key FROM dig),
      cands AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
      verified AS (
        SELECT a_id, b_id,
               CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                 / CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS DOUBLE)
                 AS jaccard
        FROM cands
        JOIN sh sa ON sa.doc_id = a_id
        JOIN sh sb ON sb.doc_id = b_id)
      SELECT a_id, b_id, jaccard
      FROM verified WHERE jaccard >= 0.8
      ORDER BY a_id, b_id
    """)) { (spark, dir) =>
    // persist = compute-once barrier: both self-join sides and both
    // verification probes reuse one materialization instead of re-running
    // the shingle pass per consumer. repartition first: documents.parquet
    // is one small file → one input partition, which would serialize the
    // whole shingle pass onto a single core.
    val base = withNearDups(spark, dir)
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), shingles3(split(col("text"), "\\s+")).as("shingles"))
      .persist()
    // signature via explode + codegen'd min-aggregates: one md5 per
    // (doc, shingle) row, the digest parsed ONCE into four unsigned 32-bit
    // ints, and each 16-hex-char rotation derived as a 64-bit window over
    // the circular digest with shift/or arithmetic — integer ops replace
    // the 12 substring(m||m, …) string builds per row, and min(long)
    // replaces min(16-char string) in the aggregation buffer. The hex
    // string is lowercase-hex ordered == unsigned-64 ordered; XOR with
    // Long.MinValue makes SIGNED min agree with unsigned min, so the
    // post-agg hex rendering reproduces the oracle's lexicographic
    // list_min exactly. Empty-shingle docs vanish on explode, matching
    // the oracle's null minhash (null band keys never join on either
    // engine).
    val sig = rotationSigs(base)
    val bands = sig.select(col("doc_id"), explode(array((0 until numBands).map { b =>
      val rows = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
      concat(lit(s"$b:"), md5(concat(rows: _*)))
    }: _*)).as("band_key"))
    val cands = bands.as("a")
      .join(bands.as("b"),
        col("a.band_key") === col("b.band_key") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    val sa = base.select(col("doc_id").as("a_id"), col("shingles").as("sh_a"))
    val sb = base.select(col("doc_id").as("b_id"), col("shingles").as("sh_b"))
    cands.join(sa, "a_id").join(sb, "b_id")
      .select(col("a_id"), col("b_id"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType) /
          size(array_distinct(concat(col("sh_a"), col("sh_b")))).cast(DoubleType))
          .as("jaccard"))
      .filter(col("jaccard") >= 0.8)
      .orderBy("a_id", "b_id")
  }

  /** dd — FUZZY decontamination: flag training documents that are
    * near-duplicates of an evaluation/benchmark doc, the companion to
    * `t_decontaminate`'s exact 8-gram screen (TextOps.scala) — exact
    * n-grams miss light paraphrase (a trimmed prefix, an added suffix),
    * which is precisely how benchmark text leaks into crawled corpora.
    * Pipeline: 3-shingles → the [[rotationSigs]] 12-rotation minhash
    * family (ONE definition with `dedup_minhash_lsh`) → 12 bands × 1 row
    * (the r=1 S-curve: P(candidate) = 1−(1−J)¹², chosen for RECALL at
    * the 0.5 verify threshold where the production (4,3) curve is tuned
    * for 0.8+ — at J 0.84 a 6×2 curve measurably missed a planted pair,
    * r=1 misses with p ≈ 3·10⁻¹⁰) → bipartite band join (train × eval,
    * never train × train — the eval side is benchmark-sized, BROADCAST,
    * so the corpus stream sees one map-side join, no self-join, no
    * shuffle of shingle sets) → exact 3-shingle Jaccard on the
    * candidates only → threshold 0.5. Gate: eval = doc_id % 50 = 0;
    * train = the rest + PLANTED paraphrases (first two tokens dropped,
    * ' zzfuzz' appended, ids +600000, only docs ≥ 12 tokens — which
    * keeps sub-threshold plants rare, not impossible: a repetitive doc's
    * shingle set can collapse under the perturbation); 100% recall over
    * the EXACTLY-computed above-threshold planted pairs ENFORCED
    * in-gate (measured: every plant clears at all three rungs, min
    * planted J = 0.75), plus a candidate-volume cap (≤ 5% of the
    * train × eval all-pairs grid, measured ~1% at both rungs) so a
    * degenerate banding fails loud instead of going quadratic. */
  val ddDecontamFuzzy: QueryDef = {
    def mh(i: Int): String =
      s"list_min(list_transform(hs, m -> substring(m || m, ${i * 2 + 1}, 16)))"
    val bandsSql = (0 until numBands * rowsPerBand)
      .map(b => s"'$b:' || md5(${mh(b)})").mkString(", ")
    QueryDef(
      "dedup_decontam_fuzzy",
      Some(s"""
      WITH eval_docs AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
      planted AS (
        SELECT doc_id + 600000 AS doc_id,
               array_to_string(list_slice(t, 3, len(t)), ' ') || ' zzfuzz' AS text
        FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM eval_docs)
        WHERE len(t) >= 12),
      train AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0
        UNION ALL
        SELECT doc_id, text FROM planted),
      tsh AS MATERIALIZED (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(t) - 1),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
        FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM train)),
      esh AS MATERIALIZED (
        SELECT doc_id AS eval_id,
               list_distinct(list_transform(range(1, len(t) - 1),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
        FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM eval_docs)),
      tdig AS MATERIALIZED (
        SELECT doc_id, list_transform(shingles, s -> md5(s)) AS hs FROM tsh),
      edig AS MATERIALIZED (
        SELECT eval_id, list_transform(shingles, s -> md5(s)) AS hs FROM esh),
      tb AS (SELECT doc_id, unnest([$bandsSql]) AS band_key FROM tdig),
      eb AS (SELECT eval_id, unnest([$bandsSql]) AS band_key FROM edig),
      cands AS (
        SELECT DISTINCT t.doc_id, e.eval_id
        FROM tb t JOIN eb e ON t.band_key = e.band_key
        WHERE t.doc_id <> e.eval_id)
      SELECT c.doc_id, c.eval_id, round(jaccard, 6) AS jaccard_r
      FROM (
        SELECT c.doc_id, c.eval_id,
               CAST(len(list_intersect(ts.shingles, es.shingles)) AS DOUBLE)
                 / CAST(len(list_distinct(list_concat(ts.shingles, es.shingles))) AS DOUBLE) AS jaccard
        FROM cands c
        JOIN tsh ts ON ts.doc_id = c.doc_id
        JOIN esh es ON es.eval_id = c.eval_id) c
      WHERE jaccard >= 0.5
      ORDER BY doc_id, eval_id
    """)) { (spark, dir) =>
      val docs = tbl(spark, dir, "documents").select("doc_id", "text")
        .repartition(spark.sessionState.conf.numShufflePartitions)
      val evalDocs = docs.filter(col("doc_id") % 50 === 0)
      val evalTok = evalDocs.select(col("doc_id"), split(col("text"), "\\s+").as("t"))
      val planted = evalTok.filter(size(col("t")) >= 12)
        .select((col("doc_id") + 600000L).as("doc_id"),
          concat(array_join(slice(col("t"), lit(3), size(col("t")) - 2), " "),
            lit(" zzfuzz")).as("text"))
      val train = docs.filter(col("doc_id") % 50 =!= 0).unionAll(planted)
      val tsh = train
        .select(col("doc_id"), shingles3(split(col("text"), "\\s+")).as("shingles"))
        .persist()
      // the eval side is benchmark-sized: shingles AND signature both
      // broadcast — the corpus never self-joins
      val esh = evalDocs
        .select(col("doc_id"), shingles3(split(col("text"), "\\s+")).as("shingles"))
        .persist()
      def bandFrame(sig: DataFrame): DataFrame =
        sig.select(col("doc_id"), explode(array((0 until numBands * rowsPerBand).map(b =>
          concat(lit(s"$b:"), md5(col(s"h$b")))): _*)).as("band_key"))
      val tb = bandFrame(rotationSigs(tsh))
      val eb = bandFrame(rotationSigs(esh))
        .withColumnRenamed("doc_id", "eval_id")
      val cands = tb.join(broadcast(eb), "band_key")
        .filter(col("doc_id") =!= col("eval_id"))
        .select(col("doc_id"), col("eval_id")).distinct()
        .localCheckpoint(false)
      val out = cands
        .join(tsh, "doc_id")
        .join(broadcast(esh.select(col("doc_id").as("eval_id"), col("shingles").as("esh"))), "eval_id")
        .select(col("doc_id"), col("eval_id"),
          (size(array_intersect(col("shingles"), col("esh"))).cast(DoubleType) /
            size(array_distinct(concat(col("shingles"), col("esh")))).cast(DoubleType))
            .as("jaccard"))
        .filter(col("jaccard") >= 0.5)
        .select(col("doc_id"), col("eval_id"), round(col("jaccard"), 6).as("jaccard_r"))
        .orderBy("doc_id", "eval_id")
      val rows = out.collect()
      // candidate-volume cap: banding must stay far under all-pairs
      val (nc, nt, ne) = (cands.count(), tsh.count(), esh.count())
      // BigInt arithmetic (round-15 ADVICE): at the 100 TB posture
      // nt * ne (corpus rows x eval rows) overflows Long, which would
      // make the law meaningless or spuriously firing — the cap must
      // survive large-count arithmetic to mean anything at scale
      require(BigInt(nc) * 20 <= BigInt(nt) * BigInt(ne),
        s"fuzzy-decontam banding degenerated: $nc candidates > 5% of ${nt}x$ne")
      // planted recall: every planted pair whose TRUE Jaccard clears the
      // verify threshold must be flagged against its own source. Pairs
      // below threshold are legitimately not contamination at 0.5 — the
      // >= 12-token guard keeps them rare, NOT impossible (a repetitive
      // doc's shingle set can collapse under the perturbation), so the
      // law is stated over the exactly-computed 1:1 planted Jaccards
      // instead of assuming every plant clears.
      val pj = tsh.filter(col("doc_id") >= 600000L)
        .select((col("doc_id") - 600000L).as("eval_id"), col("shingles").as("psh"))
        .join(broadcast(esh.select(col("doc_id").as("eval_id"), col("shingles").as("es2"))),
          "eval_id")
        .select(col("eval_id"),
          (size(array_intersect(col("psh"), col("es2"))).cast(DoubleType) /
            size(array_distinct(concat(col("psh"), col("es2")))).cast(DoubleType)).as("j"))
      val plantedAbove = pj.filter(col("j") >= 0.5).count()
      require(plantedAbove > 0L,
        "no planted pair clears the verify threshold — the recall law is vacuous")
      val flaggedPlanted = rows.count(r =>
        r.getLong(0) >= 600000L && r.getLong(1) == r.getLong(0) - 600000L)
      require(flaggedPlanted == plantedAbove,
        s"fuzzy-decontam missed planted contamination: $flaggedPlanted of $plantedAbove above-threshold pairs")
      tsh.unpersist(); esh.unpersist()
      val schema = out.schema
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    }
  }

  // -- SimHash ------------------------------------------------------------
  // 64-bit simhash over 3-shingles: bit j of a shingle = high bit of the
  // j-th nibble of md5(salt || shingle) (hex char >= '8'), two salts giving
  // 2×32 bits; document bit j = sign of the ±1 vote sum. Shingles (not raw
  // tokens) carry word *order*, so documents over the same small vocabulary
  // still fingerprint apart — the token-level variant collapses into a few
  // buckets on this corpus (empirically 98K candidates vs 108). LSH: 4
  // blocks of 16 bits — Hamming ≤ 3 pairs must agree on ≥1 whole block, so
  // candidates come from a block-key bucket join, never all-pairs.


  private def simhashBitsSql(shCol: String): String =
    (1 to 64).map { j =>
      val (salt, pos) = if (j <= 32) ("s1|", j) else ("s2|", j - 32)
      s"""CASE WHEN list_sum(list_transform($shCol,
            s -> CASE WHEN substring(md5('$salt' || s), $pos, 1) >= '8' THEN 1 ELSE -1 END)) >= 0
          THEN '1' ELSE '0' END"""
    }.mkString(" || ")

  /** SimHash 64-bit fingerprints of (doc_id, text) rows as a '0'/'1' bit
    * string. Explode + codegen'd sum-aggregates: bit j∈[1,32] ← salt s1
    * position j; j∈[33,64] ← salt s2 position j-32, exactly the oracle's
    * CASE-per-bit construction. A hex char >= '8' iff the nibble's HIGH BIT
    * is set, so instead of 64 string substring+compare sums the two salted
    * digests are parsed once per row into eight unsigned 32-bit ints and
    * the per-nibble indicator bits are summed LANE-PACKED: two 32-bit
    * counter lanes per long, 32 lane-sum columns (+count) instead of 64 — a
    * much smaller aggregation buffer and pure integer shift/mask work per
    * row. A 32-bit lane cross-carries only at >= 2^31 distinct shingles in
    * ONE doc, which no Spark-representable string can produce (strings cap
    * at 2^31 bytes and each extra distinct 3-shingle costs >= 2 source
    * bytes, so n < 2^30); an assert_true enforces even that bound loudly.
    * The ±1 vote sum >= 0 of the oracle is equivalently 2·S_j >= N with S_j
    * the set-bit count and N the shingle count. Empty-shingle docs (shorter
    * than the 3-gram) vanish on explode, mirroring the oracle's
    * len(sh) > 0 exclusion. Package-visible so DedupSpec can verify the
    * lane-packed sums against an unpacked 64-column reference on an
    * oversized (> 65,536-distinct-shingle) document. */
  private[graft] def simhashFingerprints(docs: DataFrame): DataFrame = {
    val expl = docs
      // single-file source → spread the shingle+digest map work across cores
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), explode(shingles3(split(col("text"), "\\s+"))).as("s"))
      .select(col("doc_id"),
        md5(concat(lit("s1|"), col("s"))).as("m1"),
        md5(concat(lit("s2|"), col("s"))).as("m2"))
    // chunk k∈[0,7]: hex chars [8k+1, 8k+8] of (m1 ++ m2) as one 32-bit int
    val withChunks = expl.select(col("doc_id") +: (0 until 8).map { k =>
      val m = if (k < 4) col("m1") else col("m2")
      conv(substring(m, (k % 4) * 8 + 1, 8), 16, 10).cast(LongType).as(s"c$k")
    }: _*)
    // indicator of nibble p∈[0,7] (leftmost hex char first) of chunk c:
    // the nibble's high bit, at bit position 4·(7−p)+3
    def ind(c: Column, p: Int): Column =
      shiftright(c, 4 * (7 - p) + 3).bitwiseAND(lit(1L))
    // lane column (k, q): nibbles 2q, 2q+1 of chunk k in 32-bit lanes.
    // (16-bit×4 lanes — 16 columns — silently cross-carried at a plausible
    // 65,536 distinct shingles per doc; the wider lanes cost 16 more longs
    // of buffer per group while the per-row work is unchanged: the same 64
    // indicators get shifted/OR'd either way.)
    val laneCols = for { k <- 0 until 8; q <- 0 until 4 } yield
      sum((0 until 2).map(i => shiftleft(ind(col(s"c$k"), q * 2 + i), 32 * i))
        .reduce(_.bitwiseOR(_))).as(s"l${k}_$q")
    val aggCols = count(lit(1)).as("n") +: laneCols
    // bit j of the fingerprint: S_j = lane (chunk (j-1)/8, quarter, slot)
    // of the summed lanes; set iff votes 2·S_j − N >= 0
    val bitCols = (1 to 64).map { j =>
      val k = (j - 1) / 8
      val p = (j - 1) % 8
      val s = shiftright(col(s"l${k}_${p / 2}"), 32 * (p % 2)).bitwiseAND(lit(0xFFFFFFFFL))
      when(s * 2 >= col("n"), "1").otherwise("0")
    }
    withChunks.groupBy("doc_id").agg(aggCols.head, aggCols.tail: _*)
      // enforce the lane bound instead of only arguing it: a doc at
      // >= 2^31 distinct shingles fails LOUDLY, never by silent carry
      .filter(coalesce(assert_true(col("n") < lit(1L << 31),
        lit("simhash: >= 2^31 distinct shingles in one doc; lane counters would overflow")),
        lit(true)))
      .select(col("doc_id"), concat(bitCols: _*).as("bits"))
  }

  /** dd3 — SimHash near-dup pairs: 64-bit shingle fingerprints, 4×16-bit
    * block LSH, Hamming ≤ 3 verification inside blocks. Oracle replays the
    * identical bit construction. */
  val ddSimHash: QueryDef = QueryDef(
    "dedup_simhash",
    Some(s"""
      WITH src AS ($withNearDupsSql),
      tok AS (
        SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM src),
      shx AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(t) - 1),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
        FROM tok),
      fp AS (
        -- empty-shingle docs (shorter than the 3-gram) all fingerprint to the
        -- same degenerate bit pattern and would pair with each other: exclude
        SELECT doc_id, ${simhashBitsSql("sh")} AS bits FROM shx WHERE len(sh) > 0),
      blocks AS (
        SELECT doc_id, bits,
               unnest([ '0:' || substring(bits, 1, 16), '1:' || substring(bits, 17, 16),
                        '2:' || substring(bits, 33, 16), '3:' || substring(bits, 49, 16) ])
                 AS block_key
        FROM fp),
      cands AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, a.bits AS bits_a, b.bits AS bits_b
        FROM blocks a JOIN blocks b ON a.block_key = b.block_key AND a.doc_id < b.doc_id),
      verified AS (
        SELECT a_id, b_id,
               len(list_filter(range(1, 65),
                 j -> substring(bits_a, CAST(j AS INTEGER), 1)
                   <> substring(bits_b, CAST(j AS INTEGER), 1))) AS hamming
        FROM cands)
      SELECT a_id, b_id, CAST(hamming AS BIGINT) AS hamming
      FROM verified WHERE hamming <= 3
      ORDER BY a_id, b_id
    """)) { (spark, dir) =>
    val fp = simhashFingerprints(withNearDups(spark, dir)).persist()
    val blocks = fp.select(col("doc_id"), col("bits"),
      explode(array((0 until 4).map(b =>
        concat(lit(s"$b:"), substring(col("bits"), b * 16 + 1, 16))): _*)).as("block_key"))
    val cands = blocks.as("a")
      .join(blocks.as("b"),
        col("a.block_key") === col("b.block_key") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.bits").as("bits_a"), col("b.bits").as("bits_b"))
      .distinct()
    cands
      .select(col("a_id"), col("b_id"),
        size(filter(sequence(lit(1), lit(64)),
          j => col("bits_a").substr(j, lit(1)) =!= col("bits_b").substr(j, lit(1))))
          .cast(LongType).as("hamming"))
      .filter(col("hamming") <= 3)
      .orderBy("a_id", "b_id")
  }

  /** dd4 — n-gram Jaccard dedup with *prefix blocking*: candidates must
    * share the first-2-token prefix block (a positional prefix filter —
    * near-dups with Jaccard ≥ 0.8 on these fixtures share it), then exact
    * word-bigram Jaccard within blocks. Bucket join, not all-pairs. */
  val ddNgramJaccard: QueryDef = QueryDef(
    "dedup_ngram_jaccard",
    Some(s"""
      WITH src AS ($withNearDupsSql),
      feat AS (
        SELECT doc_id,
               t[1] || ' ' || t[2] AS block_key,
               list_distinct(list_transform(range(1, len(t)),
                 i -> t[i] || ' ' || t[i+1])) AS bigrams
        FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM src)),
      cands AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.bigrams AS ba, b.bigrams AS bb
        FROM feat a JOIN feat b ON a.block_key = b.block_key AND a.doc_id < b.doc_id)
      SELECT a_id, b_id,
             CAST(len(list_intersect(ba, bb)) AS DOUBLE)
               / CAST(len(list_distinct(list_concat(ba, bb))) AS DOUBLE) AS jaccard
      FROM cands
      WHERE CAST(len(list_intersect(ba, bb)) AS DOUBLE)
              / CAST(len(list_distinct(list_concat(ba, bb))) AS DOUBLE) >= 0.8
      ORDER BY a_id, b_id
    """)) { (spark, dir) =>
    val t = split(col("text"), "\\s+")
    // single-file source → spread the bigram construction across cores
    val feat = withNearDups(spark, dir)
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .select(
      col("doc_id"),
      // slice tolerates <2 tokens (vs element_at(t,2), which throws under ANSI)
      concat_ws(" ", slice(t, 1, 2)).as("block_key"),
      bigrams2(t).as("bigrams"))
      // compute the bigram arrays once, not once per self-join side
      .persist()
    // guard 0/0: Catalyst pushes the jaccard filter into the self-join
    // condition, where it can run before the doc_id< conjunct — a key-matched
    // self-pair of an empty-bigram doc would then divide by zero under ANSI.
    // Emitted rows are unaffected (they all have union > 0 on both engines).
    val union = size(array_distinct(concat(col("ba"), col("bb"))))
    val jac = when(union > 0,
      size(array_intersect(col("ba"), col("bb"))).cast(DoubleType) / union.cast(DoubleType))
      .otherwise(lit(0.0))
    feat.as("a")
      .join(feat.as("b"),
        col("a.block_key") === col("b.block_key") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.bigrams").as("ba"), col("b.bigrams").as("bb"))
      .select(col("a_id"), col("b_id"), jac.as("jaccard"))
      .filter(col("jaccard") >= 0.8)
      .orderBy("a_id", "b_id")
  }

  /** dd5 — INCREMENTAL dedup against a persisted fingerprint store: the
    * continual-ingestion shape — every arriving batch first dedups
    * internally (keep min doc_id per content hash), then anti-joins the
    * persisted store of everything ever ingested, and appends only its
    * genuinely-new fingerprints. The gate replays a deterministic two-batch
    * cycle (batch 1 = even doc_ids; batch 2 = odd doc_ids plus
    * re-deliveries of every doc_id % 10 == 0 text under a new id — the
    * cross-batch duplicates only the STORE can catch) against a store that
    * is rebuilt from empty each run, and emits per-batch accounting. Shape
    * at 100 TB: the store holds (md5, canonical id) — fixed-width keys,
    * never text; each ingest is one shuffle of the batch's fingerprints
    * plus an anti join against the store on the digest; the appended delta
    * is only the new rows. Per-batch counters are driver scalars, same as
    * the pipeline's XCom-style bookkeeping. */
  val ddIncremental: QueryDef = QueryDef(
    "dedup_incremental",
    Some("""
      WITH b1 AS (
        SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 2 = 0),
      b2 AS (
        SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 2 = 1
        UNION ALL
        SELECT doc_id + 400000, md5(text) FROM documents WHERE doc_id % 10 = 0),
      s1 AS (SELECT count(*) AS arrived, count(DISTINCT fp) AS uniq FROM b1),
      s2 AS (SELECT count(*) AS arrived, count(DISTINCT fp) AS uniq FROM b2),
      b2new AS (
        SELECT count(*) AS n FROM (
          SELECT DISTINCT fp FROM b2
          EXCEPT
          SELECT DISTINCT fp FROM b1))
      SELECT 1 AS batch, s1.arrived AS n_arrived, s1.uniq AS n_unique,
             s1.uniq AS n_new, s1.uniq AS store_rows_after
      FROM s1
      UNION ALL
      SELECT 2, s2.arrived, s2.uniq, b2new.n, s1.uniq + b2new.n
      FROM s1, s2, b2new
      ORDER BY batch
    """)) { (spark, dir) =>
    val storeDir = scratch(dir, "dedup_fp_store_run") // rebuilt per run: the cycle IS the op
    val storePath = new org.apache.hadoop.fs.Path(storeDir)
    val fs = storePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(storePath, true)
    val d = tbl(spark, dir, "documents").select("doc_id", "text")
    val b1 = d.filter(col("doc_id") % 2 === 0)
    val b2 = d.filter(col("doc_id") % 2 === 1)
      .unionAll(d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 400000L).as("doc_id"), col("text")))
    /** One ingest: intra-batch keep-first, anti-join the store, append the
      * delta. Returns (arrived, unique, new, storeRowsAfter). Exactly two
      * actions per batch — one combined arrived/unique agg and one count
      * of the persisted delta (whose write reuses the same
      * materialization); the store size is arithmetic, not a re-read. */
    def ingest(batch: DataFrame, storeRowsBefore: Long): (Long, Long, Long, Long) = {
      val fps = batch.select(md5(col("text")).as("fp"), col("doc_id"))
      val stats = fps.agg(count(lit(1)).as("a"), count_distinct(col("fp")).as("u")).head()
      val (arrived, unique) = (stats.getLong(0), stats.getLong(1))
      val uniq = fps.groupBy("fp").agg(min(col("doc_id")).as("canonical_doc_id"))
      val fresh =
        if (storeRowsBefore > 0)
          uniq.join(spark.read.parquet(storeDir).select("fp"), Seq("fp"), "left_anti")
        else uniq
      val freshP = fresh.persist()
      val nNew = freshP.count()
      // append only the delta; the store is (fp, canonical_doc_id) parquet.
      // coalesce: a 32-way-partitioned tiny delta would land 32 midget
      // files per batch — at corpus scale the delta is large enough that
      // a real deployment sizes this by target file size instead
      freshP.coalesce(4).write.mode("append").parquet(storeDir)
      freshP.unpersist()
      (arrived, unique, nNew, storeRowsBefore + nNew)
    }
    val r1 = ingest(b1, 0L)
    val r2 = ingest(b2, r1._4)
    val rows = Seq((1L, r1), (2L, r2)).map { case (b, (a, u, n, s)) => (b, a, u, n, s) }
    import spark.implicits._
    rows.toDF("batch", "n_arrived", "n_unique", "n_new", "store_rows_after")
      .select(col("batch").cast(IntegerType).as("batch"), col("n_arrived"),
        col("n_unique"), col("n_new"), col("store_rows_after"))
      .orderBy("batch")
  }

  /** dd8 — LSH BANDING TUNING audit: the (bands × rows) choice IS the
    * dedup policy — it fixes the S-curve P(candidate) = 1−(1−j^r)^b and
    * therefore which similarity levels the pipeline can see at all — yet
    * it usually ships as an unexamined constant. This gate measures the
    * curve EMPIRICALLY on labeled pairs: three variant sets planted at
    * controlled distances (1 / 6 / 14 appended tokens → a spread of exact
    * Jaccard levels), the production 12-rotation signature
    * ([[rotationSigs]] — the same hash family `dedup_minhash_lsh` ships),
    * and three band layouts of those 12 rotations (12×1, 4×3, 2×6). Per
    * (config, Jaccard decile): pairs, band-collision hits, observed hit
    * rate, and the theoretical S-curve value (fixed-order multiplication
    * chains only — no pow(), so both engines compute bit-identical
    * doubles; per-pair values quantized to micro-units before the exact
    * integer sum). Reading the output IS the tuning decision: 12×1
    * catches everything (and would flood verification with low-j
    * candidates), 2×6 loses half of j≈0.8 — the numbers a pipeline owner
    * trades. Shape at 100 TB: evaluation runs on the PLANTED pair list
    * (labeled data, linear in the plant rate), one signature pass, one
    * checkpointed pair frame reused by all three configs — never a
    * corpus×corpus join. The plant offsets assume real doc ids stay below
    * the first offset — ENFORCED by a counter-scale guard below (round-12
    * ADVICE), not assumed. */
  val ddLshTuning: QueryDef = {
    // the rotation budget comes from the PRODUCTION constants — each band
    // layout must exactly partition it, or the audit would silently
    // measure a prefix of (or fall off) the shipped signature
    val nRot = numBands * rowsPerBand
    val configs = Seq((s"${nRot}x1", nRot, 1), ("4x3", 4, 3), ("2x6", 2, 6))
    require(configs.forall { case (_, b, r) => b * r == nRot },
      s"every tuning layout must use all $nRot rotations")
    val variants = Seq((100000L, 2), (200000L, 7), (300000L, 15)) // range end is exclusive
    def powSql(x: String, n: Int): String = "(" + Seq.fill(n)(x).mkString(" * ") + ")"
    val variantSql = variants.map { case (off, end) =>
      s"""SELECT doc_id + $off,
             text || ' ' || array_to_string(list_transform(range(1, $end), i -> 'zq' || doc_id || 'p' || i), ' ')
          FROM documents WHERE doc_id % 5 = 0"""
    }.mkString("\n          UNION ALL\n          ")
    val rot = (0 until nRot).map(i =>
      s"list_min(list_transform(hs, m -> substring(m || m, ${i * 2 + 1}, 16)))")
      .mkString(", ")
    val cfgBlocks = configs.map { case (label, b, r) =>
      val hit = (0 until b).map(i =>
        "(" + (0 until r).map(k => s"sa.hv[${i * r + k + 1}] = sb.hv[${i * r + k + 1}]")
          .mkString(" AND ") + ")").mkString(" OR ")
      val theory = s"(1.0 - ${powSql(s"(1.0 - ${powSql("p.j", r)})", b)})"
      s"""SELECT '$label' AS config, CAST(floor(p.j * 10) AS BIGINT) AS jbin,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(CASE WHEN $hit THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
             round(CAST(sum(CASE WHEN $hit THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE), 6) AS hit_r,
             round(CAST(sum(CAST(floor($theory * 1000000) AS BIGINT)) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE) / 1000000.0, 6) AS theory_r
      FROM p JOIN sig sa ON sa.doc_id = p.a_id JOIN sig sb ON sb.doc_id = p.b_id
      GROUP BY jbin"""
    }.mkString("\n      UNION ALL\n      ")
    QueryDef(
      "dedup_lsh_tuning",
      Some(s"""
      WITH src AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        $variantSql),
      tok AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM src),
      sh AS MATERIALIZED (
        SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles FROM tok),
      dig AS MATERIALIZED (SELECT doc_id, list_transform(shingles, s -> md5(s)) AS hs FROM sh),
      sig AS MATERIALIZED (SELECT doc_id, [$rot] AS hv FROM dig),
      p AS MATERIALIZED (
        SELECT a.doc_id AS a_id, a.doc_id + v.off AS b_id,
               CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 / CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE) AS j
        FROM sh a
        JOIN (VALUES ${variants.map(v => s"(${v._1})").mkString(", ")}) v(off) ON TRUE
        JOIN sh b ON b.doc_id = a.doc_id + v.off
        WHERE a.doc_id % 5 = 0 AND a.doc_id < 100000
          AND len(a.shingles) > 0 AND len(b.shingles) > 0),
      u AS ($cfgBlocks)
      SELECT config, jbin, n_pairs, n_hits, hit_r, theory_r
      FROM u ORDER BY config, jbin
    """)) { (spark, dir) =>
      val d = tbl(spark, dir, "documents").select("doc_id", "text")
      // planted-id headroom, enforced (round-12 ADVICE): the variant sets
      // live at doc_id + 100000/200000/300000, and the pair builder's
      // a_id < 100000 filter trims only ONE side — a corpus whose real ids
      // reach the first offset would alias planted ids onto real docs and
      // silently fan out the signature joins. One counter-scale scalar.
      val dmr = d.agg(max(col("doc_id")).cast(LongType)).head()
      val dmax = if (dmr.isNullAt(0)) 0L else dmr.getLong(0)
      require(dmax < variants.map(_._1).min,
        s"lsh-tuning plant offsets collide: max doc_id $dmax >= " +
          s"${variants.map(_._1).min} — raise the variant offsets before auditing")
      val src = variants.foldLeft(d) { case (acc, (off, end)) =>
        // base id under a distinct name BEFORE the offset alias: a
        // same-select doc_id reference would lateral-alias-resolve to the
        // offset id beside it and silently de-correlate the pads (the
        // round-5 Cluster finding)
        acc.unionAll(d.filter(col("doc_id") % 5 === 0)
          .select(col("doc_id").as("base_id"), col("text"))
          .select((col("base_id") + off).as("doc_id"),
            concat(col("text"), lit(" "),
              array_join(transform(sequence(lit(1), lit(end - 1)),
                i => concat(lit("zq"), col("base_id").cast(StringType), lit("p"),
                  i.cast(StringType))), " ")).as("text")))
      }
      val sh = src
        .repartition(spark.sessionState.conf.numShufflePartitions)
        .select(col("doc_id"), shingles3(split(col("text"), "\\s+")).as("shingles"))
        .persist()
      val sig = rotationSigs(sh)
      val pairs = sh.filter(col("doc_id") % 5 === 0 && col("doc_id") < 100000L)
        .select(col("doc_id").as("a_id"), col("shingles").as("sh_a"),
          explode(array(variants.map(v => lit(v._1)): _*)).as("off"))
        .select(col("a_id"), (col("a_id") + col("off")).as("b_id"), col("sh_a"))
        .join(sh.select(col("doc_id").as("b_id"), col("shingles").as("sh_b")), Seq("b_id"))
        .filter(size(col("sh_a")) > 0 && size(col("sh_b")) > 0)
        .select(col("a_id"), col("b_id"),
          (size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType) /
            size(array_distinct(concat(col("sh_a"), col("sh_b")))).cast(DoubleType))
            .as("j"))
        .join(sig.select(col("doc_id").as("a_id") +:
          (0 until nRot).map(i => col(s"h$i").as(s"a_h$i")): _*), Seq("a_id"))
        .join(sig.select(col("doc_id").as("b_id") +:
          (0 until nRot).map(i => col(s"h$i").as(s"b_h$i")): _*), Seq("b_id"))
        // one checkpointed pair frame feeds all three config rollups; the
        // shingle cache can be released once it materializes
        .localCheckpoint(true)
      sh.unpersist()
      val perConfig = configs.map { case (label, b, r) =>
        val hit = (0 until b).map(i =>
          (0 until r).map(k => col(s"a_h${i * r + k}") === col(s"b_h${i * r + k}"))
            .reduce(_ && _)).reduce(_ || _)
        // fixed-order multiplication chains (reduce is left-associative),
        // mirroring the oracle's "x * x * …" — identical IEEE order
        val jr = Seq.fill(r)(col("j")).reduce(_ * _)
        val theory = lit(1.0) - Seq.fill(b)(lit(1.0) - jr).reduce(_ * _)
        pairs
          .select(col("j"), hit.as("hit"),
            floor(theory * 1000000).cast(LongType).as("micro"))
          .groupBy(floor(col("j") * 10).cast(LongType).as("jbin"))
          .agg(count(lit(1)).as("n_pairs"),
            countIf(col("hit")).as("n_hits"),
            round(countIf(col("hit")).cast(DoubleType)
              / count(lit(1)).cast(DoubleType), 6).as("hit_r"),
            round(sum(col("micro")).cast(DoubleType)
              / count(lit(1)).cast(DoubleType) / 1000000.0, 6).as("theory_r"))
          .select(lit(label).as("config"), col("jbin"), col("n_pairs"),
            col("n_hits"), col("hit_r"), col("theory_r"))
      }
      perConfig.reduce(_ unionAll _).orderBy("config", "jbin")
    }
  }

  val all: Seq[QueryDef] = Seq(ddExact, ddMinHashLsh, ddSimHash, ddNgramJaccard,
    ddIncremental, ddLshTuning, ddDecontamFuzzy)
}
