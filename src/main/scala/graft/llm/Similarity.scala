package graft.llm

import graft.{QueryDef, core}
import graft.core._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Embedding similarity search (builder brief; SURVEY.md §7.5) over the
  * `embeddings` table (64-dim unit-norm float vectors → cosine == dot).
  *
  * Float determinism across engines: every dot product is computed as a
  * *sequential left fold* over exact double products of float inputs —
  * Spark `aggregate(zip_with(...))` starting at 0.0 and DuckDB
  * `list_reduce` both add the 64 terms in index order, and 0.0 + x == x in
  * IEEE, so the two engines produce bit-identical doubles. Cross-row double
  * sums (order-dependent) are never used.
  */
object Similarity {

  /** Held-out query window [QLo, QHi) — the 8 evaluation queries every
    * recall gate in the file scores against, plus [[Q1]], the single
    * query the didactic ladder gates pin. DISJOINT BY CONSTRUCTION from
    * every seed/training id-range in the file: the coarse layouts seed
    * from [0, 8) and [0, 32) (and the frozen-BASE coarse from base ranks
    * 0..31 = ids < 39), the PQ codebook from [0, [[PqK]]), the residual
    * book from [8, 8 + [[PqK]]), the trained-32 residual book from
    * [0, [[PqK]]), and the frozen-base residual book from the first
    * [[PqK]] BASE rows — ids < [[PqK]]/4·5 = 80, the WIDEST seed range
    * in the file. Round-17 (r16 verdict #1): the original window 16..23
    * sat inside the PQ and residual seed prefixes, so the trained books
    * started with codewords AT the query vectors and carried
    * below-average distortion on exactly the vectors being scored —
    * every prior ADC recall headline was a mild upper bound; the
    * round's first shift to 72..79 still overlapped the frozen-base
    * book's seed lattice (caught in review — base ranks 58..63 are ids
    * 72..78), which would have left `sim_book_append`'s frozen arms
    * biased. The static require next to [[PqK]] (where both values are
    * initialized) makes the disjointness fail-loud at object init:
    * any future seed-range growth past QLo trips it. Defined at the top
    * of the object so every earlier-initialized val sees the real value
    * (a mid-file definition left lines above it reading 0 — caught by
    * the compiler's uninitialized-reference warning). */
  private[graft] val QLo = 80
  private[graft] val QHi = 88

  /** The single-query ladder's query id — inside the held-out window. */
  private[graft] val Q1 = QLo + 5

  /** embeddings.parquet is one small file → one input partition, which
    * would serialize every interpreted dot-product pass onto a single core;
    * spread the rows across the session's parallelism first. */
  private def emb(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "embeddings")
      .repartition(spark.sessionState.conf.numShufflePartitions)

  /** Sequential-fold dot product of two float arrays, in double — the
    * native codegen'd [[graft.functions.DotFold]] expression (registered by
    * [[graft.functions.GraftExtensions]]). Bit-identical to the declarative
    * `aggregate(zip_with(a, b, (x, y) => x*y), 0.0, _+_)` it replaced (same
    * sequential IEEE fold), but runs inside whole-stage codegen instead of
    * the interpreted higher-order-function path. */
  private[llm] def dot(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)

  /** The walk's fixed entry node (id 0) as a NON-FOLDABLE expression:
    * a literal 0 constant survives localCheckpoint via the plan's origin
    * constraints and gets pushed into the broadcast graph scan as an
    * `EqualNullSafe(gs, 0)` predicate whose codegen trips a Janino bug
    * ("java.lang.Long is not an rvalue"; 8 interpreter-fallback stack
    * traces per walk). `when(qid IS NOT NULL, 0L)` is the same value on
    * every row (qid is never null) but opaque to constraint inference,
    * so the scan predicate — and the warn spam — never materializes. */
  private def entryNode0: Column = when(col("qid").isNotNull, lit(0L))

  /** The suite's embedding dimensionality. Every fixed-width kernel —
    * [[dotSql]]'s unrolled range, the MMR gate's driver-side fold — derives
    * from THIS constant, so a corpus with a different width fails loudly at
    * the require sites instead of silently dotting different prefixes on
    * the two engines (r19 ADVICE #1). */
  private[llm] val EmbDim = 64

  /** DuckDB twin of [[dot]]: same index order, same fold. */
  private[llm] def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, ${EmbDim + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"

  /** sim1 — brute-force cosine top-k: the exact baseline every ANN variant
    * is measured against. One broadcast of the query vector, one
    * map-parallel scan computing dots, then a top-k (rank ≤ k over a global
    * sort of n *scalar scores*, not vectors — at 100 TB the heavy data
    * never shuffles, only (id, score) pairs). */
  val simTopKBrute: QueryDef = QueryDef(
    "sim_topk_bruteforce",
    Some(s"""
      WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      scored AS (
        SELECT e.vec_id, e.label, ${dotSql("e.embedding", "q.qv")} AS score
        FROM embeddings e, q)
      SELECT vec_id, label, round(score, 6) AS score_r
      FROM scored
      ORDER BY score DESC, vec_id
      LIMIT 10
    """)) { (spark, dir) =>
    val embAll = emb(spark, dir)
    val q = embAll.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    embAll.crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"), dot(col("embedding"), col("qv")).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(10)
      .select(col("vec_id"), col("label"), round(col("score"), 6).as("score_r"))
  }

  /** 16-bit signed-random-projection signature per vector: hyperplane j's
    * component i is ±1 from md5("j:i") — a literal array, deterministic, no
    * RNG state — and bit j is the sign of the hyperplane dot. Identical
    * vectors share every bit, so exact duplicates always bucket together. */
  private def srpSignatures(src: DataFrame): DataFrame = {
    val planes: Column = array((0 until 16).map { j =>
      array((0 until EmbDim).map { i =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$j:$i".getBytes("UTF-8"))
        lit(if ((hex(0) & 0x80) != 0) 1.0 else -1.0)
      }: _*)
    }: _*)
    src.select(col("vec_id"), col("embedding"),
      concat((0 until 16).map { j =>
        when(dot(col("embedding"), element_at(planes, j + 1)) >= 0, "1").otherwise("0")
      }: _*).as("sig"))
  }

  /** Embeddings with planted duplicate vectors (vec_id % 4 == 0 copied to
    * vec_id + 100000) — the known-answer fixture for the LSH path. */
  private def withDupVectors(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir).select("vec_id", "embedding")
    e.unionAll(e.filter(col("vec_id") % 4 === 0)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
  }

  /** sim2 — SRP-LSH near-duplicate vector pairs (the *scale* path):
    * 16-bit random-hyperplane signatures (hyperplane j component i = ±1
    * from md5("j:i"), materialized once per row — deterministic, no RNG
    * state), hash-shuffle bucket join on the full signature, exact cosine
    * verification inside buckets only, threshold 0.999. O(n) bucket rows,
    * never the O(n²) cross join. The oracle is the planted ground truth:
    * identical vectors always share every signature bit, and the corpus'
    * natural max cosine is ~0.6, so recall and precision are both exact. */
  val simLshPairs: QueryDef = QueryDef(
    "sim_lsh_near_dup",
    Some("""
      SELECT vec_id AS a_id, vec_id + 100000 AS b_id
      FROM embeddings
      WHERE vec_id % 4 = 0
      ORDER BY a_id
    """)) { (spark, dir) =>
    val sig = srpSignatures(withDupVectors(spark, dir))
    val cands = sig.as("a")
      .join(sig.as("b"), col("a.sig") === col("b.sig") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        col("a.embedding").as("ea"), col("b.embedding").as("eb"))
    cands
      .filter(dot(col("ea"), col("eb")) >= 0.999)
      .select(col("a_id"), col("b_id"))
      .orderBy("a_id")
  }

  /** The coarse-quantizer centroids of a corpus frame (vec_id,
    * embedding, …) — vec_id < 8 — folded into ONE broadcast row of
    * struct(cent_id, cv): every IVF pass (assignment, probe-cell selection)
    * is then a map-side higher-order scan per vector — no shuffle ever
    * carries an embedding, which is the whole point of IVF. */
  private def ivfCentroids(corpus: DataFrame): DataFrame =
    corpus.filter(col("vec_id") < 8)
      .agg(collect_list(struct(col("vec_id").as("cent_id"), col("embedding").as("cv")))
        .as("cents"))

  /** The 8 seeded coarse centroids as (cent_id, cv) rows — vec_id < 8. */
  private def seededCents(corpus: DataFrame): DataFrame =
    corpus.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv"))

  /** Every vector of a corpus frame (vec_id, embedding, …) tagged with
    * its IVF cell (argmax dot over the broadcast centroids, ties toward the
    * lower cent_id via the 1e-12 bias the oracle replays): the corpus
    * columns plus `cell`. The corpus is read once for both sides. */
  private def ivfAssigned(corpus: DataFrame): DataFrame = {
    val best = array_max(transform(col("cents"), c => struct(
      (dot(col("embedding"), c("cv")) - lit(1e-12) * c("cent_id")).as("score"),
      c("cent_id").as("cent_id"))))
    corpus.crossJoin(broadcast(ivfCentroids(corpus)))
      .withColumn("cell", best("cent_id")).drop("cents")
  }

  /** [[ivfAssigned]] over the embeddings table: (vec_id, label, embedding,
    * cell) — shared by [[simIvfProbe]] and [[simIvfMultiprobe]]. */
  private def ivfAssigned(spark: SparkSession, dir: String): DataFrame =
    ivfAssigned(emb(spark, dir).select("vec_id", "label", "embedding"))

  /** sim3 — IVF-style search: coarse-quantize every vector to its nearest
    * of 8 deterministic centroids (argmax dot, ties by centroid id), then
    * answer the query by probing ONLY the query's cell — the inverted-file
    * layout that keeps 100 TB of vectors partition-pruned. The oracle
    * replays assignment + probe exactly (sequential-fold dots, see above).
    * Assignment margins in this corpus are far above double-ulp scale. */
  val simIvfProbe: QueryDef = QueryDef(
    "sim_ivf_probe",
    Some(s"""
      WITH cents AS (
        SELECT vec_id AS cent_id, embedding AS cv FROM embeddings WHERE vec_id < 8),
      assigned AS (
        SELECT e.vec_id, e.label, e.embedding,
               arg_max(c.cent_id, ${dotSql("e.embedding", "c.cv")} - 1e-12 * c.cent_id) AS cell
        FROM embeddings e, cents c
        GROUP BY e.vec_id, e.label, e.embedding),
      q AS (SELECT embedding AS qv, cell AS qcell FROM assigned WHERE vec_id = $Q1)
      SELECT a.vec_id, a.label, a.cell,
             round(${dotSql("a.embedding", "q.qv")}, 6) AS score_r
      FROM assigned a, q
      WHERE a.cell = q.qcell
      ORDER BY ${dotSql("a.embedding", "q.qv")} DESC, a.vec_id
      LIMIT 5
    """)) { (spark, dir) =>
    val assigned = ivfAssigned(spark, dir)
    val q = assigned.filter(col("vec_id") === Q1)
      .select(col("embedding").as("qv"), col("cell").as("qcell"))
    assigned.join(broadcast(q), col("cell") === col("qcell"))
      .select(col("vec_id"), col("label"), col("cell"),
        dot(col("embedding"), col("qv")).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(5)
      .select(col("vec_id"), col("label"), col("cell"), round(col("score"), 6).as("score_r"))
  }

  /** THE seeded-8 probe ranking: every query of `qs`(qid, qv) against
    * the broadcast [[ivfCentroids]] row — (qid, cell, sc, rn), sc = dot −
    * 1e-12·cent_id (the bias [[ivfAssigned]] uses, so ties go to the
    * lower cell), rn by sc descending. Every seeded-layout probe in the
    * file reads its top-P cells from here. */
  private def seededCellRank(corpus: DataFrame, qs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    qs.crossJoin(broadcast(ivfCentroids(corpus)))
      .select(col("qid"), col("qv"), explode(col("cents")).as("c"))
      .select(col("qid"), col("c.cent_id").as("cell"),
        (dot(col("qv"), col("c.cv")) - lit(1e-12) * col("c.cent_id")).as("sc"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("sc").desc)))
  }

  /** The rows of `assigned`(…, cell) inside each query's top-`nProbe`
    * seeded cells, tagged (qid, qv, pcell) by a broadcast probe frame —
    * at most P/K of the corpus per query. */
  private def seededProbe(spark: SparkSession, dir: String, assigned: DataFrame,
      qs: DataFrame, nProbe: Int): DataFrame =
    assigned.join(broadcast(seededCellRank(emb(spark, dir), qs).filter(col("rn") <= nProbe)
        .join(qs, "qid").select(col("qid"), col("qv"), col("cell").as("pcell"))),
      col("cell") === col("pcell"))

  /** sim3b — MULTI-PROBE IVF (round-9 queue #5): single-probe IVF loses any
    * true neighbor whose vector quantized into a different cell than the
    * query — the classic recall cliff at cell boundaries. Production IVF
    * probes the query's nearest P cells instead: here the SAME broadcast
    * centroid row yields the query's top-3 cells (sorted struct array, ties
    * toward the lower cent_id by the same 1e-12 bias assignment uses), the
    * probe is a map-side `array_contains` against the 3-cell list riding in
    * the one-row broadcast query frame, and the union of the 3 candidate
    * cells is exactly re-ranked. Scale: candidate volume is P/K of the
    * corpus (3/8 here; P=32 of K=65536 in a real deployment) — still
    * partition-pruned, still nothing but (id, score) past the scan, and P
    * trades recall for scan cost with no re-layout. The spec pins the
    * recall claim: multi-probe top-5 recovers at least as many of the exact
    * top-5 as the single-probe gate does. */
  val simIvfMultiprobe: QueryDef = QueryDef(
    "sim_ivf_multiprobe",
    Some(s"""
      WITH cents AS (
        SELECT vec_id AS cent_id, embedding AS cv FROM embeddings WHERE vec_id < 8),
      assigned AS (
        SELECT e.vec_id, e.label, e.embedding,
               arg_max(c.cent_id, ${dotSql("e.embedding", "c.cv")} - 1e-12 * c.cent_id) AS cell
        FROM embeddings e, cents c
        GROUP BY e.vec_id, e.label, e.embedding),
      q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $Q1),
      qc AS (
        SELECT c.cent_id AS cell
        FROM cents c, q
        ORDER BY ${dotSql("q.qv", "c.cv")} - 1e-12 * c.cent_id DESC
        LIMIT 3)
      SELECT a.vec_id, a.label, a.cell,
             round(${dotSql("a.embedding", "q.qv")}, 6) AS score_r
      FROM assigned a, q
      WHERE a.cell IN (SELECT cell FROM qc)
      ORDER BY ${dotSql("a.embedding", "q.qv")} DESC, a.vec_id
      LIMIT 10
    """)) { (spark, dir) =>
    seededProbe(spark, dir, ivfAssigned(spark, dir), q1Frame(spark, dir), 3)
      .select(col("vec_id"), col("label"), col("cell"),
        dot(col("embedding"), col("qv")).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(10)
      .select(col("vec_id"), col("label"), col("cell"), round(col("score"), 6).as("score_r"))
  }

  /** dd5 — embedding-cosine near-duplicate DEDUP (the vector-space member
    * of the dedup family, builder brief): SRP-bucket candidates → exact
    * cosine ≥ 0.999 verification inside buckets → canonical mapping
    * dup_id → min(partner id). Planted copies (vec_id % 3 → +200000) are the
    * ground truth: the corpus' natural max cosine is ~0.6, so the mapping
    * is exactly the planted one and the oracle states it directly. Same
    * O(n)-bucket scale posture as sim_lsh_near_dup — the embeddings
    * themselves never shuffle anywhere except into their signature bucket. */
  val ddEmbeddingCosine: QueryDef = QueryDef(
    "dedup_embedding_cosine",
    Some("""
      SELECT vec_id + 200000 AS dup_id, vec_id AS canonical_id
      FROM embeddings
      WHERE vec_id % 3 = 0
      ORDER BY dup_id
    """)) { (spark, dir) =>
    val e = emb(spark, dir).select("vec_id", "embedding")
    val src = e.unionAll(e.filter(col("vec_id") % 3 === 0)
      .select((col("vec_id") + 200000L).as("vec_id"), col("embedding")))
    val sig = srpSignatures(src)
    sig.as("a")
      .join(sig.as("b"), col("a.sig") === col("b.sig") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        col("a.embedding").as("ea"), col("b.embedding").as("eb"))
      .filter(dot(col("ea"), col("eb")) >= 0.999)
      // canonical = smallest id among verified partners (a < b already)
      .groupBy(col("b_id").as("dup_id"))
      .agg(min(col("a_id")).as("canonical_id"))
      .orderBy("dup_id")
  }

  /** sim5 — INT8 scalar quantization (the compression step every vector
    * store applies before ANN serving — 4× smaller than float32, dot
    * products in integer SIMD): per vector, scale = 127 / max|x_i|, code
    * q_i = floor(x_i·scale + 0.5) ∈ [-127, 127]. Pure map pass, one row
    * per vector. Cross-engine determinism: every step is per-ELEMENT IEEE
    * double arithmetic (float→double exact, one multiply, one floor) —
    * no cross-element float accumulation anywhere; the emitted checksums
    * (Σq, Σq², min, max) are exact integers and the scale is rounded only
    * for display. The max-|x| reduction is order-insensitive (max is
    * associative-commutative and exact). */
  /** Int8 scalar-quantization plumbing for a float-vector column: adds
    * `scale` (127 / max|x_i|, or 0 for an all-zero vector) and `q` (the
    * BIGINT code array floor(x·scale + 0.5)). The max-magnitude pass is
    * materialized as a column FIRST so the per-element lambda multiplies
    * by a cheap column reference — an array_max argument inside the
    * lambda body would re-reduce the vector per element, O(d²) (the
    * bindOnce finding). Exposed for PropertySpec's reconstruction-bound
    * check. */
  private[graft] def quantizeInt8(df: DataFrame, vec: Column): DataFrame = {
    val scale = when(col("__mx") > 0, lit(127.0) / col("__mx")).otherwise(lit(0.0))
    df.withColumn("__mx", array_max(transform(vec, x => abs(x.cast(DoubleType)))))
      .withColumn("scale", scale)
      .withColumn("q", transform(vec,
        x => floor(x.cast(DoubleType) * col("scale") + 0.5).cast(LongType)))
      .drop("__mx")
  }

  val simQuantizeInt8: QueryDef = QueryDef(
    "sim_quantize_int8",
    Some("""
      WITH prep AS (
        SELECT vec_id, label,
               list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
        FROM embeddings),
      scaled AS (
        SELECT e.vec_id, e.label,
               CASE WHEN p.mx > 0 THEN 127.0 / p.mx ELSE 0.0 END AS scale,
               list_transform(e.embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE)
                        * (CASE WHEN p.mx > 0 THEN 127.0 / p.mx ELSE 0.0 END)
                        + 0.5) AS BIGINT)) AS q
        FROM embeddings e JOIN prep p USING (vec_id))
      SELECT vec_id, label, round(scale, 6) AS scale_r,
             CAST(list_sum(q) AS BIGINT) AS q_sum,
             CAST(list_sum(list_transform(q, v -> v * v)) AS BIGINT) AS q_sumsq,
             list_min(q) AS q_min,
             list_max(q) AS q_max
      FROM scaled
      ORDER BY vec_id
    """)) { (spark, dir) =>
    quantizeInt8(emb(spark, dir), col("embedding"))
      .select(col("vec_id"), col("label"),
        round(col("scale"), 6).as("scale_r"),
        aggregate(col("q"), lit(0L), (acc, v) => acc + v).as("q_sum"),
        aggregate(col("q"), lit(0L), (acc, v) => acc + v * v).as("q_sumsq"),
        array_min(col("q")).as("q_min"),
        array_max(col("q")).as("q_max"))
      .orderBy("vec_id")
  }

  /** The 1e-7 fixed-point element sums (keys…, pos, s, n) of the vectors
    * in `vec` behind every centroid mean — sim6's per-label MEAN VECTOR
    * (the k-means/IVF TRAINING step that [[simIvfProbe]]'s fixed seed
    * centroids stand in for) and every Lloyd recompute: element-wise
    * averages computed DISTRIBUTED-EXACT. Cross-row float summation is evaluation-order-dependent, so each
    * element is first quantized to a 1e-7 fixed-point BIGINT (`floor(v ·
    * 1e7)` — the float→double widening and the multiply are exact IEEE on
    * both engines, so the integer is bit-deterministic); the integer sums
    * then aggregate exactly at any parallelism and the single final
    * divide reconstructs the mean in double. Quantization error 1e-7 is
    * at float-ulp scale — the price of a result that is bit-identical on
    * 1 core or 1000 executors. Shape: `posexplode` fans each vector into
    * (key, pos, v) rows — dim× the row count but a fraction of the bytes
    * per row — one partial+final aggregate on (key, pos), then
    * [[fixedMean]]'s dim-bounded ordered reassembly per key. Nothing
    * collects beyond 64-element lists. */
  private[llm] def fixedSums(rows: DataFrame, vec: String, keys: String*): DataFrame =
    rows.select(keys.map(col) :+ posexplode(col(vec)).as(Seq("pos", "v")): _*)
      .groupBy((keys :+ "pos").map(col): _*)
      .agg(
        sum(floor(col("v").cast(DoubleType) * 10000000.0).cast(LongType)).as("s"),
        count(lit(1)).as("n"))

  /** THE fixed-point centroid mean: per-key (keys…, cv, n) from the
    * (keys…, pos, s, n) sums of [[fixedSums]] — one divide per element,
    * the vector reassembled in pos order, n the member count. */
  private[llm] def fixedMean(sums: DataFrame, keys: String*): DataFrame =
    sums.select(keys.map(col) :+ col("pos") :+ col("n") :+
        (col("s").cast(DoubleType) / col("n").cast(DoubleType) / 10000000.0).as("c"): _*)
      .groupBy(keys.map(col): _*)
      .agg(
        transform(array_sort(collect_list(struct(col("pos"), col("c")))), s => s("c"))
          .as("cv"),
        max(col("n")).as("n"))

  /** Array-shaped centroids (label, centroid, n_vectors) — the internal
    * training artifact, checked element-wise by BehaviorSpec. The GATED
    * query emits the exploded scalar form instead: the oracle comparator
    * hashes scalar cells and cannot sort a raw `array<double>` column. */
  private[graft] def centroidVectors(spark: SparkSession, dir: String): DataFrame =
    fixedMean(fixedSums(emb(spark, dir), "embedding", "label"), "label")
      .select(col("label"), col("cv").as("centroid"), col("n").as("n_vectors"))
      .orderBy("label")

  val simCentroids: QueryDef = QueryDef(
    "sim_centroids",
    Some("""
      WITH ex AS (
        SELECT label,
               unnest(range(0, len(embedding))) AS pos,
               unnest(embedding) AS v
        FROM embeddings),
      per AS (
        SELECT label, pos,
               CAST(sum(CAST(floor(CAST(v AS DOUBLE) * 10000000.0) AS BIGINT)) AS BIGINT) AS s,
               count(*) AS n
        FROM ex GROUP BY 1, 2)
      SELECT label, CAST(pos AS BIGINT) AS pos,
             round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 10000000.0, 6) AS c_r,
             CAST(n AS BIGINT) AS n_vectors
      FROM per ORDER BY label, pos
    """)) { (spark, dir) =>
    fixedMean(fixedSums(emb(spark, dir), "embedding", "label"), "label")
      .select(col("label"), col("n").as("n_vectors"),
        posexplode(col("cv")).as(Seq("pos", "c")))
      .select(col("label"), col("pos").cast(LongType).as("pos"),
        round(col("c"), 6).as("c_r"), col("n_vectors"))
      .orderBy("label", "pos")
  }

  /** sim7 — one full LLOYD'S K-MEANS round trip (seed → assign → exact
    * recompute → reassign), the training loop [[simCentroids]] is the
    * inner step of. Assignment minimizes squared L2 via the expansion
    * `‖c‖² − 2x·c` (‖x‖² is constant per vector and drops out of the
    * argmin); the per-centroid norm is precomputed once and travels
    * inside the SAME broadcast row as the centroid, so each pass is a
    * map-side higher-order argmin — no shuffle ever carries a vector,
    * exactly the [[simIvfProbe]] posture. Recomputed centroids go through
    * the 1e-7 fixed-point mean, so iteration 2 starts from bit-identical
    * doubles on both engines and every downstream distance agrees.
    * Unrolled to 2 assignment passes — at scale each extra round is one
    * more map pass plus one (cell, pos) aggregate, never a join. */
  val simKmeans: QueryDef = QueryDef(
    "sim_kmeans",
    Some(s"""
      WITH c0 AS (
        SELECT CAST(vec_id AS INTEGER) AS cent_id, embedding AS cv
        FROM embeddings WHERE vec_id < 8),
      a1 AS (
        SELECT e.vec_id, e.embedding,
               arg_min(c.cent_id,
                 ${dotSql("c.cv", "c.cv")} - 2 * ${dotSql("e.embedding", "c.cv")}
                   + 1e-12 * c.cent_id) AS cell
        FROM embeddings e, c0 c
        GROUP BY e.vec_id, e.embedding),
      ex AS (
        SELECT cell, unnest(range(0, len(embedding))) AS pos, unnest(embedding) AS v
        FROM a1),
      per AS (
        SELECT cell, pos,
               CAST(sum(CAST(floor(CAST(v AS DOUBLE) * 10000000.0) AS BIGINT)) AS BIGINT) AS s,
               count(*) AS n
        FROM ex GROUP BY 1, 2),
      c1 AS (
        SELECT cell AS cent_id,
               list(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 10000000.0 ORDER BY pos) AS cv
        FROM per GROUP BY cell),
      a2 AS (
        SELECT e.vec_id,
               arg_min(c.cent_id,
                 ${dotSql("c.cv", "c.cv")} - 2 * ${dotSql("e.embedding", "c.cv")}
                   + 1e-12 * c.cent_id) AS cell
        FROM embeddings e, c1 c
        GROUP BY e.vec_id, e.embedding),
      sizes AS (SELECT cell, count(*) AS n_members FROM a2 GROUP BY 1),
      exploded AS (
        SELECT cent_id, unnest(range(0, len(cv))) AS pos, unnest(cv) AS v FROM c1)
      SELECT e.cent_id AS cluster_id, CAST(e.pos AS BIGINT) AS pos,
             round(e.v, 6) AS c_r,
             CAST(coalesce(s.n_members, 0) AS BIGINT) AS n_members
      FROM exploded e LEFT JOIN sizes s ON e.cent_id = s.cell
      ORDER BY cluster_id, pos
    """)) { (spark, dir) =>
    val e = emb(spark, dir).select(col("vec_id"), col("embedding"))
    val cents0 = e.filter(col("vec_id") < 8)
      .select(col("vec_id").cast(IntegerType).as("cent_id"),
        col("embedding").cast(ArrayType(DoubleType)).as("cv"))
    val cents1 = fixedMean(fixedSums(kmAssign(e, cents0), "embedding", "cell"), "cell")
      .select(col("cell").as("cent_id"), col("cv"))
    val sizes = kmAssign(e, cents1).groupBy(col("cell")).agg(count(lit(1)).as("n_members"))
    // gated shape: exploded (cluster_id, pos, rounded value) scalar rows —
    // the oracle comparator cannot sort a raw array<double> centroid column
    cents1.join(sizes, col("cent_id") === col("cell"), "left")
      .select(col("cent_id").as("cluster_id"),
        coalesce(col("n_members"), lit(0L)).as("n_members"),
        posexplode(col("cv")).as(Seq("pos", "v")))
      .select(col("cluster_id"), col("pos").cast(LongType).as("pos"),
        round(col("v"), 6).as("c_r"), col("n_members"))
      .orderBy("cluster_id", "pos")
  }

  /** DuckDB CTE pair for one Lloyd's round: assignment ${p}a$r from
    * ${p}c${r-1}, fixed-point recompute ${p}c$r. Generated per round so
    * the pinned-N oracle stays mechanical instead of hand-unrolled; the
    * prefix lets one oracle carry several independently-trained
    * quantizers ([[simIvfCells]] trains two sizes side by side). The
    * round's output centroid CTE is MATERIALIZED: without the hint
    * DuckDB may re-inline the whole upstream chain per reference and
    * the 8-round training goes exponential (measured 451 s → 1.0 s at
    * sf0.01 on a filtered source — the `WITH ... AS MATERIALIZED`
    * rule from the sim_opq_rotation oracle, applied per round). */
  private def kmRoundSql(r: Int, p: String = "", src: String = "embeddings"): String = {
    val sc = s"${dotSql("c.cv", "c.cv")} - 2 * ${dotSql("e.embedding", "c.cv")} + 1e-12 * c.cent_id"
    s"""${p}a$r AS (
        SELECT e.vec_id, e.embedding,
               arg_min(c.cent_id, $sc) AS cell
        FROM $src e, ${p}c${r - 1} c
        GROUP BY e.vec_id, e.embedding),
      ${p}ex$r AS (
        SELECT cell, unnest(range(0, len(embedding))) AS pos, unnest(embedding) AS v
        FROM ${p}a$r),
      ${p}per$r AS (
        SELECT cell, pos,
               CAST(sum(CAST(floor(CAST(v AS DOUBLE) * 10000000.0) AS BIGINT)) AS BIGINT) AS s,
               count(*) AS n
        FROM ${p}ex$r GROUP BY 1, 2),
      ${p}c$r AS MATERIALIZED (
        SELECT cell AS cent_id,
               list(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 10000000.0 ORDER BY pos) AS cv
        FROM ${p}per$r GROUP BY cell)"""
  }

  /** THE nearest-centroid assignment: one broadcast-argmin Lloyd pass of
    * `e`(vec_id, embedding) against a (cent_id, cv) centroid frame —
    * min ‖x−c‖² via the ‖c‖²−2x·c expansion (centroids travel with their
    * norms in ONE broadcast row), 1e-12·cent_id tie bias, plus the
    * 1e-7-quantized squared distance of the chosen centroid (bias
    * included on both engines, so the doubles are identical). */
  private def kmAssign(e: DataFrame, cents: DataFrame): DataFrame = {
    val packed = cents
      .withColumn("cc", dot(col("cv"), col("cv")))
      .agg(collect_list(struct(col("cent_id"), col("cv"), col("cc"))).as("cents"))
    val best = array_min(transform(col("cents"), c => struct(
      (c("cc") - lit(2.0) * dot(col("embedding"), c("cv"))
        + lit(1e-12) * c("cent_id")).as("score"),
      c("cent_id").as("cent_id"))))
    e.crossJoin(broadcast(packed))
      .withColumn("best", best)
      .select(col("vec_id"), col("embedding"),
        col("best")("cent_id").as("cell"),
        floor((col("best")("score") + dot(col("embedding"), col("embedding")))
          * lit(10000000.0)).cast(LongType).as("dist_q"))
  }

  /** The budgeted Lloyd training loop: seeds = the first `k` vectors,
    * then at most `rounds` assignment passes, each one action (its
    * signature job, which also computes the previous round's lazy
    * recompute). An unchanged assignment makes every remaining recompute
    * a bit-identical no-op, so the early exit equals the oracle's pinned
    * unroll. (A fully lazy `rounds`-deep chain was tried and reverted: it
    * always pays the whole budget, and the trainers here converge early.)
    * Returns the checkpointed centroids. `seedFilter` overrides the
    * default first-k-ids seed pick for sources whose ids are not dense
    * from 0 ([[simIndexAppend]]'s base-only training). */
  private def lloydCells(e: DataFrame, k: Int, rounds: Int,
      seedFilter: Column = null): DataFrame = {
    val seeds = e.filter(Option(seedFilter).getOrElse(col("vec_id") < k))
      .select(col("vec_id").cast(IntegerType).as("cent_id"),
        col("embedding").cast(ArrayType(DoubleType)).as("cv"))
    // state: (centroids, the assignment checkpoint they are a lazy mean of)
    val (cents, a) = Fixpoint.run((seeds, null: DataFrame), rounds,
        (st: (DataFrame, DataFrame)) => core.release(st._2)) { case ((c, _), _) =>
      val a = kmAssign(e, c).localCheckpoint(false)
      val sig = Fixpoint.frameSig(a, "vec_id", "cell")
      ((fixedMean(fixedSums(a, "embedding", "cell"), "cell")
        .select(col("cell").as("cent_id"), col("cv")), a), sig)
    }.state
    // one checkpoint for the (possibly many) downstream consumers; only
    // then release the assignment its lineage reads
    val out = cents.localCheckpoint(true)
    core.release(a)
    out
  }

  /** Pinned round budget for [[simKmeansConverged]] — the oracle unrolls
    * exactly this many recomputes; the Spark loop may exit earlier at the
    * assignment fixpoint because the remaining rounds are provable no-ops. */
  private val KmRounds = 4

  /** sim8 — CONVERGENCE-CHECKED k-means training loop (round-9 queue #6):
    * [[simKmeans]] is one unrolled round trip; this is the real loop —
    * assign → exact fixed-point recompute, repeated until the assignment
    * reaches a FIXPOINT or the pinned budget of [[KmRounds]] recomputes is
    * spent, then a final assignment pass for membership + inertia.
    *
    * Determinism vs early exit: the oracle replays exactly [[KmRounds]]
    * rounds. The Spark loop compares each round's assignment signature
    * (count + commutative hash sum — ONE driver scalar per round, the
    * [[graft.llm.Cluster.components]] discipline) with the previous
    * round's; equal assignments ⇒ the recompute reproduces the same
    * centroids bit-for-bit (fixed-point integer means) ⇒ every remaining
    * round is a no-op, so stopping early yields the identical result the
    * pinned unroll does. Per-round cost at 100 TB: one broadcast-argmin
    * map pass over the vectors plus one (cell, pos) partial-aggregated
    * recompute — no shuffle ever carries a vector; each round's
    * assignment is localCheckpoint'ed so the lineage doesn't grow with
    * the round count. Inertia is the standard convergence metric a real
    * training job logs: per-vector squared distance quantized to 1e-7
    * fixed point (identical IEEE chain on both engines), summed as exact
    * BIGINTs — order-insensitive at any parallelism. */
  val simKmeansConverged: QueryDef = QueryDef(
    "sim_kmeans_converged",
    Some {
      val sc = s"${dotSql("c.cv", "c.cv")} - 2 * ${dotSql("e.embedding", "c.cv")} + 1e-12 * c.cent_id"
      s"""
      WITH c0 AS (
        SELECT CAST(vec_id AS INTEGER) AS cent_id, embedding AS cv
        FROM embeddings WHERE vec_id < 8),
      ${(1 to KmRounds).map(r => kmRoundSql(r)).mkString(",\n      ")},
      af AS (
        SELECT e.vec_id,
               arg_min(c.cent_id, $sc) AS cell,
               CAST(floor((min($sc) + ${dotSql("e.embedding", "e.embedding")})
                      * 10000000.0) AS BIGINT) AS dist_q
        FROM embeddings e, c$KmRounds c
        GROUP BY e.vec_id, e.embedding),
      sizes AS (
        SELECT cell, count(*) AS n_members, CAST(sum(dist_q) AS BIGINT) AS inertia_q
        FROM af GROUP BY cell),
      exploded AS (
        SELECT cent_id, unnest(range(0, len(cv))) AS pos, unnest(cv) AS v FROM c$KmRounds)
      SELECT e.cent_id AS cluster_id, CAST(e.pos AS BIGINT) AS pos,
             round(e.v, 6) AS c_r,
             CAST(coalesce(s.n_members, 0) AS BIGINT) AS n_members,
             CAST(coalesce(s.inertia_q, 0) AS BIGINT) AS inertia_q
      FROM exploded e LEFT JOIN sizes s ON e.cent_id = s.cell
      ORDER BY cluster_id, pos
    """
    }) { (spark, dir) =>
    val e = emb(spark, dir).select(col("vec_id"), col("embedding"))
    val cents = lloydCells(e, 8, KmRounds)
    val fin = kmAssign(e, cents)
    val sizes = fin.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"), sum(col("dist_q")).as("inertia_q"))
    cents.join(sizes, col("cent_id") === col("cell"), "left")
      .select(col("cent_id").as("cluster_id"),
        coalesce(col("n_members"), lit(0L)).as("n_members"),
        coalesce(col("inertia_q"), lit(0L)).as("inertia_q"),
        posexplode(col("cv")).as(Seq("pos", "v")))
      .select(col("cluster_id"), col("pos").cast(LongType).as("pos"),
        round(col("v"), 6).as("c_r"), col("n_members"), col("inertia_q"))
      .orderBy("cluster_id", "pos")
  }

  /** sim7 — SEMANTIC dedup, cluster-scoped (the SemDeDup recipe: k-means
    * the corpus into K cells, then look for near-duplicates ONLY inside a
    * cell — O(n²/K) candidate pairs instead of the all-pairs O(n²) no
    * 100 TB corpus survives). Candidates here are the 8 IVF cells the
    * search gates already maintain; "semantic" near-dups are planted by
    * mixing each source vector 20% toward its own cell centroid
    * (cos ≈ 0.96–0.99 — close in meaning, not bit-identical the way
    * dedup_embedding_cosine's exact copies are), and the verdict rule is
    * SemDeDup's: drop a vector iff a lower-id vector in the SAME cell has
    * cosine ≥ τ with it.
    *
    * τ = 0.95 sits in a wide deterministic margin: every planted
    * (source, mixed-copy) pair lands ≥ 0.96 (cos = (0.8 + 0.2s)/√(0.68 +
    * 0.32s) ≥ 0.96 for any source-to-centroid dot s ∈ [-1, 1]), while
    * every OTHER pair is bounded < 0.9 because the corpus' natural max
    * pairwise cosine is ~0.53 (measured at sf0.01 and sf0.1) and mixing
    * two DIFFERENT sources toward one shared centroid cannot lift their
    * cosine past (0.64·0.53 + 0.32·0.53 + 0.04)/0.68 < 0.9. No pair is
    * ever decided at float-boundary scale.
    *
    * Cross-engine determinism: mixed vectors are built in double with the
    * same per-element expression on both engines (float→double is exact),
    * norms and pair dots are the usual sequential folds, and the final
    * cosine is one multiply + one divide in the same order — bit-identical
    * doubles throughout, so the τ comparison can never disagree. The
    * planted copy KEEPS its source's cell rather than re-running argmax:
    * moving toward the winning centroid only widens that centroid's
    * winning margin (0.8s_max + 0.2 > 0.8s_j + 0.2·c_jc for any j), so
    * assignment is provably unchanged and both engines skip it.
    *
    * Shape at 100 TB: one broadcast of K centroids, one map pass to tag
    * cells + norms, ONE shuffle by cell, pairwise only within cells (the
    * SemDeDup trade: K controls the n²/K candidate budget), and nothing
    * past the scan but (id, cell, cos) scalars in the aggregate. */
  val simSemanticDedup: QueryDef = QueryDef(
    "sim_semantic_dedup",
    Some(s"""
      WITH cents AS (
        SELECT vec_id AS cent_id, embedding AS cv FROM embeddings WHERE vec_id < 8),
      assigned AS (
        SELECT e.vec_id, e.embedding,
               arg_max(c.cent_id, ${dotSql("e.embedding", "c.cv")} - 1e-12 * c.cent_id) AS cell
        FROM embeddings e, cents c
        GROUP BY e.vec_id, e.embedding),
      src AS (
        SELECT vec_id, cell,
               list_transform(range(1, ${EmbDim + 1}), i -> CAST(embedding[i] AS DOUBLE)) AS v
        FROM assigned
        UNION ALL
        SELECT a.vec_id + 500000, a.cell,
               list_transform(range(1, ${EmbDim + 1}),
                 i -> 0.8 * CAST(a.embedding[i] AS DOUBLE) + 0.2 * CAST(c.cv[i] AS DOUBLE))
        FROM assigned a JOIN cents c ON c.cent_id = a.cell
        WHERE a.vec_id % 5 = 1),
      normed AS (
        SELECT vec_id, cell, v,
               sqrt(list_reduce(list_transform(range(1, ${EmbDim + 1}), i -> v[i] * v[i]),
                 (x, y) -> x + y)) AS nrm
        FROM src),
      pairs AS (
        SELECT b.vec_id AS dup_id, b.cell AS cell, a.vec_id AS a_id,
               list_reduce(list_transform(range(1, ${EmbDim + 1}), i -> a.v[i] * b.v[i]),
                 (x, y) -> x + y) / (a.nrm * b.nrm) AS cos
        FROM normed a JOIN normed b ON a.cell = b.cell AND a.vec_id < b.vec_id)
      SELECT dup_id, cell, min(a_id) AS keeper_id,
             count(*) AS n_sim, round(max(cos), 6) AS score_r
      FROM pairs WHERE cos >= 0.95
      GROUP BY dup_id, cell
      ORDER BY dup_id
    """)) { (spark, dir) =>
    val assigned = ivfAssigned(spark, dir)
    val asDouble = transform(col("embedding"), x => x.cast(DoubleType))
    val base = assigned.select(col("vec_id"), col("cell"), asDouble.as("v"))
    // own-cell centroid plucked from the broadcast struct list — the mixed
    // copy provably stays in its source's cell (see scaladoc)
    val ownCv = element_at(
      filter(col("cents"), c => c("cent_id") === col("cell")), 1)("cv")
    val planted = assigned.filter(col("vec_id") % 5 === 1)
      .crossJoin(broadcast(ivfCentroids(emb(spark, dir))))
      .select((col("vec_id") + 500000L).as("vec_id"), col("cell"),
        zip_with(col("embedding"), ownCv,
          (x, y) => lit(0.8) * x.cast(DoubleType) + lit(0.2) * y.cast(DoubleType))
          .as("v"))
    val normed = base.unionAll(planted)
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      // compute-once barrier for both self-join sides (the Cluster.scala
      // discipline): without it each side re-runs the scan + broadcast
      // argmax assignment + planted-copy build + norm fold — doubling the
      // dominant cost, since exchange reuse is not guaranteed
      .persist()
    val a = normed.select(col("vec_id").as("a_id"), col("cell"),
      col("v").as("va"), col("nrm").as("na"))
    val b = normed.select(col("vec_id").as("dup_id"), col("cell"),
      col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("cell"))
      .filter(col("a_id") < col("dup_id"))
      .select(col("dup_id"), col("cell"), col("a_id"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= 0.95)
      .groupBy("dup_id", "cell")
      .agg(min(col("a_id")).as("keeper_id"),
        count(lit(1)).as("n_sim"),
        round(max(col("cos")), 6).as("score_r"))
      .orderBy("dup_id")
  }

  // -------------------------------------------------------------------
  // Product quantization (shared by simPqEncode and simPqSearch — one
  // definition of the subspace geometry, the distance fold, and the
  // argmin tie-break, so encode and search can never desynchronize).
  // -------------------------------------------------------------------

  /** PQ subspace count × width (M × sub = the 64-dim embedding). */
  private[graft] val PqM = 4
  private[graft] val PqSub = 16

  /** Codewords per subspace of the SERVED product quantizer (6-bit codes).
    * The value is the MEASURED optimum, not a guess: `sim_pq_codebook_size`
    * trains the converged book at k* ∈ {8, 32, 64} and grades each by
    * beam-200 recall@10 over the held-out query set — 0.5625 → 0.5875 →
    * 0.625 at sf0.1 under the round-17 honest query window (the seeded
    * window read 0.51 → 0.78 → 0.84: most of the apparent 32→64 jump was
    * the queries sitting inside the larger seed prefix, but the ordering
    * that drove the adoption holds — recall still rises with k*, and
    * trained distortion falls strictly). Round 15 adopts the measured-best size in every default
    * read path (encode, ADC search, IVFADC raw + residual, re-rank,
    * recall harness, frontier), per the r14 verdict's top item; the
    * codebook-size gate keeps measuring all three rungs so a corpus where
    * a different k* wins is caught by the same harness. Seeds = the first
    * PqK vectors' subvectors (nested with the smaller rungs by
    * construction). Production PQ ships k* = 256 (8-bit codes); 64 keeps
    * the didactic oracles replayable while serving the best measured
    * operating point on this corpus. */
  private[graft] val PqK = 64

  // The held-out-window disjointness invariant — asserted HERE, after
  // both PqK and the window constants are initialized (see the QLo
  // scaladoc at the top of the object). PqK/4*5 is the frozen-base
  // residual book's seed bound (first PqK base rows of the %5<4
  // lattice — convergedResBaseBook), the widest seed range in the file.
  require(QLo >= 8 + PqK && QLo >= PqK / 4 * 5 && QLo >= 32 &&
    QHi > QLo && Q1 >= QLo && Q1 < QHi,
    s"held-out query window [$QLo, $QHi) must sit above every seed range " +
      s"(coarse [0,32), PQ [0,$PqK), residual [8,${8 + PqK}), " +
      s"frozen-base residual [0,${PqK / 4 * 5}))")

  /** DuckDB squared-L2 between subspace `m` of two array expressions —
    * same sequential fold (and the same bracketing) as the Spark twin. */
  private def pqSubSqSql(a: String, b: String, m: Int): String = {
    val off = m * PqSub
    s"""list_reduce(list_transform(range(1, ${PqSub + 1}),
        i -> (CAST($a[i + $off] AS DOUBLE) - CAST($b[i + $off] AS DOUBLE))
           * (CAST($a[i + $off] AS DOUBLE) - CAST($b[i + $off] AS DOUBLE))),
        (x, y) -> x + y)"""
  }

  /** Sequential-fold squared L2 between two equal-length arrays — THE
    * Spark subspace distance: [[pqSubSq]], every query LUT ([[pqLut]])
    * and the dimension-layout audit fold through it. */
  private def pqSq(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x.cast(DoubleType) - y.cast(DoubleType)) *
        (x.cast(DoubleType) - y.cast(DoubleType))),
      lit(0.0), (acc, v) => acc + v)

  /** DuckDB twin of [[pqSq]] for 16-element lists. */
  private def pqSqSql16(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, ${PqSub + 1}),
        i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))
           * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))),
        (x, y) -> x + y)"""

  /** Squared L2 over [[PqSub]]-long list slices (CAST-to-double on the
    * left leg, no-op on double inputs) — the oracle fragment every
    * ADC/encode CTE shares. */
  private def sqSubSql(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, ${PqSub + 1}),
           i -> (CAST($a[i] AS DOUBLE) - $b[i]) * (CAST($a[i] AS DOUBLE) - $b[i])),
           (x, y) -> x + y)"""

  /** [[sqSubSql]] for two legs that are already DOUBLE lists (no CAST) —
    * the text the residual and query-set oracles replay. */
  private def sqSubSqlD(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, ${PqSub + 1}),
           i -> ($a[i] - $b[i]) * ($a[i] - $b[i])),
           (x, y) -> x + y)"""

  /** Shared oracle fragment — the wide code table of `src`(vec_id, m, sv)
    * under `book`(m, code, cv): per subvector the argmin of `dist` (the
    * distance text over `s.sv` and `b.cv`) + 1e-12·code, pivoted to
    * (vec_id, code0 … code(M−1)). */
  private def encWideSql(src: String, book: String, dist: String): String = s"""
        SELECT vec_id,
               ${(0 until PqM).map(m => s"max(CASE WHEN m = $m THEN code END) AS code$m").mkString(",\n               ")}
        FROM (
          SELECT s.vec_id, s.m,
                 arg_min(b.code, $dist + 1e-12 * b.code) AS code
          FROM $src s JOIN $book b ON s.m = b.m
          GROUP BY s.vec_id, s.m, s.sv)
        GROUP BY vec_id"""

  /** The oracle's subspace index CTE, rendered from [[PqM]]. */
  private def msSql: String = s"ms AS (SELECT unnest([${(0 until PqM).mkString(", ")}]) AS m)"

  /** Subspace `m` of an array column: elements m·[[PqSub]] + 1 ..
    * (m + 1)·[[PqSub]] — THE PQ layout, the one place it is written. */
  private def pqSub(a: Column, m: Int): Column = slice(a, m * PqSub + 1, PqSub)

  /** Spark twin of [[pqSubSqSql]]. */
  private def pqSubSq(a: Column, b: Column, m: Int): Column = pqSq(pqSub(a, m), pqSub(b, m))

  /** THE PQ subspace split: one row per subspace m of `df`'s array column
    * `vec` — (every other column of `df`, m, `as` = [[pqSub]](vec, m)).
    * Every subvector stream, seed book and query split in the file is
    * this explode. */
  private def pqSplit(df: DataFrame, vec: String, as: String = "sv"): DataFrame = {
    val keep = df.columns.toSeq.filterNot(_ == vec).map(col)
    df.select(keep :+ explode(array((0 until PqM).map(m =>
        struct(lit(m).as("m"), pqSub(col(vec), m).as(as))): _*)).as("x"): _*)
      .select(keep ++ Seq(col("x.m").as("m"), col(s"x.$as").as(as)): _*)
  }

  /** THE per-subspace pivot: one row per `keys` group of an (…, m, …)
    * frame, column `$name$m` = the group's `value` at subspace m, for
    * each (value, name) pair — the wide code and distance layout both
    * engines replay (`max(CASE WHEN m = … END)` in the oracles). */
  private def pqWide(df: DataFrame, keys: Seq[Column], fields: (Column, String)*): DataFrame = {
    val aggs = for ((v, name) <- fields; m <- 0 until PqM)
      yield max(when(col("m") === m, v)).as(s"$name$m")
    df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** The fixed-order sum `$name`0 + … + `$name`(M−1) over a [[pqWide]]
    * frame — the order both engines add in, so the doubles agree. */
  private def pqTotal(name: String): Column = (0 until PqM).map(m => col(s"$name$m")).reduce(_ + _)

  /** A seed book from `rows`' array column `vec`: (m, code, cv
    * ARRAY<DOUBLE>), code = `code` (the row's vec_id by default). */
  private def pqSeedBook(rows: DataFrame, vec: String, code: Column = col("vec_id")): DataFrame =
    pqSplit(rows.select(code.cast(LongType).as("code"), col(vec)), vec, "cv")
      .select(col("m"), col("code"), col("cv").cast(ArrayType(DoubleType)).as("cv"))

  /** The single-query frame (qid, qv) of the ladder query [[Q1]]. */
  private def q1Frame(spark: SparkSession, dir: String): DataFrame =
    emb(spark, dir).filter(col("vec_id") === Q1)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))

  /** sim10 — PRODUCT QUANTIZATION encode (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011 — the standard
    * compression layer under billion-scale ANN, and the natural companion
    * to [[simIvfProbe]]: IVF prunes which vectors to scan, PQ shrinks what
    * each scan reads). The 64-dim space splits into M=4 independent
    * 16-dim subspaces; each subvector quantizes to its nearest of [[PqK]]
    * = 64 codewords (argmin squared L2, ties toward the lower code via the
    * 1e-12 bias the oracle replays), so a vector stores as 4 small codes —
    * 256 bytes of floats → 4 six-bit codes — plus one shared codebook.
    * Codebook = the suite's deterministic seed vectors (vec_id < [[PqK]],
    * sliced per subspace — the measured-best size, see [[PqK]]);
    * [[simKmeansConverged]] is the trained-codebook path.
    * Posture at 100 TB: the codebook folds into ONE broadcast row, encode
    * is a map-only pass (no shuffle ever carries a vector), and the
    * emitted `recon_r` (total squared distortion, the PQ training loss) is
    * the same sequential-fold double discipline as every sim gate. The
    * zip_with/aggregate folds run on the interpreted HOF path — fine for
    * an encode pass that runs once per corpus snapshot; the
    * [[graft.functions.DotFold]]-style native expression is the known
    * rewrite if a profiler ranks it. */
  val simPqEncode: QueryDef = {
    val dCols = (0 until PqM)
      .map(m => s"${pqSubSqSql("e.embedding", "c.cv", m)} AS d$m")
      .mkString(",\n               ")
    val encCols = (0 until PqM).map(m =>
      s"arg_min(cid, d$m + 1e-12 * cid) AS code$m, min(d$m + 1e-12 * cid) AS r$m")
      .mkString(",\n               ")
    QueryDef(
      "sim_pq_encode",
      Some(s"""
        WITH cents AS (
          SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < $PqK),
        d AS (
          SELECT e.vec_id, e.label, c.cid,
               $dCols
          FROM embeddings e, cents c),
        enc AS (
          SELECT vec_id, label,
               $encCols
          FROM d GROUP BY vec_id, label)
        SELECT vec_id, label, code0, code1, code2, code3,
               round(r0 + r1 + r2 + r3, 6) AS recon_r
        FROM enc ORDER BY vec_id
      """)) { (spark, dir) =>
      val best = pqSplit(emb(spark, dir).select("vec_id", "label", "embedding"), "embedding")
        .crossJoin(broadcast(pqBookRow(pqSeedBook(emb(spark, dir).filter(col("vec_id") < PqK),
          "embedding"))))
        .select(col("vec_id"), col("label"), col("m"), pqBookBest.as("b"))
      pqWide(best, Seq(col("vec_id"), col("label")), col("b.code") -> "code", col("b.d") -> "r")
        .select(Seq(col("vec_id"), col("label")) ++ (0 until PqM).map(m => col(s"code$m")) :+
          round(pqTotal("r"), 6).as("recon_r"): _*)
        .orderBy("vec_id")
    }
  }

  /** sim11 — PQ ASYMMETRIC-DISTANCE search (the payoff of
    * [[simPqEncode]]): answer a query by scanning CODES, not vectors. The
    * query precomputes its squared distance to each of the [[PqK]] = 64
    * codewords per subspace — a 256-entry lookup table, here a 64-row
    * frame with one column per subspace — and every encoded vector's approximate distance
    * is just Σ_m lut[code_m]: four broadcast joins against the tiny table,
    * zero vector arithmetic per corpus row. At 100 TB this is the design
    * point: the scan touches 4 codes/vector instead of 256 bytes of
    * floats, the LUT broadcast is constant-size, and only (id, score)
    * scalars ever rank. Fixed-order double sum (qd0+qd1+qd2+qd3) and
    * pinned tie-breaks keep both engines bit-identical. */
  val simPqSearch: QueryDef = {
    val dCols = (0 until PqM)
      .map(m => s"${pqSubSqSql("e.embedding", "c.cv", m)} AS d$m")
      .mkString(",\n               ")
    val encCols = (0 until PqM).map(m => s"arg_min(cid, d$m + 1e-12 * cid) AS code$m")
      .mkString(",\n               ")
    val qdCols = (0 until PqM)
      .map(m => s"${pqSubSqSql("q.embedding", "c.cv", m)} AS qd$m")
      .mkString(",\n               ")
    QueryDef(
      "sim_pq_search",
      Some(s"""
        WITH cents AS (
          SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < $PqK),
        d AS (
          SELECT e.vec_id, e.label, c.cid,
               $dCols
          FROM embeddings e, cents c),
        enc AS (
          SELECT vec_id, label,
               $encCols
          FROM d GROUP BY vec_id, label),
        qd AS (
          SELECT c.cid,
               $qdCols
          FROM cents c, (SELECT embedding FROM embeddings WHERE vec_id = $Q1) q)
        SELECT e.vec_id, e.label,
               round(q0.qd0 + q1.qd1 + q2.qd2 + q3.qd3, 6) AS adc_r
        FROM enc e
        JOIN qd q0 ON e.code0 = q0.cid
        JOIN qd q1 ON e.code1 = q1.cid
        JOIN qd q2 ON e.code2 = q2.cid
        JOIN qd q3 ON e.code3 = q3.cid
        ORDER BY q0.qd0 + q1.qd1 + q2.qd2 + q3.qd3, e.vec_id
        LIMIT 10
      """)) { (spark, dir) =>
      seededAdcScores(spark, dir)
        .orderBy(col("score"), col("vec_id"))
        .limit(10)
        .select(col("vec_id"), col("label"), round(col("score"), 6).as("adc_r"))
    }
  }

  /** The seeded-codebook ADC scan shared by [[simPqSearch]] and
    * [[simAnnRecall]]: every vector encoded under the seed book, scored
    * against query [[Q1]]'s 4·[[PqK]]-entry LUT by [[adcSum]]. Returns
    * the full (vec_id, label, score) frame, pre-ranking. */
  private def seededAdcScores(spark: SparkSession, dir: String): DataFrame = {
    val book = pqSeedBook(emb(spark, dir).filter(col("vec_id") < PqK), "embedding")
    val enc = pqEncode(
      pqSplit(emb(spark, dir).select("vec_id", "label", "embedding"), "embedding"), book)
    adcSum(enc, pqLut(q1Frame(spark, dir).select("qv"), book), Seq("m", "code"))
  }

  /** sim12 — PQ codebook TRAINING: one Lloyd round per subspace, the step
    * that upgrades [[simPqEncode]]'s seeded codebook into a learned one
    * (real PQ trains k-means independently in each subspace — Jégou et
    * al. §III). Per subspace: assign every subvector to its nearest seed
    * codeword (argmin squared L2, the encode gate's exact tie-break),
    * then recompute each non-empty codeword as the fixed-point-exact mean
    * of its members — the [[simCentroids]] 1e-7 bigint discipline, so the
    * trained codebook is bit-identical at any parallelism. Emitted as
    * exploded scalar rows (subspace, code, pos, c_r, n_members), the same
    * oracle-comparable shape as the k-means gates. Shape at 100 TB: the
    * 4·[[PqK]]-codeword table folds into one broadcast row, assignment is a
    * map-only pass over (vec, subspace) rows, and the recompute shuffles
    * only (m, cell, pos) integer partials — 4× the rows of one k-means
    * round, never a vector in a shuffle. */
  val simPqTrain: QueryDef = QueryDef(
    "sim_pq_train",
    Some(s"""
      WITH $msSql,
      sub AS (
        SELECT e.vec_id, ms.m,
               list_slice(e.embedding, ms.m * $PqSub + 1, ms.m * $PqSub + $PqSub) AS sv
        FROM embeddings e, ms),
      csub AS (
        SELECT c.vec_id AS cid, ms.m,
               list_slice(c.embedding, ms.m * $PqSub + 1, ms.m * $PqSub + $PqSub) AS cs
        FROM embeddings c, ms WHERE c.vec_id < $PqK),
      assigned AS (
        SELECT s.vec_id, s.m, s.sv,
               arg_min(c.cid, ${pqSqSql16("s.sv", "c.cs")} + 1e-12 * c.cid) AS cell
        FROM sub s JOIN csub c ON s.m = c.m
        GROUP BY s.vec_id, s.m, s.sv),
      ex AS (
        SELECT m, cell, unnest(range(0, $PqSub)) AS pos, unnest(sv) AS v
        FROM assigned),
      per AS (
        SELECT m, cell, pos,
               CAST(sum(CAST(floor(CAST(v AS DOUBLE) * 10000000.0) AS BIGINT)) AS BIGINT) AS s,
               count(*) AS n
        FROM ex GROUP BY m, cell, pos)
      SELECT CAST(m AS BIGINT) AS m, cell AS code, CAST(pos AS BIGINT) AS pos,
             -- floor-quantized display (not round): both engines floor the
             -- bit-identical double, so a mean sitting on a 5e-7 half
             -- boundary cannot straddle the engines' round conventions
             -- (Spark rounds the shortest decimal repr via BigDecimal,
             -- DuckDB rounds the scaled double — they split exactly at
             -- halves, which the 64-code book's denser cells now hit)
             floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 10000000.0 * 1000000.0)
               / 1000000.0 AS c_r,
             CAST(n AS BIGINT) AS n_members
      FROM per ORDER BY m, code, pos
    """)) { (spark, dir) =>
    pqTrainedElems(spark, dir)
      .select(col("m").cast(LongType).as("m"), col("cell").as("code"),
        col("pos").cast(LongType).as("pos"),
        (floor(col("s").cast(DoubleType) / col("n").cast(DoubleType) / 10000000.0
          * 1000000.0) / 1000000.0).as("c_r"),
        col("n").as("n_members"))
      .orderBy("m", "code", "pos")
  }

  /** The trained-codebook training pass shared by [[simPqTrain]] (exploded
    * scalar gate shape) and [[simIvfAdc]] (array-shaped read path): per
    * (m, cell, pos) fixed-point integer sums + member counts after one
    * Lloyd assignment round per subspace against the seed codewords. */
  private def pqTrainedElems(spark: SparkSession, dir: String): DataFrame = {
    val sub = rawSub(spark, dir)
    // m-INDEXED book (books[m+1] = that subspace's [[PqK]] codewords): the
    // old single-list layout re-scanned all M·K structs per row through a
    // filter() lambda — dead allocation that made this gate's wall time
    // track host load ~9x (r19 What's-wrong #1)
    val cbook = pqSplit(emb(spark, dir).filter(col("vec_id") < PqK)
        .select(col("vec_id").as("cid"), col("embedding")), "embedding", "cs")
      .groupBy(col("m").as("cm")).agg(collect_list(struct(col("cid"), col("cs"))).as("cw"))
      .agg(transform(array_sort(collect_list(struct(col("cm"), col("cw")))),
        s => s("cw")).as("books"))
    // named_struct via expr: .as() aliases inside a transform lambda chain
    // do not survive resolution (fields came back as col1/cid), and
    // struct-field access needs stable names
    val best = expr(s"""
      array_min(transform(
        element_at(books, m + 1),
        c -> named_struct(
          'd', aggregate(zip_with(sv, c.cs,
                 (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))
                         * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),
               0D, (acc, v) -> acc + v) + 1e-12 * c.cid,
          'code', c.cid)))""")
    // per-position fixed-point sums as PqSub codegen'd SUM columns folded
    // map-side over (m, cell) — no per-(vec, m, pos) explode ever reaches
    // the aggregate; the pos unpivot runs over the <= M·PqK grouped rows.
    // Long sums are associative, so the regrouping is value-identical to
    // the old (m, cell, pos) aggregate (goldens unchanged).
    val sums = (0 until PqSub).map(p =>
      sum(floor(element_at(col("sv"), p + 1).cast(DoubleType) * 10000000.0)
        .cast(LongType)).as(s"s_$p"))
    sub.crossJoin(broadcast(cbook))
      .select(col("m"), best("code").as("cell"), col("sv"))
      .groupBy("m", "cell")
      .agg(count(lit(1)).as("n"), sums: _*)
      .select(col("m"), col("cell"),
        posexplode(array((0 until PqSub).map(p => col(s"s_$p")): _*))
          .as(Seq("pos", "s")),
        col("n"))
      .select(col("m"), col("cell"), col("pos"), col("s"), col("n"))
  }

  /** The trained PQ codebook in array shape: (m, code, cv ARRAY<DOUBLE>) —
    * bit-identical doubles at any parallelism (fixed-point integer means,
    * the [[simCentroids]] discipline). ≤ M·[[PqK]] rows: folds into one
    * broadcast row for encode and LUT passes. */
  private[graft] def pqTrainedBook(spark: SparkSession, dir: String): DataFrame =
    fixedMean(pqTrainedElems(spark, dir), "m", "cell")
      .select(col("m"), col("cell").as("code"), col("cv"))

  // -------------------------------------------------------------------
  // Convergence-budgeted PQ training (round-12 queue #1): the one-round
  // book above is the training STEP gate; consumers read the CONVERGED
  // book below — per-subspace Lloyd iterated to an assignment fixpoint
  // or the pinned round budget, the simKmeansConverged discipline.
  // -------------------------------------------------------------------

  /** Pinned recompute budget for converged PQ training — the oracle
    * unrolls exactly this many rounds; the Spark loop may exit earlier at
    * the assignment fixpoint because the remaining rounds are provable
    * no-ops (fixed-point means reproduce bit-identical codewords under an
    * unchanged assignment). */
  private[graft] val PqTrainRounds = 4

  /** Shared oracle fragment — the corpus subvector stream `sub`, the
    * seed book `pb0` (vec_id < [[PqK]]) and [[PqTrainRounds]] training
    * rounds: the converged RAW book is `pb$PqTrainRounds`. Requires `ms`. */
  private def rawBookChainSql: String =
    s"""sub AS (
        SELECT e.vec_id, ms.m,
               list_slice(e.embedding, ms.m * $PqSub + 1, ms.m * $PqSub + $PqSub) AS sv
        FROM embeddings e, ms),
      pb0 AS (
        SELECT ms.m, CAST(c.vec_id AS BIGINT) AS code,
               list_transform(list_slice(c.embedding, ms.m * $PqSub + 1, ms.m * $PqSub + $PqSub),
                 x -> CAST(x AS DOUBLE)) AS cv
        FROM embeddings c, ms WHERE c.vec_id < $PqK),
      ${pqRoundsSql("p", "sub", "pb0")}"""

  /** DuckDB CTE chain for [[PqTrainRounds]] subspace-training rounds over
    * a (vec_id, m, sv) CTE named `$sub` seeded by a (m, code, cv) CTE
    * named `$seed` (cv must already be DOUBLE): per round r, `${p}a$r`
    * assigns every subvector to its nearest previous-round codeword
    * (argmin squared L2, 1e-12·code bias) and `${p}b$r` recomputes each
    * non-empty codeword as the 1e-7 fixed-point-exact member mean. The
    * final book CTE is `${p}b$PqTrainRounds`. */
  private def pqRoundsSql(p: String, sub: String, seed: String): String = {
    val sq = sqSubSql("s.sv", "b.cv")
    val rounds = (1 to PqTrainRounds).map { r =>
      val prev = if (r == 1) seed else s"${p}b${r - 1}"
      s"""${p}a$r AS (
        SELECT s.vec_id, s.m, s.sv,
               arg_min(b.code, $sq + 1e-12 * b.code) AS cell
        FROM $sub s JOIN $prev b ON s.m = b.m
        GROUP BY s.vec_id, s.m, s.sv),
      ${p}b$r AS MATERIALIZED (
        SELECT m, cell AS code,
               list(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 10000000.0 ORDER BY pos) AS cv
        FROM (
          SELECT m, cell, pos,
                 CAST(sum(CAST(floor(CAST(v AS DOUBLE) * 10000000.0) AS BIGINT)) AS BIGINT) AS s,
                 count(*) AS n
          FROM (SELECT m, cell, unnest(range(0, $PqSub)) AS pos, unnest(sv) AS v
                FROM ${p}a$r)
          GROUP BY m, cell, pos)
        GROUP BY m, cell)"""
    }
    rounds.mkString(",\n      ")
  }

  /** THE best-codeword argmin over a folded `book` array column of
    * struct(bm, code, cv), against the row's (m, sv) subvector: squared-L2
    * sequential fold (exact IEEE, index order) + the suite's 1e-12·code
    * tie bias, `named_struct('d', …, 'code', …)` so field access is
    * stable. One definition — the training loop, the distortion meter,
    * and every IVFADC/encode consumer share it, so the bias and cast
    * discipline cannot drift between copies (the CASTs are no-ops on
    * DOUBLE subvectors, which lets raw-float and residual-double streams
    * use the same expression). */
  private val pqBookBest: Column = expr(s"""
      array_min(transform(
        filter(book, c -> c.bm = m),
        c -> named_struct(
          'd', aggregate(zip_with(sv, c.cv,
                 (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))
                         * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),
               0D, (acc, v) -> acc + v) + 1e-12 * c.code,
          'code', c.code)))""")

  /** A (m, code, cv) book folded into the one-row broadcastable `book`
    * array [[pqBookBest]] scans. */
  private def pqBookRow(book: DataFrame): DataFrame = book
    .agg(collect_list(struct(col("m").as("bm"), col("code"), col("cv"))).as("book"))

  /** THE PQ encoder: every (…, m, sv) subvector row of `sub` to its
    * nearest `book` codeword by [[pqBookBest]] (ties to the lower code) —
    * (every other column of `sub`, m, code). */
  private[graft] def pqEncode(sub: DataFrame, book: DataFrame): DataFrame = {
    val keep = sub.columns.toSeq.filterNot(Set("m", "sv")).map(col)
    sub.crossJoin(broadcast(pqBookRow(book)))
      .select(keep ++ Seq(col("m"), pqBookBest("code").as("code")): _*)
  }

  /** Convergence-budgeted per-subspace Lloyd training over an arbitrary
    * (vec_id, m, sv) subvector stream and (m, code, cv DOUBLE) seed book:
    * assign → exact fixed-point recompute for up to [[PqTrainRounds]]
    * recomputes, exiting early when the (vec_id, m, cell) assignment
    * signature ([[Fixpoint.frameSig]]) repeats. Early exit is sound because
    * an unchanged assignment makes the recompute reproduce the same
    * codewords bit-for-bit, so the pinned-budget oracle and this loop
    * land on identical books. Returns the final per-(m, code) records —
    * codeword values, member count, 1e-7-quantized inertia — collected to
    * the driver (≤ M·[[PqK]] rows, a value, not a plan). Per-round cost at
    * 100 TB: one broadcast-argmin map pass over (vec, subspace) rows plus
    * one (m, cell, pos) integer-partial recompute; no vector in any
    * shuffle; superseded book checkpoints released in-loop. */
  private def trainSubspaceBook(spark: SparkSession, sub0: DataFrame,
      seed: DataFrame): Seq[(Int, Long, Seq[Double], Long, Long)] = {
    val sub = sub0.localCheckpoint(true)
    val (book, finA) = lloydBook(seed, PqTrainRounds, Seq("vec_id", "m", "cell"))(
      book => sub.crossJoin(broadcast(pqBookRow(book)))
        .withColumn("b", pqBookBest)
        .select(col("vec_id"), col("m"), col("sv"),
          col("b")("code").as("cell"), col("b")("d").as("d")),
      a => fixedMean(fixedSums(a, "sv", "m", "cell"), "m", "cell")
        .select(col("m"), col("cell").as("code"), col("cv")))
    val fin = finA
      .select(col("m"), col("cell").as("code"),
        floor(col("d") * 10000000.0).cast(LongType).as("dist_q"))
      .groupBy("m", "code")
      .agg(count(lit(1)).as("n_members"), sum(col("dist_q")).as("inertia_q"))
    val out = book.join(fin, Seq("m", "code"), "left")
      .select(col("m").as("bm"), col("code"), col("cv"),
        coalesce(col("n_members"), lit(0L)).as("n_members"),
        coalesce(col("inertia_q"), lit(0L)).as("inertia_q"))
      .collect()
      .map(r => (r.getAs[Int]("bm"), r.getAs[Long]("code"),
        r.getAs[scala.collection.Seq[Double]]("cv").toSeq,
        r.getAs[Long]("n_members"), r.getAs[Long]("inertia_q")))
      .toSeq.sortBy(r => (r._1, r._2))
    Seq(finA, sub, book).foreach(core.release)
    out
  }

  /** Lloyd training whose recompute is checkpointed eagerly each round —
    * the loop of [[trainSubspaceBook]] and [[simIvfSplit]]: from `seed`,
    * up to `rounds` (assignment signature, recompute) pairs; the round
    * whose `sigCols` signature repeats stops before recomputing (the
    * recompute would reproduce the same book bit-for-bit). Returns the
    * final book and its lazily checkpointed assignment — the one the loop
    * already computed at a fixpoint, so the broadcast-argmin pass never
    * runs twice for one book. The caller releases both. */
  private def lloydBook(seed: DataFrame, rounds: Int, sigCols: Seq[String])(
      assign: DataFrame => DataFrame,
      recompute: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    type St = (DataFrame, DataFrame) // (book, its assignment)
    // lazy: the signature job materializes the assignment once, and the
    // recompute reads its blocks instead of re-running the argmin pass
    def at(book: DataFrame): St = (book, assign(book).localCheckpoint(false))
    def advance(st: St): St = at(recompute(st._2).localCheckpoint(true))
    def release(st: St): Unit = {
      if (st._1 ne seed) core.release(st._1) // the seed is the caller's
      core.release(st._2)
    }
    val res = Fixpoint.run((seed, null: DataFrame), rounds, release) { (st, r) =>
      val next = if (r == 0) at(st._1) else advance(st)
      (next, Fixpoint.frameSig(next._2, sigCols: _*))
    }
    if (res.converged) res.state
    else { val fin = advance(res.state); release(res.state); fin }
  }

  /** Total 1e-6-quantized encode distortion of an arbitrary (m, code, cv)
    * book over a (vec_id, m, sv) subvector stream — Σ_rows
    * floor(min_code(d² + bias) · 10⁶), exact BIGINT sum. Powers the
    * LlmOpsSpec monotonicity check (converged book ≤ one-round book ≤
    * seed book): one broadcast-argmin pass, only (micro) longs past it. */
  private[graft] def bookDistortionMicro(spark: SparkSession, sub: DataFrame,
      book: DataFrame): Long = {
    val r = sub.crossJoin(broadcast(pqBookRow(book)))
      .select(floor(pqBookBest("d") * 1000000.0).cast(LongType).as("micro"))
      .agg(sum(col("micro"))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Memoized CONVERGED books (raw + residual variants): the artifact is
    * ≤ M·[[PqK]] codewords of [[PqSub]] doubles plus two scalars each, so
    * the memo holds the VALUE and consumers re-inject it as a literal
    * local relation — plans stay tiny and training runs once per
    * (session, embeddings snapshot, variant). */
  private def memoBook(spark: SparkSession, dir: String, variant: String)(
      train: => Seq[(Int, Long, Seq[Double], Long, Long)]): Seq[(Int, Long, Seq[Double], Long, Long)] =
    core.snapshotMemo(spark, s"memo:book_$variant", dir, "embeddings")(train)

  /** The (vec_id, m, sv) subvector stream of the raw corpus. */
  private[graft] def rawSub(spark: SparkSession, dir: String): DataFrame =
    pqSplit(emb(spark, dir).select("vec_id", "embedding"), "embedding")

  /** Converged RAW-vector book records (m, code, cv, n_members,
    * inertia_q); seeds = vec_id < [[PqK]] subvectors — the SERVED
    * codebook size (the measured-best k* = 64, adopted round 15; the same
    * seeding `sim_pq_codebook_size`'s winning rung trains from, so the
    * adopted book IS the measured book). */
  private[graft] def convergedRawBook(spark: SparkSession, dir: String): Seq[(Int, Long, Seq[Double], Long, Long)] =
    memoBook(spark, dir, "raw") {
      trainSubspaceBook(spark, rawSub(spark, dir),
        pqSeedBook(emb(spark, dir).filter(col("vec_id") < PqK), "embedding"))
    }

  /** Converged RESIDUAL book records; the subvector stream and seeds are
    * the residuals [[ivfResiduals]] emits (seeds = residuals of vectors
    * 8 .. 8+[[PqK]]−1, code = vec_id − 8 — the [[simIvfAdcResidual]]
    * convention, skipping the 8 coarse centroids whose residuals are
    * zero; sized to [[PqK]] so the raw-vs-residual harness comparison
    * grants both codings the same bit budget). */
  private[graft] def convergedResidualBook(spark: SparkSession, dir: String): Seq[(Int, Long, Seq[Double], Long, Long)] =
    memoBook(spark, dir, "res") {
      val res = ivfResiduals(spark, dir).localCheckpoint(true)
      val out = trainSubspaceBook(spark, pqSplit(res.select("vec_id", "rv"), "rv"),
        pqSeedBook(res.filter(col("vec_id") >= 8 && col("vec_id") < 8 + PqK), "rv",
          col("vec_id") - 8))
      core.release(res)
      out
    }

  /** A memoized book as a (m, code, cv) DataFrame — a literal local
    * relation, broadcastable by construction. */
  private[graft] def bookDf(spark: SparkSession,
      recs: Seq[(Int, Long, Seq[Double], Long, Long)]): DataFrame = {
    val s2 = spark
    import s2.implicits._
    recs.map(r => (r._1, r._2, r._3)).toDF("m", "code", "cv")
  }

  /** sim18 — CONVERGED PQ codebook training (round-12 queue #1):
    * [[simPqTrain]] pins the training STEP (one Lloyd round); this gate
    * pins the training LOOP — per-subspace k-means iterated to an
    * assignment fixpoint or the pinned [[PqTrainRounds]] budget, the
    * [[simKmeansConverged]] recipe applied to the quantizer the IVFADC
    * read path actually depends on (Jégou §V trains each subspace to
    * convergence). Emits the converged book exploded to scalar rows plus
    * per-codeword membership and 1e-7-quantized inertia — the training
    * ledger (inertia monotonically decreases per round, so the converged
    * book's total distortion ≤ the one-round book's; LlmOpsSpec asserts
    * exactly that against [[simPqTrain]]'s book). Shape at 100 TB: per
    * round one broadcast-argmin map pass + one integer-partial recompute;
    * the book is a driver value after training (≤ M·[[PqK]] = 256 codewords), so every
    * consumer re-injects it as a literal instead of re-deriving the
    * subtree. */
  val simPqTrainConverged: QueryDef = QueryDef(
    "sim_pq_train_converged",
    Some(s"""
      WITH $msSql,
      $rawBookChainSql,
      paf AS (
        SELECT s.vec_id, s.m,
               arg_min(b.code, ${pqSqSql16("s.sv", "b.cv")} + 1e-12 * b.code) AS cell,
               CAST(floor(min(${pqSqSql16("s.sv", "b.cv")} + 1e-12 * b.code)
                      * 10000000.0) AS BIGINT) AS dist_q
        FROM sub s JOIN pb$PqTrainRounds b ON s.m = b.m
        GROUP BY s.vec_id, s.m, s.sv),
      sizes AS (
        SELECT m, cell, CAST(count(*) AS BIGINT) AS n_members,
               CAST(sum(dist_q) AS BIGINT) AS inertia_q
        FROM paf GROUP BY m, cell),
      exploded AS (
        SELECT m, code, unnest(range(0, $PqSub)) AS pos, unnest(cv) AS v
        FROM pb$PqTrainRounds)
      SELECT CAST(e.m AS BIGINT) AS m, e.code, CAST(e.pos AS BIGINT) AS pos,
             floor(e.v * 1000000.0) / 1000000.0 AS c_r,
             CAST(coalesce(s.n_members, 0) AS BIGINT) AS n_members,
             CAST(coalesce(s.inertia_q, 0) AS BIGINT) AS inertia_q
      FROM exploded e LEFT JOIN sizes s ON e.m = s.m AND e.code = s.cell
      ORDER BY m, code, pos
    """)) { (spark, dir) =>
    val s2 = spark
    import s2.implicits._
    convergedRawBook(spark, dir)
      .toDF("m", "code", "cv", "n_members", "inertia_q")
      .select(col("m").cast(LongType).as("m"), col("code"),
        col("n_members"), col("inertia_q"),
        posexplode(col("cv")).as(Seq("pos", "v")))
      .select(col("m"), col("code"), col("pos").cast(LongType).as("pos"),
        (floor(col("v") * 1000000.0) / 1000000.0).as("c_r"),
        col("n_members"), col("inertia_q"))
      .orderBy("m", "code", "pos")
  }

  /** The IVFADC candidate set: every vector whose coarse cell is among the
    * query's top-3 probe cells — P/K of the corpus by construction, the
    * volume bound BehaviorSpec asserts (candidates < corpus). Shared by
    * the gate and the spec so the assertion tests the real read path. */
  private[graft] def ivfAdcCandidates(spark: SparkSession, dir: String): DataFrame =
    seededProbe(spark, dir, ivfAssigned(spark, dir), q1Frame(spark, dir), 3)

  /** sim13 — IVFADC: the composed billion-scale ANN read path (Jégou et
    * al. §IV — the round-11 verdict's top item), wiring the three
    * previously-separate gates into one query: the coarse quantizer probes
    * the query's top-3 IVF cells ([[seededProbe]], the multiprobe
    * machinery), candidates are ONLY those cells' members (P/K of the
    * corpus — the inverted-file prune), each candidate is PQ-encoded
    * against the CONVERGED codebook ([[convergedRawBook]] —
    * `sim_pq_train_converged`'s fixpoint-trained artifact; round 12 used
    * the one-round book, round 13 closed the loop), and ranking is the
    * ADC scan: the query's 4·[[PqK]] = 256-entry LUT of subspace distances to every
    * trained codeword, one broadcast join per subspace code, Σ_m lut[m,
    * code_m] in fixed order. Shape at 100 TB: centroids + codebook + LUT
    * each fold into one broadcast row; the only per-corpus-row work before
    * the prune is the coarse argmax (map-side); after it, candidates carry
    * 4 codes + scalars — no vector in any shuffle, candidate volume P/K of
    * the corpus, and the final rank sees only (id, score). In a real
    * deployment assignment+encode are the WRITE path (materialized once
    * per snapshot — here inline so the oracle can replay the whole arc
    * verbatim); the read path is LUT build + probed-cell ADC scan only. */
  /** The shared IVFADC-arc oracle CTE chain (ms … adc): coarse assign,
    * probe query 17's top-3 cells, train the converged book, LUT, encode
    * the probed cells' members, pivot the 4 subspace distances. Ends at
    * `adc(vec_id, label, cell, qd0..qd3)` — [[simIvfAdc]] ranks it
    * directly; [[simAdcRerank]] takes a wide beam and re-ranks exactly. */
  private def ivfAdcArcSql: String = {
    s"""$msSql,
      cents AS (SELECT vec_id AS cent_id, embedding AS cv FROM embeddings WHERE vec_id < 8),
      assigned AS (
        SELECT e.vec_id, e.label, e.embedding,
               arg_max(c.cent_id, ${dotSql("e.embedding", "c.cv")} - 1e-12 * c.cent_id) AS cell
        FROM embeddings e, cents c
        GROUP BY e.vec_id, e.label, e.embedding),
      q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $Q1),
      qc AS (
        SELECT c.cent_id AS cell FROM cents c, q
        ORDER BY ${dotSql("q.qv", "c.cv")} - 1e-12 * c.cent_id DESC
        LIMIT 3),
      $rawBookChainSql,
      book AS (SELECT m, code, cv FROM pb$PqTrainRounds),
      lut AS (
        SELECT b.m, b.code,
               list_reduce(list_transform(range(1, ${PqSub + 1}),
                 i -> (CAST(q.qv[i + b.m * $PqSub] AS DOUBLE) - b.cv[i])
                    * (CAST(q.qv[i + b.m * $PqSub] AS DOUBLE) - b.cv[i])),
                 (x, y) -> x + y) AS qd
        FROM book b, q),
      cand AS (
        SELECT a.vec_id, a.label, a.cell, ms.m,
               list_slice(a.embedding, ms.m * $PqSub + 1, ms.m * $PqSub + $PqSub) AS sv
        FROM assigned a, ms
        WHERE a.cell IN (SELECT cell FROM qc)),
      enc AS (
        SELECT c.vec_id, c.label, c.cell, c.m,
               arg_min(b.code, ${sqSubSql("c.sv", "b.cv")} + 1e-12 * b.code) AS code
        FROM cand c JOIN book b ON b.m = c.m
        GROUP BY c.vec_id, c.label, c.cell, c.m, c.sv),
      adc AS (
        SELECT e.vec_id, e.label, e.cell,
               ${(0 until PqM).map(m => s"max(CASE WHEN e.m = $m THEN l.qd END) AS qd$m").mkString(",\n               ")}
        FROM enc e JOIN lut l ON l.m = e.m AND l.code = e.code
        GROUP BY e.vec_id, e.label, e.cell)"""
  }

  val simIvfAdc: QueryDef = {
    QueryDef(
      "sim_ivfadc",
      Some(s"""
      WITH ${ivfAdcArcSql}
      SELECT vec_id, label, cell, round(qd0 + qd1 + qd2 + qd3, 6) AS adc_r
      FROM adc
      ORDER BY qd0 + qd1 + qd2 + qd3, vec_id
      LIMIT 10
    """)) { (spark, dir) =>
      ivfAdcScores(spark, dir)
        .orderBy(col("score"), col("vec_id"))
        .limit(10)
        .select(col("vec_id"), col("label"), col("cell"),
          round(col("score"), 6).as("adc_r"))
    }
  }

  /** The composed IVFADC read path's scored candidate frame (vec_id,
    * label, cell, score) for query [[Q1]] — probe-3 candidates,
    * converged-book encode, [[adcSum]] against the query LUT. Shared
    * by [[simIvfAdc]] (direct rank) and [[simAdcRerank]] (wide beam +
    * exact re-rank). */
  private def ivfAdcScores(spark: SparkSession, dir: String): DataFrame = {
    val cand = pqSplit(ivfAdcCandidates(spark, dir)
      .select("vec_id", "label", "cell", "embedding"), "embedding")
    // the CONVERGED codebook (round-12 queue #1): trained once per
    // (session, snapshot) by the fixpoint loop and re-injected here as a
    // ≤ M·PqK-row literal — the encode fold and the LUT below share the
    // same value by construction (the round-12 double-training finding
    // cannot recur: there is no training subtree left in this plan)
    val book = bookDf(spark, convergedRawBook(spark, dir))
    adcSum(pqEncode(cand, book), pqLut(q1Frame(spark, dir).select("qv"), book),
      Seq("m", "code"))
  }

  /** Re-rank beam FLOOR: the minimum candidates kept from the ADC stage
    * for exact scoring. The operative width is [[rerankBeamWidth]] —
    * DERIVED from k and the measured candidate-pool size (round-13 queue
    * #7), with this constant as the floor. */
  private[graft] val RerankBeamFloor = 50

  /** Final top-k of the two-stage read path. */
  private[graft] val RerankK = 10

  /** The beam SIZING RULE: beam = min(C, max(floor, k · bitlen(C))) for a
    * candidate pool of C vectors — the beam grows LOGARITHMICALLY with
    * the probed pool (the ADC ranking's inversion tail widens with pool
    * size, but score concentration makes log growth sufficient — the
    * IVFADC+refine convention of a small multiple of k, scaled by pool
    * magnitude), the floor keeps small pools exactly re-ranked, and the
    * min clamp makes beam ⊆ candidate set BY CONSTRUCTION. bitlen(C) =
    * `length(bin(C))` in the oracle = 64 − nlz(C) here — exact integers
    * on both engines, no transcendental log. */
  private[graft] def rerankBeamWidth(candidates: Long): Int = {
    val bits = 64 - java.lang.Long.numberOfLeadingZeros(candidates)
    math.min(candidates,
      math.max(RerankBeamFloor.toLong, RerankK.toLong * bits)).toInt
  }

  /** sim13b — TWO-STAGE RETRIEVAL (ADC beam → exact re-rank): the
    * production read path on top of [[simIvfAdc]] — compressed codes give
    * a cheap approximate ranking, a beam of [[rerankBeamWidth]] ids is
    * re-scored against the TRUE vectors, and only the re-ranked top-10
    * leaves the engine (Jégou §V-D's reranking stage; every serving
    * stack — IVFADC+refine, DiskANN, ScaNN — ships this shape). The beam
    * is DERIVED, not pinned: min(C, max(floor 50, k·bitlen(C))) over the
    * measured candidate-pool size C (a counter-scale count of the probed
    * cells' members), so it widens logarithmically as probes cover more
    * corpus and is a subset of the candidates by construction — the
    * oracle replays the same integer rule via `length(bin(C))` inside
    * its LIMIT. The recall law is structural, and LlmOpsSpec asserts it:
    * the re-ranked top-10 is the TRUE-score optimum of a beam that
    * contains the ADC top-10 (beam ≥ floor ≥ k), so its recall@10 can
    * never be below the ADC rung's. Shape at 100 TB: stage 1 is the
    * whole IVFADC read path (codes + scalars only); stage 2 fetches full
    * vectors for just the beam ids — the join is a broadcast of O(k log
    * C) keys against the corpus scan, the one place the read path
    * touches raw vectors, sized by the rule and not the corpus. */
  val simAdcRerank: QueryDef = QueryDef(
    "sim_adc_rerank",
    Some(s"""
      WITH ${ivfAdcArcSql},
      beam AS (
        SELECT vec_id, label, qd0 + qd1 + qd2 + qd3 AS adc
        FROM adc
        ORDER BY qd0 + qd1 + qd2 + qd3, vec_id
        LIMIT (SELECT least(CAST(count(*) AS BIGINT),
                            greatest($RerankBeamFloor,
                                     $RerankK * length(bin(CAST(count(*) AS BIGINT)))))
               FROM adc)),
      rr AS (
        SELECT t.vec_id, t.label, t.adc,
               ${dotSql("e.embedding", "q.qv")} AS s
        FROM beam t JOIN embeddings e USING (vec_id), q)
      SELECT vec_id, label, round(adc, 6) AS adc_r, round(s, 6) AS score_r
      FROM rr ORDER BY s DESC, vec_id LIMIT 10
    """)) { (spark, dir) =>
    // the candidate pool is consumed twice (the sizing count + the beam
    // sort) — checkpoint once; the beam itself is collected to the driver
    // (counter-scale: O(k log C) rows of (id, label, scalar)) so the
    // checkpoint can be released before the frame leaves the gate
    val scores = ivfAdcScores(spark, dir).localCheckpoint(true)
    val nCand = scores.count()
    val beamW = rerankBeamWidth(nCand)
    val beamFrame = scores
      .orderBy(col("score"), col("vec_id"))
      .limit(beamW)
      .select(col("vec_id"), col("label"), col("score").as("adc"))
    val beamSchema = beamFrame.schema
    val beamRows = beamFrame.collect()
    core.release(scores)
    val beam = spark.createDataFrame(
      java.util.Arrays.asList(beamRows: _*), beamSchema)
    val q = q1Frame(spark, dir).select("qv")
    // beam side broadcasts (O(k log C) ids) — the corpus is scanned once
    // for the vector fetch, never shuffled
    emb(spark, dir).select(col("vec_id"), col("embedding"))
      .join(broadcast(beam), "vec_id")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"), col("adc"),
        dot(col("embedding"), col("qv")).as("s"))
      .orderBy(col("s").desc, col("vec_id"))
      .limit(10)
      .select(col("vec_id"), col("label"),
        round(col("adc"), 6).as("adc_r"), round(col("s"), 6).as("score_r"))
  }

  /** Every vector's RESIDUAL against its coarse cell centroid:
    * r = x − c(cell(x)), the quantity IVFADC actually encodes (Jégou et
    * al. §IV: residuals concentrate around 0 across cells, so one shared
    * product quantizer codes them far better than raw vectors). The 8-row
    * centroid frame broadcasts; the subtraction is one map-side zip_with —
    * residuals are born as exact doubles (float→double is exact, one IEEE
    * subtraction per element), so both engines hold identical values. */
  private def ivfResiduals(spark: SparkSession, dir: String): DataFrame =
    ivfAssigned(spark, dir)
      .join(broadcast(seededCents(emb(spark, dir))
        .select(col("cent_id").as("rc_id"), col("cv").as("ccv"))),
        col("cell") === col("rc_id"))
      .select(col("vec_id"), col("label"), col("cell"),
        zip_with(col("embedding"), col("ccv"),
          (x, y) => x.cast(DoubleType) - y.cast(DoubleType)).as("rv"))

  /** sim14 — RESIDUAL-encoded IVFADC: the exact Jégou §IV pipeline, one
    * step past [[simIvfAdc]] (which PQ-codes RAW vectors). Coarse-quantize,
    * subtract the cell centroid, train a product quantizer ON THE
    * RESIDUALS to the [[PqTrainRounds]]-budgeted assignment fixpoint
    * ([[convergedResidualBook]], seeded by the residuals of vectors
    * 8 .. 8+PqK−1;
    * the same quantizer serves every cell, per the paper), and answer the
    * query per probed cell: the query's residual against THAT cell's
    * centroid builds a per-cell LUT (3 cells × 4 subspaces × [[PqK]] = 64
    * codes = 768 broadcast rows), candidates are only the probed cells' members, and
    * the ADC score is Σ_m lut[cell, m, code_m] in fixed order. Residuals
    * matter (on clustered corpora) because the same
    * displacement-from-centroid codebook is shared across cells —
    * raw-vector PQ must spend codes describing WHERE the cell sits;
    * residual PQ spends them all on the local displacement. Whether that
    * premise holds is an empirical question [[simAnnRecallSet]] answers
    * per corpus: on the driver's near-uniform-sphere embeddings it does
    * NOT (residual norms exceed raw norms, and the measured residual-ADC
    * recall is below raw-ADC) — this gate pins the PIPELINE's
    * correctness; the harness decides when to deploy it.
    * Shape at 100 TB: centroids (8), the residual codebook (one folded
    * row), and the per-cell LUT (768 rows) all broadcast; residual
    * computation is map-side; training shuffles only (m, code, pos)
    * integer partials; candidates carry 4 codes + scalars — no vector in
    * any shuffle, candidate volume P/K of the corpus. As with
    * [[simIvfAdc]], assignment + encode are the snapshot-time WRITE path,
    * inline here so the oracle replays the whole arc verbatim. */
  val simIvfAdcResidual: QueryDef = {
    QueryDef(
      "sim_ivfadc_residual",
      Some(s"""
      WITH $msSql,
      cents AS (SELECT vec_id AS cent_id, embedding AS cv FROM embeddings WHERE vec_id < 8),
      assigned AS (
        SELECT e.vec_id, e.label, e.embedding,
               arg_max(c.cent_id, ${dotSql("e.embedding", "c.cv")} - 1e-12 * c.cent_id) AS cell
        FROM embeddings e, cents c
        GROUP BY e.vec_id, e.label, e.embedding),
      res AS (
        SELECT a.vec_id, a.label, a.cell,
               list_transform(range(1, ${EmbDim + 1}),
                 i -> CAST(a.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE)) AS rv
        FROM assigned a JOIN cents c ON a.cell = c.cent_id),
      rsub AS (
        SELECT r.vec_id, ms.m, list_slice(r.rv, ms.m * $PqSub + 1, ms.m * $PqSub + $PqSub) AS sv
        FROM res r, ms),
      rb0 AS (
        SELECT ms.m, CAST(r.vec_id - 8 AS BIGINT) AS code,
               list_slice(r.rv, ms.m * $PqSub + 1, ms.m * $PqSub + $PqSub) AS cv
        FROM res r, ms WHERE r.vec_id >= 8 AND r.vec_id < ${8 + PqK}),
      ${pqRoundsSql("r", "rsub", "rb0")},
      book AS (SELECT m, code, cv AS bv FROM rb$PqTrainRounds),
      q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $Q1),
      qc AS (
        SELECT c.cent_id AS cell, c.cv FROM cents c, q
        ORDER BY ${dotSql("q.qv", "c.cv")} - 1e-12 * c.cent_id DESC LIMIT 3),
      qres AS (
        SELECT qc.cell, ms.m,
               list_transform(range(1, ${PqSub + 1}),
                 i -> CAST(q.qv[i + ms.m * $PqSub] AS DOUBLE)
                    - CAST(qc.cv[i + ms.m * $PqSub] AS DOUBLE)) AS qsv
        FROM qc, q, ms),
      lut AS (
        SELECT r.cell, r.m, b.code, ${sqSubSqlD("r.qsv", "b.bv")} AS qd
        FROM qres r JOIN book b ON b.m = r.m),
      cand AS (
        SELECT r.vec_id, r.label, r.cell, ms.m,
               list_slice(r.rv, ms.m * $PqSub + 1, ms.m * $PqSub + $PqSub) AS sv
        FROM res r, ms
        WHERE r.cell IN (SELECT cell FROM qc)),
      enc AS (
        SELECT c.vec_id, c.label, c.cell, c.m,
               arg_min(b.code, ${sqSubSqlD("c.sv", "b.bv")} + 1e-12 * b.code) AS code
        FROM cand c JOIN book b ON b.m = c.m
        GROUP BY c.vec_id, c.label, c.cell, c.m, c.sv),
      adc AS (
        SELECT e.vec_id, e.label, e.cell,
               max(CASE WHEN e.m = 0 THEN l.qd END) AS qd0,
               max(CASE WHEN e.m = 1 THEN l.qd END) AS qd1,
               max(CASE WHEN e.m = 2 THEN l.qd END) AS qd2,
               max(CASE WHEN e.m = 3 THEN l.qd END) AS qd3
        FROM enc e JOIN lut l ON l.cell = e.cell AND l.m = e.m AND l.code = e.code
        GROUP BY e.vec_id, e.label, e.cell)
      SELECT vec_id, label, cell, round(qd0 + qd1 + qd2 + qd3, 6) AS adc_r
      FROM adc ORDER BY qd0 + qd1 + qd2 + qd3, vec_id LIMIT 10
    """)) { (spark, dir) =>
      // the CONVERGED residual book arrives as a memoized ≤ M·PqK-row literal
      // (the fixpoint loop ran once per session/snapshot inside
      // convergedResidualBook, which checkpoints its own residual frame);
      // res here has ONE consumer — the candidate encode — so no
      // checkpoint (the round-13 review dropped the stale two-consumer one)
      val book = bookDf(spark, convergedResidualBook(spark, dir))
      val q = q1Frame(spark, dir)
      // the query's residual against each cell → the (cell, m, code) LUT;
      // only the probed cells' members ever meet it
      val lut = resLut(q, seededCents(emb(spark, dir)), book)
      val cand = pqSplit(seededProbe(spark, dir, ivfResiduals(spark, dir), q, 3)
        .select("vec_id", "label", "cell", "rv"), "rv")
      adcSum(pqEncode(cand, book), lut, Seq("cell", "m", "code"))
        .orderBy(col("score"), col("vec_id"))
        .limit(10)
        .select(col("vec_id"), col("label"), col("cell"),
          round(col("score"), 6).as("adc_r"))
    }
  }

  /** sim15 — ANN RECALL evaluation: the quality ledger for the whole
    * approximate family. Recall@10 against the exact cosine top-10 for the
    * suite's pinned query (vec 17), for single-probe IVF, 3-probe IVF, and
    * the full-scan seeded-codebook ADC ranking — the measurement every ANN
    * deployment runs before trusting an index (and the number that says
    * what the probe knob buys: probe3 must recover at least probe1's hits,
    * asserted in LlmOpsSpec). In production this runs over a sampled query
    * SET; one pinned query here keeps the oracle replayable verbatim.
    * Shape at 100 TB: each method's top-10 is (id, score) scalars only;
    * the intersection joins are 10-row frames. The exact baseline is
    * itself one brute-force corpus pass — that is what "evaluation
    * harness" means; it is priced per evaluation, not per query. */
  val simAnnRecall: QueryDef = {
    QueryDef(
      "sim_ann_recall",
      Some(s"""
      WITH cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
      pcents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < $PqK),
      qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $Q1),
      ex AS (
        SELECT e.vec_id FROM embeddings e, qv
        ORDER BY ${dotSql("e.embedding", "qv.qv")} DESC, e.vec_id LIMIT 10),
      assigned AS (
        SELECT e.vec_id, e.embedding,
               arg_max(c.cid, ${dotSql("e.embedding", "c.cv")} - 1e-12 * c.cid) AS cell
        FROM embeddings e, cents c GROUP BY e.vec_id, e.embedding),
      qc AS (
        SELECT c.cid AS cell FROM cents c, qv
        ORDER BY ${dotSql("qv.qv", "c.cv")} - 1e-12 * c.cid DESC LIMIT 3),
      q1 AS (
        -- the probe-1 cell re-derives the FULL pinned order (round-12
        -- ADVICE): a bare `FROM qc LIMIT 1` leaned on DuckDB preserving
        -- qc's internal ORDER BY through the CTE, which no SQL contract
        -- guarantees — the single-probe cell must be deterministic by
        -- construction, not by planner behavior
        SELECT c.cid AS cell FROM cents c, qv
        ORDER BY ${dotSql("qv.qv", "c.cv")} - 1e-12 * c.cid DESC LIMIT 1),
      m1 AS (
        SELECT a.vec_id FROM assigned a, qv WHERE a.cell IN (SELECT cell FROM q1)
        ORDER BY ${dotSql("a.embedding", "qv.qv")} DESC, a.vec_id LIMIT 10),
      m3 AS (
        SELECT a.vec_id FROM assigned a, qv WHERE a.cell IN (SELECT cell FROM qc)
        ORDER BY ${dotSql("a.embedding", "qv.qv")} DESC, a.vec_id LIMIT 10),
      d AS (
        SELECT e.vec_id, c.cid,
               ${(0 until PqM).map(m => s"${pqSubSqSql("e.embedding", "c.cv", m)} AS d$m").mkString(",\n               ")}
        FROM embeddings e, pcents c),
      enc AS (
        SELECT vec_id,
               ${(0 until PqM).map(m => s"arg_min(cid, d$m + 1e-12 * cid) AS code$m").mkString(",\n               ")}
        FROM d GROUP BY vec_id),
      qd AS (
        SELECT c.cid,
               ${(0 until PqM).map(m => s"${pqSubSqSql("q.embedding", "c.cv", m)} AS qd$m").mkString(",\n               ")}
        FROM pcents c, (SELECT embedding FROM embeddings WHERE vec_id = $Q1) q),
      mp AS (
        SELECT e.vec_id FROM enc e
        JOIN qd q0 ON e.code0 = q0.cid JOIN qd q1 ON e.code1 = q1.cid
        JOIN qd q2 ON e.code2 = q2.cid JOIN qd q3 ON e.code3 = q3.cid
        ORDER BY q0.qd0 + q1.qd1 + q2.qd2 + q3.qd3, e.vec_id LIMIT 10),
      r AS (
        SELECT 'ivf_probe1' AS method, (SELECT count(*) FROM m1 JOIN ex USING (vec_id)) AS hits
        UNION ALL
        SELECT 'ivf_probe3', (SELECT count(*) FROM m3 JOIN ex USING (vec_id))
        UNION ALL
        SELECT 'pq_adc', (SELECT count(*) FROM mp JOIN ex USING (vec_id)))
      SELECT method, CAST(10 AS BIGINT) AS k, CAST(hits AS BIGINT) AS hits,
             round(CAST(hits AS DOUBLE) / 10.0, 6) AS recall_r
      FROM r ORDER BY method
    """)) { (spark, dir) =>
      val q = q1Frame(spark, dir)
      val ex = emb(spark, dir).crossJoin(broadcast(q.select("qv")))
        .select(col("vec_id"), dot(col("embedding"), col("qv")).as("s"))
        .orderBy(col("s").desc, col("vec_id")).limit(10).select("vec_id")
      val assigned = ivfAssigned(spark, dir)
      def probed(nProbe: Int): DataFrame = seededProbe(spark, dir, assigned, q, nProbe)
        .select(col("vec_id"), dot(col("embedding"), col("qv")).as("s"))
        .orderBy(col("s").desc, col("vec_id")).limit(10).select("vec_id")
      val mp = seededAdcScores(spark, dir)
        .orderBy(col("score"), col("vec_id")).limit(10).select("vec_id")
      recallHits("ivf_probe1", probed(1), ex, Seq("vec_id"))
        .unionAll(recallHits("ivf_probe3", probed(3), ex, Seq("vec_id")))
        .unionAll(recallHits("pq_adc", mp, ex, Seq("vec_id")))
        .select(col("method"), lit(10L).as("k"), col("hits"),
          recallR(col("hits"), lit(10.0)))
        .orderBy("method")
    }
  }

  /** One recall-ledger row: how many rows of `ids` the exact referee `ex`
    * holds, matched on `keys` — (method, hits). */
  private def recallHits(method: String, ids: DataFrame, ex: DataFrame,
      keys: Seq[String]): DataFrame =
    ids.join(ex, keys).agg(count(lit(1)).as("hits"))
      .select(lit(method).as("method"), col("hits"))

  /** sim15b — ANN recall harness over a QUERY SET (round-12 queue #3):
    * [[simAnnRecall]] pins one query's ladder; this gate is the real
    * evaluation — mean recall@10 over the 8 held-out queries (vec_ids
    * [[QLo]]..[[QHi]]−1, a window PROVABLY DISJOINT from every seed and
    * training id-range: the coarse layouts seed from [0, 32), the PQ
    * codebook from [0, [[PqK]]), the residual book from [8, 8+[[PqK]]) —
    * the static require at the window's definition enforces it. Round 17
    * moved the window here from 16..23, which sat inside both PQ seed
    * prefixes: the trained books started with codewords AT the query
    * vectors, so every prior ADC recall headline was a mild upper bound
    * (r15 ADVICE, r16 verdict #1). The queries remain ordinary corpus
    * members — production PQ trains on the whole corpus — but no
    * codeword is initialized at a query anymore), with
    * the two composed IVFADC read paths as rungs so raw-vs-residual
    * coding is COMPUTED on identical candidates (probe-3 members, only
    * the coding differs), plus the [[simAdcRerank]] two-stage rung (the
    * per-query ADC beam re-scored exactly — its recall dominates the raw
    * rung structurally, since the beam contains the ADC top-10; the
    * harness measures by HOW MUCH the beam knob buys recall back).
    * Measured verdict this harness settles for this
    * corpus (re-measured round 17 on the HONEST window — the old seeded
    * queries read 0.225/0.325/0.55 here, all upper bounds): the residual
    * rung still LOSES to raw coding at probe-3 against the SEEDED-8
    * layout (sf0.1 mean recall 0.15 vs 0.1875 raw / 0.4125 after
    * re-rank; probe1/probe3 exact ceilings 0.3625/0.6125) — the
    * driver's embeddings are
    * near-uniform on the sphere, so query·centroid ≈ 0.3 and residual
    * norms ‖v−c‖² = 2−2·v·c exceed raw norms, inverting Jégou §IV's
    * premise (residuals concentrate only when the corpus is clustered).
    * That inversion is the point of the gate: a deployment runs exactly
    * this measurement before choosing an index, and the spec asserts only
    * corpus-independent structure (probe3 ≥ probe1; every rung ≤ k·|Q|;
    * raw ADC finds something). Shape at 100 TB: the query set, probe
    * table, books, and LUTs are counter-scale broadcasts; candidate and
    * encode frames carry codes + scalars only (never a vector through a
    * shuffle); the per-qid top-k windows partition by qid over (id,
    * score) scalars. The exact baseline is one corpus pass against all 8
    * queries — priced per evaluation, not per query. */
  val simAnnRecallSet: QueryDef = {
    QueryDef(
      "sim_ann_recall_set",
      Some(s"""
      WITH $msSql,
      cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
      qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id >= $QLo AND vec_id < $QHi),
      ex AS (
        SELECT qid, vec_id FROM (
          SELECT q.qid, e.vec_id,
                 row_number() OVER (PARTITION BY q.qid
                   ORDER BY ${dotSql("e.embedding", "q.qv")} DESC, e.vec_id) AS rn
          FROM embeddings e, qs q)
        WHERE rn <= 10),
      assigned AS (
        SELECT e.vec_id, e.embedding,
               arg_max(c.cid, ${dotSql("e.embedding", "c.cv")} - 1e-12 * c.cid) AS cell
        FROM embeddings e, cents c GROUP BY e.vec_id, e.embedding),
      qprobe AS (
        SELECT q.qid, q.qv, c.cid AS cell, c.cv,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY ${dotSql("q.qv", "c.cv")} - 1e-12 * c.cid DESC) AS rn
        FROM qs q, cents c),
      m1 AS (
        SELECT qid, vec_id FROM (
          SELECT p.qid, a.vec_id,
                 row_number() OVER (PARTITION BY p.qid
                   ORDER BY ${dotSql("a.embedding", "p.qv")} DESC, a.vec_id) AS rr
          FROM assigned a JOIN qprobe p ON a.cell = p.cell AND p.rn <= 1)
        WHERE rr <= 10),
      m3 AS (
        SELECT qid, vec_id FROM (
          SELECT p.qid, a.vec_id,
                 row_number() OVER (PARTITION BY p.qid
                   ORDER BY ${dotSql("a.embedding", "p.qv")} DESC, a.vec_id) AS rr
          FROM assigned a JOIN qprobe p ON a.cell = p.cell AND p.rn <= 3)
        WHERE rr <= 10),
      $rawBookChainSql,
      enc_raw AS (${encWideSql(s"(SELECT vec_id, m, list_transform(sv, x -> CAST(x AS DOUBLE)) AS sv FROM sub)",
        s"pb$PqTrainRounds", sqSubSqlD("s.sv", "b.cv"))}),
      lut_raw AS (
        SELECT q.qid, b.m, b.code,
               ${sqSubSqlD(s"list_transform(list_slice(q.qv, b.m * $PqSub + 1, b.m * $PqSub + $PqSub), x -> CAST(x AS DOUBLE))", "b.cv")} AS qd
        FROM qs q, pb$PqTrainRounds b),
      candr AS (
        SELECT p.qid, a.vec_id FROM assigned a JOIN qprobe p ON a.cell = p.cell AND p.rn <= 3),
      bwq AS (
        SELECT qid, least(CAST(count(*) AS BIGINT),
                          greatest($RerankBeamFloor,
                                   $RerankK * length(bin(CAST(count(*) AS BIGINT))))) AS bw
        FROM candr GROUP BY qid),
      ars AS (
        SELECT c.qid, c.vec_id,
               row_number() OVER (PARTITION BY c.qid
                 ORDER BY q0.qd + q1.qd + q2.qd + q3.qd, c.vec_id) AS rr
        FROM candr c
        JOIN enc_raw e ON e.vec_id = c.vec_id
        JOIN lut_raw q0 ON q0.qid = c.qid AND q0.m = 0 AND q0.code = e.code0
        JOIN lut_raw q1 ON q1.qid = c.qid AND q1.m = 1 AND q1.code = e.code1
        JOIN lut_raw q2 ON q2.qid = c.qid AND q2.m = 2 AND q2.code = e.code2
        JOIN lut_raw q3 ON q3.qid = c.qid AND q3.m = 3 AND q3.code = e.code3),
      ar AS (SELECT qid, vec_id FROM ars WHERE rr <= 10),
      rkb AS (
        SELECT qid, vec_id FROM (
          SELECT b.qid, b.vec_id,
                 row_number() OVER (PARTITION BY b.qid
                   ORDER BY ${dotSql("e.embedding", "q.qv")} DESC, b.vec_id) AS rr2
          FROM (SELECT a.qid, a.vec_id FROM ars a
                JOIN bwq w ON a.qid = w.qid AND a.rr <= w.bw) b
          JOIN embeddings e USING (vec_id)
          JOIN qs q ON q.qid = b.qid)
        WHERE rr2 <= 10),
      res AS (
        SELECT a.vec_id, a.cell,
               list_transform(range(1, ${EmbDim + 1}),
                 i -> CAST(a.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE)) AS rv
        FROM assigned a JOIN cents c ON a.cell = c.cid),
      rsub AS (
        SELECT r.vec_id, ms.m, list_slice(r.rv, ms.m * $PqSub + 1, ms.m * $PqSub + $PqSub) AS sv
        FROM res r, ms),
      rb0 AS (
        SELECT ms.m, CAST(r.vec_id - 8 AS BIGINT) AS code,
               list_slice(r.rv, ms.m * $PqSub + 1, ms.m * $PqSub + $PqSub) AS cv
        FROM res r, ms WHERE r.vec_id >= 8 AND r.vec_id < ${8 + PqK}),
      ${pqRoundsSql("r", "rsub", "rb0")},
      enc_res AS (${encWideSql("rsub", s"rb$PqTrainRounds", sqSubSqlD("s.sv", "b.cv"))}),
      lut_res AS (
        SELECT p.qid, p.cell, b.m, b.code,
               ${sqSubSqlD(s"list_transform(range(1, ${PqSub + 1}), i -> CAST(p.qv[i + b.m * $PqSub] AS DOUBLE) - CAST(p.cv[i + b.m * $PqSub] AS DOUBLE))", "b.cv")} AS qd
        FROM qprobe p JOIN rb$PqTrainRounds b ON p.rn <= 3),
      candc AS (
        SELECT p.qid, a.vec_id, a.cell FROM assigned a JOIN qprobe p ON a.cell = p.cell AND p.rn <= 3),
      rr AS (
        SELECT qid, vec_id FROM (
          SELECT c.qid, c.vec_id,
                 row_number() OVER (PARTITION BY c.qid
                   ORDER BY q0.qd + q1.qd + q2.qd + q3.qd, c.vec_id) AS rr
          FROM candc c
          JOIN enc_res e ON e.vec_id = c.vec_id
          JOIN lut_res q0 ON q0.qid = c.qid AND q0.cell = c.cell AND q0.m = 0 AND q0.code = e.code0
          JOIN lut_res q1 ON q1.qid = c.qid AND q1.cell = c.cell AND q1.m = 1 AND q1.code = e.code1
          JOIN lut_res q2 ON q2.qid = c.qid AND q2.cell = c.cell AND q2.m = 2 AND q2.code = e.code2
          JOIN lut_res q3 ON q3.qid = c.qid AND q3.cell = c.cell AND q3.m = 3 AND q3.code = e.code3)
        WHERE rr <= 10),
      r AS (
        SELECT 'ivf_probe1' AS method, (SELECT count(*) FROM m1 JOIN ex USING (qid, vec_id)) AS hits
        UNION ALL
        SELECT 'ivf_probe3', (SELECT count(*) FROM m3 JOIN ex USING (qid, vec_id))
        UNION ALL
        SELECT 'ivfadc_raw', (SELECT count(*) FROM ar JOIN ex USING (qid, vec_id))
        UNION ALL
        SELECT 'ivfadc_rerank', (SELECT count(*) FROM rkb JOIN ex USING (qid, vec_id))
        UNION ALL
        SELECT 'ivfadc_residual', (SELECT count(*) FROM rr JOIN ex USING (qid, vec_id)))
      SELECT method, CAST(8 AS BIGINT) AS n_queries, CAST(10 AS BIGINT) AS k,
             CAST(hits AS BIGINT) AS hits,
             round(CAST(hits AS DOUBLE) / 80.0, 6) AS mean_recall_r
      FROM r ORDER BY method
    """)) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val wq = Window.partitionBy("qid")
      val qs = heldOutQueries(emb(spark, dir), emb(spark, dir).count())
      // 80 (qid, vec_id) rows consumed by all four rungs — the standing
      // exact referee (serveHarnessDag; one corpus pass per snapshot)
      val ex = serveExqMart(spark, dir)
        .select(col("xq").as("qid"), col("xt").as("vec_id"))
      // the corpus assignment feeds FOUR consumers (both probe rungs and
      // both ADC candidate sets) — lazily checkpoint so the crossJoin
      // argmax pass runs once, not four times (round-13 review; at 100 TB
      // a deployment reads the materialized sim_ivf_layout table here
      // instead of assigning in-query at all)
      val assigned = ivfAssigned(spark, dir).localCheckpoint(false)
      def probedTop(nProbe: Int): DataFrame = seededProbe(spark, dir, assigned, qs, nProbe)
        .select(col("qid"), col("vec_id"), dot(col("embedding"), col("qv")).as("s"))
        .withColumn("rr", row_number().over(wq.orderBy(col("s").desc, col("vec_id"))))
        .filter(col("rr") <= 10).select("qid", "vec_id")
      // a pool's codes scored against the per-query LUT, ranked per query
      def adcRanked(cand: DataFrame, enc: DataFrame, lut: DataFrame,
          lutKeys: Seq[String]): DataFrame =
        adcSum(cand.join(enc, "vec_id"), lut, lutKeys ++ Seq("m", "code"))
          .withColumn("rr", row_number().over(wq.orderBy(col("score"), col("vec_id"))))
      val rawBook = bookDf(spark, convergedRawBook(spark, dir))
      val resBook = bookDf(spark, convergedResidualBook(spark, dir))
      // (qid, vec_id, cell) scalars only, read by both ADC rungs
      val candR = seededProbe(spark, dir, assigned, qs, 3)
        .select(col("qid"), col("vec_id"), col("cell"))
        .localCheckpoint(false)
      // the raw-ADC scored frame feeds two rungs (the direct top-10 and
      // the re-rank beam) — lazily checkpoint it once
      val arS = adcRanked(candR.select("qid", "vec_id"),
          pqEncode(rawSub(spark, dir), rawBook), pqLut(qs, rawBook), Seq("qid"))
        .localCheckpoint(false)
      val ar = arS.filter(col("rr") <= 10).select("qid", "vec_id")
      // two-stage rung: the per-qid ADC beam re-scored exactly — the
      // simAdcRerank read path INCLUDING its derived beam rule, applied
      // per qid (the r14 review's fixed-50 drift finding); its dominance
      // over ivfadc_raw is structural — the beam holds the ADC top-10
      // since bw >= floor >= k
      val rkb = derivedBeam(arS.select("qid", "vec_id", "score"), beamWidths(candR))
        .join(emb(spark, dir).select(col("vec_id"), col("embedding")), "vec_id")
        .join(broadcast(qs), "qid")
        .select(col("qid"), col("vec_id"), dot(col("embedding"), col("qv")).as("s"))
        .withColumn("rr2", row_number().over(wq.orderBy(col("s").desc, col("vec_id"))))
        .filter(col("rr2") <= 10).select("qid", "vec_id")
      val encRes = pqEncode(pqSplit(ivfResiduals(spark, dir).select("vec_id", "rv"), "rv"),
        resBook)
      val rrTop = adcRanked(candR, encRes, resLut(qs, seededCents(emb(spark, dir)), resBook),
          Seq("qid", "cell"))
        .filter(col("rr") <= 10).select("qid", "vec_id")
      Seq("ivf_probe1" -> probedTop(1), "ivf_probe3" -> probedTop(3), "ivfadc_raw" -> ar,
          "ivfadc_rerank" -> rkb, "ivfadc_residual" -> rrTop)
        .map { case (name, ids) => recallHits(name, ids, ex, Seq("qid", "vec_id")) }
        .reduce(_ unionAll _)
        .select(col("method"), lit((QHi - QLo).toLong).as("n_queries"), lit(10L).as("k"),
          col("hits"),
          round(col("hits").cast(DoubleType) / (10.0 * (QHi - QLo)), 6).as("mean_recall_r"))
        .orderBy("method")
    }
  }

  /** sim13d — the ANN RECALL-COST FRONTIER (round-13 queue #1): the
    * measurement that turns [[simAnnRecallSet]]'s single operating point
    * into a deployable decision. Sweep probes × beam — probes ∈ {1, 2, 4,
    * 8 (= all cells, exhaustive)} × beam ∈ {10, 50, 200, full (= the
    * whole probed pool)} — over the same 8 held-out queries, emitting
    * (probes, beam, candidates, beam_rows, hits, mean_recall@10) per
    * point: `candidates` is the ADC-scan cost (pool rows), `beam_rows`
    * the exact-re-score cost, recall the quality axis. The evaluation
    * leans on the re-rank LEMMA (verified empirically by the recall-set
    * gate's rung, structural here): after exact re-ranking, recall@10 =
    * |beam ∩ exact-top-10| — a global top-10 member in the beam can be
    * outscored by at most 9 vectors anywhere, so it always survives the
    * exact top-10 cut. The frontier therefore needs ADC ranks only, no
    * per-rung re-scoring pass. Three structural laws are ENFORCED in the
    * gate (requires over the 16-row mart): recall is monotone in beam at
    * fixed probes (beam sets nest), monotone in probes at full beam
    * (pools nest and the lemma counts pool ∩ exact), and the exhaustive
    * corner (probes 8, full beam) recovers recall 1.0 — the
    * self-validating ceiling. Everything else is MEASURED, per the
    * suite's assert-structure/measure-data convention. MEASURED FRONTIER
    * (driver corpora, on the SERVED k* = [[PqK]] = 64 book, round-17
    * honest query window): at sf0.1 (2 000 vectors) beam-200 reaches
    * 0.475 at probes-2, 0.6125 at probes-4 and 0.625 at probes-8
    * (full-pool ceilings 0.4875 / 0.7375 / 1.0 — the old seeded queries
    * read 0.54/0.725/0.84 here, inflated by their codebook-seed
    * membership). The binding constraint still MOVES with probes: by
    * probes-8 the fixed beam-200, not the pool, binds (0.625 read vs a
    * 1.0 ceiling), so the next lever is the COARSE quantizer — more
    * cells (production IVF uses ~√n·c cells, not 8) or more probes —
    * and past that the beam (the [[simDeployedFrontier]] sweep prices
    * exactly that trade on the served trained-32 path). Shape at
    * 100 TB: an EVALUATION harness priced per evaluation, not per serve —
    * the probes-8 row deliberately ADC-scans the full corpus against 8
    * queries (codes + scalars only, the books/LUTs broadcast); the
    * per-(probes, qid) rank windows carry (id, scalar) rows. */
  val simAnnFrontier: QueryDef = {
    QueryDef(
      "sim_ann_frontier",
      Some(s"""
      WITH $msSql,
      cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
      qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id >= $QLo AND vec_id < $QHi),
      ex AS (
        SELECT qid, vec_id FROM (
          SELECT q.qid, e.vec_id,
                 row_number() OVER (PARTITION BY q.qid
                   ORDER BY ${dotSql("e.embedding", "q.qv")} DESC, e.vec_id) AS rn
          FROM embeddings e, qs q)
        WHERE rn <= 10),
      assigned AS (
        SELECT e.vec_id, e.embedding,
               arg_max(c.cid, ${dotSql("e.embedding", "c.cv")} - 1e-12 * c.cid) AS cell
        FROM embeddings e, cents c GROUP BY e.vec_id, e.embedding),
      qprobe AS (
        SELECT q.qid, c.cid AS cell,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY ${dotSql("q.qv", "c.cv")} - 1e-12 * c.cid DESC) AS rn
        FROM qs q, cents c),
      $rawBookChainSql,
      enc_raw AS (${encWideSql("sub", s"pb$PqTrainRounds",
        sqSubSqlD("list_transform(s.sv, x -> CAST(x AS DOUBLE))", "b.cv"))}),
      lut_raw AS (
        SELECT q.qid, b.m, b.code,
               ${sqSubSqlD(s"list_transform(list_slice(q.qv, b.m * $PqSub + 1, b.m * $PqSub + $PqSub), x -> CAST(x AS DOUBLE))", "b.cv")} AS qd
        FROM qs q, pb$PqTrainRounds b),
      sc AS (
        SELECT p.qid, a.vec_id, p.rn AS crank,
               q0.qd + q1.qd + q2.qd + q3.qd AS adc
        FROM assigned a
        JOIN qprobe p ON a.cell = p.cell
        JOIN enc_raw e ON e.vec_id = a.vec_id
        JOIN lut_raw q0 ON q0.qid = p.qid AND q0.m = 0 AND q0.code = e.code0
        JOIN lut_raw q1 ON q1.qid = p.qid AND q1.m = 1 AND q1.code = e.code1
        JOIN lut_raw q2 ON q2.qid = p.qid AND q2.m = 2 AND q2.code = e.code2
        JOIN lut_raw q3 ON q3.qid = p.qid AND q3.m = 3 AND q3.code = e.code3),
      probes AS (SELECT unnest([1, 2, 4, 8]) AS p),
      pool AS (
        SELECT pr.p, s.qid, s.vec_id, s.adc,
               row_number() OVER (PARTITION BY pr.p, s.qid
                 ORDER BY s.adc, s.vec_id) AS rk
        FROM sc s JOIN probes pr ON s.crank <= pr.p),
      beams AS (SELECT unnest(['b010', 'b050', 'b200', 'full']) AS beam,
                       unnest([10, 50, 200, NULL]) AS bw),
      agg AS (
        SELECT pl.p, b.beam,
               CAST(count(*) AS BIGINT) AS candidates,
               CAST(count(*) FILTER (b.bw IS NULL OR pl.rk <= b.bw) AS BIGINT) AS beam_rows,
               CAST(count(*) FILTER ((b.bw IS NULL OR pl.rk <= b.bw) AND ex.vec_id IS NOT NULL) AS BIGINT) AS hits
        FROM pool pl
        CROSS JOIN beams b
        LEFT JOIN ex ON ex.qid = pl.qid AND ex.vec_id = pl.vec_id
        GROUP BY pl.p, b.beam)
      SELECT CAST(p AS BIGINT) AS probes, beam, candidates, beam_rows, hits,
             round(CAST(hits AS DOUBLE) / 80.0, 6) AS mean_recall_r
      FROM agg ORDER BY probes, beam
    """)) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val wq = Window.partitionBy("qid")
      val qs = heldOutQueries(emb(spark, dir), emb(spark, dir).count())
      val ex = serveExqMart(spark, dir)
        .select(col("xq"), col("xt").as("xv"))
      val rawBook = bookDf(spark, convergedRawBook(spark, dir))
      // every (qid, vec) pair with the vector's cell RANK for that query —
      // the probes-8 row makes this the full corpus ×8, deliberately
      val sc0 = ivfAssigned(spark, dir)
        .join(broadcast(seededCellRank(emb(spark, dir), qs)
          .select(col("qid"), col("cell").as("pcell"), col("rn").as("crank"))),
          col("cell") === col("pcell"))
        .select(col("qid"), col("vec_id"), col("crank"))
      val scored = adcSum(sc0.join(pqEncode(rawSub(spark, dir), rawBook), "vec_id"),
        pqLut(qs, rawBook), Seq("qid", "m", "code"))
      val s2 = spark
      import s2.implicits._
      val pool = scored.crossJoin(broadcast(Seq(1, 2, 4, 8).toDF("p")))
        .filter(col("crank") <= col("p"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("p", "qid").orderBy(col("score"), col("vec_id"))))
      val beams = spark.createDataFrame(
        java.util.Arrays.asList(
          org.apache.spark.sql.Row("b010", Integer.valueOf(10)),
          org.apache.spark.sql.Row("b050", Integer.valueOf(50)),
          org.apache.spark.sql.Row("b200", Integer.valueOf(200)),
          org.apache.spark.sql.Row("full", null)),
        StructType(Seq(StructField("beam", StringType), StructField("bw", IntegerType))))
      val inBeam = col("bw").isNull || col("rk") <= col("bw")
      val agg = pool.crossJoin(broadcast(beams))
        .join(broadcast(ex), col("qid") === col("xq") && col("vec_id") === col("xv"), "left")
        .groupBy("p", "beam")
        .agg(count(lit(1)).as("candidates"),
          count(when(inBeam, lit(1))).as("beam_rows"),
          count(when(inBeam && col("xv").isNotNull, lit(1))).as("hits"))
        .select(col("p").cast(LongType).as("probes"), col("beam"),
          col("candidates"), col("beam_rows"), col("hits"),
          round(col("hits").cast(DoubleType) / 80.0, 6).as("mean_recall_r"))
        .orderBy("probes", "beam")
      val schema = agg.schema
      val rows = agg.collect()
      // the three structural laws, enforced on the collected 16-row mart
      val byPB = rows.map(r =>
        ((r.getAs[Long]("probes"), r.getAs[String]("beam")), r.getAs[Long]("hits"))).toMap
      for (p <- Seq(1L, 2L, 4L, 8L)) {
        val h = Seq("b010", "b050", "b200", "full").map(b => byPB((p, b)))
        require(h == h.sorted, s"recall not monotone in beam at probes=$p: $h")
      }
      val fulls = Seq(1L, 2L, 4L, 8L).map(p => byPB((p, "full")))
      require(fulls == fulls.sorted, s"full-beam recall not monotone in probes: $fulls")
      require(byPB((8L, "full")) == 80L,
        s"exhaustive rung recovered ${byPB((8L, "full"))}/80 — ceiling broken")
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    }
  }

  /** Where the materialized inverted file lands (snapshot-signed like
    * every derived layout, so regenerated embeddings can never serve a
    * stale index). Shared by the gate and the PlanSpec pruning proof. */
  private[graft] def ivfLayoutPath(spark: SparkSession, dir: String): String =
    core.scratch(dir, s"ivf_layout_${core.sourceSig(spark, dir, "embeddings")}")

  /** The probe-side read of the materialized layout: a plain filtered scan
    * whose cell predicate must become a PARTITION filter (PlanSpec pins
    * this — it is the entire point of the layout). */
  private[graft] def ivfLayoutProbe(spark: SparkSession, dir: String, cells: Seq[Long]): DataFrame =
    spark.read.parquet(ivfLayoutPath(spark, dir))
      .filter(col("cell").isin(cells: _*))

  /** sim16 — the INVERTED FILE AS A TABLE LAYOUT: every ANN gate so far
    * computes the IVF assignment in-query; a deployment MATERIALIZES it —
    * the inverted file IS a partitioned table, one partition per coarse
    * cell, and "probe P cells" is then nothing but partition pruning, the
    * same engine mechanism `s_partition_pruning` gates for the warehouse.
    * This gate writes the layout (vectors partitioned by assigned cell,
    * snapshot-signed path), reads it back, and emits the per-cell file
    * statistics an index operator watches: vector count, corpus share,
    * and a membership checksum. The skew story is the operational reason
    * the stats exist: a hot cell is a hot partition, and the fix
    * (re-train centroids, or split the cell) starts from this table.
    * Shape at 100 TB: the write is one shuffle-free map pass with a
    * partitioned sink (same posture as the date-partitioned fact); the
    * probe read scans ONLY the probed cells' files — PlanSpec asserts the
    * cell predicate lands in PartitionFilters, turning the P/K candidate
    * bound from an argument into a physical-plan fact. */
  val simIvfLayout: QueryDef = QueryDef(
    "sim_ivf_layout",
    Some(s"""
      WITH cents AS (
        SELECT vec_id AS cent_id, embedding AS cv FROM embeddings WHERE vec_id < 8),
      assigned AS (
        SELECT e.vec_id,
               arg_max(c.cent_id, ${dotSql("e.embedding", "c.cv")} - 1e-12 * c.cent_id) AS cell
        FROM embeddings e, cents c
        GROUP BY e.vec_id, e.embedding),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM assigned)
      SELECT cell, CAST(count(*) AS BIGINT) AS n_vectors,
             round(CAST(count(*) AS DOUBLE) / CAST(tot.n AS DOUBLE), 6) AS share_r,
             CAST(sum(CAST(vec_id AS DECIMAL(38, 0))) AS DOUBLE) AS id_sum
      FROM assigned CROSS JOIN tot
      GROUP BY cell, tot.n ORDER BY cell
    """)) { (spark, dir) =>
    ivfAssigned(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding"), col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(ivfLayoutPath(spark, dir))
    val back = spark.read.parquet(ivfLayoutPath(spark, dir))
      .select(col("vec_id"), col("cell").cast(LongType).as("cell"))
    val tot = back.agg(count(lit(1)).as("n"))
    back.groupBy("cell")
      .agg(count(lit(1)).as("n_vectors"),
        sum(col("vec_id").cast(DecimalType(38, 0))).cast(DoubleType).as("id_sum"))
      .crossJoin(broadcast(tot))
      .select(col("cell"), col("n_vectors"),
        round(col("n_vectors").cast(DoubleType) / col("n").cast(DoubleType), 6)
          .as("share_r"),
        col("id_sum"))
      .orderBy("cell")
  }

  /** Pinned 2-means budget for the hot-cell split — the oracle unrolls
    * exactly this many recomputes; the Spark loop exits earlier at the
    * assignment fixpoint (provable no-ops thereafter). */
  private[graft] val IvfSplitRounds = 3

  /** sim16b — IVF INDEX MAINTENANCE, the hot-cell SPLIT: the operation
    * [[simIvfLayout]]'s per-cell statistics exist to trigger. A hot cell
    * is a hot partition — every probe of it scans its whole membership —
    * and the standing fix is to split it: take the fullest cell
    * (deterministic argmax: count DESC, cell ASC), train 2-means over
    * ONLY its members (seeds = the two lowest-id members; Lloyd to the
    * [[IvfSplitRounds]] budget with the [[simKmeansConverged]] fixpoint
    * early-exit, squared-L2 via the ‖c‖²−2x·c expansion, 1e-7 fixed-point
    * recomputes), and emit the rebalanced layout: every untouched cell's
    * stats verbatim plus the two child cells (`<hot>a`/`<hot>b`) with
    * their memberships and corpus shares. LlmOpsSpec asserts the
    * operation's contract: children partition the hot cell exactly, both
    * are non-empty, and the layout's max share strictly decreases. Shape
    * at 100 TB: the split trains over ONE cell's members (the unit of
    * maintenance work — ~1/K of the corpus), each round one
    * broadcast-argmin map pass + one (sub, pos) integer-partial
    * recompute; the untouched cells are never rescanned past the
    * already-needed stats pass. */
  val simIvfSplit: QueryDef = {
    def sround(r: Int): String = {
      val sc = s"${dotSql("c.cv", "c.cv")} - 2 * ${dotSql("m.embedding", "c.cv")} + 1e-12 * c.cent_id"
      s"""sa$r AS (
        SELECT m.vec_id, m.embedding,
               arg_min(c.cent_id, $sc) AS sub
        FROM mem m, s${r - 1} c GROUP BY m.vec_id, m.embedding),
      sper$r AS (
        SELECT sub, pos,
               CAST(sum(CAST(floor(CAST(v AS DOUBLE) * 10000000.0) AS BIGINT)) AS BIGINT) AS s,
               count(*) AS n
        FROM (SELECT sub, unnest(range(0, len(embedding))) AS pos, unnest(embedding) AS v FROM sa$r)
        GROUP BY 1, 2),
      s$r AS (
        SELECT sub AS cent_id,
               list(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 10000000.0 ORDER BY pos) AS cv
        FROM sper$r GROUP BY sub)"""
    }
    QueryDef(
      "sim_ivf_split",
      Some(s"""
      WITH cents AS (SELECT vec_id AS cent_id, embedding AS cv FROM embeddings WHERE vec_id < 8),
      assigned AS (
        SELECT e.vec_id, e.embedding,
               arg_max(c.cent_id, ${dotSql("e.embedding", "c.cv")} - 1e-12 * c.cent_id) AS cell
        FROM embeddings e, cents c GROUP BY e.vec_id, e.embedding),
      stats AS (SELECT cell, CAST(count(*) AS BIGINT) AS n FROM assigned GROUP BY cell),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM assigned),
      hot AS (SELECT cell FROM stats ORDER BY n DESC, cell LIMIT 1),
      mem AS (SELECT a.vec_id, a.embedding FROM assigned a, hot h WHERE a.cell = h.cell),
      s0 AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cent_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
        FROM (SELECT vec_id, embedding FROM mem ORDER BY vec_id LIMIT 2)),
      ${(1 to IvfSplitRounds).map(sround).mkString(",\n      ")},
      saf AS (
        SELECT m.vec_id,
               arg_min(c.cent_id, ${dotSql("c.cv", "c.cv")} - 2 * ${dotSql("m.embedding", "c.cv")} + 1e-12 * c.cent_id) AS sub
        FROM mem m, s$IvfSplitRounds c GROUP BY m.vec_id, m.embedding),
      fin AS (SELECT sub, CAST(count(*) AS BIGINT) AS n FROM saf GROUP BY sub)
      SELECT cell_label, n_vectors, round(CAST(n_vectors AS DOUBLE) / CAST(t.n AS DOUBLE), 6) AS share_r
      FROM (
        SELECT CAST(s.cell AS VARCHAR) AS cell_label, s.n AS n_vectors
        FROM stats s, hot h WHERE s.cell <> h.cell
        UNION ALL
        SELECT CAST(h.cell AS VARCHAR) || CASE WHEN f.sub = 0 THEN 'a' ELSE 'b' END, f.n
        FROM fin f, hot h) x, tot t
      ORDER BY cell_label
    """)) { (spark, dir) =>
      val s2 = spark
      import s2.implicits._
      import org.apache.spark.sql.expressions.Window
      val assigned = ivfAssigned(spark, dir).localCheckpoint(false)
      val statRows = assigned.groupBy("cell").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getAs[Long]("cell"), r.getAs[Long]("n")))
      val total = statRows.map(_._2).sum
      val hot = statRows.sortBy { case (cell, n) => (-n, cell) }.head._1
      // the unit of maintenance work: ONE cell's members
      val mem = assigned.filter(col("cell") === hot)
        .select(col("vec_id"), col("embedding")).localCheckpoint(true)
      // seeds: the two lowest-id members (2-row frame → the id window is
      // bounded by construction)
      val seedCkpt = mem.orderBy("vec_id").limit(2).localCheckpoint(true)
      val seed = seedCkpt
        .withColumn("cent_id",
          (row_number().over(Window.orderBy("vec_id")) - 1).cast(IntegerType))
        .select(col("cent_id"), col("embedding").cast(ArrayType(DoubleType)).as("cv"))
      val (cents, finA) = lloydBook(seed, IvfSplitRounds, Seq("vec_id", "cell"))(
        cents => kmAssign(mem, cents).select(col("vec_id"), col("embedding"), col("cell")),
        a => fixedMean(fixedSums(a, "embedding", "cell"), "cell")
          .select(col("cell").as("cent_id"), col("cv")))
      val finCounts = finA.groupBy("cell").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getAs[Int]("cell"), r.getAs[Long]("n")))
      // the driver-side collects are done: release every checkpoint taken
      // above, so nothing accumulates until releaseSessionState
      Seq(finA, cents, seedCkpt, mem, assigned).foreach(core.release)
      val rows =
        statRows.filter(_._1 != hot).map { case (c, n) => (c.toString, n) } ++
          finCounts.map { case (sub, n) =>
            (s"$hot${if (sub == 0) "a" else "b"}", n) }
      rows.toSeq.toDF("cell_label", "n_vectors")
        .select(col("cell_label"), col("n_vectors"),
          round(col("n_vectors").cast(DoubleType) / lit(total.toDouble), 6).as("share_r"))
        .orderBy("cell_label")
    }
  }

  /** The exact fixed-point per-dim variance + greedy balanced-variance
    * ALLOCATION oracle chain (the [[opqGreedyPerm]] recursive-CTE replay),
    * parameterized by the (vector column, source CTE) pair and the name of
    * the emitted position map — ONE definition serving both
    * [[simOpqLearned]] (raw corpus) and [[simOpqRotation]] (the mixed
    * fixture), so the argmin/tie-break machinery can never desynchronize
    * between the two oracles (the r14 review's duplicate-chain finding).
    * Emits CTEs ve/mstats/varq/ord/alloc plus `$mapName(pos, dim0)`. */
  private def varqAllocSql(vecCol: String, src: String, mapName: String): String =
    s"""ve AS (
        SELECT unnest(range(0, $EmbDim)) AS dim, unnest($vecCol) AS v FROM $src),
      mstats AS (
        SELECT dim,
               CAST(sum(CAST(floor(CAST(v AS DOUBLE) * 10000000.0) AS BIGINT)) AS BIGINT) AS s1,
               count(*) AS n
        FROM ve GROUP BY dim),
      varq AS (
        SELECT ve.dim,
               CAST(sum(CAST(floor(
                 (CAST(ve.v AS DOUBLE) - CAST(st.s1 AS DOUBLE) / (CAST(st.n AS DOUBLE) * 10000000.0))
                 * (CAST(ve.v AS DOUBLE) - CAST(st.s1 AS DOUBLE) / (CAST(st.n AS DOUBLE) * 10000000.0))
                 * 10000000.0) AS BIGINT)) AS BIGINT) AS vq
        FROM ve JOIN mstats st ON ve.dim = st.dim
        GROUP BY ve.dim),
      ord AS (
        SELECT dim, vq, row_number() OVER (ORDER BY vq DESC, dim) - 1 AS rk FROM varq),
      alloc AS (
        WITH RECURSIVE g(step, sums, cnts, bins) AS (
          SELECT 0, [CAST(0 AS BIGINT), 0, 0, 0], [0, 0, 0, 0], CAST([] AS INTEGER[])
          UNION ALL
          SELECT s.step + 1,
                 list_transform(range(1, ${PqM + 1}), i -> s.sums[i] + CASE WHEN i = s.b THEN s.vq ELSE 0 END),
                 list_transform(range(1, ${PqM + 1}), i -> s.cnts[i] + CASE WHEN i = s.b THEN 1 ELSE 0 END),
                 list_append(s.bins, s.b)
          FROM (
            SELECT g.step, g.sums, g.cnts, g.bins, o.vq,
                   CAST(list_position(
                     list_transform(range(1, ${PqM + 1}), i -> CASE WHEN g.cnts[i] >= $PqSub THEN NULL ELSE g.sums[i] END),
                     list_min(list_transform(range(1, ${PqM + 1}), i -> CASE WHEN g.cnts[i] >= $PqSub THEN NULL ELSE g.sums[i] END))) AS INTEGER) AS b
            FROM g JOIN ord o ON o.rk = g.step
            WHERE g.step < $EmbDim) s)
        SELECT bins FROM g WHERE step = $EmbDim),
      $mapName AS (
        SELECT row_number() OVER (ORDER BY a.bins[o.rk + 1], o.rk) AS pos, o.dim AS dim0
        FROM ord o, alloc a),"""

  /** sim17 — PQ SUBSPACE-LAYOUT distortion audit: which coordinates share
    * a subspace is a free parameter of product quantization, and choosing
    * it well is the entire subject of OPQ (Ge et al., "Optimized Product
    * Quantization", CVPR 2013 — a learned rotation; coordinate
    * PERMUTATION is its zero-training structured baseline, the first
    * thing the paper compares against). This gate quantifies the choice:
    * total quantization distortion of the seeded codebook under the
    * natural dimension order vs a stride-17 permutation (17 ⊥ 64 ⇒ a
    * bijection that scatters adjacent dimensions across subspaces).
    * Per-vector distortion = Σ_m min_code ‖sub_m(v) − sub_m(code)‖² —
    * quantized to exact integer micro-units per vector before the
    * cross-row sum, so the corpus total is order-insensitive and
    * hash-stable (the suite's float-sum rule). One number per layout is
    * the decision input: re-layout the dimensions when the permuted
    * distortion is materially lower. Shape at 100 TB: the permutation is
    * a map-side `transform`, the 8-codeword frame broadcasts, and the
    * rollup sums (vec_id, micro) longs — one pass per candidate layout. */
  val simPqDimLayout: QueryDef = {
    val layouts = Seq(("identity", "i"), ("stride17", s"((i * 17 - 17) % $EmbDim) + 1"))
    val blocks = layouts.map { case (label, perm) =>
      val dcols = (0 until PqM)
        .map(m => s"${pqSubSqSql("pe.pv", "pc.pv", m)} AS d$m")
        .mkString(",\n               ")
      val mins = (0 until PqM).map(m => s"min(d$m) AS m$m").mkString(", ")
      val tot = (0 until PqM).map(m => s"m$m").mkString(" + ")
      s"""${label}_pe AS (
        SELECT vec_id, list_transform(range(1, ${EmbDim + 1}), i -> embedding[$perm]) AS pv
        FROM embeddings),
      ${label}_pc AS (SELECT vec_id, pv FROM ${label}_pe WHERE vec_id < 8),
      ${label}_d AS (
        SELECT pe.vec_id,
               $dcols
        FROM ${label}_pe pe, ${label}_pc pc),
      ${label}_enc AS (SELECT vec_id, $mins FROM ${label}_d GROUP BY vec_id),
      ${label}_sum AS (
        SELECT '$label' AS layout, CAST(count(*) AS BIGINT) AS n_vectors,
               CAST(sum(CAST(floor(($tot) * 1000000) AS BIGINT)) AS BIGINT) AS total_micro,
               round(CAST(sum(CAST(floor(($tot) * 1000000) AS BIGINT)) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE) / 1000000.0, 6) AS mean_r
        FROM ${label}_enc)"""
    }
    QueryDef(
      "sim_pq_dim_layout",
      Some(s"""
      WITH ${blocks.mkString(",\n      ")}
      SELECT * FROM (
        ${layouts.map(l => s"SELECT * FROM ${l._1}_sum").mkString("\n        UNION ALL ")})
      ORDER BY layout
    """)) { (spark, dir) =>
      def layoutDist(label: String, perm: Column => Column): DataFrame = {
        val pv = transform(sequence(lit(1), lit(EmbDim)),
          i => element_at(col("embedding"), perm(i)))
        val pe = emb(spark, dir).select(col("vec_id"), pv.as("pv"))
        val pc = pe.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("pv").as("cv"))
        val d = pe.crossJoin(broadcast(pc))
          .select(Seq(col("vec_id")) ++
            (0 until PqM).map(m => pqSubSq(col("pv"), col("cv"), m).as(s"d$m")): _*)
        val encAggs = (0 until PqM).map(m => min(col(s"d$m")).as(s"m$m"))
        val tot = (0 until PqM).map(m => col(s"m$m")).reduce(_ + _)
        d.groupBy("vec_id").agg(encAggs.head, encAggs.tail: _*)
          .select(floor(tot * 1000000).cast(LongType).as("micro"))
          .agg(count(lit(1)).as("n_vectors"),
            sum(col("micro")).as("total_micro"))
          .select(lit(label).as("layout"), col("n_vectors"), col("total_micro"),
            round(col("total_micro").cast(DoubleType)
              / col("n_vectors").cast(DoubleType) / 1000000.0, 6).as("mean_r"))
      }
      layoutDist("identity", i => i)
        .unionAll(layoutDist("stride17", i => ((i * 17 - 17) % EmbDim) + 1))
        .orderBy("layout")
    }
  }

  /** The 1e-7-quantized per-dimension variance mass Σ_rows ⌊(v − μ_d)²·10⁷⌋
    * of the corpus, as a driver value (64 longs — counter-scale by the
    * embedding width, not the corpus). Two exact map passes: pass 1 sums
    * ⌊v·10⁷⌋ per dimension (the fixed-point mean numerator), pass 2 sums
    * the floored squared deviation from μ_d = s1/(n·10⁷) — μ and the
    * deviation are single IEEE double ops, identical in any engine, and
    * the cross-row sum is over exact BIGINTs (the suite's float-sum
    * rule). */
  private[graft] def dimVarianceQ(spark: SparkSession, dir: String): Seq[(Int, Long)] =
    dimVarianceQOf(emb(spark, dir).select(posexplode(col("embedding")).as(Seq("dim", "v"))))

  /** The same exact fixed-point per-dimension variance over an arbitrary
    * (dim, v) stream — [[simOpqRotation]] feeds it the mixed fixture. */
  private[graft] def dimVarianceQOf(ve: DataFrame): Seq[(Int, Long)] = {
    val mstats = ve.groupBy("dim")
      .agg(sum(floor(col("v").cast(DoubleType) * 10000000.0).cast(LongType)).as("s1"),
        count(lit(1)).as("n"))
    val mu = col("s1").cast(DoubleType) / (col("n").cast(DoubleType) * 10000000.0)
    val dev = col("v").cast(DoubleType) - mu
    ve.join(broadcast(mstats), "dim")
      .select(col("dim"), floor(dev * dev * 10000000.0).cast(LongType).as("dq"))
      .groupBy("dim").agg(sum(col("dq")).as("vq"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq.sortBy(_._1)
  }

  /** Greedy balanced-variance dimension allocation (the structured half of
    * Ge et al., "Optimized Product Quantization", TPAMI 2014 — their
    * eigenvalue-allocation step applied to per-dimension variance mass,
    * skipping the learned rotation): dimensions sorted by variance
    * descending (ties → lower dim) are assigned one at a time to the
    * subspace with the smallest accumulated variance mass that still has
    * capacity, ties → lowest subspace index. Returns the 1-based learned
    * permutation (positions m·16+1..m·16+16 hold subspace m's dimensions in
    * assignment order) — 64 integer steps on the driver; the oracle
    * replays the identical argmin via a recursive CTE whose first-min
    * `list_position` matches this loop's strict-< first-win scan. */
  private[graft] def opqGreedyPerm(varq: Seq[(Int, Long)]): Seq[Int] = {
    val ord = varq.sortBy { case (dim, vq) => (-vq, dim) }
    val sums = Array.fill(PqM)(0L)
    val cnts = Array.fill(PqM)(0)
    val bins = ord.map { case (_, vq) =>
      var b = -1
      var bestSum = Long.MaxValue
      var i = 0
      while (i < PqM) {
        if (cnts(i) < PqSub && sums(i) < bestSum) { bestSum = sums(i); b = i }
        i += 1
      }
      sums(b) += vq
      cnts(b) += 1
      b
    }
    ord.zip(bins).zipWithIndex
      .map { case (((dim, _), b), rk) => (b, rk, dim) }
      .sorted.map(_._3 + 1)
  }

  /** Per-subspace variance-mass spread (max − min over the 4 subspace
    * sums) of a 1-based layout permutation — the objective the greedy
    * allocation minimizes, computed from the collected variance table. */
  private def layoutSpreadQ(perm: Seq[Int], varq: Map[Int, Long]): Long = {
    val binSums = (0 until PqM).map(m =>
      (m * PqSub until (m + 1) * PqSub).map(p => varq(perm(p) - 1)).sum)
    binSums.max - binSums.min
  }

  /** sim19 — LEARNED OPQ dimension allocation (round-12 queue #2):
    * [[simPqDimLayout]] AUDITS two fixed layouts; this gate OPTIMIZES one —
    * per-dimension variance mass in one counter-scale pass
    * ([[dimVarianceQ]]), greedy balanced-variance assignment of dimensions
    * to subspaces ([[opqGreedyPerm]], Ge et al. 2014's eigenvalue
    * allocation on variances), then every layout (identity, stride-17, and
    * the learned permutation) is scored the way a deployment would score
    * it: train a product quantizer per layout to the [[PqTrainRounds]]
    * fixpoint budget ([[trainSubspaceBook]] — the converged-training
    * machinery composing with arbitrary layouts) and measure total encode
    * distortion, alongside the balance objective itself (subspace
    * variance-mass spread). Honesty note the spec enforces: on this
    * corpus the learned layout wins the OBJECTIVE by an order of magnitude
    * at every scale rung (spread ~3e6 vs ~3-6e7) while trained-book
    * DISTORTION ties within noise across all three layouts — the driver's
    * synthetic embeddings are near-isotropic (per-dim variance 0.013-0.019),
    * so no permutation can beat another on distortion by more than ulps;
    * the allocation's distortion value shows on anisotropic real data
    * (PCA-rotated or raw-feature vectors), and what this gate pins is the
    * optimizer machinery plus the measured objective. Shape at 100 TB:
    * two map passes for variances (64-long driver value), a 64-step driver
    * greedy, and per layout the budgeted training loop (broadcast-argmin
    * map passes, integer-partial recomputes) + one distortion pass — no
    * vector in any shuffle anywhere. */
  val simOpqLearned: QueryDef = {
    def layoutBlock(l: String): String = {
      val sq = sqSubSql("s.sv", "b.cv")
      s"""${l}_pe AS (
        SELECT e.vec_id, list_transform(range(1, ${EmbDim + 1}), i -> e.embedding[p.pm[i]]) AS pv
        FROM embeddings e, ${l}_perm p),
      ${l}_sub AS (
        SELECT pe.vec_id, ms.m,
               list_slice(pe.pv, ms.m * $PqSub + 1, ms.m * $PqSub + $PqSub) AS sv
        FROM ${l}_pe pe, ms),
      ${l}_s0 AS (
        SELECT ms.m, CAST(pe.vec_id AS BIGINT) AS code,
               list_transform(list_slice(pe.pv, ms.m * $PqSub + 1, ms.m * $PqSub + $PqSub),
                 x -> CAST(x AS DOUBLE)) AS cv
        FROM ${l}_pe pe, ms WHERE pe.vec_id < 8),
      ${pqRoundsSql(l, s"${l}_sub", s"${l}_s0")},
      ${l}_dist AS (
        SELECT CAST(count(DISTINCT s.vec_id) AS BIGINT) AS n_vectors,
               CAST(sum(micro) AS BIGINT) AS total_micro
        FROM (
          SELECT s.vec_id, CAST(floor(min($sq + 1e-12 * b.code) * 1000000.0) AS BIGINT) AS micro
          FROM ${l}_sub s JOIN ${l}b$PqTrainRounds b ON s.m = b.m
          GROUP BY s.vec_id, s.m, s.sv) s),
      ${l}_spread AS (
        SELECT CAST(max(sb) - min(sb) AS BIGINT) AS spread_q
        FROM (SELECT (mp.pos - 1) // $PqSub AS sm, sum(v.vq) AS sb
              FROM ${l}_map mp JOIN varq v ON v.dim = mp.dim0
              GROUP BY 1)),
      ${l}_row AS (
        SELECT '$l' AS layout, d.n_vectors, sp.spread_q, d.total_micro,
               round(CAST(d.total_micro AS DOUBLE) / CAST(d.n_vectors AS DOUBLE) / 1000000.0, 6) AS mean_r
        FROM ${l}_dist d, ${l}_spread sp)"""
    }
    QueryDef(
      "sim_opq_learned",
      Some(s"""
      WITH $msSql,
      ${varqAllocSql("embedding", "embeddings", "learned_map")}
      identity_map AS (SELECT unnest(range(1, ${EmbDim + 1})) AS pos, unnest(range(0, $EmbDim)) AS dim0),
      stride17_map AS (
        SELECT unnest(range(1, ${EmbDim + 1})) AS pos,
               unnest(list_transform(range(1, ${EmbDim + 1}), i -> (i * 17 - 17) % $EmbDim)) AS dim0),
      identity_perm AS (SELECT list(dim0 + 1 ORDER BY pos) AS pm FROM identity_map),
      stride17_perm AS (SELECT list(dim0 + 1 ORDER BY pos) AS pm FROM stride17_map),
      learned_perm AS (SELECT list(dim0 + 1 ORDER BY pos) AS pm FROM learned_map),
      ${layoutBlock("identity")},
      ${layoutBlock("stride17")},
      ${layoutBlock("learned")}
      SELECT * FROM (
        SELECT * FROM identity_row
        UNION ALL SELECT * FROM stride17_row
        UNION ALL SELECT * FROM learned_row)
      ORDER BY layout
    """)) { (spark, dir) =>
      val s2 = spark
      import s2.implicits._
      val varq = dimVarianceQ(spark, dir)
      val varqMap = varq.toMap
      val learned = opqGreedyPerm(varq)
      val identity = (1 to EmbDim).toSeq
      val stride17 = (1 to EmbDim).map(i => ((i * 17 - 17) % EmbDim) + 1)
      val n = emb(spark, dir).count()
      def eval(label: String, perm: Seq[Int]): (String, Long, Long, Long) = {
        val pe = emb(spark, dir).select(col("vec_id"),
          array(perm.map(p => col("embedding")(p - 1)): _*).as("pv"))
        val sub = pqSplit(pe, "pv")
        val seed = pqSeedBook(pe.filter(col("vec_id") < 8), "pv")
        // all three layout rungs train their own 8-code book under a
        // layout-scoped memo key: the round-13 reuse of convergedRawBook
        // for the identity rung became invalid when the served book
        // adopted k* = PqK = 64 (round 15) — the layout comparison stays a
        // self-contained 8-code measurement so the three rungs differ ONLY
        // in dimension order, never in code budget
        val recs = memoBook(spark, dir, s"opq_$label") {
          trainSubspaceBook(spark, sub, seed)
        }
        val total = bookDistortionMicro(spark, sub, bookDf(spark, recs))
        (label, n, layoutSpreadQ(perm, varqMap), total)
      }
      Seq(eval("identity", identity), eval("stride17", stride17),
          eval("learned", learned))
        .toDF("layout", "n_vectors", "spread_q", "total_micro")
        .select(col("layout"), col("n_vectors"), col("spread_q"), col("total_micro"),
          round(col("total_micro").cast(DoubleType) / col("n_vectors").cast(DoubleType)
            / 1000000.0, 6).as("mean_r"))
        .orderBy("layout")
    }
  }

  // ---- sim18 — the LEARNED ROTATION half of OPQ (round-13 queue #2) ----

  /** Jacobi budget and the rational-tangent rotation candidates (ord, p,
    * q): each t = p/q gives EXACT rational cos = (q²−p²)/(q²+p²), sin =
    * 2pq/(q²+p²) — the classical tangent half-angle parameterization, the
    * trick that keeps the whole descent inside integer arithmetic (no
    * atan2, no libm). Angles span ±90° down to ±14°/±7° so the pivot can
    * take coarse or fine steps; candidate order is the deterministic
    * tie-break. */
  private[graft] val OpqRotT = 64
  private[graft] val OpqRotCands: Seq[(Int, Int, Int)] = Seq(
    (1, 1, 1), (2, -1, 1), (3, 1, 2), (4, -1, 2), (5, 1, 4), (6, -1, 4),
    (7, 1, 3), (8, -1, 3), (9, 2, 3), (10, -2, 3), (11, 1, 8), (12, -1, 8),
    (13, 3, 4), (14, -3, 4))

  /** The covariance-PLANTED fixture: the driver corpus is near-isotropic
    * (the r13 `sim_opq_learned` doc concedes distortion ties there), so
    * the rotation gate mixes dimension pairs (i, i+32) by the fixed
    * [[3,1],[1,3]]/4 stencil — correlation 0.6 between far-apart
    * coordinates, exactly the covariance structure a learned rotation
    * exists to remove. One IEEE multiply-add-divide per element in pinned
    * order, bit-identical on both engines. */
  private def opqMixed(spark: SparkSession, dir: String): DataFrame = {
    val e = col("embedding")
    val cols = (0 until EmbDim).map { p =>
      if (p < 32)
        (lit(3.0) * e(p).cast(DoubleType) + e(p + 32).cast(DoubleType)) / lit(4.0)
      else
        (e(p - 32).cast(DoubleType) + lit(3.0) * e(p).cast(DoubleType)) / lit(4.0)
    }
    emb(spark, dir).select(col("vec_id"), array(cols: _*).as("pv"))
  }

  /** Deterministic integer Jacobi descent on a 64×64 scaled second-moment
    * matrix (flat row-major, entries already normalized by the row count):
    * per iteration pick the largest |off-diagonal| pivot (ties → first in
    * row-major order), score every [[OpqRotCands]] rotation by the CLOSED
    * FORM of the new pivot entry c'_ij = (cn·sn·(c_jj−c_ii) +
    * (cn²−sn²)·c_ij)/S² (exact Givens invariance — only the 2×2 pivot
    * block enters), apply the best strictly-improving candidate to C
    * (C' = G·C·Gᵀ, row pass then column pass, TRUNCATING division by
    * S = 10⁶ at each step — Scala `Long./`, DuckDB `//`, the same
    * toward-zero semantics) and accumulate the rotation R (row pass
    * only). Stops at the budget, a zero off-diagonal, or a pivot no
    * candidate improves. ALL integer, ALL driver-side (the matrix is 4096
    * longs — counter-scale), and replayed bit-for-bit by the oracle's
    * recursive CTE over a single-row list state. Returns (R flat 64×64 at
    * scale 10⁶, iterations used). Truncation makes R only near-orthogonal
    * — deliberately: the algorithm's OUTPUT is what both engines measure
    * distortion on, so honesty needs determinism, not orthogonality. */
  private[graft] def opqJacobi(c0: Array[Long]): (Array[Long], Int) = {
    // the moment pass derives all widths from EmbDim with loud requires;
    // this kernel still hardcodes the 64×64 layout, so a D²-sized input of
    // any other width must fail loudly too, not alias indices (r21 ADVICE)
    require(c0.length == EmbDim * EmbDim && EmbDim == 64,
      s"opqJacobi is written for the 64×64 moment layout (got ${c0.length} cells, EmbDim=$EmbDim)")
    val S = 1000000L
    val C = c0.clone()
    val R = Array.tabulate(4096)(k => if (k / 64 == k % 64) S else 0L)
    var iters = 0
    var done = false
    while (iters < OpqRotT && !done) {
      var pk = -1
      var mx = -1L
      var k = 0
      while (k < 4096) {
        if (k / 64 < k % 64) {
          val a = math.abs(C(k))
          if (a > mx) { mx = a; pk = k }
        }
        k += 1
      }
      if (mx <= 0L) done = true
      else {
        val pi = pk / 64
        val pj = pk % 64
        val cii = C(pi * 64 + pi)
        val cjj = C(pj * 64 + pj)
        val cij = C(pk)
        var bs = Long.MaxValue
        var bcn = 0L
        var bsn = 0L
        OpqRotCands.foreach { case (_, p, q) =>
          val den = (q * q + p * p).toLong
          val cn = (S * (q * q - p * p)) / den
          val sn = (S * (2 * p * q)) / den
          val sc = math.abs((cn * sn * (cjj - cii) + (cn * cn - sn * sn) * cij) / (S * S))
          if (sc < bs) { bs = sc; bcn = cn; bsn = sn }
        }
        if (bs >= mx) done = true
        else {
          // B = G·C (rows pi/pj from OLD C), then C' = B·Gᵀ (cols from B)
          val B = C.clone()
          var c = 0
          while (c < 64) {
            B(pi * 64 + c) = (bcn * C(pi * 64 + c) + bsn * C(pj * 64 + c)) / S
            B(pj * 64 + c) = (-bsn * C(pi * 64 + c) + bcn * C(pj * 64 + c)) / S
            c += 1
          }
          System.arraycopy(B, 0, C, 0, 4096)
          var r = 0
          while (r < 64) {
            val bpi = B(r * 64 + pi)
            val bpj = B(r * 64 + pj)
            C(r * 64 + pi) = (bpi * bcn + bpj * bsn) / S
            C(r * 64 + pj) = (-bpi * bsn + bpj * bcn) / S
            r += 1
          }
          var c2 = 0
          val rpi = Array.tabulate(64)(x => R(pi * 64 + x))
          val rpj = Array.tabulate(64)(x => R(pj * 64 + x))
          while (c2 < 64) {
            R(pi * 64 + c2) = (bcn * rpi(c2) + bsn * rpj(c2)) / S
            R(pj * 64 + c2) = (-bsn * rpi(c2) + bcn * rpj(c2)) / S
            c2 += 1
          }
          iters += 1
        }
      }
    }
    (R, iters)
  }

  /** sim18 — LEARNED OPQ ROTATION (the half Ge et al. 2014 that
    * `sim_opq_learned` left on the table, round-13 queue #2): on the
    * covariance-planted fixture, learn an (approximately orthogonal)
    * rotation by [[opqJacobi]] integer Givens coordinate descent on the
    * normalized second-moment matrix, apply it as an exact integer matvec
    * (y = R·q / 10⁹ — products ≤ 6.4e10, double-exact), train the suite's
    * converged PQ book on each of three rungs over the SAME fixture —
    * `identity` (no transform), `permuted` (the learned balanced-variance
    * allocation, [[opqGreedyPerm]] — the structured/permutation-only
    * baseline), `rotated` — and emit each rung's exact total encode
    * distortion. MEASURED (all three corpora, prototyped and gate-
    * verified): rotated < permuted < identity — e.g. sf0.1 mean
    * distortion 0.482 / 0.503 / 0.526 — the rotation removes the planted
    * correlation that a permutation cannot (a permutation can only
    * RELOCATE correlated dims; the rotation collapses them), which is
    * precisely Ge's argument for the non-parametric solution; LlmOpsSpec
    * asserts the strict ordering on the fixture. (The further
    * composition — allocate over the ROTATED dims — was prototyped and
    * measured marginal and non-robust here: ~1% better at sf0.01/sf0.1,
    * slightly worse at sf0.001 — the Jacobi pass already balances the
    * planted structure, so no composed rung is shipped.) The ORACLE
    * replays the
    * entire arc: the mixing, the integer covariance, the full Jacobi
    * descent as a recursive CTE over a single-row (C, R) list state
    * (every pivot choice, candidate score, and truncating division
    * bit-identical — `//` and Scala `Long./` both truncate toward zero),
    * the rotation matvec, the greedy-allocation recursive CTE, and all
    * three trainings. Shape at 100 TB: the corpus passes are the mixing
    * map, ONE (pos, product) covariance rollup to 4096 longs (entries
    * normalized by n on the driver — magnitude corpus-size-free), the
    * map-side matvec, and the three shared training/encode passes; the
    * Jacobi state is 8192 longs on the driver, and R re-enters the plan
    * as one literal. */
  val simOpqRotation: QueryDef = {
    val cands = OpqRotCands.map { case (o, p, q) =>
      s"{'o': $o, 'p': CAST($p AS BIGINT), 'q': CAST($q AS BIGINT)}"
    }.mkString("[", ", ", "]")
    def bexp(r: String, c: String) =
      s"""CASE WHEN ($r) = pi THEN (cn * cl[pi * 64 + ($c) + 1] + sn * cl[pj * 64 + ($c) + 1]) // 1000000
         WHEN ($r) = pj THEN ((-sn) * cl[pi * 64 + ($c) + 1] + cn * cl[pj * 64 + ($c) + 1]) // 1000000
         ELSE cl[($r) * 64 + ($c) + 1] END"""
    val cnew =
      s"""CASE WHEN (k % 64) = pi THEN ((${bexp("k // 64", "pi")}) * cn + (${bexp("k // 64", "pj")}) * sn) // 1000000
        WHEN (k % 64) = pj THEN (-(${bexp("k // 64", "pi")}) * sn + (${bexp("k // 64", "pj")}) * cn) // 1000000
        ELSE ${bexp("k // 64", "k % 64")} END"""
    val rnew =
      """CASE WHEN k // 64 = pi THEN (cn * rl[pi * 64 + (k % 64) + 1] + sn * rl[pj * 64 + (k % 64) + 1]) // 1000000
        WHEN k // 64 = pj THEN ((-sn) * rl[pi * 64 + (k % 64) + 1] + cn * rl[pj * 64 + (k % 64) + 1]) // 1000000
        ELSE rl[k + 1] END"""
    val scoreList = "list_transform(range(0, 4096), k -> CASE WHEN k // 64 < k % 64 THEN abs(cl[k + 1]) ELSE CAST(-1 AS BIGINT) END)"
    val best =
      s"""list_min(list_transform($cands, c -> {
        's': abs((((1000000 * (c.q * c.q - c.p * c.p)) // (c.q * c.q + c.p * c.p))
                  * ((1000000 * 2 * c.p * c.q) // (c.q * c.q + c.p * c.p))
                  * (cl[pj * 64 + pj + 1] - cl[pi * 64 + pi + 1])
                + (((1000000 * (c.q * c.q - c.p * c.p)) // (c.q * c.q + c.p * c.p))
                   * ((1000000 * (c.q * c.q - c.p * c.p)) // (c.q * c.q + c.p * c.p))
                   - ((1000000 * 2 * c.p * c.q) // (c.q * c.q + c.p * c.p))
                   * ((1000000 * 2 * c.p * c.q) // (c.q * c.q + c.p * c.p)))
                  * cl[pi * 64 + pj + 1]) // 1000000000000),
        'o': c.o,
        'cn': (1000000 * (c.q * c.q - c.p * c.p)) // (c.q * c.q + c.p * c.p),
        'sn': (1000000 * 2 * c.p * c.q) // (c.q * c.q + c.p * c.p)}))"""
    val sq = sqSubSql("s.sv", "b.cv")
    def rungBlock(l: String, label: String, src: String): String =
      s"""${l}_sub AS (
        SELECT pe.vec_id, ms.m, list_slice(pe.pv, ms.m * $PqSub + 1, ms.m * $PqSub + $PqSub) AS sv
        FROM $src pe, ms),
      ${l}_s0 AS (
        SELECT ms.m, CAST(pe.vec_id AS BIGINT) AS code,
               list_transform(list_slice(pe.pv, ms.m * $PqSub + 1, ms.m * $PqSub + $PqSub),
                 x -> CAST(x AS DOUBLE)) AS cv
        FROM $src pe, ms WHERE pe.vec_id < 8),
      ${pqRoundsSql(l, s"${l}_sub", s"${l}_s0")},
      ${l}_row AS (
        SELECT '$label' AS variant, CAST(count(DISTINCT s.vec_id) AS BIGINT) AS n_vectors,
               CAST(sum(micro) AS BIGINT) AS total_micro
        FROM (
          SELECT s.vec_id, CAST(floor(min($sq + 1e-12 * b.code) * 1000000.0) AS BIGINT) AS micro
          FROM ${l}_sub s JOIN ${l}b$PqTrainRounds b ON s.m = b.m
          GROUP BY s.vec_id, s.m, s.sv) s)"""
    QueryDef(
      "sim_opq_rotation",
      Some(s"""
      WITH RECURSIVE $msSql,
      mx AS MATERIALIZED (
        SELECT vec_id, list_transform(range(1, ${EmbDim + 1}), i ->
          CASE WHEN i <= 32
               THEN (3 * CAST(embedding[i] AS DOUBLE) + CAST(embedding[i + 32] AS DOUBLE)) / 4
               ELSE (CAST(embedding[i - 32] AS DOUBLE) + 3 * CAST(embedding[i] AS DOUBLE)) / 4 END) AS pv
        FROM embeddings),
      qz AS MATERIALIZED (SELECT vec_id, list_transform(pv, x -> CAST(floor(x * 1000) AS BIGINT)) AS q FROM mx),
      nrow AS (SELECT CAST(count(*) AS BIGINT) AS n FROM qz),
      covp AS (
        SELECT k.k, CAST(sum(q.q[k.k // 64 + 1] * q.q[k.k % 64 + 1]) AS BIGINT) AS s
        FROM qz q CROSS JOIN range(0, 4096) k(k)
        GROUP BY k.k),
      c0 AS (SELECT list(s // n ORDER BY k) AS cl FROM covp, nrow GROUP BY n),
      jac(it, cl, rl) AS (
        SELECT 0, c0.cl,
               list_transform(range(0, 4096), k ->
                 CASE WHEN k // 64 = k % 64 THEN CAST(1000000 AS BIGINT) ELSE CAST(0 AS BIGINT) END)
        FROM c0
        UNION ALL
        SELECT it + 1,
               list_transform(range(0, 4096), k -> $cnew),
               list_transform(range(0, 4096), k -> $rnew)
        FROM (
          SELECT it, cl, rl, pi, pj, abs(cl[pi * 64 + pj + 1]) AS apiv,
                 b.s AS bs, b.cn AS cn, b.sn AS sn
          FROM (
            SELECT it, cl, rl, pk // 64 AS pi, pk % 64 AS pj, $best AS b
            FROM (
              SELECT it, cl, rl,
                     CAST(list_position($scoreList, list_max($scoreList)) - 1 AS BIGINT) AS pk
              FROM jac WHERE it < $OpqRotT) z
            ) y
          ) x
        WHERE apiv > 0 AND bs < apiv),
      jfin AS MATERIALIZED (SELECT cl, rl FROM jac ORDER BY it DESC LIMIT 1),
      rot AS MATERIALIZED (
        SELECT q.vec_id,
               list_transform(range(0, $EmbDim), p ->
                 CAST(list_reduce(list_transform(range(1, ${EmbDim + 1}), d -> f.rl[p * 64 + d] * q.q[d]),
                        (a, b) -> a + b) AS DOUBLE) / 1000000000.0) AS pv
        FROM qz q, jfin f),
      ${varqAllocSql("pv", "mx", "perm_map")}
      permlist AS (SELECT list(dim0 + 1 ORDER BY pos) AS pm FROM perm_map),
      mxp AS MATERIALIZED (
        SELECT m.vec_id, list_transform(range(1, ${EmbDim + 1}), i -> m.pv[p.pm[i]]) AS pv
        FROM mx m, permlist p),
      ${rungBlock("rid", "identity", "mx")},
      ${rungBlock("rpm", "permuted", "mxp")},
      ${rungBlock("rrt", "rotated", "rot")}
      SELECT variant, n_vectors, total_micro,
             round(CAST(total_micro AS DOUBLE) / CAST(n_vectors AS DOUBLE) / 1000000.0, 6) AS mean_r
      FROM (
        SELECT * FROM rid_row
        UNION ALL SELECT * FROM rpm_row
        UNION ALL SELECT * FROM rrt_row)
      ORDER BY variant
    """)) { (spark, dir) =>
      val s2 = spark
      import s2.implicits._
      // the fixture and its integer quantization feed the covariance, the
      // rotation matvec, and all three training rungs — checkpoint once
      val mixed = opqMixed(spark, dir).localCheckpoint(true)
      val qz = mixed.select(col("vec_id"),
        transform(col("pv"), x => floor(x * 1000).cast(LongType)).as("q"))
        .localCheckpoint(true)
      val n = qz.count()
      // normalized integer second moment: 4096 longs to the driver. One
      // tight per-partition accumulation (<= 32 partial 4096-vectors
      // collected) — the old N×4096-row explode allocated a 4096-element
      // array per vector through interpreted nested transforms and ran on
      // EVERY bench pass (the moment is not memoized), which is what made
      // this gate's cold pass 16.5 s and load-elastic (r19 What's-wrong
      // #1). Long sums are exact and commutative, so the partial-fold
      // order cannot perturb the matrix.
      // every fixed width below derives from EmbDim (r20 ADVICE: the old
      // literals silently truncated a wider corpus where dotSql would
      // fold EmbDim dims), and a mismatched row fails loudly here
      val D = EmbDim
      val D2 = D * D
      val c0 = Array.ofDim[Long](D2)
      qz.select(col("q")).as[Seq[Long]].mapPartitions { it =>
        val acc = Array.ofDim[Long](D2)
        it.foreach { q =>
          require(q.length == D,
            s"opq moment pass expects $D-dim vectors, got ${q.length}")
          var i = 0
          while (i < D) {
            val qi = q(i)
            var j = 0
            while (j < D) { acc(i * D + j) += qi * q(j); j += 1 }
            i += 1
          }
        }
        Iterator.single(acc.toSeq)
      }.collect().foreach { p =>
        var k = 0
        while (k < D2) { c0(k) += p(k); k += 1 }
      }
      var k0 = 0
      while (k0 < D2) { c0(k0) /= n; k0 += 1 }
      val (rotArr, _) = opqJacobi(c0)
      // exact integer matvec y = R·q / 10⁹ as one tight per-row pass: the
      // same Long products and adds the old slice/zip_with HOF chain
      // expressed (Long arithmetic is exact, so the value is
      // bit-identical) without allocating a 64-slice per (row, position)
      val rotated = qz.select(col("vec_id"), col("q")).as[(Long, Seq[Long])]
        .map { case (id, q) =>
          require(q.length == D,
            s"opq matvec expects $D-dim vectors, got ${q.length}")
          val pv = Array.ofDim[Double](D)
          var p = 0
          while (p < D) {
            var s = 0L
            var d = 0
            while (d < D) { s += rotArr(p * D + d) * q(d); d += 1 }
            pv(p) = s.toDouble / 1.0e9
            p += 1
          }
          (id, pv.toSeq)
        }.toDF("vec_id", "pv")
      val varq = dimVarianceQOf(mixed.select(posexplode(col("pv")).as(Seq("dim", "v"))))
      val permSeq = opqGreedyPerm(varq)
      val permuted = mixed.select(col("vec_id"),
        array(permSeq.map(p => col("pv")(p - 1)): _*).as("pv"))
      // the three rungs train JOINTLY in one trainSubspaceBook call over
      // disjoint subspace ids m' = rung·PqM + m: assignment filters the
      // book by m, so each rung only ever sees its own codewords and the
      // per-(m, cell) recomputes are independent — the joint books are
      // bit-identical to three separate trainings (a rung that converges
      // early just replays no-op recomputes until the slowest rung
      // stabilizes, the loop's own early-exit soundness argument). What
      // the fusion buys: one checkpoint + two jobs per round instead of
      // three sequential ≤[[PqTrainRounds]]-round loops — ~40 tiny
      // back-to-back jobs become ~15, each one fewer contention window
      // (the r19 What's-wrong #1 load-elasticity fix).
      val rungs = Seq(("identity", mixed, 0), ("permuted", permuted, 1),
        ("rotated", rotated, 2))
      def rungM(df: DataFrame, rung: Int): DataFrame =
        df.withColumn("m", col("m") + lit(rung * PqM))
      val subAll = rungs.map { case (_, pv, r) =>
        rungM(pqSplit(pv.select("vec_id", "pv"), "pv"), r)
      }.reduce(_.union(_)).localCheckpoint(true)
      val seedAll = rungs.map { case (_, pv, r) =>
        rungM(pqSeedBook(pv.filter(col("vec_id") < 8), "pv"), r)
      }.reduce(_.union(_))
      val recs = memoBook(spark, dir, "oprot_joint") {
        trainSubspaceBook(spark, subAll, seedAll)
      }
      // one distortion pass for all three rungs (rung = m' / PqM): the
      // bookDistortionMicro sum, grouped by rung instead of run thrice
      val perRung = subAll.crossJoin(broadcast(pqBookRow(bookDf(spark, recs))))
        .select((col("m") / lit(PqM)).cast(IntegerType).as("rung"),
          floor(pqBookBest("d") * 1000000.0).cast(LongType).as("micro"))
        .groupBy("rung").agg(sum(col("micro")).as("tm"))
        .collect().map(r => r.getAs[Int]("rung") -> r.getAs[Long]("tm")).toMap
      val rows = rungs.map { case (label, _, r) => (label, n, perRung(r)) }
      rows.toDF("variant", "n_vectors", "total_micro")
        .select(col("variant"), col("n_vectors"), col("total_micro"),
          round(col("total_micro").cast(DoubleType) / col("n_vectors").cast(DoubleType)
            / 1000000.0, 6).as("mean_r"))
        .orderBy("variant")
    }
  }

  /** sim19 — the CODEBOOK-SIZE lever (the deployment lesson
    * [[simAnnFrontier]]'s doc names, made measurable): train the
    * converged PQ book at k* ∈ {8, 32, 64} codewords per subspace (seeds
    * = the first k* vectors' subvectors, nested by construction) and
    * emit, per size, the exact seeded and trained encode distortions plus
    * the beam-200 recall@10 of the full-corpus ADC ranking over the
    * 8-query held-out set (the frontier's exhaustive-probe row, priced by
    * the re-rank lemma — recall = |beam ∩ exact top-10|). Two laws are
    * ENFORCED in-gate: seeded distortion is monotone non-increasing in k*
    * (EXACTLY structural — nested seed sets give per-row min over a
    * superset, and floor is monotone) and each trained book beats its own
    * seed up to the suite's 10-micro/row quantization slop (Lloyd
    * monotonicity, the LlmOpsSpec bound). MEASURED (sf0.1, round-17
    * honest window): beam-200 recall 0.5625 → 0.5875 → 0.625 as k*
    * grows 8 → 32 → 64, with trained distortion falling strictly
    * (0.84 → 0.70 → 0.62 mean) — the seeded window read 0.51 → 0.775 →
    * 0.84 here, most of the jump being the queries' own seed
    * membership; the honest ordering still rises with k*, which is why
    * production PQ ships 256 codewords (8 bits)/subspace —
    * and why round 15 ADOPTED the measured-best rung as [[PqK]]: the
    * k* = 64 rung below IS the served book (value-identical seeds and
    * training), so this gate now audits the production book against the
    * smaller rungs every run;
    * LlmOpsSpec asserts every larger book beats the 3-bit baseline (the
    * 32→64 step saturates near recall 1.0 on the 500-vector corpus and
    * can wobble by a hit — measured, not asserted). Shape at
    * 100 TB: training/encode passes as in every PQ gate (codes +
    * scalars shuffled, books broadcast — the k*·M·16 codeword frame is
    * still counter-scale at k* = 256), one corpus ADC pass per size. */
  val simPqCodebookSize: QueryDef = {
    def kblock(l: String, k: Int): String =
      s"""${l}_s0 AS (
        SELECT ms.m, CAST(e.vec_id AS BIGINT) AS code,
               list_transform(list_slice(e.embedding, ms.m * $PqSub + 1, ms.m * $PqSub + $PqSub),
                 x -> CAST(x AS DOUBLE)) AS cv
        FROM embeddings e, ms WHERE e.vec_id < $k),
      ${pqRoundsSql(l, "sub", s"${l}_s0")},
      ${l}_seedd AS (
        SELECT CAST(sum(micro) AS BIGINT) AS seed_micro FROM (
          SELECT s.vec_id, CAST(floor(min(${sqSubSql("s.sv", "b.cv")} + 1e-12 * b.code) * 1000000.0) AS BIGINT) AS micro
          FROM sub s JOIN ${l}_s0 b ON s.m = b.m
          GROUP BY s.vec_id, s.m, s.sv) x),
      ${l}_traind AS (
        SELECT CAST(sum(micro) AS BIGINT) AS trained_micro FROM (
          SELECT s.vec_id, CAST(floor(min(${sqSubSql("s.sv", "b.cv")} + 1e-12 * b.code) * 1000000.0) AS BIGINT) AS micro
          FROM sub s JOIN ${l}b$PqTrainRounds b ON s.m = b.m
          GROUP BY s.vec_id, s.m, s.sv) x),
      ${l}_enc AS MATERIALIZED (${encWideSql("sub", s"${l}b$PqTrainRounds",
        sqSubSql("s.sv", "b.cv"))}),
      ${l}_lut AS MATERIALIZED (
        SELECT q.qid, b.m, b.code,
               ${sqSubSql(s"list_slice(q.qv, b.m * $PqSub + 1, b.m * $PqSub + $PqSub)", "b.cv")} AS qd
        FROM qs q, ${l}b$PqTrainRounds b),
      ${l}_beam AS (
        SELECT qid, vec_id FROM (
          SELECT q0.qid, e.vec_id,
                 row_number() OVER (PARTITION BY q0.qid
                   ORDER BY q0.qd + q1.qd + q2.qd + q3.qd, e.vec_id) AS rk
          FROM ${l}_enc e
          JOIN ${l}_lut q0 ON q0.m = 0 AND q0.code = e.code0
          JOIN ${l}_lut q1 ON q1.qid = q0.qid AND q1.m = 1 AND q1.code = e.code1
          JOIN ${l}_lut q2 ON q2.qid = q0.qid AND q2.m = 2 AND q2.code = e.code2
          JOIN ${l}_lut q3 ON q3.qid = q0.qid AND q3.m = 3 AND q3.code = e.code3)
        WHERE rk <= 200),
      ${l}_row AS (
        SELECT CAST($k AS BIGINT) AS k_codes, sd.seed_micro, td.trained_micro,
               (SELECT CAST(count(*) AS BIGINT) FROM ${l}_beam b JOIN ex USING (qid, vec_id)) AS hits_b200
        FROM ${l}_seedd sd, ${l}_traind td)"""
    QueryDef(
      "sim_pq_codebook_size",
      Some(s"""
      WITH $msSql,
      $qsExSql,
      sub AS MATERIALIZED (
        SELECT e.vec_id, ms.m,
               list_slice(e.embedding, ms.m * $PqSub + 1, ms.m * $PqSub + $PqSub) AS sv
        FROM embeddings e, ms),
      ${kblock("k8", 8)},
      ${kblock("k32", 32)},
      ${kblock("k64", 64)},
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings)
      SELECT k_codes, seed_micro, trained_micro,
             round(CAST(trained_micro AS DOUBLE) / CAST(tot.n AS DOUBLE) / 1000000.0, 6) AS mean_r,
             hits_b200,
             round(CAST(hits_b200 AS DOUBLE) / 80.0, 6) AS recall_r
      FROM (SELECT * FROM k8_row UNION ALL SELECT * FROM k32_row UNION ALL SELECT * FROM k64_row), tot
      ORDER BY k_codes
    """)) { (spark, dir) =>
      val s2 = spark
      import s2.implicits._
      import org.apache.spark.sql.expressions.Window
      val wq = Window.partitionBy("qid")
      val n = emb(spark, dir).count()
      val qs = heldOutQueries(emb(spark, dir), n)
      // one (vec_id, m, sv) stream feeds every seed/train/encode/distortion
      // pass across all three sizes — checkpoint once
      val sub = rawSub(spark, dir).localCheckpoint(true)
      val ex = serveExqMart(spark, dir)
        .select(col("xq"), col("xt").as("xv"))
      // the three codebook sizes are independent given the shared sub
      // stream and the memoized books (training runs outside the memo
      // lock) — run them concurrently so the per-rung action chains
      // back-fill the executors (guide §2.6)
      def rung(k: Int): (Long, Long, Long, Long) = {
        val seed = pqSeedBook(emb(spark, dir).filter(col("vec_id") < k), "embedding")
        val recs =
          if (k == PqK) convergedRawBook(spark, dir) // value-identical seeds: the SERVED book
          else memoBook(spark, dir, s"booksize_$k") {
            trainSubspaceBook(spark, sub, seed)
          }
        val book = bookDf(spark, recs)
        val seedMicro = bookDistortionMicro(spark, sub, seed)
        val trainedMicro = bookDistortionMicro(spark, sub, book)
        val hits = adcSum(qs.select("qid").crossJoin(pqEncode(sub, book)), pqLut(qs, book),
            Seq("qid", "m", "code"))
          .withColumn("rk", row_number().over(wq.orderBy(col("score"), col("vec_id"))))
          .filter(col("rk") <= 200)
          .join(broadcast(ex), col("qid") === col("xq") && col("vec_id") === col("xv"))
          .count()
        (k.toLong, seedMicro, trainedMicro, hits)
      }
      val rows = concurrently(Seq(8, 32, 64).map(k => () => rung(k)))
      // the two structural laws (see Scaladoc)
      require(rows.map(_._2) == rows.map(_._2).sorted.reverse,
        s"seeded distortion not monotone in k*: ${rows.map(_._2)}")
      rows.foreach { case (k, sd, td, _) =>
        require(td <= sd + 10 * 4 * n,
          s"k*=$k trained distortion $td above its seed $sd beyond quantization slop")
      }
      rows.toDF("k_codes", "seed_micro", "trained_micro", "hits_b200")
        .select(col("k_codes"), col("seed_micro"), col("trained_micro"),
          round(col("trained_micro").cast(DoubleType) / lit(n.toDouble) / 1000000.0, 6)
            .as("mean_r"),
          col("hits_b200"),
          recallR(col("hits_b200"), lit(80.0)))
        .orderBy("k_codes")
    }
  }

  /** Pinned Lloyd budget for [[simIvfCells]]'s trained quantizers (the
    * oracle unrolls exactly this many recomputes per size; the Spark
    * loop exits at the assignment fixpoint). 8 rounds: the K=32 training
    * is still descending at 4 on this corpus. */
  private val CellRounds = 8

  /** sim — the COARSE-QUANTIZER CELL-COUNT lever (round 15): after the
    * codebook adoption, [[simAnnFrontier]]'s re-measure moved the
    * binding constraint to the coarse quantizer — probe-3's EXACT
    * ceiling (recall of exact scoring over the probed pool, which no
    * coding can beat) is 0.65 on this corpus because 8 seeded cells
    * partition a near-uniform sphere too coarsely. This gate measures
    * the fix the way [[simPqCodebookSize]] measured the codebook: the
    * exact ceiling of (quantizer, probes) points at MATCHED scan
    * fractions — the served 8-cell seeded quantizer at probes {1, 3}
    * (scan ≈ 1/8, 3/8) vs the same-size TRAINED quantizer vs a trained
    * 32-cell quantizer at probes {4, 12} (the same fractions) — all
    * priced by the re-rank lemma (ceiling = |pool ∩ exact top-10|, no
    * re-scoring pass). MEASURED (sf0.1, round-17 honest window): at the
    * 1/8 fraction the trained-32 ceiling is 0.425 vs seeded-8's 0.3625
    * at near-equal scan (1999 vs 1916 rows), rising to 0.7375 vs 0.6125
    * at 3/8; training alone at 8 cells buys 0.3625 → 0.4125. The old
    * seeded queries read 0.8375-vs-0.375 here — the finer TRAINED
    * layout's dominance survives the honest window, but most of its
    * apparent margin was seed-membership optimism (the trained-32 seeds
    * included the queries). The deployment lesson: grow and TRAIN the coarse
    * quantizer (production IVF sizes K ≈ c·√n) before spending anything
    * else — the suite keeps serving the didactic 8-cell layout so every
    * oracle stays replayable, and this mart prices exactly what the
    * re-layout would buy. Trained quantizers run [[lloydCells]] to the
    * [[CellRounds]] budget (fixpoint-exit, oracle-unrolled — the
    * [[simKmeansConverged]] discipline, one chain per size via the
    * prefixed [[kmRoundSql]]); probes rank cells by each quantizer's OWN
    * affinity (max dot for the seeded serving layout, min L2 for the
    * trained ones — the same metric their assignment uses). The
    * probe-monotonicity law (pools nest ⇒ hits monotone in probes per
    * quantizer) is ENFORCED in-gate. Shape at 100 TB: training is
    * per-round one broadcast-argmin map pass + integer-partial
    * recompute; every pool is (qid, vec_id) scalars; the 8×n exact
    * baseline is the evaluation's price, not the serve's. */
  /** Shared SQL fragment — the recall harness's held-out queries
    * ([[QLo]]..[[QHi]]−1) and the EXACT full-dim top-10 per query. ONE
    * definition consumed by [[simIvfCells]] and [[simAnnDeployed]] (the
    * file's shared-fragment discipline: a tie-break or query-range edit
    * can never desynchronize the oracles). */
  private def qsExSql: String =
    s"""qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id >= $QLo AND vec_id < $QHi),
      ex AS MATERIALIZED (
        SELECT qid, vec_id FROM (
          SELECT q.qid, e.vec_id,
                 row_number() OVER (PARTITION BY q.qid
                   ORDER BY ${dotSql("e.embedding", "q.qv")} DESC, e.vec_id) AS rn
          FROM embeddings e, qs q)
        WHERE rn <= 10)"""

  /** Shared SQL fragment — one TRAINED coarse-quantizer chain under
    * prefix `p`: k seed centroids (`seedWhere` picks them — the first k
    * ids of the source by default), [[CellRounds]] Lloyd recomputes over
    * `src`, source assignment, per-query cell ranks (L2 + id-bias
    * ties). Consumed by [[simIvfCells]] (t8/t32), [[simAnnDeployed]]
    * and [[simAnnFiltered]] (t32), and [[simIndexAppend]] (base-only
    * src — the frozen snapshot index). */
  private def trainedChainSql(p: String, k: Int, src: String = "embeddings",
      seedWhere: String = ""): String = {
    val sw = if (seedWhere.isEmpty) s"vec_id < $k" else seedWhere
    s"""${p}c0 AS (
        SELECT CAST(vec_id AS INTEGER) AS cent_id, embedding AS cv
        FROM $src WHERE $sw),
      ${(1 to CellRounds).map(r => kmRoundSql(r, p, src)).mkString(",\n      ")},
      ${p}av AS MATERIALIZED (${assignSql(src, s"${p}c$CellRounds")}),
      ${p}rk AS (
        SELECT q.qid, c.cent_id AS cell,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY ${dotSql("c.cv", "c.cv")} - 2 * ${dotSql("q.qv", "c.cv")} + 1e-12 * c.cent_id, c.cent_id) AS rn
        FROM qs q, ${p}c$CellRounds c)"""
  }

  /** ONE audit-score + exact-referee build per corpus snapshot (r21,
    * guide §2.4 — remove repeated passes outright): before this dag, 13
    * gates each re-paid the same 8×n score cross-join and its top-10
    * window (the [[heldOutHarness]] referee, [[nnServeHarness]]'s `qsc`
    * and `exq`, plus three inline twins). The score table and the
    * referee are pure functions of the corpus snapshot, so they are
    * standing marts like every other referee (`mart_nn_exactk` et al.):
    *  - `mart_serve_qsc` — (qid, t, score): the held-out queries' audit
    *    scores against every vector (doubles round-trip parquet exactly);
    *  - `mart_serve_exq` — (xq, xt): the exact top-10 per query, the
    *    recall referee (same (score DESC, t) tie-break as before).
    * At 100 TB these are the evaluation tier's standing tables — the
    * 8×n table prices the EVALUATION, not the serve (the
    * [[simGraphServe]] convention, unchanged). */
  private val serveHarnessDag = new graft.pipeline.ModelRegistry(Seq("embeddings"), Seq(
    graft.pipeline.ModelDef("mart_serve_qsc", Nil, mart = true) { (s, d, _) =>
      val e0 = emb(s, d).select(col("vec_id"), col("embedding"))
      e0.crossJoin(broadcast(heldOutWindow(e0)))
        .select(col("qid"), col("vec_id").as("t"),
          dot(col("embedding"), col("qv")).as("score"))
    },
    graft.pipeline.ModelDef("mart_serve_exq", Seq("mart_serve_qsc"),
        mart = true) { (_, _, ref) =>
      import org.apache.spark.sql.expressions.Window
      ref("mart_serve_qsc")
        .withColumn("rn", row_number().over(
          Window.partitionBy("qid").orderBy(col("score").desc, col("t"))))
        .filter(col("rn") <= 10)
        .select(col("qid").as("xq"), col("t").as("xt"))
    }))

  /** The standing (qid, t, score) audit-score table. */
  private def serveQscMart(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.MartCache.read(spark, dir, serveHarnessDag, "svh_marts",
      "graft_svh_", "mart_serve_qsc").head

  /** The standing (xq, xt) exact top-10 referee. */
  private def serveExqMart(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.MartCache.read(spark, dir, serveHarnessDag, "svh_marts",
      "graft_svh_", "mart_serve_exq").head

  /** The held-out query frame (qid, qv, `extra`…) of a corpus frame
    * `e`(vec_id, embedding, …): rows vec_id ∈ [[[QLo]], [[QHi]]). */
  private def heldOutWindow(e: DataFrame, extra: Column*): DataFrame =
    e.filter(col("vec_id") >= QLo && col("vec_id") < QHi)
      .select(Seq(col("vec_id").as("qid"), col("embedding").as("qv")) ++ extra: _*)

  /** [[heldOutWindow]] behind THE held-out guard, given the caller's
    * corpus count `n`: every recall gate hardcodes the window and its
    * 10·|Q| denominators, so a corpus of fewer than [[QHi]] vectors would
    * emit a silently meaningless (or empty-query) metric — it fails here
    * instead, with one message for every gate. */
  private def heldOutQueries(e: DataFrame, n: Long, extra: Column*): DataFrame = {
    require(n >= QHi,
      s"the recall harness needs vec_id $QLo..${QHi - 1} as held-out queries (n=$n < $QHi)")
    heldOutWindow(e, extra: _*)
  }

  /** Shared Spark frames for the recall harness: checkpointed corpus,
    * guarded held-out queries ([[heldOutQueries]]), and the EXACT top-10
    * as (xq, xt) — the referee read from the standing
    * [[serveHarnessDag]] mart instead of being rebuilt per gate. */
  private def heldOutHarness(spark: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame, Long) = {
    val e = emb(spark, dir).select(col("vec_id"), col("embedding")).localCheckpoint(true)
    val n = e.count()
    (e, heldOutQueries(e, n), serveExqMart(spark, dir), n)
  }

  /** THE recall column of every audit row: `hits` / `total` rounded to 6
    * places, as `recall_r`. */
  private def recallR(hits: Column, total: Column): Column =
    round(hits.cast(DoubleType) / total.cast(DoubleType), 6).as("recall_r")

  /** THE held-out audit stat: a (qid, vec_id) pool's row count and how
    * many of its rows the exact top-10 `ex`(xq, xt) holds, in ONE
    * aggregation job. The referee is key-unique, so the left join cannot
    * multiply pool rows; the hit sum is NULL over an empty pool and reads
    * as 0. */
  private[graft] def refereeHits(df: DataFrame, ex: DataFrame): (Long, Long) = {
    val r = df.join(broadcast(ex.select(col("xq"), col("xt"), lit(1L).as("hit"))),
        col("qid") === col("xq") && col("vec_id") === col("xt"), "left")
      .agg(count(lit(1)), sum(coalesce(col("hit"), lit(0L)))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Per-query cell ranks of `qs`(qid, qv) against a (cent_id, cv)
    * centroid frame — the L2-expansion + id-bias ranking of
    * [[trainedChainSql]]'s `rk` CTE, centroids in ONE broadcast row. */
  private def cellRankOf(cents: DataFrame, qs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val packed = cents.withColumn("cc", dot(col("cv"), col("cv")))
      .agg(collect_list(struct(col("cent_id"), col("cv"), col("cc"))).as("cs"))
    qs.crossJoin(broadcast(packed))
      .select(col("qid"), col("qv"), explode(col("cs")).as("c"))
      .select(col("qid"), col("c.cent_id").as("cell"),
        (col("c.cc") - lit(2.0) * dot(col("qv"), col("c.cv"))
          + lit(1e-12) * col("c.cent_id")).as("sc"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("sc"), col("cell"))))
  }

  /** Shared Spark twin of [[trainedChainSql]]: Lloyd to the
    * [[CellRounds]] budget, checkpointed corpus assignment, per-query
    * cell ranks. */
  private def trainedCellRank(e: DataFrame, qs: DataFrame, k: Int): (DataFrame, DataFrame) = {
    val cents = lloydCells(e, k, CellRounds)
    val av = kmAssign(e, cents).select(col("vec_id"), col("cell")).localCheckpoint(true)
    (av, cellRankOf(cents, qs))
  }

  /** Every vector's residual against its TRAINED-32 cell centroid —
    * the [[ivfResiduals]] construction pointed at the served coarse
    * quantizer instead of the seeded-8 layout: (vec_id, cell, rv), rv
    * born as exact doubles (float→double exact, one IEEE subtraction per
    * element, centroid values already double from the fixed-point
    * means). */
  private def res32Frame(spark: SparkSession, dir: String,
      cents: DataFrame, assign: DataFrame): DataFrame =
    emb(spark, dir).join(assign, Seq("vec_id"))
      .join(broadcast(cents.select(col("cent_id").as("cell"), col("cv").as("ccv"))),
        Seq("cell"))
      .select(col("vec_id"), col("cell"),
        zip_with(col("embedding"), col("ccv"),
          (x, y) => x.cast(DoubleType) - y).as("rv"))

  /** Derived re-rank width as a SQL aggregate expression over count(*) —
    * ONE text for every beam-carrying oracle (round-16 review: the
    * greatest/bin rule had grown 8 hand-kept copies). */
  private def bwAggSql: String =
    s"greatest($RerankBeamFloor, $RerankK * length(bin(CAST(count(*) AS BIGINT))))"

  /** The ADC max-per-m pivot CTE body — ONE text for every oracle (the
    * fixed-order sum both engines replay). `from` is the full FROM/JOIN
    * clause; the enc alias must be `e`, the LUT alias `l`. */
  private def adcPivotSql(from: String): String = s"""
        SELECT e.qid, e.vec_id,
               ${(0 until PqM).map(m => s"max(CASE WHEN e.m = $m THEN l.qd END)").mkString("\n             + ")} AS score
        FROM $from
        GROUP BY e.qid, e.vec_id"""

  /** One broadcast-argmin assignment CTE body — every `src` row to its
    * nearest `cents` centroid (THE L2-expansion + id-bias assignment
    * expression, one text; round-16 review: a tie-bias tweak applied to
    * one hand-written copy would silently desynchronize the engines on
    * tie-heavy corpora). */
  private def assignSql(src: String, cents: String): String = s"""
        SELECT e.vec_id,
               arg_min(c.cent_id, ${dotSql("c.cv", "c.cv")} - 2 * ${dotSql("e.embedding", "c.cv")} + 1e-12 * c.cent_id) AS cell
        FROM $src e, $cents c GROUP BY e.vec_id, e.embedding"""

  /** Derived-beam widths of a pool per `part` group (the query by
    * default): (part…, cq, bw1) — the Spark twin of [[bwAggSql]], ONE
    * definition for every beam-carrying gate; the operative width is
    * least(cq, mult·bw1). */
  private def beamWidths(cand: DataFrame, part: Seq[String] = Seq("qid")): DataFrame =
    cand.groupBy(part.map(col): _*).agg(count(lit(1)).as("cq"))
      .select(part.map(col) ++ Seq(col("cq"), greatest(lit(RerankBeamFloor.toLong),
        lit(RerankK.toLong) * length(bin(col("cq")))).as("bw1")): _*)

  /** The ADC-ranked derived beam: rank `adc`(qid, vec_id, score)
    * ascending per query, keep rk ≤ min(cq, mult·bw1) against the
    * broadcast [[beamWidths]] frame. */
  private def derivedBeam(adc: DataFrame, bwq: DataFrame, mult: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    adc.withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(col("score"), col("vec_id"))))
      .join(broadcast(bwq), Seq("qid"))
      .filter(col("rk") <= least(col("cq"), lit(mult.toLong) * col("bw1")))
      .select("qid", "vec_id")
  }

  /** Residual code table under an arbitrary book — (vec_id, cell, m,
    * code), cell carried so serve-side LUT joins need no second
    * assignment lookup. ONE definition for the two persisted code-table
    * builders and [[simBookAppend]]'s re-encode arm. */
  private def resCodes(res: DataFrame, book: DataFrame): DataFrame =
    pqEncode(pqSplit(res.select("vec_id", "cell", "rv"), "rv"), book)

  /** Converged residual-vs-coarse book records: the subvector stream and
    * seeds come from [[res32Frame]]'s residuals against the CALLER's
    * (cents, assign) coarse pair, seeds = residuals of vec_id < [[PqK]]
    * with code = vec_id (no id shift — unlike the seeded-8 residual book,
    * no corpus vector IS a trained centroid, so every seed residual is
    * non-zero). `coarseTag` names the coarse pair and is folded into the
    * [[memoBook]] key (round-17 ADVICE: the old fixed `res32` key took
    * cents/assign as parameters, so a caller passing a DIFFERENT coarse
    * layout would silently receive the trained-32 book — now the caller
    * must name what it passes, and two coarse frames can never share a
    * memo entry by accident). The held-out window [[QLo]]..[[QHi]]−1 is
    * disjoint from the seed range by the object-init require. */
  private[graft] def convergedRes32Book(spark: SparkSession, dir: String,
      cents: DataFrame, assign: DataFrame,
      coarseTag: String): Seq[(Int, Long, Seq[Double], Long, Long)] =
    memoBook(spark, dir, s"res32:$coarseTag") {
      val res = res32Frame(spark, dir, cents, assign).localCheckpoint(true)
      val out = trainSubspaceBook(spark, pqSplit(res.select("vec_id", "rv"), "rv"),
        pqSeedBook(res.filter(col("vec_id") < PqK), "rv"))
      core.release(res)
      out
    }

  /** The PERSISTED trained-ANN-index artifact family (round 16 — the r15
    * verdict's top lever): a deployed ANN index is a snapshot-time WRITE
    * artifact served by many reads, so the trained-32 coarse quantizer
    * (centroids + corpus assignment) and the SERVED k* = [[PqK]] codebook
    * with its full-corpus codes are materialized ONCE per corpus snapshot
    * as [[graft.pipeline.MartCache]] marts and every read-path gate —
    * [[simIvfCells]], [[simAnnDeployed]], [[simAnnFiltered]], [[simIndexAppend]]'s
    * retrained arm — reads the tables back instead of re-training the
    * same index inline. The marts hold EXACTLY what the inline code
    * computed before (fixed-point integer training is bit-identical at
    * any parallelism; parquet round-trips IEEE doubles exactly), so every
    * consumer's rows and hashes are unchanged — an architecture + bench
    * change, not a semantics change. The ORACLES still replay the whole
    * training arc inline (the referee prices verifiability, not the
    * serve). Artifact sizes: 32 centroid rows, n assignment rows,
    * M·[[PqK]] codeword rows, M·n code rows — one training run + one
    * encode pass at snapshot time; every read is a parquet scan. */
  private val annDag = new graft.pipeline.ModelRegistry(Seq("embeddings"), Seq(
    graft.pipeline.ModelDef("mart_ann_cents32", Nil, mart = true) { (s, d, _) =>
      val e = emb(s, d).select(col("vec_id"), col("embedding")).localCheckpoint(true)
      val cents = lloydCells(e, 32, CellRounds)
      // the centroids are a checkpoint of their own: nothing reads e now
      core.release(e)
      cents
    },
    graft.pipeline.ModelDef("mart_ann_assign32", Seq("mart_ann_cents32"),
        mart = true) { (s, d, built) =>
      // lazy one-pass broadcast-argmin; the registry's write materializes it
      kmAssign(emb(s, d).select(col("vec_id"), col("embedding")),
        built("mart_ann_cents32")).select(col("vec_id"), col("cell"))
    },
    graft.pipeline.ModelDef("mart_ann_book64", Nil, mart = true) { (s, d, _) =>
      val s2 = s
      import s2.implicits._
      // the adopted sim_pq_codebook_size winner, full training ledger
      convergedRawBook(s, d).toDF("m", "code", "cv", "n_members", "inertia_q")
    },
    graft.pipeline.ModelDef("mart_ann_codes64", Seq("mart_ann_book64"),
        mart = true) { (s, d, built) =>
      // the corpus encode under the served book — the index's code table
      pqEncode(rawSub(s, d), built("mart_ann_book64").select(col("m"), col("code"), col("cv")))
    },
    graft.pipeline.ModelDef("mart_ann_book64r",
        Seq("mart_ann_cents32", "mart_ann_assign32"), mart = true) { (s, d, built) =>
      val s2 = s
      import s2.implicits._
      // the residual-vs-TRAINED-32 codebook (round 16; retained under the
      // round-17 honest window because it dominates raw coding along the
      // probe frontier — sim_deployed_frontier — while the codings tie at
      // the served probe-4 point under the x2 beam)
      convergedRes32Book(s, d, built("mart_ann_cents32"),
        built("mart_ann_assign32"), coarseTag = "t32")
        .toDF("m", "code", "cv", "n_members", "inertia_q")
    },
    graft.pipeline.ModelDef("mart_ann_codes64r",
        Seq("mart_ann_book64r", "mart_ann_cents32", "mart_ann_assign32"),
        mart = true) { (s, d, built) =>
      resCodes(res32Frame(s, d, built("mart_ann_cents32"), built("mart_ann_assign32")),
        built("mart_ann_book64r").select(col("m"), col("code"), col("cv")))
    }))

  /** Materialize-once accessor for one trained-index mart table. */
  private def annIndexMart(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.pipeline.MartCache.read(spark, dir, annDag, "ann_marts", "graft_ann_", name).head

  /** The SERVED trained-32 coarse read path off the index marts —
    * (corpus assignment, per-query cell ranks), the mart-backed twin of
    * [[trainedCellRank]](e, qs, 32). Only the qs-dependent rank frame is
    * computed per call (32 broadcast centroids); the training cost lives
    * in the snapshot-time mart build. */
  private def servedCellRank32(spark: SparkSession, dir: String,
      qs: DataFrame): (DataFrame, DataFrame) =
    (annIndexMart(spark, dir, "mart_ann_assign32"),
      cellRankOf(annIndexMart(spark, dir, "mart_ann_cents32"), qs))

  /** Shared oracle fragment — ONE residual book chain under prefix `p`:
    * residual stream `${p}res` (vs the `cents`/`av` coarse pair),
    * subvector stream `${p}rsub`, training stream `${p}rtsub` (rows
    * matching `trainWhere` — the whole corpus for the served book, the
    * base slice for the frozen one), seed `${p}rb0` (`seedWhere` rows,
    * `seedCode` codes), [[PqTrainRounds]] training rounds, final book
    * `${p}rbook`, and the per-(query, cell) LUT `${p}rlut`. Requires
    * `ms` and `qs` CTEs in scope. ONE definition for every
    * residual-coding oracle so the chains can never drift. */
  private def resChainSql(p: String, av: String, cents: String,
      trainWhere: String, seedWhere: String, seedCode: String): String = s"""${p}res AS MATERIALIZED (
        SELECT e.vec_id, a.cell,
               list_transform(range(1, ${EmbDim + 1}), i -> CAST(e.embedding[i] AS DOUBLE) - c.cv[i]) AS rv
        FROM embeddings e JOIN $av a ON a.vec_id = e.vec_id
        JOIN $cents c ON c.cent_id = a.cell),
      ${p}rsub AS (
        SELECT r.vec_id, ms.m, list_slice(r.rv, ms.m * $PqSub + 1, ms.m * $PqSub + $PqSub) AS sv
        FROM ${p}res r, ms),
      ${p}rtsub AS (SELECT * FROM ${p}rsub WHERE $trainWhere),
      ${p}rb0 AS (
        SELECT ms.m, CAST($seedCode AS BIGINT) AS code,
               list_slice(r.rv, ms.m * $PqSub + 1, ms.m * $PqSub + $PqSub) AS cv
        FROM ${p}res r, ms WHERE $seedWhere),
      ${pqRoundsSql(s"${p}r", s"${p}rtsub", s"${p}rb0")},
      ${p}rbook AS (SELECT m, code, cv FROM ${p}rb$PqTrainRounds),
      ${qresLutSql(s"${p}qres", s"${p}rlut", cents, s"${p}rbook", None)}"""

  /** The per-(query, cell) residual-LUT CTE pair — ONE text for every
    * residual-coding oracle (round-17 review: the levers gate's OPQ rung
    * had hand-copied it): query residuals against every `cents` row,
    * optionally re-laid-out through a 1-based permutation-list table
    * (`permTable` — the element indexing becomes `pm[i]`, matching a
    * book trained on permuted corpus residuals), then the per-(qid,
    * cell, m, code) squared-distance LUT against `book`. Requires `qs`
    * in scope. */
  private def qresLutSql(qresName: String, lutName: String, cents: String,
      book: String, permTable: Option[String]): String = {
    val (fromPerm, idx) = permTable match {
      case Some(pt) => (s", $pt p", "p.pm[i]")
      case None => ("", "i")
    }
    s"""$qresName AS (
        SELECT q.qid, t.cent_id AS cell,
               list_transform(range(1, ${EmbDim + 1}), i -> CAST(q.qv[$idx] AS DOUBLE) - t.cv[$idx]) AS rqv
        FROM qs q, $cents t$fromPerm),
      $lutName AS MATERIALIZED (
        SELECT r.qid, r.cell, b.m, b.code,
               ${sqSubSql(s"list_slice(r.rqv, b.m * $PqSub + 1, b.m * $PqSub + $PqSub)", "b.cv")} AS qd
        FROM $qresName r, $book b)"""
  }

  /** The SERVED residual chain — [[resChainSql]] instantiated at the
    * trained-32 coarse pair with whole-corpus training and the
    * vec_id < [[PqK]] seed window (code = vec_id): the coding
    * [[simAnnDeployed]], [[simDeployedLevers]], [[simGraphDeployed]],
    * [[simDeployedFrontier]] and [[simBookAppend]]'s retrained arms
    * replay. */
  private def res32ChainSql: String =
    resChainSql("", "t32av", s"t32c$CellRounds", "1 = 1",
      s"r.vec_id < $PqK", "r.vec_id")

  /** THE query LUT: per (…, m, code) the squared L2 ([[pqSq]]) between
    * the query's subspace-m slice ([[pqSplit]]) and the codeword. `qs`
    * carries (…, qv) — its other columns key the rows; `book` is (m, code,
    * cv). Counter-scale (|Q| · M · k* rows), always broadcast by
    * consumers. */
  private[graft] def pqLut(qs: DataFrame, book: DataFrame): DataFrame = {
    val keys = qs.columns.toSeq.filterNot(_ == "qv").map(col)
    pqSplit(qs, "qv", "qsv").join(book, Seq("m"))
      .select(keys ++ Seq(col("m"), col("code"), pqSq(col("qsv"), col("cv")).as("qd")): _*)
  }

  /** The residual-ADC LUT: [[pqLut]] over each query's residual against
    * every `cents`(cent_id, cv) centroid — (qid, cell, m, code, qd), the
    * Spark twin of [[res32ChainSql]]'s `rlut`. */
  private def resLut(qs: DataFrame, cents: DataFrame, book: DataFrame,
      perm: Option[Seq[Int]] = None): DataFrame = {
    // optional OPQ layout: the query residual is permuted AFTER the
    // subtract, exactly like the corpus residuals the book trained on
    // (round-17 review: the OPQ rung's LUT had copy-pasted this builder)
    def layout(c: Column): Column =
      perm.map(p => array(p.map(i => c(i - 1)): _*)).getOrElse(c)
    val qres = qs.crossJoin(broadcast(
        cents.select(col("cent_id").as("cell"), col("cv").as("ccv"))))
      .withColumn("rq0",
        zip_with(col("qv"), col("ccv"), (x, y) => x.cast(DoubleType) - y))
      .select(col("qid"), col("cell"), layout(col("rq0")).as("qv"))
    pqLut(qres, book)
  }

  /** THE ADC scorer: per (…) group the per-subspace LUT lookups summed in
    * fixed order, qd0 + … + qd(M−1) ([[pqWide]] + [[pqTotal]], the
    * max-per-m pivot both engines replay). `enc` carries (…, m, code),
    * `lut` (…, m, code, qd) is joined broadcast on `joinKey` (which must
    * include m and code); every other column of the join keys the score
    * — (…, score). */
  private[graft] def adcSum(enc: DataFrame, lut: DataFrame, joinKey: Seq[String]): DataFrame = {
    val joined = enc.join(broadcast(lut), joinKey)
    val keys = joined.columns.toSeq.filterNot(Set("m", "code", "qd")).map(col)
    pqWide(joined, keys, col("qd") -> "qd").select(keys :+ pqTotal("qd").as("score"): _*)
  }

  /** Converged residual book of the FROZEN BASE index ([[memoBook]]
    * `resb` variant): residuals vs the base-trained coarse quantizer,
    * trained on BASE rows only (the book that existed before the fresh
    * batch). Seeds = the first [[PqK]] base rows — closed forms over the
    * base id lattice (ids v < [[PqK]]/4·5 with v mod 5 < 4 are EXACTLY
    * the first PqK base ids when PqK ≡ 0 mod 4; seed code = the base
    * rank (v÷5)·4 + v mod 5 — no window, both engines replay the
    * arithmetic). */
  private[graft] def convergedResBaseBook(spark: SparkSession, dir: String,
      cents: DataFrame, assign: DataFrame): Seq[(Int, Long, Seq[Double], Long, Long)] =
    memoBook(spark, dir, "resb") {
      require(PqK % 4 == 0, s"the closed-form base seed window needs 4 | PqK: $PqK")
      val res = res32Frame(spark, dir, cents, assign)
        .filter(IndexFeed.base(col("vec_id"))).localCheckpoint(true)
      val out = trainSubspaceBook(spark, pqSplit(res.select("vec_id", "rv"), "rv"),
        pqSeedBook(res.filter(col("vec_id") < PqK / 4 * 5), "rv",
          IndexFeed.baseRank(col("vec_id"))))
      core.release(res)
      out
    }

  /** The FROZEN-BASE index artifact family (round 16 — [[simBookAppend]]
    * completes the freshness story across all three index artifacts:
    * coarse layout priced by [[simIndexAppend]], kNN graph by
    * [[simGraphAppend]], and the CODEBOOK here): the coarse quantizer
    * trained on the pre-batch corpus (vec_id % 5 < 4, seeds < 40 — the
    * [[simIndexAppend]] snapshot), the APPENDED assignment (every
    * vector argmin'd against the frozen centroids — base rows at
    * snapshot time, fresh rows via the one-map-pass append write), the
    * base-residual book, and the appended residual code table. A SECOND
    * registry (the nnBaseDag pattern) so the served-index gates never
    * pay the frozen build. */
  private val annBaseDag = new graft.pipeline.ModelRegistry(Seq("embeddings"), Seq(
    graft.pipeline.ModelDef("mart_annb_cents32", Nil, mart = true) { (s, d, _) =>
      val e = emb(s, d).select(col("vec_id"), col("embedding")).localCheckpoint(true)
      val cents = lloydCells(e.filter(IndexFeed.base(col("vec_id"))), 32, CellRounds,
        col("vec_id") < 40)
      core.release(e)
      cents
    },
    graft.pipeline.ModelDef("mart_annb_assign", Seq("mart_annb_cents32"),
        mart = true) { (s, d, built) =>
      kmAssign(emb(s, d).select(col("vec_id"), col("embedding")),
        built("mart_annb_cents32")).select(col("vec_id"), col("cell"))
    },
    graft.pipeline.ModelDef("mart_annb_book64r",
        Seq("mart_annb_cents32", "mart_annb_assign"), mart = true) { (s, d, built) =>
      val s2 = s
      import s2.implicits._
      convergedResBaseBook(s, d, built("mart_annb_cents32"),
        built("mart_annb_assign")).toDF("m", "code", "cv", "n_members", "inertia_q")
    },
    graft.pipeline.ModelDef("mart_annb_codes64r",
        Seq("mart_annb_book64r", "mart_annb_cents32", "mart_annb_assign"),
        mart = true) { (s, d, built) =>
      resCodes(res32Frame(s, d, built("mart_annb_cents32"), built("mart_annb_assign")),
        built("mart_annb_book64r").select(col("m"), col("code"), col("cv")))
    }))

  /** Materialize-once accessor for one frozen-base index mart table. */
  private def annBaseMart(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.pipeline.MartCache.read(spark, dir, annBaseDag, "annb_marts", "graft_annb_", name).head

  val simIvfCells: QueryDef = {
    val variants = Seq(
      ("k8_seeded", "s8", 8, Seq(1, 3)),
      ("k8_trained", "t8", 8, Seq(1, 3)),
      ("k32_trained", "t32", 32, Seq(4, 12)))
    val rowsSql = variants.flatMap { case (name, p, k, ps) =>
      ps.map { pr =>
        s"""SELECT '$name' AS variant, CAST($k AS BIGINT) AS k_cells, CAST($pr AS BIGINT) AS probes,
               (SELECT CAST(count(*) AS BIGINT)
                FROM ${p}av a JOIN ${p}rk r ON a.cell = r.cell AND r.rn <= $pr) AS scanned,
               (SELECT CAST(count(*) AS BIGINT)
                FROM ${p}av a JOIN ${p}rk r ON a.cell = r.cell AND r.rn <= $pr
                JOIN ex x ON x.qid = r.qid AND x.vec_id = a.vec_id) AS hits"""
      }
    }.mkString("\n      UNION ALL\n      ")
    QueryDef(
      "sim_ivf_cells",
      Some(s"""
      WITH $qsExSql,
      s8c AS (SELECT vec_id AS cent_id, embedding AS cv FROM embeddings WHERE vec_id < 8),
      s8av AS MATERIALIZED (
        SELECT e.vec_id, arg_max(c.cent_id, ${dotSql("e.embedding", "c.cv")} - 1e-12 * c.cent_id) AS cell
        FROM embeddings e, s8c c GROUP BY e.vec_id, e.embedding),
      s8rk AS (
        SELECT q.qid, c.cent_id AS cell,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY ${dotSql("q.qv", "c.cv")} - 1e-12 * c.cent_id DESC) AS rn
        FROM qs q, s8c c),
      ${trainedChainSql("t8", 8)},
      ${trainedChainSql("t32", 32)}
      SELECT variant, k_cells, probes, scanned, hits,
             round(CAST(hits AS DOUBLE) / 80.0, 6) AS ceiling_r
      FROM (
      $rowsSql
      ) ORDER BY variant, probes
    """)) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val s2 = spark
      import s2.implicits._
      val wq = Window.partitionBy("qid")
      val (e, qs, ex, _) = heldOutHarness(spark, dir)
      // the served seeded-8 layout: the IVF family's own assignment + probe
      val s8a = ivfAssigned(spark, dir).select(col("vec_id"), col("cell"))
        .localCheckpoint(true)
      val s8r = seededCellRank(emb(spark, dir), qs)
      // scanned + hits in ONE aggregation job per sweep point
      // ([[refereeHits]]), and the six independent points run concurrently
      // over the shared checkpointed assignments (guide §2.6). The k=8
      // Lloyd training is itself a leg so the seeded-8 and served-32
      // points overlap it.
      val (t32a, t32r) = servedCellRank32(spark, dir, qs)
      def points(name: String, k: Int, av: DataFrame, rk: DataFrame, prs: Int*) =
        prs.map(pr => () => {
          val (scanned, hits) = refereeHits(av.join(broadcast(rk.filter(col("rn") <= pr)
            .select(col("qid"), col("cell").as("pcell"))), col("cell") === col("pcell")), ex)
          Seq((name, k.toLong, pr.toLong, scanned, hits))
        })
      val rows = concurrently(points("k8_seeded", 8, s8a, s8r, 1, 3) ++
        points("k32_trained", 32, t32a, t32r, 4, 12) :+ (() => {
          val (t8a, t8r) = trainedCellRank(e, qs, 8)
          concurrently(points("k8_trained", 8, t8a, t8r, 1, 3)).flatten
        })).flatten
      // probe monotonicity per quantizer: pools NEST in the probe count,
      // so hits cannot decrease — exactly structural
      rows.groupBy(_._1).foreach { case (v, rs) =>
        val h = rs.sortBy(_._3).map(_._5)
        require(h == h.sorted, s"$v ceiling not monotone in probes: $rs")
      }
      rows.toDF("variant", "k_cells", "probes", "scanned", "hits")
        .select(col("variant"), col("k_cells"), col("probes"), col("scanned"),
          col("hits"), round(col("hits").cast(DoubleType) / 80.0, 6).as("ceiling_r"))
        .orderBy("variant", "probes")
    }
  }

  /** sim — the DEPLOYED read path: every lever the measurement gates
    * priced, SERVED as one composed pipeline (round 15 — the r14 verdict
    * demanded the measured-best codebook be the served codebook; this
    * gate closes the same loop for the coarse layout so no measured-best
    * operating point is left unserved): trained-32 coarse quantizer
    * ([[simIvfCells]]'s winning rung, [[lloydCells]] to the
    * [[CellRounds]] budget) → probe the query's top-4 cells (the matched
    * 1/8 scan fraction) → ADC-rank the pool against the SERVED
    * k* = [[PqK]] = 64 RESIDUAL codebook ([[convergedRes32Book]] —
    * retained round 17 because it dominates raw coding along the probe
    * frontier where a serve scales, though the codings tie at this
    * operating point under the honest query window) → ×2 derived re-rank
    * beam (min(C, 2·max(50, 10·bitlen(C))) per query — the round-17
    * `sim_deployed_levers` winner under the HONEST window: the ×2 beam
    * reads the pool ceiling exactly under EVERY coding, while every ×1
    * rung leaves 0.025–0.0375 recall on the table) → exact re-score of
    * the beam → top-10. Emits one row per held-out query (qid,
    * pool_rows, beam_rows, hits, recall_r). MEASURED with the honest
    * window: mean recall@10 0.425 at sf0.1 = the probe-4 pool ceiling
    * itself (zero coding + beam loss) at ~250 pool rows and ~160 beam
    * re-scores per query; 0.45 at sf0.01 (pool-saturated). The r16
    * headline 0.8375 was measured on queries inside the codebook seed
    * prefixes — the honest ceiling of this probe count on near-uniform
    * sphere data is 0.425, and widening probes, not coding, is the next
    * lever ([[simDeployedFrontier]]). Shape at 100 TB: coarse training and corpus
    * encode are snapshot-time write paths — since round 16 they ARE
    * writes, the [[annDag]] index marts this gate reads back (the oracle
    * still replays the whole arc inline — referee pricing); the read
    * path touches the probed pool's CODES plus O(k log C) true vectors
    * for the beam — centroids, book, and LUT all broadcast, nothing but
    * (qid, id, scalar) past the scan. */
  val simAnnDeployed: QueryDef = {
    QueryDef(
      "sim_ann_deployed",
      Some(s"""
      WITH $qsExSql,
      ${trainedChainSql("t32", 32)},
      cand AS MATERIALIZED (
        SELECT r.qid, a.vec_id, a.cell FROM t32av a JOIN t32rk r ON a.cell = r.cell AND r.rn <= 4),
      $msSql,
      ${res32ChainSql},
      enc AS MATERIALIZED (
        SELECT c.qid, c.vec_id, c.cell, s.m,
               arg_min(b.code, ${sqSubSql("s.sv", "b.cv")} + 1e-12 * b.code) AS code
        FROM cand c JOIN rsub s ON s.vec_id = c.vec_id JOIN rbook b ON b.m = s.m
        GROUP BY c.qid, c.vec_id, c.cell, s.m, s.sv),
      adc AS (${adcPivotSql(
        "enc e JOIN rlut l ON l.qid = e.qid AND l.cell = e.cell AND l.m = e.m AND l.code = e.code")}),
      bw AS (
        SELECT qid, least(CAST(count(*) AS BIGINT), 2 * ($bwAggSql)) AS bw
        FROM cand GROUP BY qid),
      beam AS MATERIALIZED (
        SELECT z.qid, z.vec_id FROM (
          SELECT a.qid, a.vec_id,
                 row_number() OVER (PARTITION BY a.qid ORDER BY a.score, a.vec_id) AS rk
          FROM adc a) z
        JOIN bw ON bw.qid = z.qid
        WHERE z.rk <= bw.bw),
      top AS (
        SELECT qid, vec_id FROM (
          SELECT b.qid, b.vec_id,
                 row_number() OVER (PARTITION BY b.qid
                   ORDER BY ${dotSql("e.embedding", "q.qv")} DESC, b.vec_id) AS rn
          FROM beam b JOIN embeddings e USING (vec_id) JOIN qs q ON q.qid = b.qid)
        WHERE rn <= 10),
      pc AS (SELECT qid, CAST(count(*) AS BIGINT) AS pool_rows FROM cand GROUP BY qid),
      bc AS (SELECT qid, CAST(count(*) AS BIGINT) AS beam_rows FROM beam GROUP BY qid),
      hc AS (
        SELECT t.qid, CAST(count(*) AS BIGINT) AS hits
        FROM top t JOIN ex x ON x.qid = t.qid AND x.vec_id = t.vec_id GROUP BY t.qid)
      SELECT p.qid, p.pool_rows, b.beam_rows,
             CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
             round(CAST(coalesce(h.hits, 0) AS DOUBLE) / 10.0, 6) AS recall_r
      FROM pc p JOIN bc b ON b.qid = p.qid LEFT JOIN hc h ON h.qid = p.qid
      ORDER BY p.qid
    """)) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val s2 = spark
      import s2.implicits._
      val wq = Window.partitionBy("qid")
      val (e, qs, ex, _) = heldOutHarness(spark, dir)
      // trained-32 coarse: assignment + per-query cell ranks off the
      // PERSISTED index marts (the simIvfCells winning rung, trained once
      // per corpus snapshot — round 16)
      val (av, rk) = servedCellRank32(spark, dir, qs)
      // the pool feeds the sizing count, the encode, and the per-query
      // accounting — one materialization
      val cand = av.join(broadcast(rk.filter(col("rn") <= 4)
          .select(col("qid"), col("cell").as("pcell"))), col("cell") === col("pcell"))
        .select(col("qid"), col("vec_id")).localCheckpoint(true)
      // the SERVED residual coding off the persisted index (the
      // sim_deployed_levers winner): the code table carries each row's
      // cell, so the per-(query, cell) LUT join needs no second
      // assignment lookup; restricting the snapshot-time encode to the
      // pool is bit-identical to encoding the pool inline (per-row argmin)
      val enc = cand.join(annIndexMart(spark, dir, "mart_ann_codes64r"), Seq("vec_id"))
        .select(col("qid"), col("vec_id"), col("cell"), col("m"), col("code"))
      val lut = resLut(qs, annIndexMart(spark, dir, "mart_ann_cents32"),
        annIndexMart(spark, dir, "mart_ann_book64r").select("m", "code", "cv"))
      val adc = adcSum(enc, lut, Seq("qid", "cell", "m", "code"))
      val beam = derivedBeam(adc, beamWidths(cand), 2).localCheckpoint(true)
      val top = beam.join(e, Seq("vec_id")).join(broadcast(qs), Seq("qid"))
        .select(col("qid"), col("vec_id"), dot(col("embedding"), col("qv")).as("s"))
        .withColumn("rn", row_number().over(wq.orderBy(col("s").desc, col("vec_id"))))
        .filter(col("rn") <= 10).select("qid", "vec_id")
      val out = cand.groupBy("qid").agg(count(lit(1)).as("pool_rows"))
        .join(beam.groupBy("qid").agg(count(lit(1)).as("beam_rows")), Seq("qid"))
        .join(top.join(broadcast(ex),
            col("qid") === col("xq") && col("vec_id") === col("xt"))
          .groupBy("qid").agg(count(lit(1)).as("hits")), Seq("qid"), "left")
        .select(col("qid"), col("pool_rows"), col("beam_rows"),
          coalesce(col("hits"), lit(0L)).as("hits"),
          recallR(coalesce(col("hits"), lit(0L)), lit(10.0)))
        .orderBy("qid")
      val schema = out.schema
      val rows = out.collect()
      // the structural beam law: beam ⊆ pool and at least min(pool, floor)
      rows.foreach { r =>
        val (p, b) = (r.getAs[Long]("pool_rows"), r.getAs[Long]("beam_rows"))
        require(b <= p && b >= math.min(p, RerankBeamFloor.toLong),
          s"beam sizing broke for qid ${r.getAs[Long]("qid")}: pool $p beam $b")
      }
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    }
  }

  /** sim — the DEPLOYED read path's LEVERS, measured ON the deployed gate:
    * every coding × beam rung on the IDENTICAL trained-32/probe-4 pool,
    * hits by the re-rank lemma:
    *   - `raw_m1`/`raw_m2`       — the served raw-book ADC at the ×1 /
    *     ×2 derived beam;
    *   - `res_m1`/`res_m2`       — ADC under the residual-vs-TRAINED-32
    *     book ([[convergedRes32Book]]): same touches, finer coding;
    *   - `opqres_m1`/`opqres_m2` — the OPQ × residual COMPOSITION
    *     (round 17 — r16 verdict #3): [[opqGreedyPerm]]'s balanced-
    *     variance dimension allocation learned on the RESIDUAL stream,
    *     residuals permuted, an equal-bytes (M=4, k*=[[PqK]]) book
    *     trained to the same budget;
    *   - `ceiling`               — the exact-scored pool (no coding can
    *     beat it).
    * MEASURED at sf0.1 with the round-17 HONEST query window (the old
    * 16..23 window sat inside every codebook's seed prefix and inflated
    * all ADC rungs — r16 verdict #1): the coding levers COLLAPSE TO
    * NOISE at the served operating point — raw_m1 0.40 / res_m1 0.3875 /
    * opqres_m1 0.4125 against the 0.425 pool ceiling, and EVERY coding's
    * ×2 beam reads the ceiling exactly (0.425 = 0.425 ×3). The r16
    * residual-closes-the-gap result was an artifact of the seeded
    * queries; the honest decision is: the BEAM is the lever that buys
    * back ADC ranking error (adopted ×2 into [[simAnnDeployed]]), coding
    * choice at the served probe count is ulp-level, and residual coding
    * is RETAINED only because it dominates raw where a serve actually
    * scales — [[simDeployedFrontier]] measures res×1 45 vs raw×1 38 hits
    * at probe-8 and 46 vs 35 at probe-12. The OPQ composition is a
    * measured TIE at equal bytes (the r16-#3 negative result, recorded):
    * the driver's residuals are near-isotropic, so Ge et al.'s
    * allocation has no variance imbalance to exploit — the machinery is
    * what this gate pins, and the rung exists so an anisotropic corpus
    * flips the decision by measurement, not by re-engineering. At sf0.01
    * the pool saturates the beam floor and every rung reads the ceiling
    * 0.45. Laws in-gate: nested beams are hit-monotone PER CODING
    * (m1 ≤ m2 ≤ ceiling ×3), and the matched ×1 beam widths are
    * identical across codings. Shape at 100 TB: raw/res codings read the
    * persisted [[annDag]] code tables (map-side join against the pool),
    * the OPQ rung's training is per-round one broadcast-argmin map pass
    * (priced per evaluation — adoption would move it into the mart DAG),
    * LUTs broadcast, beams are (qid, id) scalars; the ceiling row is the
    * evaluation's price, not the serve's. */
  val simDeployedLevers: QueryDef = QueryDef(
    "sim_deployed_levers",
    Some(s"""
      WITH $qsExSql,
      ${trainedChainSql("t32", 32)},
      cand AS MATERIALIZED (
        SELECT r.qid, a.vec_id, a.cell FROM t32av a JOIN t32rk r ON a.cell = r.cell AND r.rn <= 4),
      $msSql,
      $rawBookChainSql,
      book AS (SELECT m, code, cv FROM pb$PqTrainRounds),
      ${res32ChainSql},
      enc AS MATERIALIZED (
        SELECT c.qid, c.vec_id, s.m,
               arg_min(b.code, ${sqSubSql("s.sv", "b.cv")} + 1e-12 * b.code) AS code
        FROM cand c JOIN sub s ON s.vec_id = c.vec_id JOIN book b ON b.m = s.m
        GROUP BY c.qid, c.vec_id, s.m, s.sv),
      lut AS MATERIALIZED (
        SELECT q.qid, b.m, b.code,
               ${sqSubSql(s"list_slice(q.qv, b.m * $PqSub + 1, b.m * $PqSub + $PqSub)", "b.cv")} AS qd
        FROM qs q, book b),
      adc AS MATERIALIZED (${adcPivotSql(
        "enc e JOIN lut l ON l.qid = e.qid AND l.m = e.m AND l.code = e.code")}),
      renc AS MATERIALIZED (
        SELECT c.qid, c.vec_id, s.m,
               arg_min(b.code, ${sqSubSql("s.sv", "b.cv")} + 1e-12 * b.code) AS code
        FROM cand c JOIN rsub s ON s.vec_id = c.vec_id JOIN rbook b ON b.m = s.m
        GROUP BY c.qid, c.vec_id, s.m, s.sv),
      radc AS MATERIALIZED (${adcPivotSql(
        """renc e JOIN cand c ON c.qid = e.qid AND c.vec_id = e.vec_id
        JOIN rlut l ON l.qid = e.qid AND l.cell = c.cell AND l.m = e.m AND l.code = e.code""")}),
      ${varqAllocSql("rv", "res", "opq_map")}
      opq_perm AS (SELECT list(dim0 + 1 ORDER BY pos) AS pm FROM opq_map),
      ores AS MATERIALIZED (
        SELECT r.vec_id, list_transform(range(1, ${EmbDim + 1}), i -> r.rv[p.pm[i]]) AS pv
        FROM res r, opq_perm p),
      osub AS (
        SELECT o.vec_id, ms.m,
               list_slice(o.pv, ms.m * $PqSub + 1, ms.m * $PqSub + $PqSub) AS sv
        FROM ores o, ms),
      ob0 AS (
        SELECT ms.m, CAST(o.vec_id AS BIGINT) AS code,
               list_slice(o.pv, ms.m * $PqSub + 1, ms.m * $PqSub + $PqSub) AS cv
        FROM ores o, ms WHERE o.vec_id < $PqK),
      ${pqRoundsSql("o", "osub", "ob0")},
      obook AS (SELECT m, code, cv FROM ob$PqTrainRounds),
      oenc AS MATERIALIZED (
        SELECT c.qid, c.vec_id, c.cell, s.m,
               arg_min(b.code, ${sqSubSql("s.sv", "b.cv")} + 1e-12 * b.code) AS code
        FROM cand c JOIN osub s ON s.vec_id = c.vec_id JOIN obook b ON b.m = s.m
        GROUP BY c.qid, c.vec_id, c.cell, s.m, s.sv),
      ${qresLutSql("oqres", "olut", s"t32c$CellRounds", "obook", Some("opq_perm"))},
      oadc AS MATERIALIZED (${adcPivotSql(
        "oenc e JOIN olut l ON l.qid = e.qid AND l.cell = e.cell AND l.m = e.m AND l.code = e.code")}),
      bw AS (
        SELECT qid, CAST(count(*) AS BIGINT) AS cq, $bwAggSql AS bw1
        FROM cand GROUP BY qid),
      rawrk AS (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY score, vec_id) AS rk FROM adc),
      resrk AS (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY score, vec_id) AS rk FROM radc),
      opqrk AS (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY score, vec_id) AS rk FROM oadc),
      rows_out AS (
        SELECT 'raw_m1' AS variant,
               (SELECT CAST(sum(least(cq, bw1)) AS BIGINT) FROM bw) AS beam_rows,
               (SELECT CAST(count(*) AS BIGINT) FROM rawrk r JOIN bw ON bw.qid = r.qid
                JOIN ex x ON x.qid = r.qid AND x.vec_id = r.vec_id WHERE r.rk <= least(bw.cq, bw.bw1)) AS hits
        UNION ALL
        SELECT 'raw_m2',
               (SELECT CAST(sum(least(cq, 2 * bw1)) AS BIGINT) FROM bw),
               (SELECT CAST(count(*) AS BIGINT) FROM rawrk r JOIN bw ON bw.qid = r.qid
                JOIN ex x ON x.qid = r.qid AND x.vec_id = r.vec_id WHERE r.rk <= least(bw.cq, 2 * bw.bw1))
        UNION ALL
        SELECT 'res_m1',
               (SELECT CAST(sum(least(cq, bw1)) AS BIGINT) FROM bw),
               (SELECT CAST(count(*) AS BIGINT) FROM resrk r JOIN bw ON bw.qid = r.qid
                JOIN ex x ON x.qid = r.qid AND x.vec_id = r.vec_id WHERE r.rk <= least(bw.cq, bw.bw1))
        UNION ALL
        SELECT 'res_m2',
               (SELECT CAST(sum(least(cq, 2 * bw1)) AS BIGINT) FROM bw),
               (SELECT CAST(count(*) AS BIGINT) FROM resrk r JOIN bw ON bw.qid = r.qid
                JOIN ex x ON x.qid = r.qid AND x.vec_id = r.vec_id WHERE r.rk <= least(bw.cq, 2 * bw.bw1))
        UNION ALL
        SELECT 'opqres_m1',
               (SELECT CAST(sum(least(cq, bw1)) AS BIGINT) FROM bw),
               (SELECT CAST(count(*) AS BIGINT) FROM opqrk r JOIN bw ON bw.qid = r.qid
                JOIN ex x ON x.qid = r.qid AND x.vec_id = r.vec_id WHERE r.rk <= least(bw.cq, bw.bw1))
        UNION ALL
        SELECT 'opqres_m2',
               (SELECT CAST(sum(least(cq, 2 * bw1)) AS BIGINT) FROM bw),
               (SELECT CAST(count(*) AS BIGINT) FROM opqrk r JOIN bw ON bw.qid = r.qid
                JOIN ex x ON x.qid = r.qid AND x.vec_id = r.vec_id WHERE r.rk <= least(bw.cq, 2 * bw.bw1))
        UNION ALL
        SELECT 'ceiling',
               (SELECT CAST(count(*) AS BIGINT) FROM cand),
               (SELECT CAST(count(*) AS BIGINT) FROM cand c JOIN ex x ON x.qid = c.qid AND x.vec_id = c.vec_id))
      SELECT variant, beam_rows, hits, round(CAST(hits AS DOUBLE) / 80.0, 6) AS recall_r
      FROM rows_out ORDER BY variant
    """)) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val s2 = spark
    import s2.implicits._
    val wq = Window.partitionBy("qid")
    val (e, qs, ex, _) = heldOutHarness(spark, dir)
    val (av, rk) = servedCellRank32(spark, dir, qs)
    val cand = av.join(broadcast(rk.filter(col("rn") <= 4)
        .select(col("qid"), col("cell").as("pcell"))), col("cell") === col("pcell"))
      .select(col("qid"), col("vec_id")).localCheckpoint(true)
    val book = annIndexMart(spark, dir, "mart_ann_book64").select("m", "code", "cv")
    val encRaw = cand.join(annIndexMart(spark, dir, "mart_ann_codes64"), Seq("vec_id"))
      .select(col("qid"), col("vec_id"), col("m"), col("code"))
    val lutRaw = pqLut(qs, book)
    // lazily checkpointed: beamStat reads the SAME raw ranking at both
    // beam widths — without it each width re-runs the encode-join-LUT-
    // window pipeline from scratch (round-16 review)
    val adcRaw = adcSum(encRaw, lutRaw, Seq("qid", "m", "code")).localCheckpoint(false)
    val encRes = cand.join(annIndexMart(spark, dir, "mart_ann_codes64r"), Seq("vec_id"))
      .select(col("qid"), col("vec_id"), col("cell"), col("m"), col("code"))
    val cents32 = annIndexMart(spark, dir, "mart_ann_cents32")
    val lutRes = resLut(qs, cents32,
      annIndexMart(spark, dir, "mart_ann_book64r").select("m", "code", "cv"))
    // both widths read each ranking — lazily checkpoint like the raw leg
    val adcRes = adcSum(encRes, lutRes, Seq("qid", "cell", "m", "code"))
      .localCheckpoint(false)
    // --- the OPQ × residual composition (round 17 — r16 verdict #3):
    // dimension allocation learned on the RESIDUAL stream's variance
    // (the honest composition — OPQ reallocates whatever the coarse
    // stage left), residuals permuted, an equal-bytes (M=4, k*=PqK)
    // book trained to the same budget, pool encoded under it
    val resm = res32Frame(spark, dir, cents32,
      annIndexMart(spark, dir, "mart_ann_assign32")).localCheckpoint(true)
    val operm = opqGreedyPerm(dimVarianceQOf(
      resm.select(posexplode(col("rv")).as(Seq("dim", "v")))))
    def permute(c: Column): Column = array(operm.map(p => c(p - 1)): _*)
    val opv = resm.select(col("vec_id"), permute(col("rv")).as("pv"))
    val osub = pqSplit(opv, "pv")
    val obook = bookDf(spark, memoBook(spark, dir, "opqres32:t32") {
      trainSubspaceBook(spark, osub, pqSeedBook(opv.filter(col("vec_id") < PqK), "pv"))
    }).select("m", "code", "cv")
    val encOpq = pqEncode(cand
      .join(annIndexMart(spark, dir, "mart_ann_assign32"), Seq("vec_id"))
      .join(osub, Seq("vec_id")), obook)
    val lutOpq = resLut(qs, cents32, obook, Some(operm))
    val adcOpq = adcSum(encOpq, lutOpq, Seq("qid", "cell", "m", "code"))
      .localCheckpoint(false)
    val bwq = beamWidths(cand)
    // beam size + hits in ONE aggregation job ([[refereeHits]]), and the
    // three independent coding legs run concurrently — each leg
    // materializes its own lazily-checkpointed ADC ranking on its first
    // action and the two beam widths then share it (guide §2.6: back-fill
    // the executors)
    def beamStats(adc: DataFrame) = () =>
      Seq(1, 2).map(mult => refereeHits(derivedBeam(adc, bwq, mult), ex))
    val Seq(Seq((b1, h1), (b2, h2)), Seq((br, hr), (br2, hr2)),
        Seq((bo1, ho1), (bo2, ho2)), Seq((cn, ch))) = concurrently(Seq(
      beamStats(adcRaw), beamStats(adcRes), beamStats(adcOpq),
      () => Seq(refereeHits(cand, ex))))
    // laws: nested beams are hit-monotone PER CODING; no rung beats its
    // pool ceiling; the matched x1 beam widths are identical across codings
    require(h1 <= h2 && h2 <= ch, s"raw beam nesting broke: $h1 / $h2 / ceiling $ch")
    require(hr <= hr2 && hr2 <= ch, s"res beam nesting broke: $hr / $hr2 / ceiling $ch")
    require(ho1 <= ho2 && ho2 <= ch, s"opq beam nesting broke: $ho1 / $ho2 / ceiling $ch")
    require(b1 == br && b1 == bo1, s"matched beam widths diverged: raw $b1 / res $br / opq $bo1")
    Seq(("ceiling", cn, ch), ("raw_m1", b1, h1), ("raw_m2", b2, h2),
        ("res_m1", br, hr), ("res_m2", br2, hr2),
        ("opqres_m1", bo1, ho1), ("opqres_m2", bo2, ho2))
      .toDF("variant", "beam_rows", "hits")
      .select(col("variant"), col("beam_rows"), col("hits"),
        recallR(col("hits"), lit(80.0)))
      .orderBy("variant")
  }

  /** sim — the SERVED path's PROBE × BEAM FRONTIER: the two serve-time
    * levers swept together on the path actually served — trained-32
    * coarse → probe p ∈ {2, 4, 8, 12} → residual ADC off the persisted
    * code table → derived beam × mult ∈ {1, 2, 4} → exact re-rank (hits
    * by the re-rank lemma) — unlike [[simAnnFrontier]], which priced the
    * seeded-8 raw-book path this suite no longer serves. The beam
    * dimension is round 17 (r16 verdict #2): the r16 probe-only sweep
    * proved probes 8/12 were beam-bound ([[rerankBeamWidth]] grows
    * log-with-pool while the pool grows linearly) but never priced the
    * lever that closes the gap. MEASURED at sf0.1 with the honest query
    * window: at ×1 the read falls away from its climbing ceiling
    * (0.325 / 0.3875 / 0.5625 / 0.575 vs ceilings 0.325 / 0.425 / 0.675
    * / 0.7375), at ×2 probes ≤ 4 read their ceilings, and at ×4 EVERY
    * probe count reads its pool ceiling exactly — the whole ADC ranking
    * error is bought back by a re-rank budget that stays O(k·bitlen(C));
    * e.g. probe-12's 0.7375 ceiling costs a ×4 beam of ~100 true-vector
    * touches per query on a ~755-row pool. That completes the knee
    * story: past probe 4 BOTH levers must move together — probes buy
    * ceiling, beam buys the read — and the served [[simAnnDeployed]]
    * point (probe 4, ×2 beam) is the cheapest spot where read = ceiling.
    * ADC scores are probe-independent, so the sweep encodes the WIDEST
    * pool once and re-ranks per (p, mult) — 12 windows over (p, qid, id,
    * score) scalars. Laws in-gate: pools nest (scanned and ceiling hits
    * monotone in p at fixed mult), beams nest (hits monotone in mult at
    * fixed p), and no beam beats its own pool ceiling. Shape at 100 TB:
    * identical to [[simAnnDeployed]] — the two sweep dimensions add only
    * the broadcast probe list and the rank windows. */
  val simDeployedFrontier: QueryDef = {
    val probes = Seq(2, 4, 8, 12)
    val mults = Seq(1, 2, 4)
    QueryDef(
      "sim_deployed_frontier",
      Some(s"""
      WITH $qsExSql,
      ${trainedChainSql("t32", 32)},
      $msSql,
      ${res32ChainSql},
      candw AS MATERIALIZED (
        SELECT r.qid, a.vec_id, a.cell, r.rn AS crn
        FROM t32av a JOIN t32rk r ON a.cell = r.cell AND r.rn <= ${probes.max}),
      enc AS MATERIALIZED (
        SELECT c.qid, c.vec_id, c.cell, c.crn, s.m,
               arg_min(b.code, ${sqSubSql("s.sv", "b.cv")} + 1e-12 * b.code) AS code
        FROM candw c JOIN rsub s ON s.vec_id = c.vec_id JOIN rbook b ON b.m = s.m
        GROUP BY c.qid, c.vec_id, c.cell, c.crn, s.m, s.sv),
      adc AS MATERIALIZED (
        SELECT e.qid, e.vec_id, e.crn,
               max(CASE WHEN e.m = 0 THEN l.qd END) + max(CASE WHEN e.m = 1 THEN l.qd END)
             + max(CASE WHEN e.m = 2 THEN l.qd END) + max(CASE WHEN e.m = 3 THEN l.qd END) AS score
        FROM enc e JOIN rlut l ON l.qid = e.qid AND l.cell = e.cell AND l.m = e.m AND l.code = e.code
        GROUP BY e.qid, e.vec_id, e.crn),
      pv AS (SELECT unnest([${probes.mkString(", ")}]) AS p),
      mv AS (SELECT unnest([${mults.mkString(", ")}]) AS mult),
      pool AS MATERIALIZED (
        SELECT pv.p, a.qid, a.vec_id, a.score FROM adc a JOIN pv ON a.crn <= pv.p),
      bw AS (
        SELECT p, qid, CAST(count(*) AS BIGINT) AS cq, $bwAggSql AS bw1
        FROM pool GROUP BY p, qid),
      prk AS (
        SELECT p, qid, vec_id, row_number() OVER (PARTITION BY p, qid ORDER BY score, vec_id) AS rk
        FROM pool),
      beam AS MATERIALIZED (
        SELECT mv.mult, r.p, r.qid, r.vec_id
        FROM prk r JOIN bw ON bw.p = r.p AND bw.qid = r.qid, mv
        WHERE r.rk <= least(bw.cq, mv.mult * bw.bw1)),
      pm AS (SELECT pv.p, mv.mult FROM pv, mv),
      stat AS (
        SELECT p, mult,
               (SELECT CAST(count(*) AS BIGINT) FROM pool WHERE pool.p = pm.p) AS scanned,
               (SELECT CAST(count(*) AS BIGINT) FROM beam
                WHERE beam.p = pm.p AND beam.mult = pm.mult) AS beam_rows,
               (SELECT CAST(count(*) AS BIGINT) FROM beam b JOIN ex x ON x.qid = b.qid AND x.vec_id = b.vec_id
                WHERE b.p = pm.p AND b.mult = pm.mult) AS hits,
               (SELECT CAST(count(*) AS BIGINT) FROM pool c JOIN ex x ON x.qid = c.qid AND x.vec_id = c.vec_id
                WHERE c.p = pm.p) AS ceiling_hits
        FROM pm)
      SELECT CAST(p AS BIGINT) AS probes, CAST(mult AS BIGINT) AS beam_mult,
             scanned, beam_rows, hits, ceiling_hits,
             round(CAST(hits AS DOUBLE) / 80.0, 6) AS recall_r,
             round(CAST(ceiling_hits AS DOUBLE) / 80.0, 6) AS ceiling_r
      FROM stat ORDER BY probes, beam_mult
    """)) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val s2 = spark
      import s2.implicits._
      val (e, qs, ex, _) = heldOutHarness(spark, dir)
      val (av, rk) = servedCellRank32(spark, dir, qs)
      val cand = av.join(broadcast(rk.filter(col("rn") <= probes.max)
          .select(col("qid"), col("cell").as("pcell"), col("rn").as("crn"))),
          col("cell") === col("pcell"))
        .select(col("qid"), col("vec_id"), col("crn")).localCheckpoint(true)
      val enc = cand.select("qid", "vec_id")
        .join(annIndexMart(spark, dir, "mart_ann_codes64r"), Seq("vec_id"))
        .select(col("qid"), col("vec_id"), col("cell"), col("m"), col("code"))
      val lut = resLut(qs, annIndexMart(spark, dir, "mart_ann_cents32"),
        annIndexMart(spark, dir, "mart_ann_book64r").select("m", "code", "cv"))
      // ADC is probe-independent: score the widest pool ONCE, then per
      // probe re-rank the nested slices (crn rides back in via the join)
      val adc = adcSum(enc, lut, Seq("qid", "cell", "m", "code"))
        .join(cand, Seq("qid", "vec_id")).localCheckpoint(true)
      // size + referee hits in ONE aggregation job per set
      // ([[refereeHits]]), and the four independent probe legs run
      // concurrently (guide §2.6) — was 2 + 2·|mults| sequential actions
      // per probe (32 driver actions for the 4×3 sweep), now 1 + |mults|
      // per leg with the legs overlapped
      def stat(p: Int): Seq[(Long, Long, Long, Long, Long, Long)] = {
        // one ranking per probe count; the beam multiples slice it
        val pool = adc.filter(col("crn") <= p).localCheckpoint(false)
        val (scanned, ceil) = refereeHits(pool, ex)
        val bwq = beamWidths(pool)
        val out = mults.map { m =>
          val (beamRows, hits) = refereeHits(derivedBeam(pool, bwq, m), ex)
          (p.toLong, m.toLong, scanned, beamRows, hits, ceil)
        }
        core.release(pool)
        out
      }
      val rows = concurrently(probes.map(p => () => stat(p))).flatten
      // nesting laws: pools nest in the probe count, so scanned and the
      // pool ceiling are monotone; beams nest in the multiple, so hits
      // are monotone in mult at fixed p; no beam beats its own ceiling
      rows.groupBy(_._2).foreach { case (m, rs) =>
        rs.sortBy(_._1).sliding(2).foreach { case Seq(a, b) =>
          require(a._3 <= b._3 && a._6 <= b._6,
            s"probe nesting broke at mult $m: $a vs $b")
        case _ => ()
        }
      }
      rows.groupBy(_._1).foreach { case (p, rs) =>
        val h = rs.sortBy(_._2).map(_._5)
        require(h == h.sorted, s"beam-mult hits not monotone at probes $p: $rs")
      }
      rows.foreach { case r @ (_, _, _, _, h, c) =>
        require(h <= c, s"beam hits beat the pool ceiling: $r")
      }
      rows.toDF("probes", "beam_mult", "scanned", "beam_rows", "hits", "ceiling_hits")
        .select(col("probes"), col("beam_mult"), col("scanned"), col("beam_rows"),
          col("hits"), col("ceiling_hits"),
          recallR(col("hits"), lit(80.0)),
          round(col("ceiling_hits").cast(DoubleType) / 80.0, 6).as("ceiling_r"))
        .orderBy("probes", "beam_mult")
    }
  }

  /** sim — FILTERED ANN: top-10 under a metadata predicate (here
    * "same `label` as the query", ~10% selectivity), the three
    * production strategies priced against the FILTERED exact top-10
    * (fx; reference repo's retrieval tests filter before ranking —
    * tests/test_transformers.py — this gate is the index-path version):
    *   - `prefilter`  — exact scan of the predicate slice: recall 1.0
    *     by construction; `kept` = the slice size, which at 100 TB is
    *     the whole label partition (cheap ONLY when the predicate is a
    *     partition column — that's the row's message);
    *   - `postfilter` — the unfiltered trained-32/probe-4 index pool
    *     ([[simAnnDeployed]]'s coarse path), exact-ranked, fetch the
    *     top `budget` = m·10 (m ∈ 1,2,4,8), THEN filter: the only
    *     option when the predicate is not in the index, recall climbs
    *     with the over-fetch factor;
    *   - `infilter`   — the predicate applied INSIDE the probed pool
    *     before any budget cut: the ceiling of every post-filter rung
    *     (F_m ⊆ pool∩label nests), itself capped by the probe-4 cell
    *     ceiling.
    * Hits are counted by the re-rank lemma (|candidates ∩ fx| — an fx
    * member has ≤ 9 better same-label rows ANYWHERE, so it survives any
    * top-10 cut of a candidate superset), so no second ranking pass is
    * needed. MEASURED at sf0.1 (round-17 honest window): postfilter
    * 0.20 → 0.275 → 0.375 → 0.3875 across budgets 10..80 vs infilter
    * 0.3875 and prefilter 1.0 (sf0.01: 0.2125 → 0.3375 vs 0.3375) —
    * the over-fetch lever closes the WHOLE gap to the in-filter ceiling
    * by m = 8, and the remaining gap to exact is the probe ceiling, not
    * the filter (same 1/8 scan fraction as [[simIvfCells]]'s
    * k32/probe-4 rung).
    * Laws enforced in-gate: post-filter hits monotone in budget
    * (nesting), infilter ≥ every post-filter rung, kept ≤ 8·budget, and
    * fx is exactly 80 rows (every query's label class holds ≥ 10
    * members — else the denominators lie). Shape at 100 TB: the pool is
    * (qid, vec_id) scalars, predicate columns ride the existing
    * candidate join, and only counter-scale counts reach the driver. */
  val simAnnFiltered: QueryDef = {
    val budgets = Seq(1, 2, 4, 8).map(_ * 10)
    val postRowsSql = budgets.map { b =>
      s"""SELECT 'postfilter' AS strategy, CAST($b AS BIGINT) AS budget,
             (SELECT CAST(count(*) AS BIGINT) FROM scored WHERE rn <= $b AND lbl = qlbl) AS kept,
             (SELECT CAST(count(*) AS BIGINT) FROM scored s JOIN fx x ON x.qid = s.qid AND x.vec_id = s.vec_id
              WHERE s.rn <= $b AND s.lbl = s.qlbl) AS hits"""
    }.mkString("\n      UNION ALL\n      ")
    QueryDef(
      "sim_ann_filtered",
      Some(s"""
      WITH qs AS (SELECT vec_id AS qid, embedding AS qv, label AS qlbl FROM embeddings WHERE vec_id >= $QLo AND vec_id < $QHi),
      fx AS MATERIALIZED (
        SELECT qid, vec_id FROM (
          SELECT q.qid, e.vec_id,
                 row_number() OVER (PARTITION BY q.qid
                   ORDER BY ${dotSql("e.embedding", "q.qv")} DESC, e.vec_id) AS rn
          FROM embeddings e JOIN qs q ON e.label = q.qlbl)
        WHERE rn <= 10),
      ${trainedChainSql("t32", 32)},
      cand AS MATERIALIZED (
        SELECT r.qid, a.vec_id FROM t32av a JOIN t32rk r ON a.cell = r.cell AND r.rn <= 4),
      scored AS MATERIALIZED (
        SELECT c.qid, c.vec_id, e.label AS lbl, q.qlbl,
               row_number() OVER (PARTITION BY c.qid
                 ORDER BY ${dotSql("e.embedding", "q.qv")} DESC, c.vec_id) AS rn
        FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id JOIN qs q ON q.qid = c.qid)
      SELECT strategy, budget, kept, hits,
             round(CAST(hits AS DOUBLE) / 80.0, 6) AS recall_r
      FROM (
        SELECT 'prefilter' AS strategy, CAST(0 AS BIGINT) AS budget,
               (SELECT CAST(count(*) AS BIGINT) FROM embeddings e JOIN qs q ON e.label = q.qlbl) AS kept,
               CAST(80 AS BIGINT) AS hits
        UNION ALL
        SELECT 'infilter' AS strategy, CAST(0 AS BIGINT) AS budget,
               (SELECT CAST(count(*) AS BIGINT) FROM scored WHERE lbl = qlbl) AS kept,
               (SELECT CAST(count(*) AS BIGINT) FROM scored s JOIN fx x ON x.qid = s.qid AND x.vec_id = s.vec_id
                WHERE s.lbl = s.qlbl) AS hits
        UNION ALL
        $postRowsSql
      )
      ORDER BY strategy, budget
    """)) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val s2 = spark
      import s2.implicits._
      val wq = Window.partitionBy("qid")
      val e = emb(spark, dir).select(col("vec_id"), col("embedding"), col("label"))
        .localCheckpoint(true)
      val qs = heldOutQueries(e, e.count(), col("label").as("qlbl"))
      // filtered ground truth: exact top-10 within the query's label class
      val fx = e.join(broadcast(qs), col("label") === col("qlbl"))
        .select(col("qid"), col("vec_id"), dot(col("embedding"), col("qv")).as("s"))
        .withColumn("rn", row_number().over(wq.orderBy(col("s").desc, col("vec_id"))))
        .filter(col("rn") <= 10)
        .select(col("qid").as("xq"), col("vec_id").as("xt"))
        .localCheckpoint(true)
      val fxn = fx.count()
      require(fxn == 80L,
        s"filtered exact top-10 must be 8 queries x 10 (a label class has < 10 members): $fxn")
      val (av, rk) = servedCellRank32(spark, dir, qs)
      val cand = av.join(broadcast(rk.filter(col("rn") <= 4)
          .select(col("qid"), col("cell").as("pcell"))), col("cell") === col("pcell"))
        .select(col("qid"), col("vec_id"))
      val scored = cand.join(e, Seq("vec_id")).join(broadcast(qs), Seq("qid"))
        .select(col("qid"), col("vec_id"), col("label").as("lbl"), col("qlbl"),
          dot(col("embedding"), col("qv")).as("s"))
        .withColumn("rn", row_number().over(wq.orderBy(col("s").desc, col("vec_id"))))
        .select("qid", "vec_id", "lbl", "qlbl", "rn")
        .localCheckpoint(true)
      def kh(f: DataFrame): (Long, Long) = {
        val kept = f.count()
        val hits = f.join(broadcast(fx),
          col("qid") === col("xq") && col("vec_id") === col("xt")).count()
        (kept, hits)
      }
      val preKept = e.join(broadcast(qs), col("label") === col("qlbl")).count()
      val (inKept, inHits) = kh(scored.filter(col("lbl") === col("qlbl")))
      val post = budgets.map { b =>
        val (k0, h0) = kh(scored.filter(col("rn") <= b && col("lbl") === col("qlbl")))
        (b.toLong, k0, h0)
      }
      // nesting laws: post-filter hits monotone in budget, capped by the
      // in-filter ceiling, and kept never exceeds the fetch budget
      post.sliding(2).foreach { case Seq((b1, _, h1), (b2, _, h2)) =>
        require(h1 <= h2, s"post-filter hits not monotone: budget $b1=$h1 > $b2=$h2")
      }
      post.foreach { case (b, k0, h0) =>
        require(k0 <= 8L * b, s"post-filter kept $k0 exceeds 8 queries x budget $b")
        require(h0 <= inHits, s"post-filter budget $b hits $h0 beat the in-filter ceiling $inHits")
      }
      val rows: Seq[(String, Long, Long, Long)] =
        Seq(("prefilter", 0L, preKept, 80L), ("infilter", 0L, inKept, inHits)) ++
          post.map { case (b, k0, h0) => ("postfilter", b, k0, h0) }
      rows.toDF("strategy", "budget", "kept", "hits")
        .select(col("strategy"), col("budget"), col("kept"), col("hits"),
          recallR(col("hits"), lit(80.0)))
        .orderBy("strategy", "budget")
    }
  }

  /** sim — INDEX FRESHNESS: append a fresh ingest batch (every 5th
    * vector, 20% of the corpus) to a coarse index whose centroids were
    * trained BEFORE the batch existed (base-only Lloyd to the
    * [[CellRounds]] budget, seeds = the first 32 base ids), vs the full
    * retrain over base+fresh. The append write path is ONE
    * broadcast-argmin map pass over ONLY the fresh rows against the
    * frozen centroids — no shuffle, no training scan, the standard IVF
    * add-vs-train recipe — which is why it's the only affordable
    * per-batch path at 100 TB (a retrain re-scans the whole corpus per
    * round × [[CellRounds]]). The gate prices what the cheap path
    * costs: probe-4 recall on the held-out queries, appended-frozen
    * 0.3875 vs retrained 0.425 at sf0.1 (0.4375 vs 0.45 at sf0.01,
    * round-17 honest window — the old seeded queries read 0.75 vs
    * 0.8375) — a ~0.01–0.04 recall tax for 20% unseen-at-training
    * growth, the measured trigger for WHEN a periodic retrain is worth
    * its scan. Laws
    * enforced in-gate: row conservation (both indexes hold exactly n
    * vectors — every fresh row lands in exactly one frozen cell),
    * cells_used ≤ 32, and a non-empty fresh batch (n ≥ 40 so the seed
    * window also holds 32 base rows). */
  val simIndexAppend: QueryDef = {
    def pointSql(name: String, av: String, rk: String): String =
      s"""SELECT '$name' AS variant,
             (SELECT CAST(count(*) AS BIGINT) FROM $av) AS n_rows,
             (SELECT CAST(count(DISTINCT cell) AS BIGINT) FROM $av) AS cells_used,
             (SELECT CAST(count(*) AS BIGINT) FROM $av a JOIN $rk r ON a.cell = r.cell AND r.rn <= 4) AS scanned,
             (SELECT CAST(count(*) AS BIGINT) FROM $av a JOIN $rk r ON a.cell = r.cell AND r.rn <= 4
              JOIN ex x ON x.qid = r.qid AND x.vec_id = a.vec_id) AS hits"""
    QueryDef(
      "sim_index_append",
      Some(s"""
      WITH $qsExSql,
      base AS (SELECT * FROM embeddings WHERE vec_id % 5 < 4),
      fresh AS (SELECT * FROM embeddings WHERE vec_id % 5 = 4),
      ${trainedChainSql("b", 32, "base", "vec_id < 40 AND vec_id % 5 < 4")},
      fav AS (${assignSql("fresh", s"bc$CellRounds")}),
      aav AS MATERIALIZED (SELECT vec_id, cell FROM bav UNION ALL SELECT vec_id, cell FROM fav),
      ${trainedChainSql("t32", 32)}
      SELECT variant, n_rows, cells_used, scanned, hits,
             round(CAST(hits AS DOUBLE) / 80.0, 6) AS recall_r
      FROM (
        ${pointSql("appended", "aav", "brk")}
        UNION ALL
        ${pointSql("retrained", "t32av", "t32rk")}
      )
      ORDER BY variant
    """)) { (spark, dir) =>
      val s2 = spark
      import s2.implicits._
      val (e, qs, ex, n) = heldOutHarness(spark, dir)
      require(n >= 40,
        s"index-append needs 32 base seeds inside vec_id < 40 and a non-empty fresh batch (n=$n < 40)")
      // the frozen snapshot + appended assignment are PERSISTED artifacts
      // since round 16 (the [[annBaseDag]] marts, shared with
      // simBookAppend — one per-row argmin over all vectors equals the
      // base-at-snapshot ∪ fresh-append union this gate used to build
      // inline, bit for bit)
      val centsB = annBaseMart(spark, dir, "mart_annb_cents32")
      val avApp = annBaseMart(spark, dir, "mart_annb_assign")
      val rkB = cellRankOf(centsB, qs)
      val (avR, rkR) = servedCellRank32(spark, dir, qs)
      def point(name: String, av: DataFrame, rk: DataFrame): (String, Long, Long, Long, Long) = {
        val nr = av.count()
        val cu = av.select("cell").distinct().count()
        val pool = av.join(broadcast(rk.filter(col("rn") <= 4)
            .select(col("qid"), col("cell").as("pcell"))), col("cell") === col("pcell"))
          .select(col("qid"), col("vec_id")).localCheckpoint(false)
        val scanned = pool.count()
        val hits = pool.join(broadcast(ex),
          col("qid") === col("xq") && col("vec_id") === col("xt")).count()
        core.release(pool)
        (name, nr, cu, scanned, hits)
      }
      val rows = Seq(point("appended", avApp, rkB), point("retrained", avR, rkR))
      // conservation: both indexes hold every vector exactly once, in
      // at most the 32 trained cells
      rows.foreach { case (v, nr, cu, _, _) =>
        require(nr == n, s"$v index lost rows: $nr != $n")
        require(cu <= 32L, s"$v uses $cu cells > 32")
      }
      rows.toDF("variant", "n_rows", "cells_used", "scanned", "hits")
        .select(col("variant"), col("n_rows"), col("cells_used"), col("scanned"),
          col("hits"), recallR(col("hits"), lit(80.0)))
        .orderBy("variant")
    }
  }

  /** NN-descent ROUND BUDGET — the oracle unrolls exactly this many
    * rounds; the Spark build may exit earlier at the kept-list fixpoint
    * (an unchanged list makes every remaining round a bit-identical
    * no-op: candidates are a function of the list, so c and l replay —
    * the suite's pinned-budget/fixpoint-exit convention, r14 verdict
    * queue #3 replacing the pinned 4). Raised 4 → 8 alongside
    * [[NndK]] 10 → 20: the numpy rehearsal on the driver corpora showed
    * K=10 PLATEAUS at recall ~0.55 at n=2000 no matter the rounds (the
    * build degree, not the budget, was binding), while K=20 converges
    * to ~0.93 by round 6–7 at both corpus sizes. */
  private val NndRounds = 8

  /** Build-side neighbor degree (keep-best-K of the descent). */
  private val NndK = 20

  /** Serve-side out-degree: the walk follows only each node's best
    * [[NndServeDeg]] kept edges — the HNSW/NSW build-wide/serve-narrow
    * split (build at 2×, serve the pruned core), which is what lets the
    * K=20 graph serve with FEWER scanned candidates than probe-1. */
  private val NndServeDeg = 10

  private val NndServeSteps = 8

  /** Entry-count sweep of the multi-entry serve (r14 verdict queue #7):
    * the walk enters at the MEDOIDS of the query's top-P coarse cells. */
  private val NndEntryPs = Seq(1, 2, 4)

  /** Shared WITH-clause fragment of the NN-descent graph BUILD, used by
    * both [[simNnDescent]] and [[simGraphServe]] so the two oracles can
    * never drift: cells, the n² score table (the REFEREE may shortcut to
    * n² — the engine side must not), the seeded init l0, then `rounds`
    * unrolled rounds of symmetrize → neighbor-of-neighbor candidates →
    * keep-best-[[NndK]], each round's frames MATERIALIZED (they feed two
    * consumers each). The final graph is CTE `l$rounds`; every l CTE
    * carries the in-list rank `rk` so consumers can audit recall@10
    * (rk ≤ 10) and serve the pruned core (rk ≤ [[NndServeDeg]]) without
    * re-scoring. */
  private def nnBuildCtes(rounds: Int): String = {
    val head = s"""
      WITH e AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
      ns AS (SELECT count(*) AS n, max(vec_id) AS mx FROM e),
      cents AS (SELECT vec_id AS cent_id, embedding AS cv FROM e WHERE vec_id < 8),
      assigned AS MATERIALIZED (
        SELECT e.vec_id, arg_max(c.cent_id, ${dotSql("e.embedding", "c.cv")} - 1e-12 * c.cent_id) AS cell
        FROM e, cents c GROUP BY e.vec_id),
      sc AS MATERIALIZED (
        SELECT a.vec_id AS s, b.vec_id AS t, ${dotSql("a.embedding", "b.embedding")} AS score
        FROM e a JOIN e b ON a.vec_id <> b.vec_id),
      incell AS (
        SELECT s, t FROM (
          SELECT sc.s, sc.t, row_number() OVER (PARTITION BY sc.s ORDER BY sc.score DESC, sc.t) AS rn
          FROM sc JOIN assigned sa ON sa.vec_id = sc.s JOIN assigned ta ON ta.vec_id = sc.t
          WHERE sa.cell = ta.cell) z
        WHERE rn <= 10),
      ring AS (
        SELECT a.vec_id AS s, (a.vec_id + j.j) % ns.n AS t
        FROM e a CROSS JOIN ns CROSS JOIN (SELECT unnest([1, 2, 3]) AS j) j),
      l0 AS MATERIALIZED (SELECT DISTINCT s, t FROM (SELECT s, t FROM incell UNION ALL SELECT s, t FROM ring) u0)"""
    val roundCtes = (1 to rounds).map { r =>
      val prev = if (r == 1) "l0" else s"l${r - 1}"
      s""",
      u$r AS (SELECT s, t FROM $prev UNION SELECT t AS s, s AS t FROM $prev),
      c$r AS MATERIALIZED (
        SELECT DISTINCT e1.t AS s, e2.t AS q FROM u$r e1 JOIN u$r e2 ON e1.s = e2.s AND e1.t <> e2.t),
      l$r AS MATERIALIZED (
        SELECT s, t, rn AS rk FROM (
          SELECT p.s, p.t, row_number() OVER (PARTITION BY p.s ORDER BY sc.score DESC, p.t) AS rn
          FROM (SELECT s, t FROM $prev UNION SELECT s, q AS t FROM c$r) p
          JOIN sc ON sc.s = p.s AND sc.t = p.t) z
        WHERE rn <= $NndK)"""
    }.mkString
    head + roundCtes
  }

  /** The build-trajectory oracle: shared build fragment + exact top-K +
    * the trimmed init, then one stat row per round (recall@10 audits the
    * rk ≤ 10 head of each round's kept-[[NndK]] list). */
  private def nnDescentSql(rounds: Int): String = {
    val audit = s""",
      exactk AS MATERIALIZED (
        SELECT s, t FROM (SELECT s, t, row_number() OVER (PARTITION BY s ORDER BY score DESC, t) AS rn FROM sc) z
        WHERE rn <= 10),
      l0k AS MATERIALIZED (
        SELECT s, t, rn AS rk FROM (
          SELECT p.s, p.t, row_number() OVER (PARTITION BY p.s ORDER BY sc.score DESC, p.t) AS rn
          FROM l0 p JOIN sc ON sc.s = p.s AND sc.t = p.t) z
        WHERE rn <= $NndK)"""
    val statRows = (0 to rounds).map { r =>
      val (lst, cp) = if (r == 0) ("l0k", "0") else (s"l$r", s"(SELECT count(*) FROM c$r)")
      s"""
      SELECT CAST($r AS BIGINT) AS round, CAST($cp AS BIGINT) AS cand_pairs,
             CAST((SELECT count(*) FROM (SELECT s, t FROM $lst WHERE rk <= 10) h JOIN exactk USING (s, t)) AS BIGINT) AS hits,
             CAST(ns.n * 10 AS BIGINT) AS total,
             round(CAST((SELECT count(*) FROM (SELECT s, t FROM $lst WHERE rk <= 10) h JOIN exactk USING (s, t)) AS DOUBLE) / (ns.n * 10), 6) AS recall_r
      FROM ns"""
    }.mkString(" UNION ALL ")
    s"${nnBuildCtes(rounds)}$audit\nSELECT * FROM ($statRows) ORDER BY round"
  }

  /** sim — IVF-seeded NN-descent kNN-GRAPH construction (Dong et al.,
    * WWW 2011): start every node from its top-10 neighbors WITHIN its own
    * coarse cell (the blocking the IVF family already maintains) plus 3
    * deterministic ring edges for cross-cell escape, then run up to
    * [[NndRounds]] = 8 rounds of the NN-descent update — symmetrize the
    * graph, propose every neighbor-of-a-common-neighbor as a candidate,
    * keep the best [[NndK]] = 20 by (dot DESC, id), exit early at the
    * kept-list fixpoint — and audit each round's recall@10 (the rk ≤ 10
    * head of the kept list) against the exact graph. Round 15 re-tuned
    * the knobs off a numpy rehearsal of this exact algorithm on the
    * driver corpora (r14 verdict queue #3): at the old K=10 the
    * trajectory PLATEAUS near 0.55 at n=2000 regardless of rounds — the
    * build degree, not the budget, binds, because a degree-10 uniform-
    * sphere graph hasn't enough co-neighbor paths to propose the true
    * tail — while K=20 converges to ~0.93 by round 6–7 at BOTH corpus
    * sizes (and ~0.99 at n=500, where the fixpoint fires inside the
    * budget). The mart is the TRAJECTORY: (round, s, t, rk, cand_pairs).
    * Recall is weakly non-decreasing BY CONSTRUCTION — candidates always
    * include the current list and an eviction needs a strictly better
    * (score, id) rank, which implies membership in the exact top-10
    * whenever the evictee was — and LlmOpsSpec asserts that law plus the
    * measured final>init margin. Shape at 100 TB: per-round work is
    * Σ_u deg(u)² ≤ n·(2K)² candidate pairs — linear in n, never n² — and
    * every shuffle carries (s, t, score) triples; vectors are touched
    * only in the bounded candidate-scoring join (co-partitioned id
    * fetch). The n² score pass exists ONLY in the recall audit (same
    * evaluation-harness pricing as [[simAnnRecallSet]]) and in the
    * REFEREE's replay, which may shortcut; a deployment builds the graph
    * without it. Seeding from the IVF cells is what makes the rounds
    * converge at all here — the uniform ring-only init measured 5×
    * slower to the same recall — so the gate composes the suite's coarse
    * quantizer with the graph build the way a production kNN-graph job
    * (semantic dedup, graph clustering, diversity sampling) actually
    * would. */
  /** `n` of a (vec_id, …) frame, failing unless its ids are dense
    * 0..n-1 with n > 10 — the dense-id guard the ring init depends on,
    * one aggregation job. */
  private def nnDenseCount(e: DataFrame): Long = {
    val r = e.agg(count(lit(1)).as("n"), max("vec_id").as("mx")).head()
    val (n, mx) = (r.getLong(0), r.getLong(1))
    require(mx == n - 1 && n > 10,
      s"NN-descent ring init needs dense ids 0..n-1 (n=$n, max=$mx)")
    n
  }

  /** Checkpointed (vec_id, embedding) plus its guarded n. */
  private def nnEmb(spark: SparkSession, dir: String): (DataFrame, Long) = {
    val e = emb(spark, dir).select("vec_id", "embedding").localCheckpoint(true)
    (e, nnDenseCount(e))
  }

  /** Every vector's (vec_id, cell) under the frozen IVF assignment — the
    * blocking of the init's in-cell edges and of every fold seed. */
  private def nnCells(spark: SparkSession, dir: String): DataFrame =
    ivfAssigned(spark, dir).select(col("vec_id"), col("cell"))

  /** Score candidate (s, t) pairs against `e` and keep each node's best
    * `k` with their rank — the ONLY place the build touches vectors: a
    * co-partitioned id fetch, bounded by the candidate volume. */
  private def nnTopK(e: DataFrame, k: Int)(pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // no join hints here: e is a checkpointed frame with unknown stats, so
    // the static plan is sort-merge — but AQE measures e's shuffle at
    // runtime (tiny at every member count these gates index) and converts
    // both fetches to broadcast joins, skipping the candidate-side
    // shuffles entirely; forcing shuffle_hash was measured 1.5× SLOWER at
    // sf0.1 because it pins the Σ deg² side to a shuffle AQE would elide
    pairs
      .join(e.select(col("vec_id").as("s"), col("embedding").as("es")), "s")
      .join(e.select(col("vec_id").as("t"), col("embedding").as("et")), "t")
      .select(col("s"), col("t"), dot(col("es"), col("et")).as("score"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("s").orderBy(col("score").desc, col("t"))))
      .filter(col("rk") <= k).select("s", "t", "rk")
  }

  /** The seeded init l0 of an NN-descent build over the member frame `e`
    * (n members, `cells` their (vec_id, cell)): each member's best 10 in
    * its own cell ∪ 3 ring edges, untrimmed and eagerly checkpointed. The
    * ring runs over the members' id lattice — `rank` maps an id to its
    * dense position 0..n-1 and `unrank` back, so edge j of s is
    * unrank((rank(s) + j) mod n): the identity on dense ids, and closed-form
    * integer arithmetic on the frozen base's `%5<4` ids (no global window
    * even at 100 TB). */
  private def nnInit(e: DataFrame, cells: DataFrame, n: Long,
      rank: Column => Column = c => c, unrank: Column => Column = c => c): DataFrame = {
    val incell = nnTopK(e, 10)(
      cells.select(col("vec_id").as("s"), col("cell"))
        .join(cells.select(col("vec_id").as("t"), col("cell").as("tc")),
          col("cell") === col("tc") && col("s") =!= col("t"))
        .select("s", "t")).select("s", "t")
    val ring = e.select(col("vec_id").as("s"),
        explode(array(lit(1L), lit(2L), lit(3L))).as("j"))
      .select(col("s"), unrank((rank(col("s")) + col("j")) % n).as("t"))
    incell.unionByName(ring).distinct().localCheckpoint(true)
  }

  /** THE NN-descent round's candidate table off the kept list `cur`,
    * lazy: (s, t, is_cand) over the list's own pairs ∪ every
    * neighbor-of-a-common-neighbor of the symmetrized list, is_cand = 1
    * on a proposal (one already in the list included — a max over the
    * union, not an anti-join), so the distinct candidate volume is a
    * filter away. `cur` is a leaf (a checkpoint or a mart read-back), so
    * the symmetrize+distinct plan is shallow, and its (s, t)-hash exchange is an identical subtree
    * on both sides of the co-neighbor self-join — ReuseExchange computes
    * it once. The raw proposals (with co-neighbor multiplicity) flow into
    * ONE hash(s) exchange shared by the (s, t) dedup (clustering on s
    * covers grouping on (s, t)) and [[nnKeep]]'s per-s window. */
  private def nnCandidates(cur: DataFrame): DataFrame = {
    val pairs = cur.select("s", "t")
    val und = pairs.unionByName(pairs.select(col("t").as("s"), col("s").as("t")))
      .distinct()
    val und2 = und.toDF("u2", "q")
    val cand = und.join(und2, col("s") === col("u2") && col("t") =!= col("q"))
      .select(col("t").as("s"), col("q").as("t"))
    pairs.select(col("s"), col("t"), lit(0).as("is_cand"))
      .unionByName(cand.select(col("s"), col("t"), lit(1).as("is_cand")))
      .repartition(col("s"))
      .groupBy("s", "t").agg(max("is_cand").as("is_cand"))
  }

  /** THE kept-list step on a candidate table: each node's best [[NndK]]
    * by (dot DESC, t), as (s, t, rk). Lazy: each loop materializes its
    * lists the way its state needs. */
  private def nnKeep(e: DataFrame, cand: DataFrame): DataFrame =
    nnTopK(e, NndK)(cand.select("s", "t"))

  /** One whole NN-descent round off the kept list `cur`, lazy. */
  private def nnRound(e: DataFrame, cur: DataFrame): DataFrame =
    nnKeep(e, nnCandidates(cur))

  /** One round of the [[nnDag]] build, which prices each round's
    * candidate volume: (next kept list, distinct candidate pairs, stop
    * signature) in two actions. The count materializes a lazy checkpoint
    * of the candidate table, the signature one of the kept list; the
    * candidate table is released once the list no longer reads it. */
  private[graft] def nnCountedRound(e: DataFrame, cur: DataFrame): (DataFrame, Long, Fixpoint.Sig) = {
    val cand = nnCandidates(cur).localCheckpoint(false)
    val nc = cand.filter(col("is_cand") === 1).count()
    val next = nnKeep(e, cand).localCheckpoint(false)
    val sig = Fixpoint.frameSig(next, "s", "t")
    core.release(cand)
    (next, nc, sig)
  }

  /** One NN-descent BUILD per corpus snapshot: the mart holds every
    * round's kept list tagged with that round's candidate volume —
    * (round, s, t, cand_pairs) — with round 0 being the TRIMMED init
    * (the list the trajectory audits; the chain itself grows off the
    * untrimmed l0, exactly as the oracle's u1 does). The build is the
    * expensive step and its output is (rounds+1)·n·K long triples, so it
    * is paid once and BOTH consumers — the [[simNnDescent]] trajectory
    * audit and the [[simGraphServe]] walk — read the table back; a
    * deployment's "graph built once" story is literal here. The builder
    * returns the lazy union of the rounds' lists; every kept-list
    * checkpoint it reads (and `e`, `init` behind round 0) is freed by the
    * registry once the mart is written. */
  private val nnDag = new graft.pipeline.ModelRegistry(Seq("embeddings"), Seq(
    graft.pipeline.ModelDef("mart_nn_rounds", Nil, mart = true) { (s, d, _) =>
      val (e, n) = nnEmb(s, d)
      val init = nnInit(e, nnCells(s, d), n)
      def tagged(list: DataFrame, round: Int, nc: Long): DataFrame =
        list.select(lit(round.toLong).as("round"), col("s"), col("t"), col("rk"),
          lit(nc).as("cand_pairs"))
      // pinned-budget loop with fixpoint early exit: the oracle unrolls
      // exactly NndRounds rounds; once a round's kept list matches the
      // previous round's, every remaining round is a provable no-op —
      // candidates are a function of the list (c_{r+1} = f(l_r) =
      // f(l_{r-1}) = c_r), so the remaining mart rows replicate this
      // round's list and candidate count bit-for-bit instead of re-running
      // the join. State: (kept list, its candidate count, mart rows so
      // far); a round is two actions ([[nnCountedRound]]). Superseded
      // lists stay cached: the mart rows read them.
      val res = Fixpoint.run(
          (init, 0L, tagged(nnKeep(e, init), 0, 0L)),
          NndRounds, (_: (DataFrame, Long, DataFrame)) => ()) {
        case ((cur, _, out), r) =>
          val (next, nc, sig) = nnCountedRound(e, cur)
          ((next, nc, out.unionByName(tagged(next, r + 1, nc))), sig)
      }
      val (last, nc, rows) = res.state
      (res.rounds + 1 to NndRounds)
        .foldLeft(rows)((out, r) => out.unionByName(tagged(last, r, nc)))
    }))

  /** Materialize-once accessor for the per-round NN-descent mart. */
  private def nnRoundsMart(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.MartCache.read(spark, dir, nnDag, "nn_marts", "graft_nn_", "mart_nn_rounds").head

  val simNnDescent: QueryDef = {
    QueryDef("sim_nndescent", Some(nnDescentSql(NndRounds))) { (spark, dir) =>
      val n = nnDenseCount(emb(spark, dir))
      // exact top-K: the n² EVALUATION baseline (audit-only; a standing
      // corpus artifact read from the eval mart — see its scaladoc)
      val exactK = nnExactKMart(spark, dir)
      // counter-scale collect: NndRounds+1 stat rows off the mart; the
      // recall@10 audit reads each round's rk <= 10 head (the kept list
      // is NndK-long since the build/serve degree split)
      val stats = nnRoundsMart(spark, dir)
        .filter(col("rk") <= 10)
        .join(exactK.select(col("s"), col("t"), lit(1L).as("hit")),
          Seq("s", "t"), "left")
        .groupBy("round")
        .agg(max("cand_pairs").as("cand_pairs"),
          sum(coalesce(col("hit"), lit(0L))).as("hits"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.sortBy(_._1)
      import spark.implicits._
      stats.toDF("round", "cand_pairs", "hits")
        .select(col("round"), col("cand_pairs"), col("hits"),
          lit(n * 10).as("total"),
          recallR(col("hits"), lit(n * 10)))
        .orderBy("round")
    }
  }

  /** The serve oracle: the shared build fragment, then the per-(entry
    * variant, query) walk as ${NndServeSteps} unrolled visited-set
    * steps — beam_k is top-10(visited_k) (keeping only the top-10 of the
    * union each step cannot change the overall top-10, so the beam needs
    * no separate state), and once the beam reaches a fixpoint the next
    * frontier is empty, making every remaining unrolled step a no-op.
    * The walk runs over the PRUNED serve graph (rk ≤ [[NndServeDeg]] of
    * the final round's kept-[[NndK]] lists) and enters at the medoids of
    * the query's top-P coarse cells for P ∈ [[NndEntryPs]] — the variant
    * dimension `p` rides every walk CTE so one unrolled chain prices the
    * whole entry sweep. */
  /** Shared WITH-clause fragment of every graph-SERVE oracle
    * ([[graphServeSql]], [[graphHierSql]] — one definition so a
    * tie-break or query-range edit can never desynchronize them): the
    * held-out queries, the MATERIALIZED 8×n audit score table, the
    * exact top-10, and the pruned serve core of round `rounds`. */
  /** The pruned serve-core CTE alone — shared by the two walk oracles
    * (via [[nnServeCommonSql]]) AND [[graphCentralitySql]], which needs
    * the graph but not the query harness. */
  private def nnServeCoreSql(rounds: Int): String =
    s"""g AS MATERIALIZED (SELECT s, t FROM l$rounds WHERE rk <= $NndServeDeg)"""

  private def nnServeCommonSql(rounds: Int): String = s""",
      qs AS (SELECT vec_id AS qid, embedding AS qv FROM e WHERE vec_id >= $QLo AND vec_id < $QHi),
      qsc AS MATERIALIZED (
        SELECT q.qid, x.vec_id AS t, ${dotSql("x.embedding", "q.qv")} AS score FROM e x, qs q),
      exq AS (
        SELECT qid, t FROM (SELECT qid, t, row_number() OVER (PARTITION BY qid ORDER BY score DESC, t) AS rn FROM qsc) z
        WHERE rn <= 10),
      ${nnServeCoreSql(rounds)}"""

  /** One unrolled greedy-walk CTE chain — ONE definition for the serve,
    * hier, and deployed oracles (round-16 review: the walks differed
    * only in score table, partition columns, and CTE names, and three
    * hand-kept copies is how a tie-break or step-count edit
    * desynchronizes them): per step k, `$bName$k` ranks the visited set
    * per `part` by `$score`.score DESC (ties by t) keeping the top-10
    * beam, and `$vName$k` unions in the beam's `$graph` neighbors. */
  private def walkStepsSql(bName: String, vName: String, steps: Int,
      score: String, graph: String, part: Seq[String]): String = {
    val pc = part.mkString(", ")
    val pv = part.map(c => s"v.$c").mkString(", ")
    val pb = part.map(c => s"b.$c").mkString(", ")
    (1 to steps).map { k =>
      s""",
      $bName$k AS (
        SELECT $pc, t FROM (
          SELECT $pv, v.t, row_number() OVER (PARTITION BY $pv ORDER BY s.score DESC, v.t) AS rn
          FROM $vName${k - 1} v JOIN $score s ON s.qid = v.qid AND s.t = v.t) z
        WHERE rn <= 10),
      $vName$k AS MATERIALIZED (
        SELECT $pc, t FROM $vName${k - 1} UNION SELECT $pb, $graph.t FROM $bName$k b JOIN $graph ON $graph.s = b.t)"""
    }.mkString
  }

  /** The layer-2 subsample + its exact serve-degree graph as a shared
    * CTE fragment (cut from the build's own `sc` table — the REFEREE may
    * go n², the engine side must not); ONE definition for the hier and
    * deployed oracles. */
  private def layer2Sql: String = s"""sub AS (SELECT vec_id FROM e WHERE vec_id % 16 = 0),
      g2 AS MATERIALIZED (
        SELECT s, t FROM (
          SELECT sc.s, sc.t, row_number() OVER (PARTITION BY sc.s ORDER BY sc.score DESC, sc.t) AS rn
          FROM sc JOIN sub ss ON ss.vec_id = sc.s JOIN sub st ON st.vec_id = sc.t) z
        WHERE rn <= $NndServeDeg)"""

  /** The exact layer-2 kNN graph over the 1/16 subsample as a standing
    * mart (r21 — [[simGraphHier]] and [[simGraphDeployed]] each rebuilt
    * the same (n/16)² pass; one build per corpus snapshot now serves
    * both). (gs, gt) id pairs — integers, exact parquet round-trip. The
    * Spark twin of [[layer2Sql]]. */
  private val layer2Dag = new graft.pipeline.ModelRegistry(Seq("embeddings"), Seq(
    graft.pipeline.ModelDef("mart_nn_layer2", Nil, mart = true) { (s, d, _) =>
      import org.apache.spark.sql.expressions.Window
      val sub = emb(s, d).select(col("vec_id"), col("embedding"))
        .filter(col("vec_id") % 16 === 0)
      sub.select(col("vec_id").as("s"), col("embedding").as("es"))
        .join(broadcast(sub.select(col("vec_id").as("t"), col("embedding").as("et"))),
          col("s") =!= col("t"))
        .select(col("s"), col("t"), dot(col("es"), col("et")).as("sc2"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("s").orderBy(col("sc2").desc, col("t"))))
        .filter(col("rn") <= NndServeDeg)
        .select(col("s").as("gs"), col("t").as("gt"))
    }))

  private def layer2Graph(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.MartCache.read(spark, dir, layer2Dag, "nnl2_marts",
      "graft_nnl2_", "mart_nn_layer2").head

  private def graphServeSql(rounds: Int, steps: Int): String = {
    val serveHead = s""",
      med AS (
        SELECT a.cell, arg_max(a.vec_id, ${dotSql("e2.embedding", "c.cv")} - 1e-12 * a.vec_id) AS mid
        FROM assigned a JOIN e e2 ON e2.vec_id = a.vec_id JOIN cents c ON c.cent_id = a.cell
        GROUP BY a.cell),
      qrank AS (
        SELECT q.qid, c.cent_id AS cell,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY ${dotSql("q.qv", "c.cv")} - 1e-12 * c.cent_id DESC) AS rn
        FROM qs q, cents c),
      v0 AS (
        SELECT pv.p, qr.qid, m.mid AS t
        FROM (SELECT unnest([${NndEntryPs.mkString(", ")}]) AS p) pv
        JOIN qrank qr ON qr.rn <= pv.p
        JOIN med m ON m.cell = qr.cell)"""
    val stepCtes = walkStepsSql("b", "v", steps, "qsc", "g", Seq("p", "qid"))
    val tail = s""",
      bf AS (
        SELECT p, qid, t FROM (
          SELECT v.p, v.qid, v.t, row_number() OVER (PARTITION BY v.p, v.qid ORDER BY s.score DESC, v.t) AS rn
          FROM v$steps v JOIN qsc s ON s.qid = v.qid AND s.t = v.t) z
        WHERE rn <= 10),
      gscan AS (SELECT p, CAST(count(*) AS BIGINT) AS scanned FROM v$steps GROUP BY p),
      ghit AS (
        SELECT b.p, CAST(count(*) AS BIGINT) AS hits
        FROM bf b JOIN exq x ON x.qid = b.qid AND x.t = b.t GROUP BY b.p),
      pcell AS (
        SELECT q.qid, a.vec_id AS t FROM qs q
        JOIN assigned qa ON qa.vec_id = q.qid
        JOIN assigned a ON a.cell = qa.cell),
      p1 AS (
        SELECT qid, t FROM (
          SELECT p.qid, p.t, row_number() OVER (PARTITION BY p.qid ORDER BY s.score DESC, p.t) AS rn
          FROM pcell p JOIN qsc s ON s.qid = p.qid AND s.t = p.t) z
        WHERE rn <= 10)
      SELECT * FROM (
        SELECT 'graph_m' || CAST(gs.p AS VARCHAR) AS variant, gs.scanned,
               CAST(coalesce(gh.hits, 0) AS BIGINT) AS hits,
               round(CAST(coalesce(gh.hits, 0) AS DOUBLE) / 80, 6) AS recall_r
        FROM gscan gs LEFT JOIN ghit gh ON gh.p = gs.p
        UNION ALL
        SELECT 'probe1' AS variant,
               CAST((SELECT count(*) FROM pcell) AS BIGINT) AS scanned,
               CAST((SELECT count(*) FROM p1 JOIN exq USING (qid, t)) AS BIGINT) AS hits,
               round(CAST((SELECT count(*) FROM p1 JOIN exq USING (qid, t)) AS DOUBLE) / 80, 6) AS recall_r
      ) ORDER BY variant"""
    nnBuildCtes(rounds) + nnServeCommonSql(rounds) + serveHead + stepCtes + tail
  }

  /** sim — GRAPH-ANN SERVING over the NN-descent graph: answer the
    * harness's 8 held-out queries ([[QLo]]..[[QHi]]−1, the
    * [[simAnnRecallSet]] set) by greedy best-first walk — MULTI-ENTRY
    * since round 15 (r14 verdict queue #7): enter at the MEDOIDS of the
    * query's top-P coarse cells (P swept over [[NndEntryPs]] = 1/2/4 as
    * the gate's measured entry-count dimension; the medoid — the member
    * nearest its centroid — is a real graph node, which is the actual
    * NSW recipe, unlike the former 8 fixed centroid-node entries),
    * repeatedly score the current beam's neighbors over the PRUNED
    * serve core (each node's best [[NndServeDeg]] = 10 of its kept
    * [[NndK]] = 20 build edges — HNSW's build-wide/serve-narrow split),
    * keep the global best-10 of everything visited, stop at the visited
    * fixpoint (≤ ${NndServeSteps} steps) — and audit recall@10 and
    * candidates-scanned against the probe-1 IVF baseline on the same
    * queries. MEASURED at sf0.1 (round-17 honest window): entry-2
    * reaches recall 0.9625 scanning ~1974 candidates vs probe-1's
    * 0.3625 at 1916 — recall dominates by ~0.6 at near-equal scan,
    * where the r14 single-entry walk on
    * the K=10 graph managed 0.625; the gate re-measures on the real
    * engines and LlmOpsSpec asserts the dominance margin per entry
    * count. Shape at 100 TB: serving state is one (p, qid) key's
    * visited set inside its task — beam_k = top-10(visited_k), proved in
    * [[graphServeSql]]'s doc — and each step touches beam×deg graph
    * edges plus their scores; the corpus appears only through the graph
    * (built once, n·K rows, broadcast like any sharded serving RAM) and
    * the per-candidate vector fetch. The per-query audit table (8×n)
    * prices the EVALUATION, not the serve. The probe-1 baseline rides
    * the same walk as keys with no graph edges entering at every member
    * of the query's cell: such a walk stops at once and ranks its
    * entries as the oracle's window does. */
  /** The pruned serve core off the NN-descent mart (rk ≤
    * [[NndServeDeg]] of round [[NndRounds]]) — the Spark twin of
    * [[nnServeCoreSql]], ONE definition for [[simGraphServe]],
    * [[simGraphHier]], [[simGraphDeployed]] and [[simGraphCentrality]].
    * Lazy: a walk collects it once. */
  private def serveCore(spark: SparkSession, dir: String): DataFrame =
    nnRoundsMart(spark, dir)
      .filter(col("round") === NndRounds && col("rk") <= NndServeDeg)
      .select(col("s"), col("t"))

  /** Shared Spark serve-harness over the NN-descent corpus (the
    * [[nnServeCommonSql]] twin — ONE definition for [[simGraphServe]]
    * and [[simGraphHier]]): held-out queries, plus the 8×n audit score
    * table and the exact top-10 referee read from the standing
    * [[serveHarnessDag]] marts (r21 — five gates were each re-paying the
    * same cross-join + window + two checkpoints). */
  private def nnServeHarness(spark: SparkSession, dir: String,
      e: DataFrame, n: Long): (DataFrame, DataFrame, DataFrame) =
    (heldOutQueries(e, n), serveQscMart(spark, dir), serveExqMart(spark, dir))

  /** THE walk audit: per `by` group of a ranked pool (…, qid, t, rn),
    * the rows scanned and the hits — rows `inBeam` (rn ≤ 10 unless the
    * caller says otherwise) that the key-unique referee `ex`(qid, t, …)
    * holds — plus the caller's `extra` aggregates, in ONE aggregation.
    * A left join on a key-unique referee cannot multiply pool rows. */
  private[graft] def beamAudit(pool: DataFrame, ex: DataFrame, by: String,
      inBeam: Column = col("rn") <= 10, extra: Seq[Column] = Nil): DataFrame =
    pool.join(broadcast(ex.withColumn("hit", lit(1L))), ex.columns.toSeq, "left")
      .groupBy(by).agg(count(lit(1)).as("scanned"),
        sum(when(inBeam, coalesce(col("hit"), lit(0L))).otherwise(0L)).as("hits") +: extra: _*)

  /** Catalyst's `score DESC, t` on (t, score) pairs: scores compare as
    * Spark SQL compares doubles (−0.0 = 0.0, NaN above every number, a
    * NULL last under DESC), ties go to the lower t. */
  private val walkOrder: Ordering[(Long, java.lang.Double)] = { (a, b) =>
    val bySc = (a._2, b._2) match {
      case (null, null) => 0
      case (null, _) => 1
      case (_, null) => -1
      case (x, y) => org.apache.spark.sql.catalyst.util.SQLOrderingUtil
        .compareDoubles(y.doubleValue, x.doubleValue)
    }
    if (bySc != 0) bySc else java.lang.Long.compare(a._1, b._1)
  }

  /** One key's walk from its entry nodes: returns the visited set as
    * (t, score) in [[walkOrder]]. A step adds every neighbour of the
    * beam (the first 10 in that order) that is not yet visited. */
  private[graft] def walkKey(qid: Long, entries: Seq[Long], steps: Int,
      out: Long => Array[Long], score: ((Long, Long)) => java.lang.Double)
      : Seq[(Long, java.lang.Double)] = {
    def scored(t: Long) = t -> score((qid, t))
    Fixpoint.run(entries.map(scored).toMap, steps, (_: Map[Long, java.lang.Double]) => ()) {
      (vis, _) =>
        val beam = vis.toSeq.sorted(walkOrder).take(10)
        val next = vis ++ beam.flatMap(b => out(b._1)).filterNot(vis.contains).map(scored)
        (next, Fixpoint.Changed(next.size - vis.size))
    }.state.toSeq.sorted(walkOrder)
  }

  /** The greedy visited-fixpoint walk of [[simGraphServe]],
    * [[simGraphHier]], [[serveVintages]] and [[simGraphDeployed]]. Each
    * `part` key (qid among them) enters at its `v0`(part…, t) nodes; a
    * step expands the key's beam — the top 10 of its visited set by
    * score DESC, t ASC — over graph `g`(gs, gt) and adds every node it
    * reaches. A key stops at its first step that adds nothing, and after
    * `steps` expansions at most. `gKeys` names part columns that also key
    * the graph (carried in `g` as "g"-prefixed twins), so one walk can
    * ride a variant dimension whose graphs never interact; a key whose
    * graph has no rows stops after one step with its entries ranked.
    *
    * The whole walk is one pass of tasks: the graph and the (qid, t) →
    * score table `qsc` are collected and broadcast once, the entry frame
    * is hash-partitioned by `part`, and each key's walk runs on
    * [[Fixpoint.run]] inside its task. Returns the visited set,
    * checkpointed once, as (part…, t, score, rn) with rn the rank
    * `row_number() OVER (PARTITION BY part ORDER BY score DESC, t)`
    * gives, so the final beam is `rn <= 10`.
    *
    * Every entry node and every node a beam reaches must have a score
    * row; the walk fails naming the first (qid, t) that has none. */
  private[graft] def greedyWalk(qsc: DataFrame, g: DataFrame, v0: DataFrame,
      part: Seq[String], steps: Int = NndServeSteps,
      gKeys: Seq[String] = Nil): DataFrame = {
    require(part.contains("qid") && gKeys.forall(part.contains),
      s"the walk scores per query and keys its graph by part columns: part $part, graph keys $gKeys")
    val sc = v0.sparkSession.sparkContext
    val nk = gKeys.size
    val adj = sc.broadcast(g
      .select(gKeys.map(k => col("g" + k)) ++ Seq(col("gs").cast(LongType),
        col("gt").cast(LongType)): _*)
      .collect().groupMap(r => (gKeys.indices.map(r.get): Seq[Any], r.getLong(nk)))(_.getLong(nk + 1)))
    val scoreRows = qsc.select(col("qid").cast(LongType), col("t").cast(LongType),
      col("score").cast(DoubleType)).collect()
    val scores = sc.broadcast(scoreRows.map { r =>
      (r.getLong(0), r.getLong(1)) -> (if (r.isNullAt(2)) null else java.lang.Double.valueOf(r.getDouble(2)))
    }.toMap)
    require(scores.value.size == scoreRows.length, "the walk's score table repeats a (qid, t) key")
    val np = part.size
    val qi = part.indexOf("qid")
    val gi = gKeys.map(part.indexOf)
    val schema = StructType(v0.select(part.map(col): _*).schema.fields ++ Seq(
      StructField("t", LongType, nullable = false),
      StructField("score", DoubleType, nullable = true),
      StructField("rn", IntegerType, nullable = false)))
    v0.select(part.map(col) :+ col("t").cast(LongType): _*)
      .repartition(part.map(col): _*)
      .mapPartitions { rows =>
        val (a, s) = (adj.value, scores.value)
        rows.toSeq.groupMap(r => (0 until np).map(r.get))(_.getLong(np)).iterator.flatMap {
          case (key, entries) =>
            val qid = key(qi).asInstanceOf[Number].longValue
            val gk = gi.map(key)
            walkKey(qid, entries, steps, t => a.getOrElse((gk, t), Array.emptyLongArray),
              k => s.getOrElse(k, throw new IllegalArgumentException(
                s"greedy walk: no score row for (qid, t) = (${k._1}, ${k._2})")))
              .iterator.zipWithIndex.map { case ((t, v), i) =>
                org.apache.spark.sql.Row.fromSeq(key ++ Seq[Any](t, v, i + 1))
              }
        }
      }(org.apache.spark.sql.Encoders.row(schema))
      .localCheckpoint(true)
  }

  val simGraphServe: QueryDef = {
    QueryDef("sim_graph_serve", Some(graphServeSql(NndRounds, NndServeSteps))) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val s2 = spark
      import s2.implicits._
      val (e, n) = nnEmb(spark, dir)
      val (qs, qsc, exq) = nnServeHarness(spark, dir, e, n)
      // the pruned SERVE core: each node's best NndServeDeg of the final
      // round's kept-NndK edges (build-wide/serve-narrow, see NndServeDeg)
      val graph = serveCore(spark, dir).select(col("s").as("gs"), col("t").as("gt"))
      // ONE IVF assignment pass: every vector's cell and its score against
      // its own centroid (tie → lower id via the suite's 1e-12 bias), read
      // by the medoid entries and the probe-1 baseline's entries
      val cells = ivfAssigned(e)
        .join(broadcast(seededCents(e).toDF("mcell", "mcv")),
          col("cell") === col("mcell"))
        .select(col("vec_id"), col("cell"),
          (dot(col("embedding"), col("mcv")) - lit(1e-12) * col("vec_id")).as("msc"))
        .localCheckpoint(true)
      val cellOf = cells.select(col("vec_id"), col("cell"))
      // per-cell MEDOID: the member nearest its own centroid — the entry
      // table is 8 rows
      val med = cells
        .withColumn("rn", row_number().over(
          Window.partitionBy("cell").orderBy(col("msc").desc)))
        .filter(col("rn") === 1).select(col("cell"), col("vec_id").as("mid"))
      // multi-entry v0: medoids of the query's top-P cells (one ranked
      // frame serves every entry count P), one variant dimension p riding
      // the whole walk (r14 verdict queue #7)
      val medoids = NndEntryPs.toDF("p")
        .join(seededCellRank(e, qs), col("rn") <= col("p"))
        .join(broadcast(med), Seq("cell"))
        .select(lit(true).as("hop"), col("p"), col("qid"), col("mid").as("t"))
      // the probe-1 baseline rides the same walk: it enters at every
      // member of the query's own cell over no graph (hop = false keys
      // have no edges), so it stops at once and ranks its entries by
      // audit score
      val probe1 = qs.select("qid")
        .join(broadcast(cellOf.toDF("qv2", "qcell")), col("qid") === col("qv2"))
        .join(cellOf.toDF("t", "tcell"), col("qcell") === col("tcell"))
        .select(lit(false).as("hop"), lit(0).as("p"), col("qid"), col("t"))
      val vis = greedyWalk(qsc, graph.withColumn("ghop", lit(true)),
        medoids.unionByName(probe1), Seq("hop", "p", "qid"), gKeys = Seq("hop"))
      val pool = vis.select(
          when(col("hop"), concat(lit("graph_m"), col("p").cast(StringType)))
            .otherwise(lit("probe1")).as("variant"),
          col("qid"), col("t"), col("rn"))
      beamAudit(pool, exq.toDF("qid", "t"), "variant")
        .select(col("variant"), col("scanned"), col("hits"),
          recallR(col("hits"), lit(80.0)))
        .orderBy("variant")
    }
  }

  /** The hierarchical-serve oracle: the shared build fragment, the tiny
    * exact layer-2 graph over the 1/16 subsample (cut from the build's
    * own `sc` score table — the REFEREE may go n², the engine side must
    * not), an unrolled layer-2 walk from node 0, entry handoff per
    * entry-count E, then the layer-1 walk with E riding every CTE (the
    * [[graphServeSql]] variant-dimension pattern) plus the flat
    * single-entry baseline walk. */
  private def graphHierSql(rounds: Int, steps: Int): String = {
    val head = s""",
      ${layer2Sql},
      w0 AS (SELECT qid, CAST(0 AS BIGINT) AS t FROM qs)"""
    val l2Steps = walkStepsSql("wb", "w", steps, "qsc", "g2", Seq("qid"))
    val handoff = s""",
      ent AS (
        SELECT qid, t, row_number() OVER (PARTITION BY qid ORDER BY score DESC, t) AS rn
        FROM (SELECT w.qid, w.t, s.score FROM w$steps w JOIN qsc s ON s.qid = w.qid AND s.t = w.t) z),
      v0 AS (
        SELECT ev.ev, en.qid, en.t
        FROM (SELECT unnest([1, 2, 4]) AS ev) ev JOIN ent en ON en.rn <= ev.ev
        UNION ALL
        SELECT 0 AS ev, qid, CAST(0 AS BIGINT) AS t FROM qs)"""
    val l1Steps = walkStepsSql("b", "v", steps, "qsc", "g", Seq("ev", "qid"))
    val tail = s""",
      bf AS (
        SELECT ev, qid, t FROM (
          SELECT v.ev, v.qid, v.t, row_number() OVER (PARTITION BY v.ev, v.qid ORDER BY s.score DESC, v.t) AS rn
          FROM v$steps v JOIN qsc s ON s.qid = v.qid AND s.t = v.t) z
        WHERE rn <= 10),
      l2n AS (SELECT CAST(count(*) AS BIGINT) AS c FROM w$steps),
      gscan AS (
        SELECT ev, CAST(count(*) AS BIGINT)
                 + CASE WHEN ev = 0 THEN 0 ELSE (SELECT c FROM l2n) END AS scanned
        FROM v$steps GROUP BY ev),
      ghit AS (
        SELECT b.ev, CAST(count(*) AS BIGINT) AS hits
        FROM bf b JOIN exq x ON x.qid = b.qid AND x.t = b.t GROUP BY b.ev)
      SELECT CASE WHEN gs.ev = 0 THEN 'flat_single' ELSE 'hier_e' || CAST(gs.ev AS VARCHAR) END AS variant,
             gs.scanned,
             CAST(coalesce(gh.hits, 0) AS BIGINT) AS hits,
             round(CAST(coalesce(gh.hits, 0) AS DOUBLE) / 80, 6) AS recall_r
      FROM gscan gs LEFT JOIN ghit gh ON gh.ev = gs.ev
      ORDER BY variant"""
    nnBuildCtes(rounds) + nnServeCommonSql(rounds) + head + l2Steps + handoff + l1Steps + tail
  }

  /** sim — HIERARCHICAL graph serving (the HNSW upper layer the r14
    * verdict named as missing): a LAYER-2 graph over the deterministic
    * 1/16 subsample (vec_id % 16 = 0) routes every query to good layer-1
    * entry points, replacing [[simGraphServe]]'s coarse-quantizer
    * medoids — the hierarchy makes the graph index SELF-CONTAINED (no
    * IVF dependency on the serve path). Layer 2 is the exact
    * [[NndServeDeg]]-degree kNN graph over the subsample: upper layers
    * shrink geometrically (HNSW keeps n/M^l nodes at layer l), so the
    * exact (n/16)² build stays under layer-1's NN-descent candidate
    * bound at these sizes — at true scale the SAME NN-descent build
    * ([[simNnDescent]]) applies per layer. Serve: greedy walk layer 2
    * from node 0 (visited-fixpoint, ≤ [[NndServeSteps]] steps), hand the
    * best E ∈ {1, 2, 4} finishers to the layer-1 walk over the pruned
    * serve core, audit recall@10 + candidates scanned (BOTH layers'
    * visited sets — fair accounting) against the flat single-entry walk
    * from the same node 0. Rehearsed on the exact K=20 graph (numpy,
    * both rungs): recall ties while hier scans ~5–12% fewer candidates.
    * MEASURED on the real NN-descent graph (round-17 honest window):
    * sf0.01 flat/e1 read 1.0 with e2/e4 at 0.975 on ~5–10% fewer scans;
    * sf0.1 hier_e2 TIES flat exactly (0.9625 = 0.9625) at fewer scans
    * (2216 vs 2288), e1 pays 0.875, and E = 4 no longer hurts (0.9625 —
    * the old seeded queries read its early-fixpoint penalty at 0.8375),
    * so E = 2 remains the measured operating point: the hierarchy's
    * scan cut is free at equal recall. Laws in-gate: the
    * layer-2 walk never leaves the subsample, and every variant's hits
    * are bounded by the 80-row denominator contract (n ≥ 24 guard).
    * Shape at 100 TB: layer 2 is n/16 rows (broadcastable at any
    * realistic shard size), walk state is (ev, qid, visited-id) scalars,
    * and the corpus appears only through the two graphs plus the
    * per-candidate score fetch; the 8×n `qsc` table prices the
    * EVALUATION, not the serve (the [[simGraphServe]] convention). */
  val simGraphHier: QueryDef = {
    QueryDef("sim_graph_hier", Some(graphHierSql(NndRounds, NndServeSteps))) { (spark, dir) =>
      val s2 = spark
      import s2.implicits._
      val (e, n) = nnEmb(spark, dir)
      val (qs, qsc, exq) = nnServeHarness(spark, dir, e, n)
      val graph = serveCore(spark, dir).select(col("s").as("gs"), col("t").as("gt"))
      // layer 2: exact kNN over the 1/16 subsample — (n/16)² pairs, the
      // geometrically-shrunk upper layer (shared builder with
      // simGraphDeployed)
      val w = greedyWalk(qsc, layer2Graph(spark, dir),
        qs.select(col("qid"), entryNode0.as("t")), Seq("qid"))
      val wn = layer2Visited(w)
      // entry handoff: the best E layer-2 finishers per query; the flat
      // single-entry baseline rides the SAME walk as ev = 0 (entry at
      // node 0, no hierarchy) — one variant frame, one walk, instead of a
      // second full walk for the baseline
      val v0h = Seq(1, 2, 4).toDF("ev")
        .join(w, col("rn") <= col("ev"))
        .select(col("ev"), col("qid"), col("t"))
        .unionByName(qs.select(lit(0).as("ev"), col("qid"), entryNode0.as("t")))
      val vh = greedyWalk(qsc, graph, v0h, Seq("ev", "qid"))
      beamAudit(vh, exq.toDF("qid", "t"), "ev")
        .select(
          when(col("ev") === 0, lit("flat_single"))
            .otherwise(concat(lit("hier_e"), col("ev").cast(StringType))).as("variant"),
          (col("scanned") + when(col("ev") === 0, lit(0L)).otherwise(lit(wn))).as("scanned"),
          col("hits"),
          recallR(col("hits"), lit(80.0)))
        .orderBy("variant")
    }
  }

  /** A layer-2 walk's visited-row count, after its law: the walk never
    * leaves the 1/16 subsample (every visited t is ≡ 0 mod 16). One
    * aggregation. */
  private def layer2Visited(w: DataFrame): Long = {
    val r = w.agg(count(lit(1)), sum(when(col("t") % 16 === 0, 1L).otherwise(0L))).head()
    val (wn, win) = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    require(win == wn, s"layer-2 walk escaped the subsample: $win of $wn rows in-sample")
    wn
  }

  /** sim — CODEBOOK FRESHNESS (round 16 — completing the append story
    * across all three index artifacts: the coarse layout is priced by
    * [[simIndexAppend]], the kNN graph by [[simGraphAppend]], and this
    * gate prices the CODEBOOK): three served read paths over the same
    * grown corpus and the same probe-4 budget, each measured end to end
    * (residual ADC → derived beam → exact re-rank, hits by the re-rank
    * lemma):
    *   - `frozen_both`     — coarse quantizer AND residual book trained
    *     on the pre-batch base (the [[annBaseDag]] snapshot); the fresh
    *     20% arrives through the two map-pass appends (argmin
    *     assignment + frozen-book encode);
    *   - `retrain_coarse`  — the served trained-32 coarse, codes
    *     RE-ENCODED under the FROZEN base book (one map pass — no book
    *     training);
    *   - `retrained_both`  — the served index marts wholesale.
    * MEASURED at sf0.1 (round-17 honest window): 0.375 / 0.4125 /
    * 0.3875 (sf0.01: 0.4375 / 0.45 / 0.45; the old seeded queries read
    * 0.75 / 0.8375 / 0.8375) — the sharp ops rule SURVIVES the window
    * shift: the CODEBOOK FREEZE IS FREE (retrain_coarse matches
    * retrained_both within one tie-level hit — at sf0.1 the frozen book
    * actually reads one hit HIGHER, noise around equality — a
    * 256-codeword displacement dictionary generalizes to unseen data),
    * while the coarse freeze carries the whole remaining tax. On
    * growth: retrain the coarse layout and re-encode (map passes over
    * codes); never pay the book's training scan. Laws
    * in-gate: the appended assignment covers every vector (conservation)
    * and every arm's beam ⊆ pool with hits ≤ 80. Shape at 100 TB: all
    * three arms read persisted artifacts; the one inline compute is the
    * middle arm's re-encode — deliberately, because that map pass IS the
    * measured write path. */
  val simBookAppend: QueryDef = {
    def armSql(tag: String, av: String, rk: String, sub: String,
        book: String, lut: String): String = s"""${tag}cand AS MATERIALIZED (
        SELECT r.qid, a.vec_id, a.cell FROM $av a JOIN $rk r ON a.cell = r.cell AND r.rn <= 4),
      ${tag}enc AS MATERIALIZED (
        SELECT c.qid, c.vec_id, c.cell, s.m,
               arg_min(b.code, ${sqSubSql("s.sv", "b.cv")} + 1e-12 * b.code) AS code
        FROM ${tag}cand c JOIN $sub s ON s.vec_id = c.vec_id JOIN $book b ON b.m = s.m
        GROUP BY c.qid, c.vec_id, c.cell, s.m, s.sv),
      ${tag}adc AS (${adcPivotSql(
        s"${tag}enc e JOIN $lut l ON l.qid = e.qid AND l.cell = e.cell AND l.m = e.m AND l.code = e.code")}),
      ${tag}bw AS (
        SELECT qid, CAST(count(*) AS BIGINT) AS cq, $bwAggSql AS bw1
        FROM ${tag}cand GROUP BY qid),
      ${tag}rk2 AS (
        SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY score, vec_id) AS rk
        FROM ${tag}adc)"""
    def armRow(name: String, tag: String): String = s"""
        SELECT '$name' AS variant,
               (SELECT CAST(count(*) AS BIGINT) FROM ${tag}cand) AS pool_rows,
               (SELECT CAST(sum(least(cq, bw1)) AS BIGINT) FROM ${tag}bw) AS beam_rows,
               (SELECT CAST(count(*) AS BIGINT) FROM ${tag}rk2 r JOIN ${tag}bw w ON w.qid = r.qid
                JOIN ex x ON x.qid = r.qid AND x.vec_id = r.vec_id
                WHERE r.rk <= least(w.cq, w.bw1)) AS hits"""
    QueryDef(
      "sim_book_append",
      Some(s"""
      WITH $qsExSql,
      base AS (SELECT * FROM embeddings WHERE vec_id % 5 < 4),
      ${trainedChainSql("b", 32, "base", "vec_id < 40 AND vec_id % 5 < 4")},
      aav AS MATERIALIZED (${assignSql("embeddings", s"bc$CellRounds")}),
      $msSql,
      ${trainedChainSql("t32", 32)},
      ${res32ChainSql},
      ${resChainSql("f", "aav", s"bc$CellRounds", "vec_id % 5 < 4",
        s"r.vec_id < ${PqK / 4 * 5} AND r.vec_id % 5 < 4",
        "(r.vec_id // 5) * 4 + r.vec_id % 5")},
      m2lut AS MATERIALIZED (
        SELECT r.qid, r.cell, b.m, b.code,
               ${sqSubSql(s"list_slice(r.rqv, b.m * $PqSub + 1, b.m * $PqSub + $PqSub)", "b.cv")} AS qd
        FROM qres r, frbook b),
      ${armSql("a3", "t32av", "t32rk", "rsub", "rbook", "rlut")},
      ${armSql("a2", "t32av", "t32rk", "rsub", "frbook", "m2lut")},
      ${armSql("a1", "aav", "brk", "frsub", "frbook", "frlut")}
      SELECT variant, pool_rows, beam_rows, hits,
             round(CAST(hits AS DOUBLE) / 80.0, 6) AS recall_r
      FROM (
        ${armRow("frozen_both", "a1")}
        UNION ALL
        ${armRow("retrain_coarse", "a2")}
        UNION ALL
        ${armRow("retrained_both", "a3")}
      ) ORDER BY variant
    """)) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val s2 = spark
      import s2.implicits._
      val wq = Window.partitionBy("qid")
      val (e, qs, ex, n) = heldOutHarness(spark, dir)
      require(n >= PqK / 4 * 5,
        s"the frozen book's closed-form seed window needs n >= ${PqK / 4 * 5} (n=$n)")
      // beam size + hits in ONE aggregation job per arm ([[refereeHits]]),
      // and the three independent read arms run concurrently (guide §2.6)
      // — each arm's pool stays its own eagerly-checkpointed frame
      def armRead(name: String, cents: DataFrame, assign: DataFrame,
          codes: DataFrame, book: DataFrame) = () => {
        val rk = cellRankOf(cents, qs)
        val cand = assign.join(broadcast(rk.filter(col("rn") <= 4)
            .select(col("qid"), col("cell").as("pcell"))), col("cell") === col("pcell"))
          .select(col("qid"), col("vec_id")).localCheckpoint(true)
        val enc = cand.join(codes, Seq("vec_id"))
          .select(col("qid"), col("vec_id"), col("cell"), col("m"), col("code"))
        val adc = adcSum(enc, resLut(qs, cents, book), Seq("qid", "cell", "m", "code"))
        val (beamRows, hits) = refereeHits(derivedBeam(adc, beamWidths(cand)), ex)
        val pr = cand.count()
        core.release(cand)
        (name, pr, beamRows, hits)
      }
      val cents32 = annIndexMart(spark, dir, "mart_ann_cents32")
      val assign32 = annIndexMart(spark, dir, "mart_ann_assign32")
      val book32 = annIndexMart(spark, dir, "mart_ann_book64r").select("m", "code", "cv")
      val centsB = annBaseMart(spark, dir, "mart_annb_cents32")
      val assignB = annBaseMart(spark, dir, "mart_annb_assign")
      val bookB = annBaseMart(spark, dir, "mart_annb_book64r").select("m", "code", "cv")
      // conservation: the appended frozen index holds every vector
      val nb = assignB.count()
      require(nb == n, s"appended frozen assignment lost rows: $nb != $n")
      val a1 = armRead("frozen_both", centsB, assignB,
        annBaseMart(spark, dir, "mart_annb_codes64r"), bookB)
      // the middle arm's measured write path: ONE map pass re-encoding
      // residuals-vs-retrained-coarse under the frozen book (inline —
      // the pass itself is what the arm prices)
      val codesMid = resCodes(res32Frame(spark, dir, cents32, assign32), bookB)
      val a2 = armRead("retrain_coarse", cents32, assign32, codesMid, bookB)
      val a3 = armRead("retrained_both", cents32, assign32,
        annIndexMart(spark, dir, "mart_ann_codes64r"), book32)
      val rows = concurrently(Seq(a1, a2, a3))
      rows.foreach { case (v, pr, br, h) =>
        require(br <= pr && h <= 80L, s"$v broke the beam/denominator contract: $pr/$br/$h")
      }
      rows.toDF("variant", "pool_rows", "beam_rows", "hits")
        .select(col("variant"), col("pool_rows"), col("beam_rows"), col("hits"),
          recallR(col("hits"), lit(80.0)))
        .orderBy("variant")
    }
  }

  /** Append-pass round budget for [[simGraphAppend]]: the measured knee —
    * round 1 recovers most of the frozen gap, round 2 lands within ~0.05
    * of the full rebuild (numpy rehearsal and both engine rungs agree);
    * round 3 approaches parity but pays another full co-neighbor pass. */
  private val NndAppendRounds = 2

  /** The FROZEN base graph as its own mart (a SECOND registry over the
    * same machinery — the corpusLmDag pattern, so the full-graph gates
    * never pay for the base build): the NN-descent kept lists over the
    * frozen base ([[IndexFeed.base]]), built before the fresh batch
    * "exists". This
    * is not a bench convenience — the premise of [[simGraphAppend]] is
    * that the pre-batch graph is a standing snapshot artifact, so it IS
    * persisted, exactly like the full graph's [[nnRoundsMart]]. Init =
    * in-cell-among-base top-10 plus ring edges over the base id lattice
    * ([[IndexFeed.baseRank]], see [[nnInit]]). */
  private val nnBaseDag = new graft.pipeline.ModelRegistry(Seq("embeddings"), Seq(
    graft.pipeline.ModelDef("mart_nn_base", Nil, mart = true) { (s, d, _) =>
      val (e, _) = nnEmb(s, d)
      val eB = e.filter(IndexFeed.base(col("vec_id")))
      val init = nnInit(eB, nnCells(s, d).filter(IndexFeed.base(col("vec_id"))), eB.count(),
        IndexFeed.baseRank, IndexFeed.baseId)
      // pinned budget + fixpoint exit (the nnDag loop): the signature
      // materializes each round's lazily checkpointed list
      val last = Fixpoint.run(init, NndRounds, core.release) { (cur, _) =>
        val next = nnRound(eB, cur).localCheckpoint(false)
        (next, Fixpoint.frameSig(next, "s", "t"))
      }.state
      // the last kept list is a checkpoint of its own: nothing reads the
      // init or e now
      Seq(init, e).foreach(core.release)
      last.select("s", "t", "rk")
    }))

  /** Materialize-once accessor for the frozen-base graph mart. */
  private def nnBaseMart(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.MartCache.read(spark, dir, nnBaseDag, "nnb_marts", "graft_nnb_",
      "mart_nn_base").head

  /** THE fold-seed recipe: cell-blocked arrival seeds (s, t) — each
    * `fresh`(vec_id) node's best 10 among the `members`(vec_id) of its own
    * cell under `cells`(vec_id, cell). One definition for the fold-mart
    * builders, the append gate's fresh seeds and both streamed sinks'
    * per-batch folds. Seeds are a function of (member set, frozen cell
    * assignment) only — never of the graph — which is why a consolidated
    * and an unconsolidated trajectory may reuse the same seed artifact. */
  private def foldSeedBy(e: DataFrame, cells: DataFrame, fresh: DataFrame,
      members: DataFrame): DataFrame =
    nnTopK(e, 10)(
      fresh.join(cells, Seq("vec_id")).select(col("vec_id").as("s"), col("cell"))
        .join(members.join(cells, Seq("vec_id"))
          .select(col("vec_id").as("t"), col("cell").as("tc")),
          col("cell") === col("tc"))
        .select("s", "t")).select("s", "t")

  /** THE fold: one NN-descent round over the graph `g` ∪ the arrival
    * `seed` edges — lazy ([[nnRound]]). One definition for the feed
    * marts, the live folds of a policy trajectory and the streamed sink. */
  private def foldOnto(e: DataFrame, g: DataFrame, seed: DataFrame): DataFrame =
    nnRound(e, g.select("s", "t").unionByName(seed))

  /** [[NndAppendRounds]] NN-descent rounds off a fold snapshot, each
    * kept list eagerly checkpointed, releasing each intermediate one once
    * the next is (dropping the reference alone pins round 1's n·K rows
    * until garbage collection). ONE definition for the feed marts'
    * consolidations, [[IndexFeed.trajectory]]'s live ones and
    * [[streamFeed]]'s in-stream consolidation. */
  private def consolidateRounds(e: DataFrame, start: DataFrame): DataFrame =
    (1 to NndAppendRounds).foldLeft(start) { (cur, _) =>
      val next = nnRound(e, cur.select("s", "t")).localCheckpoint(true)
      if (cur ne start) core.release(cur) // the snapshot is the caller's
      next
    }.select("s", "t", "rk")

  /** A feed's sizes over one corpus: the frozen base's and each batch's,
    * in arrival order. */
  private[graft] final case class FeedCounts(base: Long, batches: Seq[Long]) {
    /** The members present after event i (base ∪ batches 1..i). */
    def members(i: Int): Long = base + batches.take(i).sum

    /** THE consolidation trigger rule, in exact integers: after the fold
      * of each batch, consolidate iff 100·(growth since the last
      * consolidation) ≥ θ·(members at the last consolidation), the base
      * counting as the first. One flag per batch. */
    def schedule(thetaPct: Long): Seq[Boolean] =
      batches.scanLeft((base, 0L, false)) { case ((atConsol, growth, _), b) =>
        val g = growth + b
        if (g * 100L >= thetaPct * atConsol) (atConsol + g, 0L, true) else (atConsol, g, false)
      }.tail.map(_._3)
  }

  /** THE declaration of an index feed: the frozen base
    * ([[IndexFeed.base]]) grown by `batches` in arrival order, each batch
    * a union of residue classes (id mod m = r) of the corpus ids, and the
    * θ its deployment consolidates at with the schedule `consolidates`
    * the trigger rule gives on the pinned batch sizes (at every rung; the
    * policy gates check it). Everything per event derives from it: the
    * member sets, the landing, the seed/fold/consolidation marts, the
    * exact referees and the policy trajectories. The leading events
    * `from` declares identically (same batch, same schedule) are read
    * from `from`'s marts, so no fold is built twice per snapshot. */
  private[graft] final class IndexFeed(val tag: String, batches: Seq[Seq[(Int, Int)]],
      val theta: Long, val consolidates: Seq[Boolean], from: Option[IndexFeed] = None) {
    require(consolidates.size == batches.size, s"$tag: one schedule flag per batch")
    /** The number of batches. */
    val k: Int = batches.size
    private val declared = batches.zip(consolidates)
    private val shared =
      from.fold(0)(f => declared.zip(f.declared).takeWhile { case (a, b) => a == b }.size)

    /** Batch i (1-based) over the id column `id`. */
    def batch(i: Int, id: Column): Column =
      batches(i - 1).map { case (m, r) => id % m === r }.reduce(_ || _)

    /** The members present after event i: base ∪ batches 1..i. */
    def members(i: Int, id: Column): Column =
      (1 to i).foldLeft(IndexFeed.base(id))((c, j) => c || batch(j, id))

    /** The base and batch sizes over the ids of `e`, in one aggregate job. */
    def counts(e: DataFrame): FeedCounts = {
      val id = col("vec_id")
      val sizes = (IndexFeed.base(id) +: (1 to k).map(batch(_, id)))
        .map(p => sum(when(p, 1L).otherwise(0L)))
      val r = e.agg(sizes.head, sizes.tail: _*).head()
      FeedCounts(r.getLong(0), (1 to k).map(r.getLong))
    }

    /** The landing the streamed sink reads: one single-file parquet batch
      * per batch, staged once per corpus snapshot under deterministic
      * names and pinned mtimes — the file source orders by (mtime, path),
      * so the fold order, and with it the result, is fixed, though a
      * generic file feed makes no order promise (the NN-descent fold is
      * not batch-order-insensitive). The build is serialized per path
      * ([[core.buildOnce]], the Ingest.stagedOnce discipline): a bare
      * marker check-then-act would let two in-JVM executions interleave
      * the landing writes and pin a corrupted feed behind the marker. */
    def landing(spark: SparkSession, dir: String, e: DataFrame): String = {
      import org.apache.hadoop.fs.Path
      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val root = core.scratch(dir,
        s"st_${tag}_landing_${core.sourceSig(spark, dir, "embeddings")}")
      val marker = new Path(root, "_SUCCESS")
      core.buildOnce(root)(fs.exists(marker)) {
        val tmp = new Path(root + "_stage")
        fs.delete(new Path(root), true)
        fs.mkdirs(new Path(root))
        (1 to k).foreach { i =>
          fs.delete(tmp, true)
          e.filter(batch(i, col("vec_id"))).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val part = fs.listStatus(tmp).map(_.getPath).filter(_.getName.endsWith(".parquet")).head
          val dest = new Path(root, s"batch-${i - 1}.parquet")
          fs.rename(part, dest)
          fs.setTimes(dest, 1000000L * i, -1)
          // the fold order rides on these mtimes: fail loud if the
          // filesystem ignored setTimes instead of silently falling back
          // to the path tiebreak
          require(fs.getFileStatus(dest).getModificationTime == 1000000L * i,
            s"setTimes not honored on $dest — fold order would be unpinned")
        }
        fs.delete(tmp, true)
        fs.create(marker).close()
      }
      root
    }

    private def martName(kind: String, i: Int) = s"mart_${tag}_$kind$i"
    /** The mart kind holding the graph after event j ≥ 1. */
    private def stateKind(j: Int) = if (consolidates(j - 1)) "consol" else "fold"

    /** The feed marts of the events past `shared`: per event i the arrival
      * seeds `seed<i>` (each batch-i node's best 10 among the members
      * present before it, [[foldSeedBy]]), the one-round fold `fold<i>`
      * over the graph after event i − 1 ∪ those seeds, and where the
      * schedule fires the consolidation `consol<i>`. Standing artifacts of
      * (frozen base, pinned batches), built once per corpus snapshot like
      * [[nnBaseMart]]. The oracles keep replaying the folds inline
      * ([[batchFoldCtesSql]], [[policyFoldCtesSql]] — the referee
      * convention), so any drift breaks the hash gate, and
      * [[streamFeed]]'s sink computes the same states live. */
    private val dag = new graft.pipeline.ModelRegistry(Seq("embeddings"),
      (shared + 1 to k).flatMap { i =>
        val prev = if (i > shared + 1) Seq(martName(stateKind(i - 1), i - 1)) else Nil
        Seq(
          graft.pipeline.ModelDef(martName("seed", i), Nil, mart = true) { (s, d, _) =>
            val (e, _) = nnEmb(s, d)
            val ids = e.select("vec_id")
            foldSeedBy(e, nnCells(s, d), ids.filter(batch(i, col("vec_id"))),
              ids.filter(members(i - 1, col("vec_id"))))
          },
          graft.pipeline.ModelDef(martName("fold", i), martName("seed", i) +: prev,
              mart = true) { (s, d, res) =>
            val (e, _) = nnEmb(s, d)
            foldOnto(e, if (prev.isEmpty) state(s, d, i - 1) else res(prev.head),
              res(martName("seed", i)))
          }) ++
          (if (consolidates(i - 1)) Seq(
            graft.pipeline.ModelDef(martName("consol", i), Seq(martName("fold", i)),
                mart = true) { (s, d, res) =>
              val (e, _) = nnEmb(s, d)
              val out = consolidateRounds(e, res(martName("fold", i)))
              core.release(e)
              out
            }) else Nil)
      })

    /** Feed mart `kind` ("seed", "fold" or "consol") of event i. */
    def mart(spark: SparkSession, dir: String, kind: String, i: Int): DataFrame =
      if (i <= shared) from.get.mart(spark, dir, kind, i)
      else graft.pipeline.MartCache.read(spark, dir, dag, s"${tag}_feed_marts",
        s"graft_${tag}_feed_", martName(kind, i)).head

    /** The graph (s, t, rk) after event j: the frozen base graph at 0, then
      * the consolidation where the schedule fired, else the fold. */
    def state(spark: SparkSession, dir: String, j: Int): DataFrame =
      if (j == 0) nnBaseMart(spark, dir) else mart(spark, dir, stateKind(j), j)

    /** The exact referees of the mid-feed member sets past `shared`, one
      * single-model registry each, so a consumer builds only the member
      * set it audits. */
    private val referees = (shared + 1 until k).map(i =>
      new NnExactReferee(martName("exact_m", i), s"${tag}em$i", members(i, col("vec_id"))))

    /** The exact top-10 (s, t) among the members present after event i —
      * the full corpus after the last batch. */
    def referee(spark: SparkSession, dir: String, i: Int): DataFrame =
      if (i == k) nnExactKMart(spark, dir)
      else if (i <= shared) from.get.referee(spark, dir, i)
      else referees(i - shared - 1)(spark, dir)

    /** The graph after this feed's events when consolidation fires per
      * `fires` instead of [[consolidates]]: while the two agree the marts
      * hold every state; past the first disagreement each fold runs live
      * off the marted seeds (seeds depend only on the member set, which
      * consolidation never changes) and each firing consolidates live. */
    def trajectory(spark: SparkSession, dir: String, e: DataFrame,
        fires: Seq[Boolean]): DataFrame =
      (1 to k).foldLeft((state(spark, dir, 0), true)) { case ((cur, onMarts), i) =>
        val fold =
          if (onMarts) mart(spark, dir, "fold", i)
          else foldOnto(e, cur, mart(spark, dir, "seed", i)).localCheckpoint(true)
        if (onMarts && fires(i - 1) == consolidates(i - 1)) (state(spark, dir, i), true)
        else (if (fires(i - 1)) consolidateRounds(e, fold) else fold, false)
      }._1
  }

  /** The frozen base, its id lattice and the two pinned feeds. */
  private[graft] object IndexFeed {
    /** The frozen base: every id with id mod 5 < 4, the pre-growth 80% of
      * the corpus every feed grows from. */
    def base(id: Column): Column = id % 5 < 4

    /** A base id's dense position, (v div 5)·4 + v mod 5, and the base id
      * at a position, (r div 4)·5 + r mod 4: closed-form integers both
      * engines replay, with no global window. */
    def baseRank(v: Column): Column = call_function("div", v, lit(5)) * 4 + v % 5
    def baseId(r: Column): Column = call_function("div", r, lit(4)) * 5 + r % 4

    /** The two-batch feed over the fresh 20%: `%10=4`, then `%10=9`; its
      * θ=20 deployment consolidates once, after batch 2. */
    val twoBatch = new IndexFeed("nn", Seq(Seq(10 -> 4), Seq(10 -> 9)), 20L, Seq(false, true))

    /** The policy feed, sized so the θ=20 trigger fires mid-stream: batch
      * 1 = `%10=4` (the two-batch feed's batch 1, whose marts it reads),
      * batch 2 = `%20=9 ∪ %40=19` (cumulative growth 21.875% of the base),
      * batch 3 = `%40=39`. */
    val policy = new IndexFeed("nnp", Seq(Seq(10 -> 4), Seq(20 -> 9, 40 -> 19), Seq(40 -> 39)),
      20L, Seq(false, true, false), from = Some(twoBatch))
  }

  /** Materialize-once accessor for the θ=20 consolidated index of the
    * two-batch feed. */
  private def nnConsolMart(spark: SparkSession, dir: String): DataFrame =
    IndexFeed.twoBatch.mart(spark, dir, "consol", 2)

  /** Materialize-once accessor for the two-batch feed marts:
    * (fold1, fold2, seed2). */
  private def nnFoldMarts(spark: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    val f = IndexFeed.twoBatch
    (f.mart(spark, dir, "fold", 1), f.mart(spark, dir, "fold", 2), f.mart(spark, dir, "seed", 2))
  }

  /** Materialize-once accessor for the policy feed's event marts:
    * (fold2, consol2, fold3). */
  private def nnPolicyMarts(spark: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    val f = IndexFeed.policy
    (f.mart(spark, dir, "fold", 2), f.mart(spark, dir, "consol", 2), f.mart(spark, dir, "fold", 3))
  }

  /** The n² EVALUATION referees as marts (round 19): the exact top-10
    * ground truth is a standing property of the corpus snapshot, yet four
    * gates were re-paying the n² scoring pass every bench pass.
    * `mart_nn_exactk` = exact top-10 over all members; each feed adds one
    * per mid-feed member set ([[IndexFeed.referee]]), the honest mid-feed
    * denominator. Audit-only artifacts (the [[simNnDescent]] referee
    * convention — every ORACLE still prices its referee inline as one n²
    * `sc` table); integer (s, t, rk) triples, so the parquet round-trip
    * is exact. `apply` reads the referee as (s, t) pairs ready for the
    * hit joins. */
  private final class NnExactReferee(mart: String, tag: String, member: Column) {
    private val dag = new graft.pipeline.ModelRegistry(Seq("embeddings"), Seq(
      graft.pipeline.ModelDef(mart, Nil, mart = true) { (s, d, _) =>
        val (e, _) = nnEmb(s, d)
        val ids = e.select("vec_id").filter(member)
        nnTopK(e, 10)(
          ids.select(col("vec_id").as("s"))
            .crossJoin(broadcast(ids.select(col("vec_id").as("t"))))
            .filter(col("s") =!= col("t")))
      }))

    def apply(spark: SparkSession, dir: String): DataFrame =
      graft.pipeline.MartCache.read(spark, dir, dag, s"${tag}_marts",
        s"graft_${tag}_", mart).head.select("s", "t")
  }

  /** THE kNN-graph audit stat: a graph (s, t, rk)'s node count, edge
    * count and recall@10 hits — edges with rk ≤ 10 that the exact top-10
    * `referee`(s, t) holds — in ONE aggregation job. The referee is
    * key-unique, so the left join cannot multiply edges; the hit sum is
    * NULL over an empty graph and reads as 0. */
  private[graft] def graphRecall(g: DataFrame, referee: DataFrame): (Long, Long, Long) = {
    val r = g.join(referee.select(col("s"), col("t"), lit(1L).as("hit")),
        Seq("s", "t"), "left")
      .agg(count_distinct(col("s")), count(lit(1)),
        sum(when(col("rk") <= 10, coalesce(col("hit"), lit(0L))).otherwise(0L)))
      .head()
    (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  /** Exact top-10 over the full corpus. */
  private val nnExactKMart = new NnExactReferee("mart_nn_exactk", "nnek", lit(true))

  /** Prefixed NN-descent round CTEs over a shared `sc` score table —
    * the [[nnBuildCtes]] round shape factored so the append oracle can
    * run the base chain and the union chain off ONE n² referee table
    * instead of three. */
  private def nnRoundCtesSql(prefix: String, init: String, rounds: Int): String =
    (1 to rounds).map { r =>
      val prev = if (r == 1) init else s"${prefix}l${r - 1}"
      s""",
      ${prefix}u$r AS (SELECT s, t FROM $prev UNION SELECT t AS s, s AS t FROM $prev),
      ${prefix}c$r AS MATERIALIZED (
        SELECT DISTINCT e1.t AS s, e2.t AS q FROM ${prefix}u$r e1 JOIN ${prefix}u$r e2 ON e1.s = e2.s AND e1.t <> e2.t),
      ${prefix}l$r AS MATERIALIZED (
        SELECT s, t, rn AS rk FROM (
          SELECT p.s, p.t, row_number() OVER (PARTITION BY p.s ORDER BY sc.score DESC, p.t) AS rn
          FROM (SELECT s, t FROM $prev UNION SELECT s, q AS t FROM ${prefix}c$r) p
          JOIN sc ON sc.s = p.s AND sc.t = p.t) z
        WHERE rn <= $NndK)"""
    }.mkString

  /** The graph-append oracle: the shared full-corpus build fragment (the
    * REBUILT arm and the one n² `sc` referee table), the frozen-base
    * chain (in-cell-among-base init + closed-form rank ring over the
    * base id lattice: rank(v) = (v÷5)·4 + v mod 5, id(r) = (r÷4)·5 +
    * r mod 4 — exact integer forms both engines replay, no window), the
    * fresh-seed handoff, [[NndAppendRounds]] unrolled union rounds, and
    * one stat row per arm audited against the exact top-10. */
  /** The FROZEN-BASE graph chain as oracle text — base slice (every id
    * with vec_id % 5 < 4), in-cell-among-base init + closed-form rank
    * ring over the base id lattice, then `rounds` NN-descent rounds →
    * `bl$rounds` (the [[nnBaseMart]] replay). ONE text shared by
    * [[simGraphAppend]] and [[streamIndexAppend]] so the two append
    * oracles can never drift from the persisted artifact's recipe.
    * Requires [[nnBuildCtes]]'s e/ns/assigned/sc CTEs in scope. */
  private def nnFrozenBaseSql(rounds: Int): String = s""",
      base AS (SELECT vec_id FROM e WHERE vec_id % 5 < 4),
      nb AS (SELECT CAST(count(*) AS BIGINT) AS c FROM base),
      bincell AS (
        SELECT s, t FROM (
          SELECT sc.s, sc.t, row_number() OVER (PARTITION BY sc.s ORDER BY sc.score DESC, sc.t) AS rn
          FROM sc JOIN base bs ON bs.vec_id = sc.s JOIN base bt ON bt.vec_id = sc.t
          JOIN assigned sa ON sa.vec_id = sc.s JOIN assigned ta ON ta.vec_id = sc.t
          WHERE sa.cell = ta.cell) z
        WHERE rn <= 10),
      bring AS (
        SELECT b.vec_id AS s,
               (((((b.vec_id // 5) * 4 + (b.vec_id % 5)) + j.j) % nb.c) // 4) * 5
                 + ((((b.vec_id // 5) * 4 + (b.vec_id % 5)) + j.j) % nb.c) % 4 AS t
        FROM base b CROSS JOIN nb CROSS JOIN (SELECT unnest([1, 2, 3]) AS j) j),
      bl0 AS MATERIALIZED (SELECT DISTINCT s, t FROM (SELECT s, t FROM bincell UNION ALL SELECT s, t FROM bring) bu0)""" +
    nnRoundCtesSql("b", "bl0", rounds)

  private def graphAppendSql(rounds: Int, appendRounds: Int): String = {
    val head = s""",
      fresh AS (SELECT vec_id FROM e WHERE vec_id % 5 = 4)"""
    val handoff = s""",
      fseed AS (
        SELECT s, t FROM (
          SELECT f.vec_id AS s, sc.t, row_number() OVER (PARTITION BY f.vec_id ORDER BY sc.score DESC, sc.t) AS rn
          FROM fresh f JOIN sc ON sc.s = f.vec_id
          JOIN base bt ON bt.vec_id = sc.t
          JOIN assigned fa ON fa.vec_id = f.vec_id JOIN assigned ta ON ta.vec_id = sc.t
          WHERE fa.cell = ta.cell) z
        WHERE rn <= 10),
      ul0 AS MATERIALIZED (SELECT s, t FROM bl$rounds UNION ALL SELECT s, t FROM fseed)"""
    def statRow(name: String, lst: String): String = s"""
      SELECT '$name' AS variant,
             CAST((SELECT count(DISTINCT s) FROM $lst) AS BIGINT) AS n_nodes,
             CAST((SELECT count(*) FROM $lst) AS BIGINT) AS edges,
             CAST((SELECT count(*) FROM (SELECT s, t FROM $lst WHERE rk <= 10) h JOIN exactk USING (s, t)) AS BIGINT) AS hits,
             CAST(ns.n * 10 AS BIGINT) AS total,
             round(CAST((SELECT count(*) FROM (SELECT s, t FROM $lst WHERE rk <= 10) h JOIN exactk USING (s, t)) AS DOUBLE) / (ns.n * 10), 6) AS recall_r
      FROM ns"""
    val tail = s""",
      exactk AS MATERIALIZED (
        SELECT s, t FROM (SELECT s, t, row_number() OVER (PARTITION BY s ORDER BY score DESC, t) AS rn FROM sc) z
        WHERE rn <= 10)
      SELECT * FROM (
      ${(1 to appendRounds).map(r => statRow(s"appended_r$r", s"ul$r")).mkString(" UNION ALL ")}
      UNION ALL
      ${statRow("rebuilt", s"l$rounds")}
      ) ORDER BY variant"""
    nnBuildCtes(rounds) + nnFrozenBaseSql(rounds) + head +
      handoff + nnRoundCtesSql("u", "ul0", appendRounds) + tail
  }

  /** sim — GRAPH-INDEX FRESHNESS (round 16 — r15 verdict #4, mirroring
    * [[simIndexAppend]] for the kNN graph): append a fresh ingest batch
    * (every 5th vector, 20% of the corpus) to a kNN graph that was
    * NN-descent-built BEFORE the batch existed, via warm-start — seed
    * each fresh node's list with its top-10 among the base members of
    * its own coarse cell (one blocked scoring pass, the same cell
    * blocking the build init uses), union with the FROZEN base graph's
    * kept lists, then run [[NndAppendRounds]] = 2 NN-descent update
    * rounds on the union — priced against the full rebuild (the
    * [[nnRoundsMart]] graph). The frozen base graph is itself a
    * PERSISTED snapshot artifact ([[nnBaseMart]] — the pre-batch index a
    * deployment would be serving, built once per corpus snapshot; see
    * the builder's doc for the init recipe). MEASURED at sf0.1:
    * recall@10 vs the exact graph 0.7778 after round 1 → 0.8817 after
    * round 2 vs the rebuild's 0.9291 — a ~0.05 recall tax for 20%
    * unseen-at-build growth at a fraction of the rebuild's candidate
    * volume (warm-started rounds propose from an already-converged
    * base, so update work concentrates around the fresh nodes); sf0.01
    * reads 0.88 → 0.9802 vs 0.9932. Together with [[simIndexAppend]]
    * this completes the which-index-survives-growth story: BOTH index
    * families now have a priced append path and a measured
    * retrain/rebuild trigger. Laws in-gate: conservation (every arm
    * covers all n nodes), the [[NndK]] degree cap, and append-round
    * recall monotonicity (kept lists only improve — an eviction needs a
    * strictly better (score, id), the [[simNnDescent]] argument).
    * Shape at 100 TB: the warm rounds are the same Σ deg² candidate
    * bound as the build, the fresh-seed pass is cell-blocked (never
    * corpus×batch), and the n² referee/audit table prices the
    * EVALUATION only (the [[simNnDescent]] convention). */
  val simGraphAppend: QueryDef = {
    QueryDef("sim_graph_append", Some(graphAppendSql(NndRounds, NndAppendRounds))) { (spark, dir) =>
      val s2 = spark
      import s2.implicits._
      val (e, n) = nnEmb(spark, dir)
      // the frozen base graph IS a persisted snapshot artifact (the
      // nnBaseMart — built once per corpus snapshot, read back here)
      val baseG = nnBaseMart(spark, dir).select("s", "t")
      // fresh seeds: top-10 among the base members of the node's own cell
      val ids = e.select("vec_id")
      val fseed = foldSeedBy(e, nnCells(spark, dir), ids.filter(!IndexFeed.base(col("vec_id"))),
        ids.filter(IndexFeed.base(col("vec_id"))))
      // the n² audit (evaluation pricing, the simNnDescent convention),
      // read from the standing eval mart
      val exactK = nnExactKMart(spark, dir)
      // node/edge/hit counts in ONE aggregation job per audited graph
      // ([[graphRecall]]); the rebuilt row's audit overlaps the append
      // rounds, whose own audits run side by side once the folds are done
      // (guide §2.6)
      def stat(name: String, g: DataFrame) = () => {
        val (nn, ed, h) = graphRecall(g, exactK)
        Seq((name, nn, ed, h))
      }
      val rows = concurrently(Seq(
        () => {
          // warm-start append rounds over the union, one stat row per round
          val lists = (1 to NndAppendRounds)
            .scanLeft(baseG.unionByName(fseed))((cur, _) =>
              nnRound(e, cur).localCheckpoint(true)).tail
          concurrently(lists.zipWithIndex.map { case (g, i) =>
            stat(s"appended_r${i + 1}", g) }).flatten
        },
        stat("rebuilt", nnRoundsMart(spark, dir).filter(col("round") === NndRounds)
          .select("s", "t", "rk")))).flatten
      // conservation + degree cap + append-round monotonicity
      rows.foreach { case (v, nn, ed, _) =>
        require(nn == n, s"$v graph lost nodes: $nn != $n")
        require(ed <= n * NndK, s"$v graph exceeds the degree cap: $ed > ${n * NndK}")
      }
      val appHits = rows.filter(_._1.startsWith("appended")).map(_._4)
      require(appHits == appHits.sorted,
        s"append-round recall not monotone: $appHits")
      rows.toDF("variant", "n_nodes", "edges", "hits")
        .select(col("variant"), col("n_nodes"), col("edges"), col("hits"),
          lit(n * 10).as("total"),
          recallR(col("hits"), lit(n * 10)))
        .orderBy("variant")
    }
  }

  /** The streaming-append oracle: the shared build fragment (rebuilt arm
    * + the one n² `sc` referee), the frozen-base chain, then the TWO
    * pinned batch folds replayed exactly as the `foreachBatch` sink runs
    * them — per fold, cell-blocked seeds among the CURRENT members, union
    * with the current graph, ONE NN-descent round — each fold audited
    * against the exact top-10 AMONG THE MEMBERS PRESENT at that fold
    * (the honest mid-feed denominator). */
  /** The two pinned batch folds as oracle text — batch slices (f1 =
    * vec_id % 10 = 4, f2 = % 10 = 9), the mid-feed member set m1, the
    * cell-blocked seeds among the members PRESENT at each fold, and the
    * two one-round fold chains → `y1l1` (after batch 1) and `y2l1`
    * (after batch 2). ONE text shared by [[streamIndexAppendSql]] and
    * [[indexPolicySql]] so the policy oracle can never drift from the
    * streamed fold's recipe. Requires [[nnBuildCtes]]'s e/assigned/sc
    * and [[nnFrozenBaseSql]]'s base/bl$rounds CTEs in scope. */
  private def batchFoldCtesSql(rounds: Int): String = s""",
      f1 AS (SELECT vec_id FROM e WHERE vec_id % 10 = 4),
      f2 AS (SELECT vec_id FROM e WHERE vec_id % 10 = 9),
      m1 AS MATERIALIZED (SELECT vec_id FROM base UNION ALL SELECT vec_id FROM f1),
      n1 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM m1),
      s1seed AS (
        SELECT s, t FROM (
          SELECT f.vec_id AS s, sc.t, row_number() OVER (PARTITION BY f.vec_id ORDER BY sc.score DESC, sc.t) AS rn
          FROM f1 f JOIN sc ON sc.s = f.vec_id
          JOIN base bt ON bt.vec_id = sc.t
          JOIN assigned fa ON fa.vec_id = f.vec_id JOIN assigned ta ON ta.vec_id = sc.t
          WHERE fa.cell = ta.cell) z
        WHERE rn <= 10),
      y1l0 AS MATERIALIZED (SELECT s, t FROM bl$rounds UNION ALL SELECT s, t FROM s1seed)""" +
    nnRoundCtesSql("y1", "y1l0", 1) + s""",
      s2seed AS (
        SELECT s, t FROM (
          SELECT f.vec_id AS s, sc.t, row_number() OVER (PARTITION BY f.vec_id ORDER BY sc.score DESC, sc.t) AS rn
          FROM f2 f JOIN sc ON sc.s = f.vec_id
          JOIN m1 mt ON mt.vec_id = sc.t
          JOIN assigned fa ON fa.vec_id = f.vec_id JOIN assigned ta ON ta.vec_id = sc.t
          WHERE fa.cell = ta.cell) z
        WHERE rn <= 10),
      y2l0 AS MATERIALIZED (SELECT s, t FROM y1l1 UNION ALL SELECT s, t FROM s2seed)""" +
    nnRoundCtesSql("y2", "y2l0", 1)

  private def streamIndexAppendSql(rounds: Int): String = {
    val folds = batchFoldCtesSql(rounds)
    val tail = s""",
      ex1 AS MATERIALIZED (
        SELECT s, t FROM (
          SELECT sc.s, sc.t, row_number() OVER (PARTITION BY sc.s ORDER BY sc.score DESC, sc.t) AS rn
          FROM sc JOIN m1 a ON a.vec_id = sc.s JOIN m1 b ON b.vec_id = sc.t) z
        WHERE rn <= 10),
      exactk AS MATERIALIZED (
        SELECT s, t FROM (SELECT s, t, row_number() OVER (PARTITION BY s ORDER BY score DESC, t) AS rn FROM sc) z
        WHERE rn <= 10)
      SELECT * FROM (
      SELECT 'batch_1' AS variant,
             CAST((SELECT count(DISTINCT s) FROM y1l1) AS BIGINT) AS n_nodes,
             CAST((SELECT count(*) FROM y1l1) AS BIGINT) AS edges,
             CAST((SELECT count(*) FROM (SELECT s, t FROM y1l1 WHERE rk <= 10) h JOIN ex1 USING (s, t)) AS BIGINT) AS hits,
             CAST(n1.c * 10 AS BIGINT) AS total,
             round(CAST((SELECT count(*) FROM (SELECT s, t FROM y1l1 WHERE rk <= 10) h JOIN ex1 USING (s, t)) AS DOUBLE) / (n1.c * 10), 6) AS recall_r
      FROM n1
      UNION ALL
      SELECT 'batch_2',
             CAST((SELECT count(DISTINCT s) FROM y2l1) AS BIGINT),
             CAST((SELECT count(*) FROM y2l1) AS BIGINT),
             CAST((SELECT count(*) FROM (SELECT s, t FROM y2l1 WHERE rk <= 10) h JOIN exactk USING (s, t)) AS BIGINT),
             CAST(ns.n * 10 AS BIGINT),
             round(CAST((SELECT count(*) FROM (SELECT s, t FROM y2l1 WHERE rk <= 10) h JOIN exactk USING (s, t)) AS DOUBLE) / (ns.n * 10), 6)
      FROM ns
      UNION ALL
      SELECT 'rebuilt',
             CAST((SELECT count(DISTINCT s) FROM l$rounds) AS BIGINT),
             CAST((SELECT count(*) FROM l$rounds) AS BIGINT),
             CAST((SELECT count(*) FROM (SELECT s, t FROM l$rounds WHERE rk <= 10) h JOIN exactk USING (s, t)) AS BIGINT),
             CAST(ns.n * 10 AS BIGINT),
             round(CAST((SELECT count(*) FROM (SELECT s, t FROM l$rounds WHERE rk <= 10) h JOIN exactk USING (s, t)) AS DOUBLE) / (ns.n * 10), 6)
      FROM ns
      ) ORDER BY variant"""
    nnBuildCtes(rounds) + nnFrozenBaseSql(rounds) + folds + tail
  }

  /** THE streamed fold sink: a real Structured Streaming query —
    * `readStream` over the feed's landing ([[IndexFeed.landing]]),
    * `maxFilesPerTrigger=1`, `Trigger.AvailableNow`, a `foreachBatch`
    * sink — folds each micro-batch into the graph, starting from the
    * frozen base graph: cell-blocked seeds for the arriving nodes against
    * the members present ([[foldSeedBy]]), then one NN-descent round
    * ([[foldOnto]]); with a θ, after each batch where the trigger rule
    * ([[FeedCounts.schedule]]) fires, the [[NndAppendRounds]]-round
    * consolidation runs before the next batch arrives. Returns the feed's
    * sizes and the events in order as (name, batch index, graph (s, t,
    * rk) checkpoint): `fold_i`, then `consolidate_i` where it fired — the
    * states [[IndexFeed]]'s marts hold. */
  private[graft] def streamFeed(spark: SparkSession, dir: String, feed: IndexFeed,
      theta: Option[Long]): (FeedCounts, Seq[(String, Int, DataFrame)]) = {
    import org.apache.spark.sql.streaming.Trigger
    val (e, _) = nnEmb(spark, dir)
    val counts = feed.counts(e)
    val fires = theta.fold(Seq.fill(feed.k)(false))(counts.schedule)
    val cellOf = nnCells(spark, dir).localCheckpoint(true)
    val landing = feed.landing(spark, dir, e)
    val events = scala.collection.mutable.ArrayBuffer[(String, Int, DataFrame)]()
    var cur: DataFrame = nnBaseMart(spark, dir).select("s", "t")
    val q = spark.readStream.schema(spark.read.parquet(landing).schema)
      .option("maxFilesPerTrigger", 1).parquet(landing)
      .writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        val i = bid.toInt + 1
        val fold = foldOnto(e, cur, foldSeedBy(e, cellOf, batch.select("vec_id").distinct(),
          cur.select(col("s").as("vec_id")).distinct())).localCheckpoint(true)
        events += ((s"fold_$i", i, fold))
        cur = fold.select("s", "t")
        if (fires.lift(i - 1).contains(true)) {
          val consolidated = consolidateRounds(e, fold)
          events += ((s"consolidate_$i", i, consolidated))
          cur = consolidated.select("s", "t")
        }
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val folds = events.count(_._1.startsWith("fold_"))
    require(folds == feed.k, s"the pinned landing must fold in exactly ${feed.k} batches, got $folds")
    (counts, events.toSeq)
  }

  /** The audit of a feed's events plus the full-rebuild anchor, as
    * (variant, n_nodes, edges, hits, total): each event's graph against
    * the exact top-10 among the members present after its batch
    * ([[IndexFeed.referee]]; total = 10·|members|, the honest mid-feed
    * denominator), the rebuild against the full corpus. One aggregation
    * job per graph ([[graphRecall]]), all run concurrently. Laws:
    * conservation (each graph covers exactly the members present), the
    * [[NndK]] degree cap, hits ≤ total. */
  private def feedAudit(spark: SparkSession, dir: String, feed: IndexFeed, counts: FeedCounts,
      events: Seq[(String, Int, DataFrame)]): Seq[(String, Long, Long, Long, Long)] = {
    def stat(name: String, g: DataFrame, ex: DataFrame, members: Long) = () => {
      val (nn, ed, h) = graphRecall(g, ex)
      (name, nn, ed, h, members * 10)
    }
    val rows = concurrently(events.map { case (name, i, g) =>
      stat(name, g, feed.referee(spark, dir, i), counts.members(i))
    } :+ stat("rebuilt", nnRoundsMart(spark, dir).filter(col("round") === NndRounds)
      .select("s", "t", "rk"), nnExactKMart(spark, dir), counts.members(feed.k)))
    rows.foreach { case (v, nn, ed, h, tot) =>
      require(nn * 10 == tot, s"$v graph lost members: $nn != ${tot / 10}")
      require(ed <= nn * NndK, s"$v graph exceeds the degree cap: $ed > ${nn * NndK}")
      require(h <= tot, s"$v hits above the denominator: $h > $tot")
    }
    rows
  }

  /** The feed-audit rows as the gate's frame, recall added, by variant. */
  private def feedAuditFrame(spark: SparkSession,
      rows: Seq[(String, Long, Long, Long, Long)]): DataFrame = {
    val s2 = spark
    import s2.implicits._
    rows.toDF("variant", "n_nodes", "edges", "hits", "total")
      .select(col("variant"), col("n_nodes"), col("edges"), col("hits"), col("total"),
        recallR(col("hits"), col("total")))
      .orderBy("variant")
  }

  /** st — THE INDEX UNDER A LIVE FEED (round 17): the two-batch feed
    * ([[IndexFeed.twoBatch]]: the fresh 20% of the corpus as batch 1 =
    * `%10=4`, batch 2 = `%10=9`) streamed through [[streamFeed]] with no
    * consolidation — one warm-start fold per micro-batch, the
    * [[simGraphAppend]] handoff generalized to a growing member set (a
    * live feed amortizes rounds across batches: every batch's round also
    * refines earlier arrivals). Each fold's graph stays a checkpoint; the
    * same states are standing artifacts in the feed marts. Output
    * ([[feedAudit]]): one row per fold, `batch_i`, audited against the
    * exact top-10 among the members present at that fold, plus the
    * full-rebuild row (the retrain trigger). MEASURED at sf0.1: batch_1
    * 0.852 (over the 1800 members present) → batch_2 0.827 (over all
    * 2000) vs the rebuilt 0.929 (sf0.01: 0.934/0.934 vs 0.993) — the
    * streamed path pays ~0.10 vs the rebuild where [[simGraphAppend]]'s
    * bulk two-round fold pays ~0.05: freshness CADENCE costs accuracy
    * (each batch gets one round before the next arrives), which is why a
    * deployment schedules consolidation rounds ([[simIndexPolicy]]). Laws
    * in-gate: exactly 2 micro-batches fire, plus [[feedAudit]]'s. Shape
    * at 100 TB: each fold's work is the batch-cell-blocked seed pass +
    * one Σ deg² update round — never corpus × batch; the n² referee
    * tables price the EVALUATION only (the [[simNnDescent]] convention);
    * the landing is the deployment's durable queue. */
  val streamIndexAppend: QueryDef =
    QueryDef("st_index_append", Some(streamIndexAppendSql(NndRounds))) { (spark, dir) =>
      val feed = IndexFeed.twoBatch
      val (counts, events) = streamFeed(spark, dir, feed, theta = None)
      val rows = feedAudit(spark, dir, feed, counts, events)
      feedAuditFrame(spark, rows.map(r => r.copy(_1 = r._1.replace("fold_", "batch_"))))
    }

  /** The consolidation-policy oracle: the shared build fragment (rebuilt
    * arm + the one n² `sc` referee), the frozen-base chain, the two
    * pinned batch folds ([[batchFoldCtesSql]] — LITERALLY the streamed
    * gate's text), then the three policy trajectories: θ=30 never
    * consolidates (final graph `y2l1`), θ=20 consolidates once after
    * batch 2 (`p` chain = [[NndAppendRounds]] rounds off y2l1), θ=10
    * consolidates after EVERY batch (`g` chain off y1l1, re-fold batch 2
    * off the consolidated graph via the SAME s2seed — seeds depend only
    * on the member set, which consolidation never changes — then the `i`
    * chain), each audited against the exact top-10 over the full corpus. */
  private def indexPolicySql(rounds: Int): String = {
    val chains = nnRoundCtesSql("p", "y2l1", NndAppendRounds) +
      nnRoundCtesSql("g", "y1l1", NndAppendRounds) + s""",
      h0 AS MATERIALIZED (SELECT s, t FROM gl$NndAppendRounds UNION ALL SELECT s, t FROM s2seed)""" +
      nnRoundCtesSql("h", "h0", 1) +
      nnRoundCtesSql("i", "hl1", NndAppendRounds)
    def statRow(name: String, tpct: Int, consol: Int, cost: Int, lst: String): String = s"""
      SELECT '$name' AS variant, CAST($tpct AS BIGINT) AS trigger_pct,
             CAST($consol AS BIGINT) AS consolidations,
             CAST($cost AS BIGINT) AS rounds_cost,
             CAST((SELECT count(*) FROM (SELECT s, t FROM $lst WHERE rk <= 10) h JOIN exactk USING (s, t)) AS BIGINT) AS hits,
             CAST(ns.n * 10 AS BIGINT) AS total,
             round(CAST((SELECT count(*) FROM (SELECT s, t FROM $lst WHERE rk <= 10) h JOIN exactk USING (s, t)) AS DOUBLE) / (ns.n * 10), 6) AS recall_r
      FROM ns"""
    val tail = s""",
      exactk AS MATERIALIZED (
        SELECT s, t FROM (SELECT s, t, row_number() OVER (PARTITION BY s ORDER BY score DESC, t) AS rn FROM sc) z
        WHERE rn <= 10)
      SELECT * FROM (
      ${statRow("p10_consolidate_each", 10, 2, 2 + 2 * NndAppendRounds, s"il$NndAppendRounds")}
      UNION ALL ${statRow("p20_consolidate_end", 20, 1, 2 + NndAppendRounds, s"pl$NndAppendRounds")}
      UNION ALL ${statRow("p30_fold_only", 30, 0, 2, "y2l1")}
      UNION ALL ${statRow("rebuilt", 0, 0, rounds, s"l$rounds")}
      ) ORDER BY variant"""
    nnBuildCtes(rounds) + nnFrozenBaseSql(rounds) + batchFoldCtesSql(rounds) +
      chains + tail
  }

  /** sim — STREAMING-INDEX CONSOLIDATION POLICY (round 18:
    * [[streamIndexAppend]] measured per-batch folds at a ~0.10 recall tax
    * vs the bulk fold's ~0.05 vs the rebuild; this gate turns that into a
    * PRICED POLICY): over the two-batch feed ([[IndexFeed.twoBatch]]), the
    * trigger rule ([[FeedCounts.schedule]]) at θ ∈ {10, 20, 30} lands the
    * three regimes a deployment chooses between: θ=10 consolidates after
    * every batch, θ=20 once at +20% cumulative growth (the schedule the
    * feed marts consolidate on), θ=30 never (per-batch folds only),
    * anchored by the full-rebuild row. Each arm's graph is its schedule
    * replayed over the feed marts ([[IndexFeed.trajectory]]: θ=20 and θ=30
    * are standing marts, θ=10 folds and consolidates live past fold 1).
    * Output: one row per policy with the trigger, the consolidation count,
    * the ROUNDS COST (folds + consolidation rounds — the compute a cluster
    * pays, each round the same Σ deg² candidate bound), and recall vs the
    * exact top-10 — the tax-vs-cost FRONTIER. MEASURED at sf0.1: cost 2 →
    * 0.8269 (fold only), cost 4 → 0.9224 (consolidate at the end —
    * recovering ~0.10 of the streamed tax for 2 extra rounds), cost 6 →
    * 0.9265 (consolidating every batch buys only +0.004 more), cost 8 →
    * 0.9291 (rebuild); sf0.01 reads 0.9338 / 0.9904 / 0.9902 / 0.9932 —
    * past the first consolidation the frontier is FLAT (at n=500 the
    * per-batch policy even measures 1 hit BELOW consolidate-at-end —
    * trajectory, not refinement, noise), so the policy answer this gate
    * prices is: schedule ONE consolidation per ~20% growth and let
    * per-batch folds carry freshness between them. Laws in-gate: each
    * θ's schedule is the regime its row names; conservation (every final
    * graph covers all n nodes), the [[NndK]] degree cap, and
    * consolidate_end ≥ fold_only hits (extra rounds on the SAME
    * trajectory only improve — the [[simNnDescent]] eviction argument; no
    * cross-trajectory ordering is asserted, the n=500 inversion is why).
    * Shape at 100 TB: the policy layer is pure integer accounting over
    * counter-scale growth stats; each fold/consolidation round is the
    * same bounded candidate work the append gates price; the n² referee
    * prices the EVALUATION only (the [[simNnDescent]] convention). */
  val simIndexPolicy: QueryDef =
    QueryDef("sim_index_policy", Some(indexPolicySql(NndRounds))) { (spark, dir) =>
      val s2 = spark
      import s2.implicits._
      val feed = IndexFeed.twoBatch
      val (e, n) = nnEmb(spark, dir)
      val counts = feed.counts(e)
      val arms = Seq(("p10_consolidate_each", 10L, Seq(true, true)),
        ("p20_consolidate_end", 20L, feed.consolidates), ("p30_fold_only", 30L, Seq(false, false)))
      arms.foreach { case (v, theta, regime) =>
        require(counts.schedule(theta) == regime,
          s"$v: the trigger rule at theta=$theta fires ${counts.schedule(theta)}, not $regime")
      }
      val exactK = nnExactKMart(spark, dir)
      val reb = nnRoundsMart(spark, dir).filter(col("round") === NndRounds).select("s", "t", "rk")
      // the arms are independent index lineages off the shared marts:
      // each built and audited in its own leg, one aggregation job each
      // ([[graphRecall]])
      val rows = concurrently(arms.map { case (v, theta, regime) => () =>
        val consol = regime.count(identity).toLong
        (v, theta, consol, feed.k + consol * NndAppendRounds,
          graphRecall(feed.trajectory(spark, dir, e, regime), exactK))
      } :+ (() => ("rebuilt", 0L, 0L, NndRounds.toLong, graphRecall(reb, exactK))))
      rows.foreach { case (v, _, _, _, (nn, ed, h)) =>
        require(nn == n, s"$v graph lost nodes: $nn != $n")
        require(ed <= n * NndK, s"$v graph exceeds the degree cap: $ed > ${n * NndK}")
        require(h <= n * 10, s"$v hits above the denominator")
      }
      require(rows(1)._5._3 >= rows(2)._5._3,
        s"consolidation hurt the shared trajectory: ${rows(1)._5._3} < ${rows(2)._5._3}")
      rows.map { case (v, theta, consol, cost, (_, _, h)) => (v, theta, consol, cost, h, n * 10) }
        .toDF("variant", "trigger_pct", "consolidations", "rounds_cost", "hits", "total")
        .select(col("variant"), col("trigger_pct"), col("consolidations"),
          col("rounds_cost"), col("hits"), col("total"), recallR(col("hits"), col("total")))
        .orderBy("variant")
    }

  /** The streamed-policy oracle: the shared build fragment (rebuilt arm +
    * the one n² `sc` referee), the frozen-base chain, then the 3-batch
    * pinned feed replayed exactly as the policy sink runs it — per batch
    * the cell-blocked seeds among the members PRESENT, union, ONE
    * NN-descent round; after batch 2 (where the θ=20 integer trigger
    * fires) the [[NndAppendRounds]]-round consolidation chain; batch 3
    * folds off the CONSOLIDATED graph — each event audited against the
    * exact top-10 among its member set. */
  /** The streamed-policy FOLD chain as a shared CTE fragment (the exact
    * 3-batch feed [[streamIndexPolicy]]'s sink executes): per batch the
    * cell-blocked seeds among the members PRESENT, union, ONE NN-descent
    * round (w1l1, w2l1, w3l1), with the θ=20 consolidation chain
    * (`zl$NndAppendRounds`) between batches 2 and 3 — batch 3 folds off
    * the CONSOLIDATED graph. ONE definition for the policy-sink oracle
    * and the policy-serve oracle ([[servePolicySql]]), so the stream's
    * states and the states a reader walks can never drift. */
  private def policyFoldCtesSql(rounds: Int): String = {
    def seedSql(name: String, batch: String, members: String): String = s""",
      $name AS (
        SELECT s, t FROM (
          SELECT f.vec_id AS s, sc.t, row_number() OVER (PARTITION BY f.vec_id ORDER BY sc.score DESC, sc.t) AS rn
          FROM $batch f JOIN sc ON sc.s = f.vec_id
          JOIN $members mt ON mt.vec_id = sc.t
          JOIN assigned fa ON fa.vec_id = f.vec_id JOIN assigned ta ON ta.vec_id = sc.t
          WHERE fa.cell = ta.cell) z
        WHERE rn <= 10)"""
    s""",
      g1 AS (SELECT vec_id FROM e WHERE vec_id % 10 = 4),
      g2 AS (SELECT vec_id FROM e WHERE vec_id % 20 = 9 OR vec_id % 40 = 19),
      g3 AS (SELECT vec_id FROM e WHERE vec_id % 40 = 39),
      pm1 AS MATERIALIZED (SELECT vec_id FROM base UNION ALL SELECT vec_id FROM g1),
      pm2 AS MATERIALIZED (SELECT vec_id FROM pm1 UNION ALL SELECT vec_id FROM g2),
      k1 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM pm1),
      k2 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM pm2)""" +
      seedSql("w1seed", "g1", "base") + s""",
      w1l0 AS MATERIALIZED (SELECT s, t FROM bl$rounds UNION ALL SELECT s, t FROM w1seed)""" +
      nnRoundCtesSql("w1", "w1l0", 1) +
      seedSql("w2seed", "g2", "pm1") + s""",
      w2l0 AS MATERIALIZED (SELECT s, t FROM w1l1 UNION ALL SELECT s, t FROM w2seed)""" +
      nnRoundCtesSql("w2", "w2l0", 1) +
      nnRoundCtesSql("z", "w2l1", NndAppendRounds) +
      seedSql("w3seed", "g3", "pm2") + s""",
      w3l0 AS MATERIALIZED (SELECT s, t FROM zl$NndAppendRounds UNION ALL SELECT s, t FROM w3seed)""" +
      nnRoundCtesSql("w3", "w3l0", 1)
  }

  private def streamIndexPolicySql(rounds: Int): String = {
    def statRow(name: String, lst: String, ex: String, denom: String): String = s"""
      SELECT '$name' AS variant,
             CAST((SELECT count(DISTINCT s) FROM $lst) AS BIGINT) AS n_nodes,
             CAST((SELECT count(*) FROM $lst) AS BIGINT) AS edges,
             CAST((SELECT count(*) FROM (SELECT s, t FROM $lst WHERE rk <= 10) h JOIN $ex USING (s, t)) AS BIGINT) AS hits,
             CAST($denom * 10 AS BIGINT) AS total,
             round(CAST((SELECT count(*) FROM (SELECT s, t FROM $lst WHERE rk <= 10) h JOIN $ex USING (s, t)) AS DOUBLE) / ($denom * 10), 6) AS recall_r
      FROM ns, k1, k2"""
    val tail = s""",
      ex1 AS MATERIALIZED (
        SELECT s, t FROM (
          SELECT sc.s, sc.t, row_number() OVER (PARTITION BY sc.s ORDER BY sc.score DESC, sc.t) AS rn
          FROM sc JOIN pm1 a ON a.vec_id = sc.s JOIN pm1 b ON b.vec_id = sc.t) z
        WHERE rn <= 10),
      ex2 AS MATERIALIZED (
        SELECT s, t FROM (
          SELECT sc.s, sc.t, row_number() OVER (PARTITION BY sc.s ORDER BY sc.score DESC, sc.t) AS rn
          FROM sc JOIN pm2 a ON a.vec_id = sc.s JOIN pm2 b ON b.vec_id = sc.t) z
        WHERE rn <= 10),
      exactk AS MATERIALIZED (
        SELECT s, t FROM (SELECT s, t, row_number() OVER (PARTITION BY s ORDER BY score DESC, t) AS rn FROM sc) z
        WHERE rn <= 10)
      SELECT * FROM (
      ${statRow("consolidate_2", s"zl$NndAppendRounds", "ex2", "k2.c")}
      UNION ALL ${statRow("fold_1", "w1l1", "ex1", "k1.c")}
      UNION ALL ${statRow("fold_2", "w2l1", "ex2", "k2.c")}
      UNION ALL ${statRow("fold_3", "w3l1", "exactk", "ns.n")}
      UNION ALL ${statRow("rebuilt", s"l$rounds", "exactk", "ns.n")}
      ) ORDER BY variant"""
    nnBuildCtes(rounds) + nnFrozenBaseSql(rounds) + policyFoldCtesSql(rounds) + tail
  }

  /** st — THE θ=20 CONSOLIDATION POLICY DEPLOYED IN THE STREAM (round 19:
    * [[simIndexPolicy]] PRICED the frontier and answered "schedule ONE
    * consolidation per ~20% growth, let per-batch folds carry freshness
    * between" — this gate makes that answer the sink's DEPLOYED
    * behavior): the policy feed ([[IndexFeed.policy]], 3 batches sized so
    * the trigger fires mid-stream: cumulative growth reaches 21.875% of
    * the base after batch 2 with a batch still in flight, (false, true,
    * false) at every rung) streamed through [[streamFeed]] at the feed's
    * θ: after each fold the sink applies the trigger rule and, when it
    * fires, consolidates BEFORE the next batch arrives — batch 3 then
    * folds on the consolidated graph, which is the whole point of the
    * policy: freshness between consolidations, accuracy recovered at the
    * trigger. Output ([[feedAudit]]): one row per EVENT (fold_1, fold_2,
    * consolidate_2, fold_3) audited against the exact top-10 among the
    * members present at that event, plus the full-rebuild anchor. Laws
    * in-gate: exactly 3 micro-batches fire; the EXECUTED schedule is the
    * one the feed marts consolidate on — the POLICY law; [[feedAudit]]'s
    * laws; consolidate_2 hits ≥ fold_2 hits (same member set, same
    * trajectory, two extra rounds — the [[simNnDescent]] eviction
    * argument). Shape at 100 TB: the policy layer is pure integer
    * accounting over counter-scale growth stats; each fold/consolidation
    * round is the bounded Σ deg² candidate work; the exact referees are
    * standing eval marts pricing the EVALUATION only (the
    * [[simNnDescent]] convention). */
  val streamIndexPolicy: QueryDef =
    QueryDef("st_index_policy", Some(streamIndexPolicySql(NndRounds))) { (spark, dir) =>
      val feed = IndexFeed.policy
      val (counts, events) = streamFeed(spark, dir, feed, Some(feed.theta))
      val executed = (1 to feed.k).map(i => events.exists(_._1 == s"consolidate_$i"))
      require(executed == feed.consolidates,
        s"the pinned ${feed.k}-batch feed must consolidate as its marts do " +
          s"(${feed.consolidates}); the sink executed $executed")
      val rows = feedAudit(spark, dir, feed, counts, events)
      val hits = rows.map(r => r._1 -> r._4).toMap
      require(hits("consolidate_2") >= hits("fold_2"),
        s"consolidation hurt the shared trajectory: ${hits("consolidate_2")} < ${hits("fold_2")}")
      feedAuditFrame(spark, rows)
    }

  /** The serve-freshness oracle: the shared build fragment + frozen-base
    * chain + the two pinned batch folds ([[batchFoldCtesSql]] — literally
    * the fold marts' recipe), the serve harness ([[nnServeCommonSql]] —
    * qs/qsc/exq and the rebuilt serve core `g`), the per-fold pruned
    * serve cores, then THREE unrolled greedy walks (one per index
    * vintage) from the shared node-0 entry, each audited against the
    * exact top-10 among the members PRESENT in that vintage. */
  private def serveFreshnessSql(rounds: Int, steps: Int): String = {
    val cores = s""",
      f1g AS MATERIALIZED (SELECT s, t FROM y1l1 WHERE rk <= $NndServeDeg),
      f2g AS MATERIALIZED (SELECT s, t FROM y2l1 WHERE rk <= $NndServeDeg),
      exm1 AS (
        SELECT qid, t FROM (
          SELECT qid, t, row_number() OVER (PARTITION BY qid ORDER BY score DESC, t) AS rn
          FROM qsc WHERE t % 5 < 4 OR t % 10 = 4) z
        WHERE rn <= 10),
      av0 AS (SELECT qid, CAST(0 AS BIGINT) AS t FROM qs)""" +
      walkStepsSql("ab", "av", steps, "qsc", "f1g", Seq("qid")) + s""",
      bv0 AS (SELECT qid, CAST(0 AS BIGINT) AS t FROM qs)""" +
      walkStepsSql("bb", "bv", steps, "qsc", "f2g", Seq("qid")) + s""",
      cv0 AS (SELECT qid, CAST(0 AS BIGINT) AS t FROM qs)""" +
      walkStepsSql("cb", "cv", steps, "qsc", "g", Seq("qid")) +
      nnRoundCtesSql("p", "y2l1", NndAppendRounds) + s""",
      pg AS MATERIALIZED (SELECT s, t FROM pl$NndAppendRounds WHERE rk <= $NndServeDeg),
      dv0 AS (SELECT qid, CAST(0 AS BIGINT) AS t FROM qs)""" +
      walkStepsSql("db", "dv", steps, "qsc", "pg", Seq("qid"))
    nnBuildCtes(rounds) + nnFrozenBaseSql(rounds) + batchFoldCtesSql(rounds) +
      nnServeCommonSql(rounds) + cores +
      serveStatTailSql(steps, Seq(
        ("consolidated", "dv", "exq"), ("fold_1", "av", "exm1"),
        ("fold_2", "bv", "exq"), ("rebuilt", "cv", "exq")))
  }

  /** One serve-audit stat row per (variant, walk-CTE prefix, referee) —
    * scanned / hits / total / recall over the 8×10 harness — shared by
    * the freshness and policy serve oracles (the walkStepsSql
    * single-definition argument: hand-kept copies desynchronize). */
  private def serveStatTailSql(steps: Int,
      rows: Seq[(String, String, String)]): String = {
    def hitsSql(vName: String, ex: String): String = s"""(SELECT count(*) FROM (
               SELECT qid, t FROM (
                 SELECT v.qid, v.t, row_number() OVER (PARTITION BY v.qid ORDER BY s.score DESC, v.t) AS rn
                 FROM $vName$steps v JOIN qsc s ON s.qid = v.qid AND s.t = v.t) z
               WHERE rn <= 10) h JOIN $ex x ON x.qid = h.qid AND x.t = h.t)"""
    val stats = rows.map { case (name, vName, ex) => s"""
      SELECT '$name' AS variant,
             CAST((SELECT count(*) FROM $vName$steps) AS BIGINT) AS scanned,
             CAST(${hitsSql(vName, ex)} AS BIGINT) AS hits,
             CAST(80 AS BIGINT) AS total,
             round(CAST(${hitsSql(vName, ex)} AS DOUBLE) / 80, 6) AS recall_r"""
    }.mkString("\n      UNION ALL ")
    s"""
      SELECT * FROM (
      $stats
      ) ORDER BY variant"""
  }

  /** sim — SERVE FRESHNESS: the QUERY-SIDE cost of index staleness
    * (round 19 — the freshness family priced the INDEX's recall under
    * growth ([[simGraphAppend]], [[streamIndexAppend]],
    * [[simIndexPolicy]], [[streamIndexPolicy]]) but never what the
    * SERVE path — the greedy walk a reader actually runs — loses or
    * keeps on a fold-fresh index; this gate completes the
    * ingest → index → serve loop): the same pruned-core greedy walk as
    * [[simGraphServe]], run from the shared node-0 entry over FOUR
    * index vintages — the two-batch feed's fold-1 snapshot (members =
    * base ∪ batch 1), its fold-2 snapshot (all members), its θ=20
    * consolidation, and the full rebuild — each read from its standing
    * mart ([[IndexFeed.twoBatch]]) and each audited against the exact
    * top-10 among the members PRESENT in that vintage (the honest
    * mid-feed denominator the fold gates established). MEASURED at
    * sf0.1: the walks are priced per vintage with their scanned-set
    * sizes, so the gate answers the deployment question the index-side
    * recall cannot: does a reader walking the STALE-but-live graph reach
    * the fresh corpus' neighborhoods, and at what scan cost vs the
    * rebuild. Laws in-gate: hits ≤ 80 (8 held-out queries × top-10); the
    * fold-1 walk cannot escape its member set (edges only reach
    * members — conservation by graph construction, asserted); every
    * walk visits at least its entry row per query. Shape at 100 TB: the
    * walks touch (visited ∪ beam-neighbor) rows only — never the
    * corpus — and the fold/rebuild graphs and referees are standing
    * marts; the one n² table is the ORACLE's referee (the
    * [[simNnDescent]] convention). */
  /** Shared driver of the vintage-dimension SERVE gates
    * ([[simServeFreshness]], [[simServePolicy]] — the serveStatTailSql
    * argument applied to the Spark arm: hand-kept copies desynchronize):
    * fold the (event → graph-with-rk) set into one tagged pruned core,
    * run ONE greedy walk from the shared node-0 entry with the event
    * riding as a partition dimension (the graphServeSql
    * variant-dimension discipline — separate per-vintage walks measured
    * 16 s of driver-sequential job overhead; the folded walk computes
    * the same per-vintage visited sets because the graph is keyed by the
    * vintage tag and the sets never interact), audit each event against
    * its referee — `midFolds` (the
    * partial vintages) against the exact top-10 among the members
    * `midPred` says were PRESENT, the rest against the full exq — and
    * emit (variant, scanned, hits, total, recall_r). The escape law is
    * asserted for every partial vintage: its walk can only reach members
    * present at its event (edges reach members by graph construction);
    * it rides the audit's one aggregation. */
  private def serveVintages(spark: SparkSession, gate: String,
      qs: DataFrame, qsc: DataFrame, exq: DataFrame,
      graphs: Seq[(String, DataFrame)], midFolds: Seq[String],
      midPred: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s2 = spark
    import s2.implicits._
    def core(g: DataFrame): DataFrame =
      g.filter(col("rk") <= NndServeDeg).select(col("s").as("gs"), col("t").as("gt"))
    // the honest mid-feed referee: exact top-10 among the partial
    // vintages' present members
    val exm = qsc.filter(midPred)
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("score").desc, col("t"))))
      .filter(col("rn") <= 10).select(col("qid"), col("t"))
    val gAll = graphs
      .map { case (nm, g) => core(g).select(lit(nm).as("gfold"), col("gs"), col("gt")) }
      .reduce(_ unionByName _)
    val folds = graphs.map(_._1)
    val v0 = folds.toDF("fold").crossJoin(qs.select(col("qid")))
      .select(col("fold"), col("qid"), entryNode0.as("t"))
    val vis = greedyWalk(qsc, gAll, v0, Seq("fold", "qid"),
      gKeys = Seq("fold"))
    val refs = midFolds.toDF("fold").crossJoin(exm)
      .unionByName(folds.filterNot(midFolds.contains).toDF("fold")
        .crossJoin(exq.toDF("qid", "t")))
    val rows = beamAudit(vis, refs, "fold", extra = Seq(
        sum(when(col("fold").isin(midFolds: _*) && !midPred, 1L).otherwise(0L)).as("escaped")))
      .select(col("fold"), col("scanned"), col("hits"), col("escaped"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    require(rows.forall(_._4 == 0L),
      s"$gate: a partial-vintage walk escaped the members present at its event")
    require(rows.size == folds.size,
      s"$gate: expected ${folds.size} vintages, got ${rows.map(_._1)}")
    rows.foreach { case (v, sc, h, _) =>
      require(h <= 80, s"$v hits above the denominator: $h > 80")
      require(sc >= 8, s"$v walk lost its entries: scanned $sc < 8 queries")
    }
    rows.map(r => (r._1, r._2, r._3)).toDF("variant", "scanned", "hits")
      .select(col("variant"), col("scanned"), col("hits"),
        lit(80L).as("total"),
        recallR(col("hits"), lit(80.0)))
      .orderBy("variant")
  }

  val simServeFreshness: QueryDef = {
    QueryDef("sim_serve_freshness", Some(serveFreshnessSql(NndRounds, NndServeSteps))) { (spark, dir) =>
      val (e, n) = nnEmb(spark, dir)
      val (qs, qsc, exq) = nnServeHarness(spark, dir, e, n)
      val (y1, y2, _) = nnFoldMarts(spark, dir)
      val reb = nnRoundsMart(spark, dir).filter(col("round") === NndRounds)
        .select("s", "t", "rk")
      // fold 1's members are base ∪ batch 1; fold 2's member set is the
      // whole corpus, so its referee is the full exq
      serveVintages(spark, "sim_serve_freshness", qs, qsc, exq,
        Seq(("consolidated", nnConsolMart(spark, dir)),
          ("fold_1", y1), ("fold_2", y2), ("rebuilt", reb)),
        midFolds = Seq("fold_1"),
        midPred = IndexFeed.twoBatch.members(1, col("t")))
    }
  }

  /** The policy-serve oracle: the shared build fragment + frozen-base
    * chain + the streamed-policy fold chain ([[policyFoldCtesSql]] —
    * literally the policy sink's oracle text), the serve harness, the
    * per-event pruned cores, then four unrolled greedy walks (one per
    * policy event + the rebuilt anchor) from the shared node-0 entry,
    * each audited against the exact top-10 among the members PRESENT at
    * that event (pm2 for fold_2/consolidate_2, the full corpus after
    * batch 3). */
  private def servePolicySql(rounds: Int, steps: Int): String = {
    val cores = s""",
      f2g AS MATERIALIZED (SELECT s, t FROM w2l1 WHERE rk <= $NndServeDeg),
      cg AS MATERIALIZED (SELECT s, t FROM zl$NndAppendRounds WHERE rk <= $NndServeDeg),
      f3g AS MATERIALIZED (SELECT s, t FROM w3l1 WHERE rk <= $NndServeDeg),
      exm2 AS (
        SELECT qid, t FROM (
          SELECT qid, t, row_number() OVER (PARTITION BY qid ORDER BY score DESC, t) AS rn
          FROM qsc WHERE NOT (t % 40 = 39)) z
        WHERE rn <= 10),
      av0 AS (SELECT qid, CAST(0 AS BIGINT) AS t FROM qs)""" +
      walkStepsSql("ab", "av", steps, "qsc", "f2g", Seq("qid")) + s""",
      bv0 AS (SELECT qid, CAST(0 AS BIGINT) AS t FROM qs)""" +
      walkStepsSql("bb", "bv", steps, "qsc", "cg", Seq("qid")) + s""",
      cv0 AS (SELECT qid, CAST(0 AS BIGINT) AS t FROM qs)""" +
      walkStepsSql("cb", "cv", steps, "qsc", "f3g", Seq("qid")) + s""",
      dv0 AS (SELECT qid, CAST(0 AS BIGINT) AS t FROM qs)""" +
      walkStepsSql("db", "dv", steps, "qsc", "g", Seq("qid"))
    nnBuildCtes(rounds) + nnFrozenBaseSql(rounds) + policyFoldCtesSql(rounds) +
      nnServeCommonSql(rounds) + cores +
      serveStatTailSql(steps, Seq(
        ("consolidate_2", "bv", "exm2"), ("fold_2", "av", "exm2"),
        ("fold_3", "cv", "exq"), ("rebuilt", "dv", "exq")))
  }

  /** sim — SERVING THE POLICY-MAINTAINED GRAPH (round 20 — r19 verdict
    * queue #4: [[simServeFreshness]] priced the reader's walk over the
    * BATCH fold marts; [[streamIndexPolicy]] deployed the θ=20
    * consolidation policy inside the stream sink — this gate composes
    * them, pricing what a reader sees at each POLICY EVENT): the same
    * pruned-core greedy walk from the shared node-0 entry, run over the
    * sink's post-fold_2, post-consolidate_2, and post-fold_3 states,
    * anchored by the full rebuild. The event states are the policy feed's
    * marts ([[IndexFeed.policy]]) — the batch replay of the sink's own
    * fold math, which [[streamFeed]] computes live in
    * [[streamIndexPolicy]], with the oracle replaying the folds inline
    * ([[policyFoldCtesSql]] — the referee convention).
    * Audits are honest mid-feed denominators: fold_2 and consolidate_2
    * against the exact top-10 among members PRESENT then (pm2 — all but
    * batch 3), fold_3 and rebuilt against the full corpus. MEASURED at
    * sf0.1: fold_2 serves 0.7125, the θ=20 trigger recovers it to
    * 0.8625 (consolidate_2, same member set, +0.15 for the reader, not
    * just the index), and fold_3 — the read a client issues between the
    * trigger and the next consolidation — HOLDS 0.8625 against the full
    * post-batch-3 corpus, vs the 0.9625 rebuild anchor; the numbers
    * bracket [[simServeFreshness]]'s batch-mart reads (0.7125 fold-2 /
    * 0.8625 consolidated / 0.9625 rebuilt), which is the bracketing the
    * composition exists to show. Laws in-gate: hits ≤ 80; every walk visits at least its 8
    * entry rows; the pre-batch-3 walks cannot escape pm2 (edges reach
    * members only — conservation by graph construction, asserted).
    * Shape at 100 TB: walks touch (visited ∪ beam-neighbor) rows only;
    * the event graphs and referees are standing marts; the one n² table
    * is the ORACLE's referee (the [[simNnDescent]] convention). */
  val simServePolicy: QueryDef = {
    QueryDef("sim_serve_policy", Some(servePolicySql(NndRounds, NndServeSteps))) { (spark, dir) =>
      val (e, n) = nnEmb(spark, dir)
      val (qs, qsc, exq) = nnServeHarness(spark, dir, e, n)
      val (f2, c2, f3) = nnPolicyMarts(spark, dir)
      val reb = nnRoundsMart(spark, dir).filter(col("round") === NndRounds)
        .select("s", "t", "rk")
      // fold_2/consolidate_2 see everything but batch 3 (pm2); fold_3's
      // member set is the whole corpus, so its referee is the full exq
      serveVintages(spark, "sim_serve_policy", qs, qsc, exq,
        Seq(("consolidate_2", c2), ("fold_2", f2), ("fold_3", f3),
          ("rebuilt", reb)),
        midFolds = Seq("fold_2", "consolidate_2"),
        midPred = IndexFeed.policy.members(2, col("t")))
    }
  }

  /** q — PERSISTED-INDEX QUALITY AUDIT (round 17 — r16 verdict #5: the
    * warehouse marts get `q_mart_quality`, but the ANN index artifacts
    * were validated only by `require`s inside consumer gates): the
    * dbt-generic-test posture applied to the [[annDag]] / [[nnBaseMart]]
    * / [[nnRoundsMart]] artifact families — one row per (table, check)
    * with observed row counts, violation counts, and the verdict. The
    * ORACLE is the artifact CONTRACT in closed form over the corpus
    * counts (n, |base|): centroid count, 64-dim centroids, assignment
    * completeness/uniqueness/domain, book cardinality M·[[PqK]] with
    * in-domain codes and membership conservation (Σ n_members = n per
    * subspace), code-table cardinality M·n with in-domain codes, the
    * residual code table's cell agreeing with the assignment mart row
    * by row, graph node conservation, the [[NndK]] degree cap, and
    * in-domain kept-ranks. The ENGINE brings the observation from the
    * marts on disk — any artifact drift (a truncated write, a stale
    * snapshot, a corrupted code) breaks the hash compare instead of
    * surfacing deep inside a consumer's require. Shape at 100 TB: every
    * check is one aggregate over a mart scan (counters out), exactly the
    * nightly artifact-audit a deployment schedules after index builds. */
  val qIndexQuality: QueryDef = QueryDef(
    "q_index_quality",
    Some(s"""
      WITH ns AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
      nb AS (SELECT CAST(count(*) AS BIGINT) AS c FROM embeddings WHERE vec_id % 5 < 4)
      SELECT * FROM (
        SELECT 'mart_ann_assign32' AS table_name, 'cell_domain' AS check_name,
               n AS n_rows, CAST(0 AS BIGINT) AS violations, TRUE AS passed FROM ns
        UNION ALL SELECT 'mart_ann_assign32', 'key_unique_complete', n, 0, TRUE FROM ns
        UNION ALL SELECT 'mart_ann_book64', 'code_domain', ${PqM * PqK}, 0, TRUE FROM ns
        UNION ALL SELECT 'mart_ann_book64', 'members_conserve', ${PqM * PqK}, 0, TRUE FROM ns
        UNION ALL SELECT 'mart_ann_book64r', 'code_domain', ${PqM * PqK}, 0, TRUE FROM ns
        UNION ALL SELECT 'mart_ann_book64r', 'members_conserve', ${PqM * PqK}, 0, TRUE FROM ns
        UNION ALL SELECT 'mart_ann_cents32', 'cell_count', 32, 0, TRUE FROM ns
        UNION ALL SELECT 'mart_ann_cents32', 'dim_64', 32, 0, TRUE FROM ns
        UNION ALL SELECT 'mart_ann_codes64', 'code_domain', $PqM * n, 0, TRUE FROM ns
        UNION ALL SELECT 'mart_ann_codes64', 'one_code_per_subspace', $PqM * n, 0, TRUE FROM ns
        UNION ALL SELECT 'mart_ann_codes64r', 'cell_consistent', $PqM * n, 0, TRUE FROM ns
        UNION ALL SELECT 'mart_ann_codes64r', 'code_domain', $PqM * n, 0, TRUE FROM ns
        UNION ALL SELECT 'mart_nn_base', 'degree_cap_rk_domain', nb.c, 0, TRUE FROM ns, nb
        UNION ALL SELECT 'mart_nn_base', 'node_complete', nb.c, 0, TRUE FROM ns, nb
        UNION ALL SELECT 'mart_nn_rounds', 'degree_cap_rk_domain', ${NndRounds + 1} * n, 0, TRUE FROM ns
        UNION ALL SELECT 'mart_nn_rounds', 'trajectory_complete', ${NndRounds + 1} * n, 0, TRUE FROM ns)
      ORDER BY table_name, check_name
    """)) { (spark, dir) =>
    val s2 = spark
    import s2.implicits._
    val e = emb(spark, dir).select("vec_id").localCheckpoint(true)
    val nr = e.agg(count(lit(1)), sum(when(IndexFeed.base(col("vec_id")), 1L).otherwise(0L))).head()
    val n = nr.getLong(0)
    // null-safe: sum() is NULL over an empty embeddings table (r21 ADVICE —
    // every other sum in this audit reads through the lat() helper)
    val nb = if (nr.isNullAt(1)) 0L else nr.getLong(1)
    val cents = annIndexMart(spark, dir, "mart_ann_cents32")
    val assign = annIndexMart(spark, dir, "mart_ann_assign32")
    // each artifact family audits in ONE aggregation job (the old shape
    // paid ~20 sequential tiny counts — one per check), and the
    // independent families run concurrently (guide §2.6)
    def lat(r: org.apache.spark.sql.Row, i: Int): Long =
      if (r.isNullAt(i)) 0L else r.getLong(i)
    def bookChecks(name: String) = () => {
      val r = annIndexMart(spark, dir, name).agg(count(lit(1)),
        sum(when(col("code") < 0 || col("code") >= PqK, 1L).otherwise(0L)),
        sum("n_members")).head()
      val (rows, badCode, memberSum) = (r.getLong(0), lat(r, 1), lat(r, 2))
      Seq(
        (name, "code_domain", rows, badCode + (if (rows == PqM.toLong * PqK) 0L else 1L)),
        (name, "members_conserve", rows, math.abs(memberSum - PqM.toLong * n)))
    }
    def codeChecks(name: String) = () => {
      val r = annIndexMart(spark, dir, name).agg(count(lit(1)),
        sum(when(col("code") < 0 || col("code") >= PqK, 1L).otherwise(0L)),
        count_distinct(struct(col("vec_id"), col("m")))).head()
      val (rows, badCode, multi) = (r.getLong(0), lat(r, 1), r.getLong(0) - r.getLong(2))
      Seq(
        (name, "code_domain", rows, badCode),
        (name, "one_code_per_subspace", rows,
          multi + math.abs(rows - PqM.toLong * n)))
    }
    def graphChecks(name: String, g: DataFrame, nodes: Long,
        nodeKey: Seq[String], completeCheck: String) = () => {
      // one two-level aggregation: per-node degree + bad-rank partials,
      // then the counters — a single shuffle instead of three scans
      val r = g.groupBy(nodeKey.map(col): _*)
        .agg(count(lit(1)).as("d"),
          sum(when(col("rk") < 1 || col("rk") > NndK, 1L).otherwise(0L)).as("badrk"))
        .agg(count(lit(1)),
          sum(when(col("d") > NndK, 1L).otherwise(0L)),
          sum("badrk")).head()
      val (distinctNodes, overCap, badRk) = (r.getLong(0), lat(r, 1), lat(r, 2))
      Seq(
        (name, completeCheck, distinctNodes, math.abs(distinctNodes - nodes)),
        (name, "degree_cap_rk_domain", distinctNodes, overCap + badRk))
    }
    val centsChecks = () => {
      val r = cents.agg(count(lit(1)),
        sum(when(size(col("cv")) =!= 64, 1L).otherwise(0L))).head()
      val (centRows, badDim) = (r.getLong(0), lat(r, 1))
      Seq(
        ("mart_ann_cents32", "cell_count", centRows, math.abs(centRows - 32L)),
        ("mart_ann_cents32", "dim_64", centRows, badDim))
    }
    val assignChecks = () => {
      val r = assign
        .join(e.withColumn("in_e", lit(1)), Seq("vec_id"), "left")
        .agg(count(lit(1)),
          sum(when(col("cell") < 0 || col("cell") >= 32, 1L).otherwise(0L)),
          count_distinct(when(col("in_e") === 1, col("vec_id")))).head()
      val (assignRows, badCell, assignedOnce) = (r.getLong(0), lat(r, 1), lat(r, 2))
      Seq(
        ("mart_ann_assign32", "key_unique_complete", assignRows,
          math.abs(assignRows - n) + (n - assignedOnce)),
        ("mart_ann_assign32", "cell_domain", assignRows, badCell))
    }
    val mismatchCheck = () => {
      val cellMismatch = annIndexMart(spark, dir, "mart_ann_codes64r")
        .select(col("vec_id"), col("cell").as("ccell"))
        .join(assign.select("vec_id", "cell"), Seq("vec_id"))
        .filter(col("ccell") =!= col("cell")).count()
      Seq(("mart_ann_codes64r", "cell_consistent", PqM.toLong * n, cellMismatch))
    }
    val rows = concurrently(Seq(
      centsChecks, assignChecks,
      bookChecks("mart_ann_book64"), bookChecks("mart_ann_book64r"),
      codeChecks("mart_ann_codes64"),
      () => codeChecks("mart_ann_codes64r")().filter(_._2 == "code_domain"),
      mismatchCheck,
      graphChecks("mart_nn_base", nnBaseMart(spark, dir), nb, Seq("s"),
        "node_complete"),
      graphChecks("mart_nn_rounds",
        nnRoundsMart(spark, dir).select("round", "s", "t", "rk"),
        (NndRounds + 1).toLong * n, Seq("round", "s"), "trajectory_complete"))).flatten
    rows.toDF("table_name", "check_name", "n_rows", "violations")
      .select(col("table_name"), col("check_name"), col("n_rows"),
        col("violations"), (col("violations") === 0L).as("passed"))
      .orderBy("table_name", "check_name")
  }

  /** The graph-DEPLOYED oracle: the shared build fragment + serve
    * harness, the trained-32 chain + residual book/LUT (the
    * [[res32ChainSql]] fragment — the SAME coding [[simAnnDeployed]]
    * serves), the full-corpus residual code table and the NEGATED ADC
    * score table `aq` (negation makes the walk steps byte-mirror the
    * exact-serve oracles' `ORDER BY score DESC` fragments), the layer-2
    * subsample graph, an unrolled ADC-scored layer-2 walk from node 0,
    * entry handoff per E ∈ {1, 2}, the ADC-scored layer-1 walk with E
    * riding every CTE, then the derived re-rank beam per (E, query) and
    * hits by the re-rank lemma. */
  private def graphDeployedSql(rounds: Int, steps: Int): String = {
    val head = s""",
      $msSql,
      ${trainedChainSql("t32", 32)},
      ${res32ChainSql},
      renc AS MATERIALIZED (
        SELECT s.vec_id, a.cell, s.m,
               arg_min(b.code, ${sqSubSql("s.sv", "b.cv")} + 1e-12 * b.code) AS code
        FROM rsub s JOIN t32av a ON a.vec_id = s.vec_id JOIN rbook b ON b.m = s.m
        GROUP BY s.vec_id, a.cell, s.m, s.sv),
      aq AS MATERIALIZED (
        SELECT l.qid, e.vec_id AS t,
               -(max(CASE WHEN e.m = 0 THEN l.qd END) + max(CASE WHEN e.m = 1 THEN l.qd END)
                 + max(CASE WHEN e.m = 2 THEN l.qd END) + max(CASE WHEN e.m = 3 THEN l.qd END)) AS score
        FROM renc e JOIN rlut l ON l.cell = e.cell AND l.m = e.m AND l.code = e.code
        GROUP BY l.qid, e.vec_id),
      ${layer2Sql},
      w0 AS (SELECT qid, CAST(0 AS BIGINT) AS t FROM qs)"""
    val l2Steps = walkStepsSql("wb", "w", steps, "aq", "g2", Seq("qid"))
    val handoff = s""",
      ent AS (
        SELECT qid, t, row_number() OVER (PARTITION BY qid ORDER BY score DESC, t) AS rn
        FROM (SELECT w.qid, w.t, s.score FROM w$steps w JOIN aq s ON s.qid = w.qid AND s.t = w.t) z),
      v0 AS (
        SELECT ev.ev, en.qid, en.t
        FROM (SELECT unnest([1, 2]) AS ev) ev JOIN ent en ON en.rn <= ev.ev)"""
    val l1Steps = walkStepsSql("b", "v", steps, "aq", "g", Seq("ev", "qid"))
    val tail = s""",
      bwc AS (SELECT ev, qid, CAST(count(*) AS BIGINT) AS c FROM v$steps GROUP BY ev, qid),
      bf AS MATERIALIZED (
        SELECT z.ev, z.qid, z.t FROM (
          SELECT v.ev, v.qid, v.t, row_number() OVER (PARTITION BY v.ev, v.qid ORDER BY s.score DESC, v.t) AS rn
          FROM v$steps v JOIN aq s ON s.qid = v.qid AND s.t = v.t) z
        JOIN bwc ON bwc.ev = z.ev AND bwc.qid = z.qid
        WHERE z.rn <= least(bwc.c, greatest($RerankBeamFloor, $RerankK * length(bin(bwc.c))))),
      l2n AS (SELECT CAST(count(*) AS BIGINT) AS c FROM w$steps),
      gscan AS (
        SELECT ev, CAST(count(*) AS BIGINT) + (SELECT c FROM l2n) AS scanned
        FROM v$steps GROUP BY ev),
      bcnt AS (SELECT ev, CAST(count(*) AS BIGINT) AS beam_rows FROM bf GROUP BY ev),
      ghit AS (
        SELECT b.ev, CAST(count(*) AS BIGINT) AS hits
        FROM bf b JOIN exq x ON x.qid = b.qid AND x.t = b.t GROUP BY b.ev)
      SELECT 'hier_e' || CAST(gs.ev AS VARCHAR) AS variant, gs.scanned, bc.beam_rows,
             CAST(coalesce(gh.hits, 0) AS BIGINT) AS hits,
             round(CAST(coalesce(gh.hits, 0) AS DOUBLE) / 80, 6) AS recall_r
      FROM gscan gs JOIN bcnt bc ON bc.ev = gs.ev LEFT JOIN ghit gh ON gh.ev = gs.ev
      ORDER BY variant"""
    nnBuildCtes(rounds) + nnServeCommonSql(rounds) + head + l2Steps + handoff + l1Steps + tail
  }

  /** sim — the graph-DEPLOYED read path: HNSW-over-PQ (round 16 — r15
    * verdict #2: compose the layer-routed graph walk with the served
    * code table so the high-recall and low-memory paths stop being
    * separate products). The [[simGraphHier]] serve with BOTH layers
    * scored by the served RESIDUAL ADC ([[convergedRes32Book]] — the
    * same coding [[simAnnDeployed]] adopted): walk layer 2 from node 0,
    * hand the best E ∈ {1, 2} finishers by ADC to the layer-1 walk over
    * the pruned NN-descent serve core, keep the per-(E, query)
    * ADC-best-10 beam each step, stop at the visited fixpoint — the
    * corpus' TRUE vectors are touched only by the final exact re-rank of
    * the derived beam (min(C, max(50, 10·bitlen(C))), the
    * [[rerankBeamWidth]] rule; hits priced by the re-rank lemma).
    * MEASURED at sf0.1 (round-17 honest window): hier_e1 recall 0.85 at
    * 650 true-vector touches (2546 codes scanned) — vs
    * [[simAnnDeployed]]'s 0.425 at ~1340 beam re-scores, and vs
    * [[simGraphServe]]'s exact-scored 0.9625 at ~1974 FULL-VECTOR scans:
    * the composed path concedes ~0.11 recall to the full-vector walk at
    * a 3× cut in vectors touched and DOUBLES the IVF product's recall
    * at half the touches — exactly the HNSW-over-PQ operating point
    * (high recall, tiny resident memory: graph + codes only; the old
    * seeded queries read 0.95-at-a-3.5×-cut, equal-recall — the honest
    * window prices the ADC walk's real concession). Single-entry wins
    * under ADC scoring (e2 reads 0.7375: near-mutual entry
    * neighborhoods overlap the early beam under the coarser ranking and
    * the walk fixpoints before exploring — the [[simGraphHier]] E=4
    * effect arriving one entry earlier). At sf0.01 hier_e1/e2 read
    * 0.9625/0.975 at ~630 touches. Laws in-gate: the layer-2 walk never
    * leaves the subsample; beam_rows ≤ scanned per variant; hits ≤ 80
    * (denominator contract, n ≥ 24 guard). Shape at 100 TB: resident
    * state is the serve graph (10n edges) + code table (4n bytes-ish
    * rows) + broadcast LUTs; walk state is (ev, qid, id) scalars; each
    * step's score fetch joins the visited frontier against the CODE
    * table (the 8×n `aq` materialization here is the evaluation's
    * price — 8 fixed queries — not the serve's; `qsc` prices only the
    * exact audit, the [[simGraphServe]] convention). */
  val simGraphDeployed: QueryDef = {
    QueryDef("sim_graph_deployed", Some(graphDeployedSql(NndRounds, NndServeSteps))) { (spark, dir) =>
      val s2 = spark
      import s2.implicits._
      val (e, n) = nnEmb(spark, dir)
      val (qs, qsc, exq) = nnServeHarness(spark, dir, e, n)
      val graph = serveCore(spark, dir).select(col("s").as("gs"), col("t").as("gt"))
      // the served residual-ADC score table off the persisted index
      // marts, NEGATED so the shared DESC-ordered walk machinery ranks
      // best-first (8 x n rows — the evaluation's price at 8 queries; a
      // deployment scores per frontier batch against the code table)
      val lut = resLut(qs, annIndexMart(spark, dir, "mart_ann_cents32"),
        annIndexMart(spark, dir, "mart_ann_book64r").select("m", "code", "cv"))
      val aq = adcSum(annIndexMart(spark, dir, "mart_ann_codes64r"), lut,
          Seq("cell", "m", "code"))
        .select(col("qid"), col("vec_id").as("t"), negate(col("score")).as("score"))
        .localCheckpoint(true)
      // layer 2: the exact subsample graph (the shared simGraphHier layer)
      val w = greedyWalk(aq, layer2Graph(spark, dir),
        qs.select(col("qid"), entryNode0.as("t")), Seq("qid"))
      val wn = layer2Visited(w)
      // entry handoff by ADC, E riding the layer-1 walk as the variant dim
      val v0 = Seq(1, 2).toDF("ev")
        .join(w, col("rn") <= col("ev"))
        .select(col("ev"), col("qid"), col("t"))
      val vh = greedyWalk(aq, graph, v0, Seq("ev", "qid"))
      // derived re-rank beam per (ev, qid) off the walk's ADC ranks — the
      // ONLY true-vector touches; hits by the re-rank lemma against exq
      val inBeam = col("rn") <= least(col("cq"), col("bw1"))
      val rows = beamAudit(vh.join(broadcast(beamWidths(vh, Seq("ev", "qid"))), Seq("ev", "qid")),
          exq.toDF("qid", "t"), "ev", inBeam,
          Seq(sum(when(inBeam, 1L).otherwise(0L)).as("beam_rows")))
        .select(concat(lit("hier_e"), col("ev").cast(StringType)).as("variant"),
          (col("scanned") + lit(wn)).as("scanned"), col("beam_rows"), col("hits"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      // laws: the beam (vector touches) never exceeds the code scan, and
      // hits respect the 80-row denominator contract
      rows.foreach { case (v, sc0, br, h) =>
        require(br <= sc0, s"$v beam $br exceeds its own scan $sc0")
        require(h <= 80L, s"$v hits $h above the denominator")
      }
      rows.toDF("variant", "scanned", "beam_rows", "hits")
        .select(col("variant"), col("scanned"), col("beam_rows"), col("hits"),
          recallR(col("hits"), lit(80.0)))
        .orderBy("variant")
    }
  }

  /** sim — DIMENSION-TRUNCATION lever (the third axis of the measured
    * ANN design space, after codebook size [[simPqCodebookSize]] and
    * coarse cell count [[simIvfCells]]): rank by the dot product over
    * only the FIRST D dims (Matryoshka-style prefix truncation,
    * Kusupati et al. 2022) for D ∈ {8,16,32,64} and audit recall@10 of
    * the truncated top-10 against the exact full-dim top-10 on the
    * harness's 8 held-out queries. One structural law in-gate: the
    * D = 64 corner IS the exact ranking, so its recall is exactly 1.0.
    * MEASURED — and the lever loses (round-17 honest window):
    * 0.225/0.2125/0.4125 at sf0.001 for D = 8/16/32 (adjacent rungs can
    * wobble a tie-level hit — truncated rankings are not nested). These
    * embeddings are
    * near-isotropic (no energy compaction in leading dims — the same
    * property that bounded the OPQ distortion claims in r13), so naive
    * prefix truncation at 32 bytes/vec is dominated by LEARNED
    * quantization at 3 bytes/vec (the served 64-code PQ book reaches
    * 0.625 beam-200 recall, [[simPqCodebookSize]]): a 10× smaller code
    * beats a 10× larger truncation. That comparison is the point of
    * measuring levers before serving them — on MRL-trained embeddings
    * the conclusion could invert, and this gate would show it. Shape at
    * 100 TB: truncated scoring reads D floats/row (column-pruned scan
    * of a fixed-width prefix); only (d, qid, id, score) ever shuffles. */
  val simDimTruncation: QueryDef = {
    val dims = Seq(8, 16, 32, 64)
    def dotDSql(d: Any): String =
      s"list_reduce(list_transform(range(1, $d + 1), i -> CAST(v.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), (a, b) -> a + b)"
    QueryDef(
      "sim_dim_truncation",
      Some(s"""
      WITH e AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
      qs AS (SELECT vec_id AS qid, embedding AS qv FROM e WHERE vec_id >= $QLo AND vec_id < $QHi),
      sc AS MATERIALIZED (
        SELECT q.qid, v.vec_id AS t, ${dotDSql(64)} AS score FROM e v, qs q),
      ex AS (
        SELECT qid, t FROM (SELECT qid, t, row_number() OVER (PARTITION BY qid ORDER BY score DESC, t) AS rn FROM sc) z
        WHERE rn <= 10),
      ds AS (SELECT unnest([${dims.mkString(", ")}]) AS d),
      tsc AS MATERIALIZED (
        SELECT ds.d, q.qid, v.vec_id AS t, ${dotDSql("ds.d")} AS score
        FROM e v, qs q, ds),
      tt AS (
        SELECT d, qid, t FROM (SELECT d, qid, t, row_number() OVER (PARTITION BY d, qid ORDER BY score DESC, t) AS rn FROM tsc) z
        WHERE rn <= 10),
      h AS (
        SELECT tt.d, CAST(count(*) AS BIGINT) AS hits
        FROM tt JOIN ex ON ex.qid = tt.qid AND ex.t = tt.t GROUP BY tt.d)
      SELECT ds.d AS dim_d, CAST(ds.d * 4 AS BIGINT) AS bytes_per_vec,
             CAST(coalesce(h.hits, 0) AS BIGINT) AS hits, CAST(80 AS BIGINT) AS total,
             round(CAST(coalesce(h.hits, 0) AS DOUBLE) / 80, 6) AS recall_r
      FROM ds LEFT JOIN h ON h.d = ds.d ORDER BY ds.d
    """)) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val s2 = spark
      import s2.implicits._
      val (e, qs, ex, _) = heldOutHarness(spark, dir)
      val pairs = e.crossJoin(broadcast(qs))
      // all four truncated dots in ONE pass over the pair scan
      val tsc = pairs.select(col("qid"), col("vec_id").as("t"),
          explode(array(dims.map(d => struct(lit(d.toLong).as("d"),
            dot(slice(col("embedding"), 1, d), slice(col("qv"), 1, d)).as("score"))): _*)).as("x"))
        .select(col("qid"), col("t"), col("x.d").as("d"), col("x.score").as("score"))
      val tt = tsc
        .withColumn("rn", row_number().over(
          Window.partitionBy("d", "qid").orderBy(col("score").desc, col("t"))))
        .filter(col("rn") <= 10)
      val h = tt.join(broadcast(ex), col("qid") === col("xq") && col("t") === col("xt"))
        .groupBy("d").agg(count(lit(1)).as("hits"))
      val out = dims.map(_.toLong).toDF("dim_d")
        .join(h, col("dim_d") === col("d"), "left")
        .select(col("dim_d"), (col("dim_d") * 4).as("bytes_per_vec"),
          coalesce(col("hits"), lit(0L)).as("hits"), lit(80L).as("total"),
          recallR(coalesce(col("hits"), lit(0L)), lit(80.0)))
        .orderBy("dim_d")
      val rows = out.collect()
      // structural corner: D = 64 is the exact ranking itself
      val full = rows.find(_.getAs[Long]("dim_d") == 64L).get
      require(full.getAs[Long]("hits") == 80L,
        s"D=64 truncation must reproduce the exact top-10: ${full.getAs[Long]("hits")}/80")
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    }
  }

  /** PageRank damping as an exact rational: mass_v = Base + (Num·inc)÷Den
    * in integer micro-units — α = 85/100, base = (1−α)·10⁶. */
  private val PrRounds = 8
  private val PrBase = 150000L
  private val PrNum = 85L
  private val PrDen = 100L

  /** The centrality oracle: the shared NN-descent build, the pruned
    * serve graph, then [[PrRounds]] chained integer-PageRank CTEs —
    * every share is a truncating division, so both engines replay the
    * identical mass ledger. */
  private def graphCentralitySql(rounds: Int): String = {
    val head = s""",
      ${nnServeCoreSql(rounds)},
      nodes AS (SELECT DISTINCT s AS v FROM g),
      deg AS (SELECT s, CAST(count(*) AS BIGINT) AS d FROM g GROUP BY s),
      pr0 AS (SELECT v, CAST(1000000 AS BIGINT) AS m FROM nodes)"""
    val prCtes = (1 to PrRounds).map { i =>
      s""",
      pr$i AS MATERIALIZED (
        SELECT n.v, $PrBase + ($PrNum * COALESCE(inc.sm, 0)) // $PrDen AS m
        FROM nodes n LEFT JOIN (
          SELECT g.t AS v, CAST(sum(p.m // d.d) AS BIGINT) AS sm
          FROM g JOIN pr${i - 1} p ON p.v = g.s JOIN deg d ON d.s = g.s
          GROUP BY g.t) inc ON inc.v = n.v)"""
    }.mkString
    val tail = s""",
      ind AS (SELECT t AS v, CAST(count(*) AS BIGINT) AS in_deg FROM g GROUP BY t)
      SELECT z.rank, z.v AS vec_id, z.m AS mass_micro,
             COALESCE(ind.in_deg, 0) AS in_deg
      FROM (SELECT v, m, row_number() OVER (ORDER BY m DESC, v) AS rank
            FROM pr$PrRounds) z
      LEFT JOIN ind ON ind.v = z.v
      WHERE z.rank <= 50 ORDER BY z.rank"""
    nnBuildCtes(rounds) + head + prCtes + tail
  }

  /** sim — kNN-GRAPH CENTRALITY ranking (round 15): rank the corpus by
    * stationary mass under an integer-exact PageRank (Page et al. 1999,
    * α = 85/100, 8 power-iteration rounds) over the SAME pruned
    * NN-descent serve graph [[simGraphServe]] walks — the graph-based
    * representative-selection pass of a curation pipeline (dense-region
    * medoids rank top: coreset picks, semantic-dedup survivors,
    * curriculum anchors; isolated outliers pin to the Base mass floor).
    * Everything is integer micro-units: each node starts at 10⁶, each
    * round routes mass ÷ out-degree (truncating) along edges and damps
    * by (85·inc)÷100, so the ledger replays bit-for-bit in the oracle's
    * chained CTEs. Two laws enforced in-gate: (1) conservation — total
    * mass never exceeds n·10⁶ and truncation leaks strictly less than
    * (edges + n) micro per round, so sum ≥ n·(10⁶ − 88); (2) the floor —
    * every node holds ≥ Base = 150000. Output: the top-50 central nodes
    * (rank, mass, in-degree). Measured: top-50 mean in-degree 15.6 at
    * sf0.01 and 17.2 at sf0.1 vs the graph mean of exactly 10 — central
    * mass tracks dense regions, which is the selection signal. Shape at 100 TB: the graph is (s, t) pairs —
    * 10n rows; each round is one join + one groupBy shuffle of integer
    * triples, vectors never touched; state is one (v, mass) frame. */
  val simGraphCentrality: QueryDef = {
    QueryDef("sim_graph_centrality", Some(graphCentralitySql(NndRounds))) { (spark, dir) =>
      val graph = serveCore(spark, dir).localCheckpoint(true)
      val nodes = graph.select(col("s").as("v")).distinct().localCheckpoint(true)
      val deg = graph.groupBy("s").agg(count(lit(1)).as("d"))
      val gd = graph.join(deg, Seq("s")).localCheckpoint(true)
      val n = nodes.count()
      // The 8 power-iteration rounds ride ONE LAZY PLAN materialized by a
      // single checkpoint (r22, guide §2.4 — was one eager checkpoint job
      // per round): the chain is linear (each round reads the previous
      // exactly once), so the plan grows linearly, and the degree-annotated
      // edge exchange + the nodes exchange are IDENTICAL subtrees in every
      // round — ReuseExchange computes each once and all 8 rounds share
      // them. Each round's output is hash(v)-partitioned, which is the
      // next round's join key, so the only per-round exchange left is the
      // groupBy(t) mass rollup. Arithmetic unchanged (integer micro-units,
      // truncating div) — the ledger is bit-identical.
      var pr = nodes.select(col("v"), lit(1000000L).as("m"))
      for (_ <- 1 to PrRounds) {
        val inc = gd.join(pr, col("v") === col("s"))
          .select(col("t"), expr("m div d").as("sh"))
          .groupBy("t").agg(sum(col("sh")).as("sm"))
        pr = nodes.join(inc, col("v") === col("t"), "left")
          .select(col("v"),
            (lit(PrBase) + expr(s"($PrNum * coalesce(sm, 0L)) div $PrDen")).as("m"))
      }
      pr = pr.localCheckpoint(true)
      // conservation + floor, enforced on the final ledger
      val ledger = pr.agg(sum(col("m")), min(col("m"))).head()
      val (total, lo) = (ledger.getLong(0), ledger.getLong(1))
      require(total <= n * 1000000L && total >= n * (1000000L - 88L),
        s"mass conservation broke: $total outside [${n * (1000000L - 88L)}, ${n * 1000000L}]")
      require(lo >= PrBase, s"mass floor broke: $lo < $PrBase")
      val ind = graph.groupBy(col("t").as("v")).agg(count(lit(1)).as("in_deg"))
      // global top-50 via TakeOrderedAndProject (no single-partition
      // window over the full ledger); ranks assigned on the collected 50
      val top = pr.orderBy(col("m").desc, col("v")).limit(50)
        .join(ind, Seq("v"), "left")
        .select(col("v").as("vec_id"), col("m").as("mass_micro"),
          coalesce(col("in_deg"), lit(0L)).as("in_deg"))
        .orderBy(col("mass_micro").desc, col("vec_id"))
        .collect()
      val ranked = top.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row(i + 1L, r.getLong(0), r.getLong(1), r.getLong(2))
      }
      val schema = StructType(Seq(
        StructField("rank", LongType, nullable = false),
        StructField("vec_id", LongType, nullable = true),
        StructField("mass_micro", LongType, nullable = true),
        StructField("in_deg", LongType, nullable = true)))
      spark.createDataFrame(java.util.Arrays.asList(ranked: _*), schema)
    }
  }

  /** sim — CONTRASTIVE HARD-NEGATIVE MINING (the training-data side of the
    * retrieval stack: embedding models are fine-tuned on (anchor, positive,
    * hard-negative) triplets, and the negatives that move the loss are the
    * highest-scoring WRONG answers — random negatives are trivially
    * separable and teach nothing). For each held-out query in
    * [[QLo]]..[[QHi]]-1: the POSITIVE is its exact best same-label
    * neighbor (self excluded), the HARD NEGATIVES are the top-5
    * wrong-label vectors by exact cosine, and each triplet row carries
    * the training margin `pos − neg` (the quantity a triplet/InfoNCE
    * loss pushes apart; a tiny or negative margin marks the boundary
    * pairs a curriculum would upweight). Mining is EXACT here — the 8
    * queries broadcast and the scan emits only (qid, id, label, score)
    * scalars — because this gate is the referee denominator; at corpus
    * scale the candidate generator is the deployed ANN read path
    * ([[simAnnDeployed]]'s probe-4 pool) feeding the same label-split
    * top-k, and this exact law is what that pool's mining recall would
    * be audited against (the [[simNnDescent]] referee convention).
    * Determinism: dots are the shared sequential IEEE fold (bit-identical
    * cross-engine), margins are one subtraction of those doubles, ranks
    * break ties on vec_id.
    *
    * Shape at 100 TB: ONE map pass over the corpus (queries broadcast),
    * two WindowGroupLimit top-ks over scalar (qid, id, score) rows
    * partitioned by qid — the vectors never shuffle, and the output is
    * 5 rows per query at any corpus size. */
  val simHardNegatives: QueryDef = QueryDef(
    "sim_hard_negatives",
    Some(s"""
      WITH qs AS (
        SELECT vec_id AS qid, embedding AS qv, label AS ql FROM embeddings
        WHERE vec_id >= $QLo AND vec_id < $QHi),
      sc AS MATERIALIZED (
        SELECT q.qid, q.ql, e.vec_id, e.label, ${dotSql("e.embedding", "q.qv")} AS s
        FROM embeddings e, qs q WHERE e.vec_id <> q.qid),
      pos AS (
        SELECT qid, vec_id AS pos_id, s AS ps FROM (
          SELECT qid, vec_id, s,
                 row_number() OVER (PARTITION BY qid ORDER BY s DESC, vec_id) AS rn
          FROM sc WHERE label = ql)
        WHERE rn = 1),
      neg AS (
        SELECT qid, vec_id AS neg_id, label AS neg_label, s AS ns, rn AS neg_rank FROM (
          SELECT qid, vec_id, label, s,
                 row_number() OVER (PARTITION BY qid ORDER BY s DESC, vec_id) AS rn
          FROM sc WHERE label <> ql)
        WHERE rn <= 5)
      SELECT n.qid, q.ql AS q_label, p.pos_id, round(p.ps, 6) AS pos_r,
             CAST(n.neg_rank AS BIGINT) AS neg_rank, n.neg_id, n.neg_label,
             round(n.ns, 6) AS neg_r, round(p.ps - n.ns, 6) AS margin_r
      FROM neg n JOIN pos p USING (qid) JOIN qs q ON q.qid = n.qid
      ORDER BY n.qid, n.neg_rank
    """)) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val e = emb(spark, dir).select(col("vec_id"), col("embedding"), col("label"))
    val n = e.count()
    val qs = heldOutQueries(e, n, col("label").as("ql"))
    // one scored pass feeds both the positive and negative top-ks
    val sc = e.crossJoin(broadcast(qs)).filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("ql"), col("vec_id"), col("label"),
        dot(col("embedding"), col("qv")).as("s"))
      .localCheckpoint(true)
    val w = Window.partitionBy("qid").orderBy(col("s").desc, col("vec_id"))
    val pos = sc.filter(col("label") === col("ql"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("qid"), col("ql").as("q_label"),
        col("vec_id").as("pos_id"), col("s").as("ps"))
    val neg = sc.filter(col("label") =!= col("ql"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select(col("qid"), col("vec_id").as("neg_id"), col("label").as("neg_label"),
        col("s").as("ns"), col("rn").cast(LongType).as("neg_rank"))
    val out = neg.join(broadcast(pos), Seq("qid"))
      .select(col("qid"), col("q_label"), col("pos_id"), round(col("ps"), 6).as("pos_r"),
        col("neg_rank"), col("neg_id"), col("neg_label"), round(col("ns"), 6).as("neg_r"),
        round(col("ps") - col("ns"), 6).as("margin_r"))
      .orderBy("qid", "neg_rank")
    val schema = out.schema
    val rows = out.collect()
    // the mining laws: NO query vanishes (a qid with no same-label
    // positive would be silently dropped by the inner join — and the
    // oracle would drop it identically, so only this count catches it),
    // every query yields exactly 5 negatives with a strictly increasing
    // rank, and negatives never share the query label
    require(rows.length == 5 * (QHi - QLo),
      s"hard-negative mining lost a query: ${rows.length} rows != ${5 * (QHi - QLo)}")
    rows.groupBy(_.getAs[Long]("qid")).foreach { case (q, rs) =>
      require(rs.length == 5 && rs.map(_.getAs[Long]("neg_rank")).sorted.sameElements(1L to 5L),
        s"hard-negative mining broke for qid $q: ${rs.length} rows")
      require(rs.forall(r => r.getAs[Int]("neg_label") != r.getAs[Int]("q_label")),
        s"a negative shares qid $q's label")
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** sim — DEPLOYED hard-negative mining: [[simHardNegatives]]'s exact
    * law is the referee; this gate prices what a production miner
    * actually runs — candidates from the persisted trained-32/probe-4
    * index pool (the [[simAnnDeployed]] coarse read path, mart-backed),
    * exact-scored and label-split INSIDE the pool, top-5 wrong-label
    * kept. Two quantities per query:
    *   - mining RECALL — |mined ∩ exact top-5 wrong-label| / 5, the
    *     fraction of the true hardest negatives the index surfaces;
    *   - margin SOFTENING — the training margin the loss would see off
    *     mined negatives (`pos − hardest mined`) vs the true margin
    *     (`pos − hardest anywhere`), in 1e-6 fixed point. Mined
    *     negatives are a SUBSET of the corpus' wrong-label rows, so the
    *     hardest mined score can never exceed the true hardest —
    *     `soft_bias_fp ≥ 0` is a LAW (asserted in-gate), and its size
    *     is the bias an index-mined curriculum feeds the loss: probe
    *     misses don't just lose negatives, they systematically soften
    *     the ones that remain.
    * MEASURED: mean mining recall 0.575 at sf0.1 (0.475 at sf0.01) at
    * the probe-4 pool — comfortably above the pool's positive-retrieval
    * ceiling ([[simAnnDeployed]]'s 0.425) because ANY five of the many
    * near-tied wrong-label rows score as hits more easily than the one
    * true top-10; and the hardest negative is the most findable of all:
    * at sf0.1 `soft_bias_fp = 0` for 6 of 8 queries, so the softening
    * bias concentrates in the mined TAIL, not the margin the loss
    * actually binds on. Shape at 100 TB: the pool is (qid, vec_id)
    * scalars off the standing index marts, label rides the existing
    * candidate join, both top-ks are WindowGroupLimit over scalars
    * partitioned by qid, and the ORACLE replays the training arc inline
    * (the referee convention). */
  val simAnnNegatives: QueryDef = QueryDef(
    "sim_ann_negatives",
    Some(s"""
      WITH qs AS (
        SELECT vec_id AS qid, embedding AS qv, label AS ql FROM embeddings
        WHERE vec_id >= $QLo AND vec_id < $QHi),
      ${trainedChainSql("t32", 32)},
      cand AS MATERIALIZED (
        SELECT r.qid, a.vec_id FROM t32av a JOIN t32rk r ON a.cell = r.cell AND r.rn <= 4),
      scn AS MATERIALIZED (
        SELECT c.qid, c.vec_id, ${dotSql("e.embedding", "q.qv")} AS s
        FROM cand c JOIN embeddings e USING (vec_id) JOIN qs q ON q.qid = c.qid
        WHERE e.label <> q.ql),
      mined AS (
        SELECT qid, vec_id, s, rn FROM (
          SELECT qid, vec_id, s,
                 row_number() OVER (PARTITION BY qid ORDER BY s DESC, vec_id) AS rn
          FROM scn)
        WHERE rn <= 5),
      exn AS (
        SELECT qid, vec_id, s, rn FROM (
          SELECT q.qid, e.vec_id, ${dotSql("e.embedding", "q.qv")} AS s,
                 row_number() OVER (PARTITION BY q.qid
                   ORDER BY ${dotSql("e.embedding", "q.qv")} DESC, e.vec_id) AS rn
          FROM embeddings e, qs q WHERE e.label <> q.ql)
        WHERE rn <= 5),
      pos AS (
        SELECT qid, s AS ps FROM (
          SELECT q.qid, ${dotSql("e.embedding", "q.qv")} AS s,
                 row_number() OVER (PARTITION BY q.qid
                   ORDER BY ${dotSql("e.embedding", "q.qv")} DESC, e.vec_id) AS rn
          FROM embeddings e, qs q
          WHERE e.label = q.ql AND e.vec_id <> q.qid)
        WHERE rn = 1),
      pc AS (SELECT qid, CAST(count(*) AS BIGINT) AS pool_rows FROM cand GROUP BY qid),
      nc AS (SELECT qid, CAST(count(*) AS BIGINT) AS pool_neg_rows FROM scn GROUP BY qid),
      hc AS (
        SELECT m.qid, CAST(count(*) AS BIGINT) AS hits
        FROM mined m JOIN exn x ON x.qid = m.qid AND x.vec_id = m.vec_id GROUP BY m.qid),
      mt AS (SELECT qid, s AS m1 FROM mined WHERE rn = 1),
      xt AS (SELECT qid, s AS x1 FROM exn WHERE rn = 1)
      SELECT p.qid, p.pool_rows, n.pool_neg_rows,
             CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
             round(CAST(coalesce(h.hits, 0) AS DOUBLE) / 5.0, 6) AS recall_r,
             CAST(floor((o.ps - xt.x1) * 1000000.0) AS BIGINT) AS margin_true_fp,
             CAST(floor((o.ps - mt.m1) * 1000000.0) AS BIGINT) AS margin_mined_fp,
             CAST(floor((o.ps - mt.m1) * 1000000.0)
                - floor((o.ps - xt.x1) * 1000000.0) AS BIGINT) AS soft_bias_fp
      FROM pc p JOIN nc n USING (qid) LEFT JOIN hc h ON h.qid = p.qid
      JOIN pos o ON o.qid = p.qid JOIN mt ON mt.qid = p.qid JOIN xt ON xt.qid = p.qid
      ORDER BY p.qid
    """)) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val e = emb(spark, dir).select(col("vec_id"), col("embedding"), col("label"))
      .localCheckpoint(true)
    val n = e.count()
    val qs = heldOutQueries(e, n, col("label").as("ql"))
    // the deployed coarse read path off the standing index marts
    val (av, rk) = servedCellRank32(spark, dir, qs)
    val cand = av.join(broadcast(rk.filter(col("rn") <= 4)
        .select(col("qid"), col("cell").as("pcell"))), col("cell") === col("pcell"))
      .select(col("qid"), col("vec_id")).localCheckpoint(true)
    val w = Window.partitionBy("qid").orderBy(col("s").desc, col("vec_id"))
    val scn = cand.join(e, Seq("vec_id")).join(broadcast(qs), Seq("qid"))
      .filter(col("label") =!= col("ql"))
      .select(col("qid"), col("vec_id"), dot(col("embedding"), col("qv")).as("s"))
      .localCheckpoint(true)
    val mined = scn.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
    // the exact referee: corpus-wide wrong-label top-5 and the positive
    val sc = e.crossJoin(broadcast(qs)).filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("ql"), col("vec_id"), col("label"),
        dot(col("embedding"), col("qv")).as("s"))
      .localCheckpoint(true)
    val exn = sc.filter(col("label") =!= col("ql"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
    val pos = sc.filter(col("label") === col("ql"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("qid"), col("s").as("ps"))
    def fp(c: Column): Column = floor(c * lit(1000000.0)).cast(LongType)
    val out = cand.groupBy("qid").agg(count(lit(1)).as("pool_rows"))
      .join(scn.groupBy("qid").agg(count(lit(1)).as("pool_neg_rows")), Seq("qid"))
      .join(mined.select(col("qid"), col("vec_id"))
        .join(exn.select(col("qid"), col("vec_id")), Seq("qid", "vec_id"))
        .groupBy("qid").agg(count(lit(1)).as("hits")), Seq("qid"), "left")
      .join(broadcast(pos), Seq("qid"))
      .join(broadcast(mined.filter(col("rn") === 1).select(col("qid"), col("s").as("m1"))),
        Seq("qid"))
      .join(broadcast(exn.filter(col("rn") === 1).select(col("qid"), col("s").as("x1"))),
        Seq("qid"))
      .select(col("qid"), col("pool_rows"), col("pool_neg_rows"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        recallR(coalesce(col("hits"), lit(0L)), lit(5.0)),
        fp(col("ps") - col("x1")).as("margin_true_fp"),
        fp(col("ps") - col("m1")).as("margin_mined_fp"),
        (fp(col("ps") - col("m1")) - fp(col("ps") - col("x1"))).as("soft_bias_fp"))
      .orderBy("qid")
    val schema = out.schema
    val rows = out.collect()
    // the mining laws: NO query vanishes (a qid whose pool held zero
    // wrong-label rows would be dropped by the inner joins — invisibly,
    // since the oracle drops it identically), the pool holds enough
    // negatives to mine, and a subset's hardest can never beat the
    // corpus' hardest (softening is one-sided)
    require(rows.length == QHi - QLo,
      s"negative mining lost a query: ${rows.length} rows != ${QHi - QLo}")
    rows.foreach { r =>
      require(r.getAs[Long]("pool_neg_rows") >= 5L,
        s"pool too small to mine for qid ${r.getAs[Long]("qid")}")
      require(r.getAs[Long]("soft_bias_fp") >= 0L,
        s"mined margin beat the true margin for qid ${r.getAs[Long]("qid")}")
      require(r.getAs[Long]("hits") <= 5L, "hits beat the mining denominator")
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** sim — TRIPLET-EXPORT accounting off the persisted kNN graph (the
    * all-anchors big sibling of the query-window mining gates: a
    * contrastive fine-tune wants one (anchor, positive, hard-negative)
    * triplet per CORPUS row, and mining them exactly would be the n²
    * pass the suite never ships — but the [[nnRoundsMart]] graph already
    * holds every anchor's best-[[NndK]] neighborhood, so triplet
    * assembly is a label split of a standing mart). Per anchor: the
    * POSITIVE is its best-ranked same-label graph neighbor, the
    * NEGATIVE its best-ranked wrong-label one; anchors whose
    * neighborhood holds only one side emit no triplet and are accounted
    * as the drop (at 10 labels on near-uniform data a degree-20 list
    * misses same-label ~12% of the time — the drop rate is itself a
    * label-density signal). The margin each triplet feeds the loss
    * (`dot(a,pos) − dot(a,neg)`, 1e-6 fixed point) is summed exactly
    * per export shard, and the classic kNN label-consistency statistic
    * (is the rank-1 neighbor same-label?) rides along — the quality
    * probe a curator reads before trusting graph-mined labels. Output:
    * one accounting row per `anchor % 8` shard.
    *
    * Shape at 100 TB: the graph mart is read back, labels join
    * co-partitioned on id (never broadcast — at corpus scale the label
    * table IS the corpus), the two per-anchor picks are
    * WindowGroupLimit over the mart's O(n·K) scalar rows, margins touch
    * vectors only in a bounded 3-way id fetch (one row per anchor), and
    * the output is 8 counter rows. The ORACLE replays the graph build
    * inline and prices margins off its all-pairs referee table (the
    * [[simNnDescent]] convention). */
  val simTripletExport: QueryDef = QueryDef(
    "sim_triplet_export",
    Some(s"""${nnBuildCtes(NndRounds)},
      lab AS (SELECT vec_id, label FROM embeddings),
      g AS (SELECT s, t, rk FROM l$NndRounds),
      gl AS MATERIALIZED (
        SELECT g.s, g.t, g.rk, b.label = a.label AS same
        FROM g JOIN lab a ON a.vec_id = g.s JOIN lab b ON b.vec_id = g.t),
      posn AS (
        SELECT s, t AS pos_id FROM (
          SELECT s, t, row_number() OVER (PARTITION BY s ORDER BY rk, t) AS prn
          FROM gl WHERE same) z
        WHERE prn = 1),
      negn AS (
        SELECT s, t AS neg_id FROM (
          SELECT s, t, row_number() OVER (PARTITION BY s ORDER BY rk, t) AS nrn
          FROM gl WHERE NOT same) z
        WHERE nrn = 1),
      trip AS (
        SELECT p.s, CAST(floor((ps.score - nsc.score) * 1000000.0) AS BIGINT) AS margin_fp
        FROM posn p JOIN negn n ON n.s = p.s
        JOIN sc ps ON ps.s = p.s AND ps.t = p.pos_id
        JOIN sc nsc ON nsc.s = p.s AND nsc.t = n.neg_id),
      sh AS (
        SELECT s % 8 AS shard, CAST(count(*) AS BIGINT) AS n_anchors
        FROM (SELECT DISTINCT s FROM g) a GROUP BY s % 8),
      shf AS (
        SELECT s % 8 AS shard,
               CAST(sum(CASE WHEN same THEN 1 ELSE 0 END) AS BIGINT) AS n_nn_same_label
        FROM gl WHERE rk = 1 GROUP BY s % 8),
      sht AS (
        SELECT s % 8 AS shard, CAST(count(*) AS BIGINT) AS n_triplets,
               CAST(sum(margin_fp) AS BIGINT) AS sum_margin_fp
        FROM trip GROUP BY s % 8)
      SELECT sh.shard, sh.n_anchors,
             CAST(coalesce(sht.n_triplets, 0) AS BIGINT) AS n_triplets,
             shf.n_nn_same_label,
             CAST(coalesce(sht.sum_margin_fp, 0) AS BIGINT) AS sum_margin_fp
      FROM sh JOIN shf USING (shard) LEFT JOIN sht ON sht.shard = sh.shard
      ORDER BY sh.shard
    """)) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val n = nnDenseCount(emb(spark, dir))
    val g = nnRoundsMart(spark, dir).filter(col("round") === NndRounds)
      .select("s", "t", "rk").localCheckpoint(true)
    val ev = emb(spark, dir).select(col("vec_id"), col("embedding"))
    val lab = emb(spark, dir).select(col("vec_id"), col("label"))
    val gl = g.join(lab.select(col("vec_id").as("s"), col("label").as("sl")), Seq("s"))
      .join(lab.select(col("vec_id").as("t"), col("label").as("tl")), Seq("t"))
      .select(col("s"), col("t"), col("rk"), (col("sl") === col("tl")).as("same"))
      .localCheckpoint(true)
    val w = Window.partitionBy("s").orderBy(col("rk"), col("t"))
    val posn = gl.filter(col("same")).withColumn("prn", row_number().over(w))
      .filter(col("prn") === 1).select(col("s"), col("t").as("pos_id"))
    val negn = gl.filter(!col("same")).withColumn("nrn", row_number().over(w))
      .filter(col("nrn") === 1).select(col("s"), col("t").as("neg_id"))
    // one row per anchor; vectors enter ONLY this bounded id fetch
    val trip = posn.join(negn, Seq("s"))
      .join(ev.select(col("vec_id").as("s"), col("embedding").as("se")), Seq("s"))
      .join(ev.select(col("vec_id").as("pos_id"), col("embedding").as("pe")), Seq("pos_id"))
      .join(ev.select(col("vec_id").as("neg_id"), col("embedding").as("ne")), Seq("neg_id"))
      .select(col("s"),
        floor((dot(col("se"), col("pe")) - dot(col("se"), col("ne")))
          * lit(1000000.0)).cast(LongType).as("margin_fp"))
    val shard = (col("s") % 8).as("shard")
    val out = g.select("s").distinct().groupBy(shard)
      .agg(count(lit(1)).as("n_anchors"))
      .join(gl.filter(col("rk") === 1).groupBy(shard)
        .agg(sum(when(col("same"), 1L).otherwise(0L)).as("n_nn_same_label")), Seq("shard"))
      .join(trip.groupBy(shard)
        .agg(count(lit(1)).as("n_triplets"), sum(col("margin_fp")).as("sum_margin_fp")),
        Seq("shard"), "left")
      .select(col("shard"), col("n_anchors"),
        coalesce(col("n_triplets"), lit(0L)).as("n_triplets"),
        col("n_nn_same_label"),
        coalesce(col("sum_margin_fp"), lit(0L)).as("sum_margin_fp"))
      .orderBy("shard")
    val schema = out.schema
    val rows = out.collect()
    // the export ledger laws: shards partition the corpus, and a shard
    // can never emit more triplets (or rank-1 agreements) than anchors
    require(rows.map(_.getAs[Long]("n_anchors")).sum == n,
      s"shard ledger lost anchors: ${rows.map(_.getAs[Long]("n_anchors")).sum} != $n")
    rows.foreach { r =>
      require(r.getAs[Long]("n_triplets") <= r.getAs[Long]("n_anchors") &&
        r.getAs[Long]("n_nn_same_label") <= r.getAs[Long]("n_anchors"),
        s"shard ${r.getAs[Long]("shard")} over-emitted")
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** sim — MMR DIVERSITY RE-RANK (Carbonell & Goldstein, SIGIR 1998):
    * the similarity-aware subset selection a curation pipeline runs on a
    * retrieval head — a training-data sampler de-redundifying examples,
    * or a RAG context builder dropping near-duplicate passages — where
    * plain top-k returns k paraphrases of the same thing. Greedy
    * maximal-marginal-relevance over query [[Q1]]'s top-100 relevance
    * head (self excluded): pick 1 is the most relevant candidate, pick
    * i maximizes `rel − λ·maxsim` (λ = 0.5) where maxsim is the
    * candidate's best cosine against everything already selected; 10
    * picks, ties on vec_id. Emitted per pick: the relevance it brought,
    * the maxsim it paid, and the MMR objective at selection time — the
    * selection's full audit trail, so the diversity-vs-relevance trade
    * is readable per row, not just in aggregate.
    *
    * Determinism: every dot is the shared sequential IEEE fold (the
    * candidate head's are computed engine-side; the greedy loop's in
    * driver Scala with the identical index-order fold), `λ·ms` and
    * `rel − x` are single IEEE ops on bit-identical doubles, maxsim
    * updates are max() on exact values, and all rounding happens at the
    * END through Spark's round() columns — never driver-side.
    *
    * Shape at 100 TB: MMR is a RE-RANK, not a scan — the candidate head
    * is a bounded TakeOrdered of scalar (id, rel) rows (here the exact
    * brute pass; at corpus scale the deployed ANN pool feeds the same
    * head), the 100-row greedy iteration is driver arithmetic exactly
    * like the hybrid-RRF fusion, and the ORACLE unrolls the K picks as
    * CTEs over a MATERIALIZED 100×100 pair table (the Lloyd-round
    * unroll convention). */
  val simMmrRerank: QueryDef = {
    val K = 10
    // p1..pK / m1..mK: m_i is the remaining-candidate maxsim table
    // BEFORE pick i (m1 = all-zero); each m_{i+1} joins away pick i's
    // row (pp has no self pairs), so the NOT-IN exclusion is structural
    val stepCtes = (1 to K).map { i =>
      val pick = s"""p$i AS (
        SELECT c.vec_id, c.rel, m.ms, c.rel - 0.5 * m.ms AS sc
        FROM cand c JOIN m$i m USING (vec_id)
        ORDER BY sc DESC, c.vec_id LIMIT 1)"""
      val nextMs = if (i == K) "" else s""",
      m${i + 1} AS (
        SELECT m.vec_id, greatest(m.ms, pp.s) AS ms
        FROM m$i m JOIN pp ON pp.va = m.vec_id AND pp.vb = (SELECT vec_id FROM p$i))"""
      pick + nextMs
    }.mkString(",\n      ")
    val unionRows = (1 to K).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS rank, vec_id, round(rel, 6) AS rel_r,
             round(ms, 6) AS maxsim_r, round(sc, 6) AS mmr_r FROM p$i"""
    }.mkString("\n      UNION ALL\n      ")
    QueryDef(
      "sim_mmr_rerank",
      Some(s"""
      WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $Q1),
      cand AS MATERIALIZED (
        SELECT vec_id, embedding, rel FROM (
          SELECT e.vec_id, e.embedding, ${dotSql("e.embedding", "q.qv")} AS rel,
                 row_number() OVER (ORDER BY ${dotSql("e.embedding", "q.qv")} DESC, e.vec_id) AS rn
          FROM embeddings e, q WHERE e.vec_id <> $Q1) z
        WHERE rn <= 100),
      pp AS MATERIALIZED (
        SELECT a.vec_id AS va, b.vec_id AS vb, ${dotSql("a.embedding", "b.embedding")} AS s
        FROM cand a, cand b WHERE a.vec_id <> b.vec_id),
      m1 AS (SELECT vec_id, CAST(0.0 AS DOUBLE) AS ms FROM cand),
      $stepCtes
      SELECT * FROM (
      $unionRows) u
      ORDER BY rank
    """)) { (spark, dir) =>
      val e = emb(spark, dir).select(col("vec_id"), col("embedding"))
      val n = e.count()
      require(n >= QHi,
        s"sim_mmr_rerank pins query $Q1 from the held-out window (n=$n < $QHi)")
      val qv = e.filter(col("vec_id") === Q1).select(col("embedding").as("qv"))
      // the bounded retrieval head: TakeOrdered of scalar rows; the 100
      // embeddings ride along for the driver-side greedy loop
      val head = e.filter(col("vec_id") =!= Q1).crossJoin(broadcast(qv))
        .select(col("vec_id"), col("embedding"), dot(col("embedding"), col("qv")).as("rel"))
        .orderBy(col("rel").desc, col("vec_id")).limit(100)
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
      require(head.length >= K, s"candidate head too small to pick $K: ${head.length}")
      // the oracle's dotSql unrolls exactly EmbDim terms: a corpus with a
      // different width must fail HERE, not silently dot a.length dims on
      // this engine and EmbDim on the other (r19 ADVICE #1)
      head.foreach { case (id, v, _) =>
        require(v.length == EmbDim,
          s"sim_mmr_rerank: vec $id has ${v.length} dims, dotSql folds $EmbDim")
      }
      // the same sequential index-order fold as graft_dot / dotSql
      def d(a: Array[Float], b: Array[Float]): Double = {
        var s = 0.0; var i = 0
        while (i < EmbDim) { s += a(i).toDouble * b(i).toDouble; i += 1 }
        s
      }
      val remaining = scala.collection.mutable.LinkedHashMap(
        head.map { case (id, v, rel) => id -> (v, rel, 0.0) }: _*)
      val picked = Seq.newBuilder[(Long, Long, Double, Double, Double)]
      for (rank <- 1 to K) {
        val (pid, (pv, prel, pms)) = remaining.maxBy {
          case (id, (_, rel, ms)) => (rel - 0.5 * ms, -id)
        }
        picked += ((rank.toLong, pid, prel, pms, prel - 0.5 * pms))
        remaining.remove(pid)
        remaining.mapValuesInPlace { case (_, (v, rel, ms)) =>
          (v, rel, math.max(ms, d(v, pv)))
        }
      }
      val s2 = spark
      import s2.implicits._
      // rounding stays in Spark's round() so the quantization is the
      // engine's, not the JVM driver's
      picked.result().toDF("rank", "vec_id", "rel", "ms", "sc")
        .select(col("rank"), col("vec_id"), round(col("rel"), 6).as("rel_r"),
          round(col("ms"), 6).as("maxsim_r"), round(col("sc"), 6).as("mmr_r"))
        .orderBy("rank")
    }
  }

  val all: Seq[QueryDef] = Seq(
    simTopKBrute, simLshPairs, simIvfProbe, simIvfMultiprobe, ddEmbeddingCosine,
    simQuantizeInt8, simCentroids, simKmeans, simKmeansConverged, simSemanticDedup,
    simPqEncode, simPqSearch, simPqTrain, simPqTrainConverged, simIvfAdc,
    simAdcRerank, simIvfAdcResidual, simAnnRecall, simAnnRecallSet, simAnnFrontier,
    simIvfLayout, simIvfSplit, simPqDimLayout, simOpqLearned, simOpqRotation,
    simPqCodebookSize, simIvfCells, simAnnDeployed, simDeployedLevers,
    simDeployedFrontier, simAnnFiltered, simIndexAppend, simBookAppend,
    simDimTruncation,
    simNnDescent, simGraphServe, simGraphHier, simGraphDeployed, simGraphAppend,
    streamIndexAppend, simIndexPolicy, streamIndexPolicy, simServeFreshness,
    simServePolicy,
    simHardNegatives, simAnnNegatives, simTripletExport, simMmrRerank,
    qIndexQuality, simGraphCentrality)
}
