package graft.llm

import graft.{QueryDef, core}
import graft.core._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Duplicate-cluster resolution: the step AFTER pair detection. The pair
  * ops (Dedup.scala) emit near-dup edges; a training-data pipeline must
  * then pick ONE canonical document per connected component of the dup
  * graph — near-duplication is not transitive, so groupBy on any single
  * key cannot do it (reference keeps only per-key dedup,
  * `transformers/data_transformer.py:38–44`; component resolution is the
  * standard completion at corpus scale).
  *
  * Algorithm: min-label propagation (Pregel-style connected components) —
  * every node starts labeled with its own id; each round takes the min of
  * its own and its neighbors' labels; fixpoint = per-component min id.
  * Scale posture: one hash-shuffle join per round on the node id, rounds
  * bounded by graph diameter (dup graphs are shallow — chains of edit
  * generations), and the driver sees one scalar (the label checksum) per
  * round. For adversarially deep graphs the contraction variant
  * (alternating large-star/small-star) bounds rounds at O(log n); the
  * propagation loop below is the diameter-bound core both share.
  */
object Cluster {

  /** Corpus with planted near-dup CHAINS, so clustering genuinely needs
    * transitive closure: for every doc_id % 5 == 0 with head tokens H
    * (first 12), v1 = H + 2 pad tokens and v2 = H + 4 pad tokens (pads
    * derived from the BASE id, so v1's pads are a prefix of v2's). On
    * distinct bigrams: |base|=11, |v1|=13 (11 head + seam + 1 pad pair),
    * |v2|=15, so jaccard(base,v1)=11/13≈.846 ≥ .8 and
    * jaccard(v1,v2)=13/15≈.867 ≥ .8 but jaccard(base,v2)=11/15≈.733 < .8:
    * base—v1—v2 is a CHAIN with no direct base—v2 edge. */
  private def headCorpus(spark: SparkSession, dir: String): DataFrame = {
    val head = tbl(spark, dir, "documents")
      .select(col("doc_id"), slice(split(col("text"), "\\s+"), 1, 12).as("toks"))
    // base id under a distinct name: a same-select reference to `doc_id`
    // would lateral-alias-resolve to the OFFSET id just aliased beside it,
    // silently de-correlating v1's and v2's pads (hit in round 5)
    val planted = head.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id").as("base_id"), col("toks"))
    def variant(offset: Long, nPads: Int) = planted.select(
      (col("base_id") + offset).as("doc_id"),
      concat(col("toks"), transform(sequence(lit(1), lit(nPads)),
        i => concat(lit("zq"), col("base_id").cast(StringType), lit("p"),
          i.cast(StringType)))).as("toks"))
    head.unionAll(variant(100000L, 2)).unionAll(variant(200000L, 4))
  }

  private val headCorpusSql = """
      SELECT doc_id, list_slice(string_split_regex(text, '\s+'), 1, 12) AS toks
      FROM documents
      UNION ALL
      SELECT doc_id + 100000,
             list_concat(list_slice(string_split_regex(text, '\s+'), 1, 12),
               list_transform(range(1, 3), i -> 'zq' || doc_id || 'p' || i))
      FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 200000,
             list_concat(list_slice(string_split_regex(text, '\s+'), 1, 12),
               list_transform(range(1, 5), i -> 'zq' || doc_id || 'p' || i))
      FROM documents WHERE doc_id % 5 = 0"""

  /** Near-dup edges over the chain corpus: prefix-block bigram Jaccard,
    * same bucket-join shape as dedup_ngram_jaccard (never all-pairs). */
  def dupEdges(spark: SparkSession, dir: String): DataFrame = {
    val feat = headCorpus(spark, dir)
      // single-file source → spread feature construction across cores
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .select(
        col("doc_id"),
        concat_ws(" ", slice(col("toks"), 1, 2)).as("block_key"),
        Dedup.bigrams2(col("toks")).as("bigrams"))
      .persist() // compute-once barrier for both self-join sides
    // 0/0 guard: the jaccard filter gets pushed into the join condition
    // where conjunct order is unspecified (ANSI would throw on an
    // empty-bigram self-pair); emitted rows all have union > 0
    val union = size(array_distinct(concat(col("ba"), col("bb"))))
    val jac = when(union > 0,
      size(array_intersect(col("ba"), col("bb"))).cast(DoubleType) / union.cast(DoubleType))
      .otherwise(lit(0.0))
    val edges = feat.as("a")
      .join(feat.as("b"),
        col("a.block_key") === col("b.block_key") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.bigrams").as("ba"), col("b.bigrams").as("bb"))
      .filter(jac >= 0.8)
      .select(col("a_id"), col("b_id"))
      // edges are two bigints per near-dup pair — tiny next to the token
      // features; eager-checkpoint them so the cached feature frame can be
      // released NOW rather than squatting in executor memory for the rest
      // of the session (same release pattern as cSubstringDups / ingest)
      .localCheckpoint(true)
    feat.unpersist()
    edges
  }

  private val dupEdgesSql = s"""
      feat AS (
        SELECT doc_id,
               array_to_string(list_slice(toks, 1, 2), ' ') AS block_key,
               list_distinct(list_transform(range(1, len(toks)),
                 i -> toks[i] || ' ' || toks[i+1])) AS bigrams
        FROM ($headCorpusSql)),
      edges AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM feat a JOIN feat b
          ON a.block_key = b.block_key AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.bigrams, b.bigrams)) AS DOUBLE)
            / CAST(len(list_distinct(list_concat(a.bigrams, b.bigrams))) AS DOUBLE) >= 0.8)"""

  /** Connected components of an undirected edge list (columns `a_id`,
    * `b_id`): returns (id, label) with label = min doc_id reachable from
    * id. Nodes are the edge endpoints (isolated docs need no clustering).
    *
    * Round shape (guide §2.4 — per-stage overhead dominates the rounds of
    * every `d_entity_*` gate): the edge set is augmented ONCE with a
    * self-edge per node, so a single join + one partial-aggregated min
    * computes least(own label, min neighbor label) for every node — the
    * self row both injects the node's own label into the min and carries
    * the old label out for the convergence count. The pointer-jump
    * self-join's two sides read one lazily checkpointed aggregate
    * ([[ccRound]]), so the join+agg run once per round. Round 0
    * skips the identity-label join outright: min(src) per dst over the
    * self-edged frame IS the first propagation. Per round the driver runs
    * exactly ONE action — the changed count that also materializes the
    * round's labels. Zero changes IS the fixpoint (labels only ever
    * decrease). The round's labels are lazily localCheckpoint'ed: the
    * self-join doubles the LOGICAL plan every round, and the checkpoint
    * truncates it to a LogicalRDD leaf inside the same action. (On a real
    * cluster swap for reliable checkpoint() if executor loss matters —
    * local checkpoint trades fault-tolerance for speed.) */
  def components(edges: DataFrame, maxIters: Int = 30, maxDepth: Int = 3): DataFrame = {
    // und is re-read every round: checkpoint it so each round's plan holds
    // a leaf, not the whole edge-generation tree (6 parquet scans deep)
    val und = edges.select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionAll(edges.select(col("b_id").as("src"), col("a_id").as("dst")))
      .localCheckpoint(false)
    // self-edged round input, hash-clustered by the join key once (persist
    // keeps the partitioning visible to the planner; a checkpoint would
    // report UnknownPartitioning and re-exchange every round)
    val undS = und.unionAll(und.select(col("src")).distinct()
        .select(col("src"), col("src").as("dst")))
      .repartition(col("src")).persist()
    // identity labels, lazy: round 0 never reads them (shortcut below);
    // they only seed the contraction fallback if maxIters bottoms out at 0
    val identity = und.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
    val res = Fixpoint.run(identity, maxIters, core.release) { (labels, r) =>
      val (g, jumped) = ccRound(undS, labels, r)
      // lazy checkpoint: materializes inside the SAME action as the
      // convergence count, truncating plan AND lineage without an extra job
      val next = jumped.localCheckpoint(false)
      val changed = next
        .agg(count(when(col("label") =!= col("old_label"), lit(1))).as("c"))
        .head().getLong(0)
      core.release(g)
      (next, Fixpoint.Changed(changed))
    }
    val labels = res.state
    if (!res.converged) {
      // CONTRACTION FALLBACK (maxDepth = 0 is strict mode): bank the
      // propagation progress by contracting each partial cluster to its
      // label, then run large-star/small-star to a guaranteed fixpoint on
      // the contracted graph and compose the two mappings. Min-label
      // propagation alone can need O(diameter)-ish budgets on adversarial
      // id layouts; the star contraction's round bound is O(log² n)
      // REGARDLESS of ids, so this path always lands.
      require(maxDepth > 0,
        s"components did not converge in $maxIters rounds at max contraction depth")
      val byId = labels.select(col("id"), col("label"))
      val contracted = und
        .join(byId.select(col("id").as("sid"), col("label").as("a_id")),
          col("src") === col("sid"))
        .join(byId.select(col("id").as("did"), col("label").as("b_id")),
          col("dst") === col("did"))
        .select(col("a_id"), col("b_id"))
        .filter(col("a_id") =!= col("b_id"))
        .distinct()
      val upper = starContraction(contracted)
      val composed = byId
        .join(upper.select(col("id").as("l"), col("label").as("root")),
          col("label") === col("l"), "left")
        .select(col("id"), coalesce(col("root"), col("label")).as("label"))
        .localCheckpoint(false)
      // materialize BEFORE dropping und: composed's lineage reads und via
      // contracted, and a lazily-checkpointed plan can't recompute from
      // dropped blocks
      composed.count()
      core.release(und)
      undS.unpersist()
      return composed
    }
    core.release(und)
    undS.unpersist()
    labels.select(col("id"), col("label"))
  }

  /** One propagation round over the self-edged `undS`(src, dst) from
    * `labels`(id, label): `g` = least(own, min-neighbor) per node in ONE
    * join + agg — the self-edge row contributes the node's own label to
    * the min AND carries it out as old_label (every dst has exactly one
    * self row); round 0 reads no labels (min(src) per dst IS the first
    * propagation). Then pointer jumping: every node also adopts the label
    * OF its label (labels only decrease, so label(label) ≤ label), which
    * collapses long chains in O(log diameter) rounds. The jump reads `g`
    * on both sides, and the right side needs only (id, label), so column
    * pruning gives the two sides different aggregates and ReuseExchange
    * cannot share them — left lazy, the join+aggregate ran twice per
    * round. `g` is therefore lazily checkpointed: the jump's broadcast
    * side computes and caches it, the probe side reads the cached blocks
    * (ClusterSpec pins the plan). Returns (g, jumped); the caller
    * releases `g` once the jumped labels are materialized. */
  private[graft] def ccRound(undS: DataFrame, labels: DataFrame, r: Int): (DataFrame, DataFrame) = {
    val g = (if (r == 0)
      undS.groupBy(col("dst"))
        .agg(min(col("src")).as("label"))
        .select(col("dst").as("id"), col("label"), col("dst").as("old_label"))
    else
      undS.join(labels, col("src") === col("id"))
        .groupBy(col("dst"))
        .agg(min(col("label")).as("label"),
          min(when(col("src") === col("dst"), col("label"))).as("old_label"))
        .select(col("dst").as("id"), col("label"), col("old_label")))
      .localCheckpoint(false)
    val jumped = g.as("x")
      .join(g.select(col("id").as("pid"), col("label").as("plabel")),
        col("x.label") === col("pid"), "left")
      .select(col("x.id").as("id"), col("x.old_label").as("old_label"),
        coalesce(col("plabel"), col("x.label")).as("label"))
    (g, jumped)
  }

  /** Alternating large-star/small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14 — public
    * algorithm): edges held as child→parent pointers, each round one
    * neighborhood-min aggregate + one re-point per star op, O(log² n)
    * rounds on ANY graph shape — the guarantee min-label propagation lacks
    * when ids are laid out adversarially along long chains. Fixpoint is a
    * star forest whose centers are the component minima. Per round the
    * driver sees one signature row; plans are truncated by the same lazy
    * localCheckpoint discipline as the propagation loop. */
  private[graft] def starContraction(edges0: DataFrame, maxRounds: Int = 64): DataFrame = {
    val asEdge = edges0.select(
      greatest(col("a_id"), col("b_id")).as("u"),
      least(col("a_id"), col("b_id")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(false)
    val res = Fixpoint.run(asEdge, maxRounds, core.release) { (e, _) =>
      // LARGE-STAR: every node attaches its strictly-larger neighbors to
      // the minimum of its closed neighborhood
      val und = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val nbrMin = und.groupBy("u").agg(min(col("v")).as("nm"))
        .select(col("u"), least(col("nm"), col("u")).as("m"))
      val afterLarge = und
        .join(nbrMin, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // SMALL-STAR: every node re-points its (smaller) parents — and
      // itself — at the minimum parent
      val parMin = afterLarge.groupBy("u").agg(min(col("v")).as("m"))
      val afterSmall = afterLarge
        .join(parMin, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionAll(parMin.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
      val next = afterSmall.localCheckpoint(false)
      // one driver row: materializes the round AND decides convergence
      // (the round function is deterministic, so set-equality with the
      // previous round ⇒ fixpoint)
      (next, Fixpoint.frameSig(next, "u", "v"))
    }
    core.release(asEdge)
    require(res.converged, s"star contraction did not converge in $maxRounds rounds")
    // star forest → labels: children point at their center; centers (and
    // only they) never appear as a child
    val nodes = edges0.select(col("a_id").as("id"))
      .unionAll(edges0.select(col("b_id").as("id"))).distinct()
    nodes
      .join(res.state.groupBy(col("u").as("id")).agg(min(col("v")).as("parent")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("parent"), col("id")).as("label"))
  }

  /** Cluster-labels DAG (the §3.2 staging/mart split applied to dedup):
    * edges stay a lazy staging model; the component LABELS are a mart — a
    * real pipeline materializes labels ONCE and every consumer (canonical
    * mapping, survivor selection, the drop-list export) reads the table
    * instead of re-running edge generation + CC rounds. */
  private val clusterDag = new graft.pipeline.ModelRegistry(Seq(
    graft.pipeline.ModelDef("stg_dup_edges", Nil, mart = false) {
      (s, d, _) => dupEdges(s, d)
    },
    graft.pipeline.ModelDef("mart_cluster_labels", Seq("stg_dup_edges"), mart = true) {
      (_, _, ref) => components(ref("stg_dup_edges"))
    }))

  /** Materialize-once accessor for the labels mart. CC is the expensive
    * step, its output is tiny (two bigints per clustered doc), so it is
    * paid once per corpus snapshot, never once per consumer. */
  private[graft] def clusterLabels(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.MartCache.read(spark, dir, clusterDag, "cluster_marts",
      "graft_cluster_", Seq("documents"), "mart_cluster_labels").head

  /** dd5 — dup-cluster resolution: near-dup edges → connected components →
    * (doc, canonical, cluster size). The planted chains make base and v2
    * cluster together with NO direct edge — the oracle's recursive CTE
    * replays the same closure. */
  val ddCluster: QueryDef = QueryDef(
    "dedup_cluster",
    Some(s"""
      WITH RECURSIVE $dupEdgesSql,
      eu AS (SELECT a_id AS u, b_id AS v FROM edges
             UNION ALL SELECT b_id, a_id FROM edges),
      reach(id, lbl) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM eu)
        UNION
        SELECT e.v, r.lbl FROM reach r JOIN eu e ON e.u = r.id),
      cc AS (SELECT id AS doc_id, min(lbl) AS canonical_id FROM reach GROUP BY id)
      SELECT c.doc_id, c.canonical_id, s.cluster_size
      FROM cc c
      JOIN (SELECT canonical_id, count(*) AS cluster_size
            FROM cc GROUP BY canonical_id) s USING (canonical_id)
      ORDER BY doc_id
    """)) { (spark, dir) =>
    val labels = clusterLabels(spark, dir)
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select(col("id").as("doc_id"), col("label").as("canonical_id"),
        col("cluster_size"))
      .orderBy("doc_id")
  }

  /** dd6 — SURVIVOR SELECTION: the pipeline stage AFTER clustering — pick
    * which member of each dup cluster to KEEP. `dedup_cluster` labels each
    * member with the min-id canonical; real pipelines keep the *best*
    * member instead (here: longest token stream, the standard "keep the
    * most complete capture" rule — on the planted chains that's v2, NOT
    * the min-id base, so the two policies provably differ). Deterministic
    * argmax via row_number over (n_toks DESC, doc_id): the window
    * partitions by cluster label, so work distributes across clusters and
    * a cluster's members — dup chains, not the corpus — bound any single
    * partition. Emits every member with its cluster, survivor, and verdict
    * (the drop-list a dedup job actually executes). */
  val ddSurvivor: QueryDef = QueryDef(
    "dedup_survivor",
    Some(s"""
      WITH RECURSIVE $dupEdgesSql,
      eu AS (SELECT a_id AS u, b_id AS v FROM edges
             UNION ALL SELECT b_id, a_id FROM edges),
      reach(id, lbl) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM eu)
        UNION
        SELECT e.v, r.lbl FROM reach r JOIN eu e ON e.u = r.id),
      cc AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id),
      lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks
               FROM ($headCorpusSql)),
      member AS (SELECT c.doc_id, c.cluster_id, l.n_toks
                 FROM cc c JOIN lens l USING (doc_id)),
      surv AS (
        SELECT cluster_id, doc_id AS survivor_id FROM (
          SELECT cluster_id, doc_id,
                 row_number() OVER (PARTITION BY cluster_id
                   ORDER BY n_toks DESC, doc_id) AS rk
          FROM member) WHERE rk = 1)
      SELECT m.doc_id, m.cluster_id, s.survivor_id, m.n_toks,
             m.doc_id = s.survivor_id AS is_survivor
      FROM member m JOIN surv s USING (cluster_id)
      ORDER BY doc_id
    """)) { (spark, dir) =>
    val labels = clusterLabels(spark, dir)
    val lens = headCorpus(spark, dir)
      .select(col("doc_id"), size(col("toks")).cast(LongType).as("n_toks"))
    val member = labels.join(lens, col("id") === col("doc_id"))
      .select(col("doc_id"), col("label").as("cluster_id"), col("n_toks"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(col("n_toks").desc, col("doc_id"))
    val survivors = member
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("cluster_id"), col("doc_id").as("survivor_id"))
    member.join(survivors, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("survivor_id"), col("n_toks"),
        (col("doc_id") === col("survivor_id")).as("is_survivor"))
      .orderBy("doc_id")
  }

  /** dd7 — SPLIT LEAKAGE audit (dedup-aware train/test splitting): hashing
    * each DOCUMENT into train/val/test — exactly what `t_train_split` does
    * — scatters the members of a near-dup cluster across splits, so the
    * model trains on a near-copy of its own eval data and the benchmark
    * silently inflates (the contamination channel Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better", ACL 2022
    * measure: eval-set near-dups of training docs score far better). The
    * fix is to key the split hash by the CLUSTER CANONICAL instead of the
    * doc — every member then lands in one split by construction. This gate
    * audits both policies over the planted chain clusters with the
    * VERBATIM `t_train_split` hash rule (same salt, same thresholds — the
    * two gates cannot drift): per variant, how many clusters span >1
    * split and how many docs sit in those leaky clusters. The
    * cluster-keyed variant's zero is COMPUTED through the same rollup,
    * not assumed. Shape at 100 TB: reads the labels mart (two bigints per
    * clustered doc), one map-side split tag, one groupBy cluster with
    * partial-aggregated distinct-split counts (≤3 values), one 2-row
    * rollup — the corpus itself is never touched. */
  val ddSplitLeakage: QueryDef = {
    // the ONE split rule (Curation.splitHashSqlOf/splitHashCol) — the
    // audit's premise is that it replays t_train_split's exact assignment
    def splitOf(c: String) = Curation.splitHashSqlOf(c)
    QueryDef(
      "t_split_leakage",
      Some(s"""
      WITH RECURSIVE $dupEdgesSql,
      eu AS (SELECT a_id AS u, b_id AS v FROM edges
             UNION ALL SELECT b_id, a_id FROM edges),
      reach(id, lbl) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM eu)
        UNION
        SELECT e.v, r.lbl FROM reach r JOIN eu e ON e.u = r.id),
      cc AS (SELECT id AS doc_id, min(lbl) AS canonical_id FROM reach GROUP BY id),
      sp AS (
        SELECT doc_id, canonical_id,
               ${splitOf("doc_id")} AS s_doc,
               ${splitOf("canonical_id")} AS s_cluster
        FROM cc),
      per AS (
        SELECT canonical_id, count(*) AS n_members,
               count(DISTINCT s_doc) AS k_doc,
               count(DISTINCT s_cluster) AS k_cluster
        FROM sp GROUP BY canonical_id),
      r AS (
        SELECT 'doc_hash' AS variant, count(*) AS n_clusters,
               sum(CASE WHEN k_doc > 1 THEN 1 ELSE 0 END) AS leaky_clusters,
               sum(CASE WHEN k_doc > 1 THEN n_members ELSE 0 END) AS leaky_docs
        FROM per
        UNION ALL
        SELECT 'cluster_hash', count(*),
               sum(CASE WHEN k_cluster > 1 THEN 1 ELSE 0 END),
               sum(CASE WHEN k_cluster > 1 THEN n_members ELSE 0 END)
        FROM per)
      SELECT variant, CAST(n_clusters AS BIGINT) AS n_clusters,
             CAST(leaky_clusters AS BIGINT) AS leaky_clusters,
             CAST(leaky_docs AS BIGINT) AS leaky_docs,
             leaky_clusters = 0 AS leak_free
      FROM r ORDER BY variant
    """)) { (spark, dir) =>
      val per = clusterLabels(spark, dir)
        .select(col("label").as("canonical_id"),
          Curation.splitHashCol(col("id")).as("s_doc"),
          Curation.splitHashCol(col("label")).as("s_cluster"))
        .groupBy("canonical_id")
        .agg(count(lit(1)).as("n_members"),
          countDistinct(col("s_doc")).as("k_doc"),
          countDistinct(col("s_cluster")).as("k_cluster"))
      def variant(name: String, k: Column): DataFrame = per.agg(
        count(lit(1)).as("n_clusters"),
        countIf(k > 1).as("leaky_clusters"),
        coalesce(sum(when(k > 1, col("n_members"))), lit(0L)).as("leaky_docs"))
        .select(lit(name).as("variant"), col("n_clusters"),
          col("leaky_clusters"), col("leaky_docs"),
          (col("leaky_clusters") === 0).as("leak_free"))
      variant("doc_hash", col("k_doc"))
        .unionAll(variant("cluster_hash", col("k_cluster")))
        .orderBy("variant")
    }
  }

  val all: Seq[QueryDef] = Seq(ddCluster, ddSurvivor, ddSplitLeakage)
}
