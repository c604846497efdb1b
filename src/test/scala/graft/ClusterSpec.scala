package graft

import graft.llm.Cluster
import org.apache.spark.sql.functions._

/** Connected-component dup clustering: the generic propagation core on a
  * hand-built graph, and the chain property of the gate corpus — base and
  * v2 share a cluster with NO direct edge, proving the operator computes a
  * real transitive closure rather than a per-key groupBy. */
class ClusterSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  test("components labels a path graph and an isolated pair by their min ids") {
    // path 1—2—3—4—5 (diameter 4: needs several propagation rounds) + pair 10—11
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("a_id", "b_id")
    val labels = Cluster.components(edges)
      .as[(Long, Long)].collect().toMap
    assert((1L to 5L).forall(labels(_) == 1L), s"path mislabeled: $labels")
    assert(labels(10L) == 10L && labels(11L) == 10L)
  }

  test("components falls back to star contraction when propagation rounds run out") {
    // chain 0—1—…—63 (diameter 63). maxIters=2 reaches distance ~4, far
    // short of the diameter, so the fallback MUST fire for correct labels.
    val edges = (0L until 63L).map(i => (i, i + 1L)).toDF("a_id", "b_id")
    val labels = Cluster.components(edges, maxIters = 2, maxDepth = 1)
      .as[(Long, Long)].collect().toMap
    assert(labels.size == 64)
    assert((0L to 63L).forall(labels(_) == 0L), s"chain mislabeled: $labels")
    // maxDepth = 0 restores strict mode: loud, structured failure
    val ex = intercept[IllegalArgumentException] {
      Cluster.components(edges, maxIters = 1, maxDepth = 0).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("star contraction labels chains, stars and forests by component min") {
    // reversed-id chain (worst case for min-propagation), a star, a pair
    val chain = (0L until 40L).map(i => (100L - i, 100L - i - 1L))
    val extra = Seq((7L, 3L), (7L, 4L), (7L, 5L), (200L, 201L))
    val labels = Cluster.starContraction((chain ++ extra).toDF("a_id", "b_id"))
      .as[(Long, Long)].collect().toMap
    assert((60L to 100L).forall(labels(_) == 60L), s"chain mislabeled: $labels")
    assert(Seq(3L, 4L, 5L, 7L).forall(labels(_) == 3L))
    assert(labels(200L) == 200L && labels(201L) == 200L)
  }

  test("gate corpus plants chains: base—v1 and v1—v2 edge, no base—v2 edge") {
    val edges = Cluster.dupEdges(spark, sfDir)
      .as[(Long, Long)].collect().toSet
    val bases = edges.collect { case (a, b) if b == a + 100000L => a }
    assert(bases.nonEmpty, "no planted base—v1 edges found")
    val d = bases.min
    assert(edges.contains((d + 100000L, d + 200000L)), "v1—v2 edge missing")
    assert(!edges.contains((d, d + 200000L)),
      "base—v2 edged directly — chain construction broken, closure untested")
  }

  test("dedup_cluster merges each chain into one cluster with the base as canonical") {
    val out = Cluster.ddCluster.run(spark, sfDir)
      .select("doc_id", "canonical_id", "cluster_size")
      .as[(Long, Long, Long)].collect()
    val byDoc = out.map(r => r._1 -> r).toMap
    val bases = out.map(_._1).filter(id => byDoc.contains(id + 100000L) && id < 100000L)
    assert(bases.nonEmpty)
    // base heads can coincide across docs (tiny sf0.001 vocabulary), merging
    // chains — so assert the chain invariant, not a specific canonical: all
    // three members share one canonical ≤ base, in a cluster of ≥ 3
    bases.foreach { d =>
      val canon = byDoc(d)._2
      assert(canon <= d)
      Seq(d, d + 100000L, d + 200000L).foreach { m =>
        assert(byDoc(m)._2 == canon, s"member $m of chain $d canonicalized to ${byDoc(m)._2}, base to $canon")
        assert(byDoc(m)._3 >= 3L)
      }
    }
  }

  test("a components round aggregates once: both sides of the jump scan one checkpoint") {
    import org.apache.spark.sql.execution.RDDScanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    // path 1—2—3 with its self edges, labels mid-propagation
    val undS = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 1L), (2L, 2L), (3L, 3L))
      .toDF("src", "dst")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 2L)).toDF("id", "label")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val (g, jumped) = Cluster.ccRound(undS, labels, 1)
      val plan = jumped.queryExecution.executedPlan
      // the join+aggregate lives in g's checkpoint, not in the jump: a
      // lazy g let column pruning give the two sides different aggregates,
      // which ReuseExchange cannot share, so the aggregate ran twice
      assert(plan.collect { case a: BaseAggregateExec => a }.isEmpty, plan)
      val scans = plan.collect { case s: RDDScanExec => s.rdd.id }
      assert(scans.length === 2 && scans.distinct.length === 1, plan)
      val out = jumped.collect().map(r =>
        (r.getAs[Long]("id"), r.getAs[Long]("old_label"), r.getAs[Long]("label"))).toSet
      assert(out === Set((1L, 1L, 1L), (2L, 1L, 1L), (3L, 2L, 1L)))
      core.release(g)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  // Job counts measured on the kernels before they moved onto
  // llm.Fixpoint; an extra action per round adds at least one job per round.
  // components ran 7 until its round aggregate ran once (ccRound): the
  // second aggregate tower carried its own broadcast of the labels, one
  // more job in every round that reads labels.
  test("components runs a fixed number of jobs on the path graph") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("a_id", "b_id")
    assert(jobsOf(Cluster.components(edges))._2 === 6)
  }

  test("star contraction runs a fixed number of jobs on the reversed chain") {
    val chain = (0L until 40L).map(i => (100L - i, 100L - i - 1L))
    val extra = Seq((7L, 3L), (7L, 4L), (7L, 5L), (200L, 201L))
    val edges = (chain ++ extra).toDF("a_id", "b_id")
    assert(jobsOf(Cluster.starContraction(edges))._2 === 31)
  }

  // The labels checkpoint that components returns is freed by the
  // registry after the mart's write; while builders kept their checkpoints
  // this run left 2 RDDs behind (the edges and the labels).
  test("the cluster-labels DAG leaves only its staging edges' checkpoint behind") {
    val (built, left) = persistsOf(Cluster.clusterDag.run(spark, sfDir,
      viewPrefix = "graft_cluster_spec_", martPrefix = "cluster_spec_marts"))
    assert(left == core.checkpointsOf(built("stg_dup_edges")).map(_.id).toSet, s"left behind $left")
    assert(built("mart_cluster_labels").count() > 0)
  }
}
