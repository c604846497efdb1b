package graft

import graft.llm.Similarity

/** The two shared audit stats of the `sim_*` gates, on hand-built frames:
  * the held-out referee hits and the kNN-graph recall. */
class AuditStatsSpec extends SparkSpec {

  test("refereeHits counts pool rows and the rows the referee holds") {
    val s2 = spark
    import s2.implicits._
    val ex = Seq((1L, 10L), (2L, 20L), (2L, 21L)).toDF("xq", "xt")
    val pool = Seq((1L, 10L), (1L, 11L), (2L, 20L)).toDF("qid", "vec_id")
    assert(Similarity.refereeHits(pool, ex) == ((3L, 2L)))
    // NULL hit sum over an empty pool reads as 0
    val empty = Seq.empty[(Long, Long)].toDF("qid", "vec_id")
    assert(Similarity.refereeHits(empty, ex) == ((0L, 0L)))
  }

  test("graphRecall counts nodes, edges and the rk <= 10 edges the referee holds") {
    val s2 = spark
    import s2.implicits._
    val referee = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("s", "t")
    // (1, 3) is in the referee but ranked 11th: not a recall@10 hit
    val g = Seq((1L, 2L, 1), (1L, 3L, 11), (2L, 1L, 1)).toDF("s", "t", "rk")
    assert(Similarity.graphRecall(g, referee) == ((2L, 3L, 1L)))
    val empty = Seq.empty[(Long, Long, Int)].toDF("s", "t", "rk")
    assert(Similarity.graphRecall(empty, referee) == ((0L, 0L, 0L)))
  }

  test("beamAudit counts each group's rows and the beam rows the referee holds") {
    val s2 = spark
    import s2.implicits._
    val ex = Seq((1L, 10L), (1L, 11L), (2L, 20L)).toDF("qid", "t")
    // (1, 11) is in the referee but ranked 11th: outside the beam
    val pool = Seq(("a", 1L, 10L, 1), ("a", 1L, 11L, 11), ("a", 2L, 21L, 1),
      ("b", 2L, 20L, 2)).toDF("v", "qid", "t", "rn")
    val got = Similarity.beamAudit(pool, ex, "v").orderBy("v")
      .select("v", "scanned", "hits").as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("a", 3L, 1L), ("b", 1L, 1L)))
  }
}
