package graft

import graft.llm.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The greedy graph walk of the `sim_graph_*` and `sim_serve_*` gates on
  * hand-built graphs: beam order, stop test, step cap, graph keys, the
  * score-row precondition and the walk's job count. */
class GreedyWalkSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private def graph(edges: (Long, Long)*): DataFrame = edges.toDF("gs", "gt")

  private def scores(rows: (Long, Double)*): DataFrame =
    rows.map { case (t, s) => (1L, t, s) }.toDF("qid", "t", "score")

  /** Query 1 entering at node 0. */
  private val entry0 = Seq((1L, 0L)).toDF("qid", "t")

  private def visited(df: DataFrame): Set[Long] = df.select("t").as[Long].collect().toSet

  test("the beam ranks as Catalyst does: ties to the lower t, -0.0 equal to 0.0, NaN first") {
    // node 0 reaches 1..12; node i in 1..12 reaches its own leaf 100 + i.
    // Nodes 1..6 score -0.0 and 7..12 score 0.0: if -0.0 ranked below 0.0
    // the second beam would hold 7..12, not the lowest ids. Node 13 (NaN)
    // ranks above every number, so it leads every beam it is in.
    val g = graph((0L to 13L).filter(_ > 0).map(i => (0L, i)) ++
      (1L to 13L).map(i => (i, 100L + i)): _*)
    // leaf 101 has a NULL score: it ranks after every number
    val sc = scores(Seq((0L, 1.0), (13L, Double.NaN)) ++
      (1L to 6L).map(i => (i, -0.0)) ++ (7L to 12L).map(i => (i, 0.0)) ++
      (2L to 13L).map(i => (100L + i, -1.0)): _*)
      .unionByName(Seq((1L, 101L)).toDF("qid", "t").withColumn("score", lit(null).cast("double")))
    val vis = Similarity.greedyWalk(sc, g, entry0, Seq("qid"), steps = 2)
    // step 2's beam: NaN node 13, node 0, then the 8 lowest of the 12 ties
    assert(visited(vis) == ((0L to 13L) ++ (1L to 8L).map(100L + _) :+ 113L).toSet)
    val rn = vis.select("t", "rn").as[(Long, Int)].collect().toMap
    assert(rn(13L) == 1 && rn(0L) == 2 && rn(1L) == 3 && rn(12L) == 14 && rn(101L) == rn.size)
    // and every rank equals Spark SQL's own row_number over the same rows
    val spark_rn = vis.select("qid", "t").join(sc, Seq("qid", "t"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("score").desc, col("t"))))
      .select("t", "rn").as[(Long, Int)].collect().toMap
    assert(rn == spark_rn)
  }

  test("a key stops at its first step that adds nothing") {
    // the cycle 0 -> 1 -> 2 -> 0 closes after two expansions; the third
    // adds nothing, so the beam is expanded 1 + 2 + 3 times, not once per
    // step of the cap
    val out = Map(0L -> Array(1L), 1L -> Array(2L), 2L -> Array(0L))
    var expanded = 0
    val vis = Similarity.walkKey(1L, Seq(0L), 8, { t => expanded += 1; out(t) },
      k => java.lang.Double.valueOf(-k._2.toDouble))
    assert(vis.map(_._1) == Seq(0L, 1L, 2L))
    assert(expanded == 6)
  }

  test("the step cap holds on a long path graph") {
    val g = graph((0L until 50L).map(i => (i, i + 1L)): _*)
    val sc = scores((0L to 50L).map(i => (i, i.toDouble)): _*)
    val vis = Similarity.greedyWalk(sc, g, entry0, Seq("qid"), steps = 5)
    assert(visited(vis) == (0L to 5L).toSet)
    // the deepest node scores highest, so it ranks first
    assert(vis.filter(col("rn") === 1).select("t").as[Long].collect().toSeq == Seq(5L))
  }

  test("graph keys keep the walks of two vintages apart") {
    val g = Seq(("a", 0L, 1L), ("a", 1L, 3L), ("b", 0L, 2L), ("b", 2L, 4L))
      .toDF("gfold", "gs", "gt")
    val sc = scores((0L to 4L).map(i => (i, 1.0)): _*)
    val v0 = Seq(("a", 1L, 0L), ("b", 1L, 0L)).toDF("fold", "qid", "t")
    val vis = Similarity.greedyWalk(sc, g, v0, Seq("fold", "qid"), gKeys = Seq("fold"))
      .select("fold", "t").as[(String, Long)].collect()
    assert(vis.filter(_._1 == "a").map(_._2).toSet == Set(0L, 1L, 3L))
    assert(vis.filter(_._1 == "b").map(_._2).toSet == Set(0L, 2L, 4L))
  }

  test("keys with no graph rows return their entries ranked as Spark's row_number") {
    // key "b" has no edges: its walk stops at once, with every entry
    // visited — more of them than one beam holds, scores tied in threes
    val g = Seq(("a", 0L, 1L)).toDF("gfold", "gs", "gt")
    val sc = scores((0L to 13L).map(i => (i, (i % 3).toDouble)): _*)
    val v0 = ((0L to 13L).map(t => ("b", 1L, t)) :+ (("a", 1L, 0L))).toDF("fold", "qid", "t")
    val vis = Similarity.greedyWalk(sc, g, v0, Seq("fold", "qid"), gKeys = Seq("fold"))
    val rn = vis.filter(col("fold") === "b").select("t", "rn").as[(Long, Int)].collect().toMap
    val spark_rn = v0.filter(col("fold") === "b").join(sc, Seq("qid", "t"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("fold", "qid").orderBy(col("score").desc, col("t"))))
      .select("t", "rn").as[(Long, Int)].collect().toMap
    assert(rn.size === 14 && rn === spark_rn)
    assert(visited(vis.filter(col("fold") === "a")) === Set(0L, 1L))
  }

  test("an entry or frontier node without a score row fails naming its (qid, t)") {
    val g = graph((0L, 1L), (1L, 2L))
    val frontier = intercept[Exception] {
      Similarity.greedyWalk(scores((0L, 1.0), (1L, 0.5)), g, entry0, Seq("qid"))
    }
    assert(frontier.getMessage.contains("no score row for (qid, t) = (1, 2)"), frontier.getMessage)
    val entry = intercept[Exception] {
      Similarity.greedyWalk(scores((1L, 0.5), (2L, 0.1)), g, entry0, Seq("qid"))
    }
    assert(entry.getMessage.contains("no score row for (qid, t) = (1, 0)"), entry.getMessage)
  }

  test("the walk runs a fixed number of jobs, however many steps it takes") {
    // built by Spark, not from driver rows, so that collecting each input
    // is a job: one per input plus the one pass of walk tasks
    val g = spark.range(30).select(col("id").as("gs"), (col("id") + 1).as("gt"))
    val sc = spark.range(31).select(lit(1L).as("qid"), col("id").as("t"),
      col("id").cast("double").as("score"))
    val (short, shortJobs) = jobsOf(Similarity.greedyWalk(sc, g, entry0, Seq("qid"), steps = 2))
    val (long, longJobs) = jobsOf(Similarity.greedyWalk(sc, g, entry0, Seq("qid"), steps = 20))
    assert(short.count() == 3L && long.count() == 21L)
    assert(shortJobs === 3 && longJobs === 3)
  }
}
