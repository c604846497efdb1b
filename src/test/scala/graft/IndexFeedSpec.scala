package graft

import graft.llm.Similarity
import graft.llm.Similarity.{FeedCounts, IndexFeed}
import org.apache.spark.sql.DataFrame

/** The index feeds of the kNN-graph freshness gates: the one trigger rule
  * on hand-set sizes, and the streamed fold sink against the feed marts
  * it shares its states with. */
class IndexFeedSpec extends SparkSpec {

  test("the trigger rule replays the feeds' schedules on hand-set sizes") {
    // the sf0.001 shape: 400 base ids, the two-batch feed's 50 + 50
    val two = FeedCounts(400L, Seq(50L, 50L))
    assert(two.schedule(10L) === Seq(true, true))
    assert(two.schedule(20L) === Seq(false, true))
    assert(two.schedule(30L) === Seq(false, false))
    assert(two.schedule(IndexFeed.twoBatch.theta) === IndexFeed.twoBatch.consolidates)
    // the policy feed's 50 + 38 + 12: growth 88 ≥ 20% of 400 after batch 2,
    // then 12 < 20% of the 488 members at that consolidation
    val policy = FeedCounts(400L, Seq(50L, 38L, 12L))
    assert(policy.schedule(20L) === Seq(false, true, false))
    assert(policy.schedule(IndexFeed.policy.theta) === IndexFeed.policy.consolidates)
    assert(policy.members(2) === 488L && policy.members(3) === 500L)
  }

  test("the streamed sink's events equal the feed marts row for row") {
    def rows(g: DataFrame) = g.select("s", "t", "rk").orderBy("s", "t", "rk").collect().toSeq
    def check(feed: IndexFeed, theta: Option[Long], names: Seq[String]): Unit = {
      val (_, events) = Similarity.streamFeed(spark, sfDir, feed, theta)
      assert(events.map(_._1) === names)
      events.foreach { case (name, i, g) =>
        val kind = if (name.startsWith("fold_")) "fold" else "consol"
        val got = rows(g)
        assert(got.nonEmpty, name)
        assert(got === rows(feed.mart(spark, sfDir, kind, i)), s"${feed.tag} $name")
      }
    }
    check(IndexFeed.twoBatch, None, Seq("fold_1", "fold_2"))
    check(IndexFeed.policy, Some(IndexFeed.policy.theta),
      Seq("fold_1", "fold_2", "consolidate_2", "fold_3"))
  }
}
