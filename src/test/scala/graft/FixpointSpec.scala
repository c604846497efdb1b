package graft

import graft.llm.Fixpoint
import org.apache.spark.sql.DataFrame

/** The round driver every iterative kernel runs on: stop test, round cap
  * and the release of superseded checkpoints. */
class FixpointSpec extends SparkSpec {

  /** Every state [[growing]] made, held so that only a release (never
    * garbage collection) can drop its RDD from the persistent-RDD map. */
  private val made = scala.collection.mutable.ArrayBuffer[DataFrame]()

  /** Round r's state: ids 0 .. min(r, top), lazily checkpointed. It stops
    * growing at round `top`, so round top + 1 repeats its signature. */
  private def growing(top: Int)(prev: DataFrame, r: Int): (DataFrame, Fixpoint.Report) = {
    val next = spark.range(math.min(r, top) + 1L).toDF("id").localCheckpoint(false)
    made += next
    (next, Fixpoint.frameSig(next, "id"))
  }

  test("stops at the first repeated signature") {
    val sigs = Seq("a", "b", "b", "c", "c")
    var calls = 0
    val res = Fixpoint.run(0, 10, (_: Int) => ()) { (s, r) =>
      calls += 1
      (s + 1, Fixpoint.Sig(sigs(r)))
    }
    assert(res.converged && res.rounds == 3 && calls == 3 && res.state == 3)
    val res2 = Fixpoint.run(0, 10, (_: Int) => ()) { (s, r) =>
      (s + 1, Fixpoint.Changed(Seq(4L, 4L, 0L, 1L)(r)))
    }
    assert(res2.converged && res2.rounds == 3, "a round reporting no change stops the loop")
  }

  test("never runs more rounds than the cap and reports non-convergence") {
    var calls = 0
    val res = Fixpoint.run(0, 4, (_: Int) => ()) { (s, r) =>
      calls += 1
      (s + 1, Fixpoint.Sig(r))
    }
    assert(!res.converged && res.rounds == 4 && calls == 4)
    val none = Fixpoint.run("init", 0, (_: String) => ()) { (_, _) => fail("ran past a zero cap") }
    assert(!none.converged && none.rounds == 0 && none.state == "init")
  }

  test("superseded round states are released; the caller releases the last one") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    def added = sc.getPersistentRDDs.keySet -- before
    val init = spark.range(1).toDF("id")
    val conv = Fixpoint.run(init, 10, core.release)(growing(2))
    assert(conv.converged && conv.rounds == 4 && made.size == 4)
    assert(conv.state.count() == 3L)
    assert(added.size == 1, "more than the returned state is cached")
    core.release(conv.state)
    assert(added.isEmpty)
    val capped = Fixpoint.run(init, 2, core.release)(growing(5))
    assert(!capped.converged && capped.rounds == 2 && capped.state.count() == 2L)
    core.release(capped.state)
    assert(added.isEmpty)
  }
}
