package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** The contract of `core.snapshotMemo`, the one per-snapshot memo: one
  * compute per key however many callers, a lock per key rather than one
  * global lock, nothing stored by a failed compute, no value shared
  * between sessions, one ledger entry per miss holding its self time, and
  * no value that reads a local checkpoint. */
class SnapshotMemoSpec extends SparkSpec {

  /** A label no other test (or earlier run of this one) has used. */
  private def fresh(tag: String): String = s"spec:$tag:${System.nanoTime()}"

  private def ledgerEntries(label: String): Int = core.buildLedger.count(_._1 == label)

  test("two threads asking for the same key run the compute once") {
    val label = fresh("once")
    val computes = new AtomicInteger
    val started = new CountDownLatch(2)
    def leg = () => {
      started.countDown()
      assert(started.await(10, TimeUnit.SECONDS), "the sibling caller never started")
      core.snapshotMemo(spark, label, sfDir, "region") {
        computes.incrementAndGet()
        Thread.sleep(300) // long enough for the sibling to arrive mid-compute
        "value"
      }
    }
    assert(core.concurrently(Seq(leg, leg)) == Seq("value", "value"))
    assert(computes.get == 1)
  }

  test("a compute that waits on another key being computed elsewhere finishes") {
    // B starts first on one thread and finishes only once A's compute has
    // started on another; A's compute then asks for B. A global lock would
    // keep A from starting until B finished, and B waits for A.
    val (a, b) = (fresh("a"), fresh("b"))
    val bStarted = new CountDownLatch(1)
    val aStarted = new CountDownLatch(1)
    val bComputes = new AtomicInteger
    val Seq(bOut, aOut) = core.concurrently(Seq(
      () => core.snapshotMemo(spark, b, sfDir, "region") {
        bComputes.incrementAndGet()
        bStarted.countDown()
        assert(aStarted.await(10, TimeUnit.SECONDS), "A's compute never started: the lock is not per key")
        "b"
      },
      () => {
        assert(bStarted.await(10, TimeUnit.SECONDS))
        core.snapshotMemo(spark, a, sfDir, "region") {
          aStarted.countDown()
          core.snapshotMemo(spark, b, sfDir, "region") { bComputes.incrementAndGet(); "b again" } + "+a"
        }
      }))
    assert(bOut == "b" && aOut == "b+a")
    assert(bComputes.get == 1, "A recomputed B instead of waiting for it")
  }

  test("a compute that throws stores nothing, and the next call computes again") {
    val label = fresh("throws")
    val computes = new AtomicInteger
    val err = intercept[IllegalStateException] {
      core.snapshotMemo[Int](spark, label, sfDir, "region") {
        computes.incrementAndGet()
        throw new IllegalStateException("compute failed")
      }
    }
    assert(err.getMessage == "compute failed")
    assert(core.snapshotMemo(spark, label, sfDir, "region") { computes.incrementAndGet(); 7 } == 7)
    assert(core.snapshotMemo(spark, label, sfDir, "region") { computes.incrementAndGet(); 8 } == 7)
    assert(computes.get == 2)
  }

  test("two sessions do not share a value") {
    val label = fresh("sessions")
    val other = spark.newSession()
    assert(core.snapshotMemo(spark, label, sfDir, "region")("first") == "first")
    assert(core.snapshotMemo(other, label, sfDir, "region")("second") == "second")
    assert(core.snapshotMemo(spark, label, sfDir, "region")("third") == "first")
  }

  test("a miss nested in another miss is counted once: the outer entry is its self time") {
    val (outer, inner) = (fresh("outer"), fresh("inner"))
    core.snapshotMemo(spark, outer, sfDir, "region") {
      Thread.sleep(50)
      core.snapshotMemo(spark, inner, sfDir, "region") { Thread.sleep(300); 1 }
    }
    val Seq(outerSec) = core.buildLedger.collect { case (`outer`, s) => s }
    val Seq(innerSec) = core.buildLedger.collect { case (`inner`, s) => s }
    assert(innerSec >= 0.3)
    assert(outerSec >= 0.05 && outerSec < innerSec,
      s"outer $outerSec s, inner $innerSec s: the outer entry still holds the inner miss")
  }

  test("each miss adds exactly one ledger entry under its label") {
    val label = fresh("ledger")
    assert(ledgerEntries(label) == 0)
    core.snapshotMemo(spark, label, sfDir, "region")(1)
    assert(ledgerEntries(label) == 1)
    core.snapshotMemo(spark, label, sfDir, "region")(2) // hit
    assert(ledgerEntries(label) == 1)
    core.snapshotMemo(spark, label, sfDir, "nation")(3) // another snapshot: a miss
    assert(ledgerEntries(label) == 2)
    core.snapshotMemo(spark.newSession(), label, sfDir, "region")(4) // another session: a miss
    assert(ledgerEntries(label) == 3)
  }

  test("a value that reads a local checkpoint fails the miss, naming the label, and stores nothing") {
    val label = fresh("checkpoint")
    val ckpt = spark.range(3).toDF("k").localCheckpoint(true)
    try {
      for (v <- Seq[Any](ckpt.filter("k > 0"), Map("m" -> ckpt), Seq(1, ckpt), ("t", Seq(ckpt)))) {
        val err = intercept[IllegalStateException](core.snapshotMemo(spark, label, sfDir, "region")(v))
        assert(err.getMessage.contains(label), err.getMessage)
      }
      assert(ledgerEntries(label) == 0)
      assert(core.snapshotMemo(spark, label, sfDir, "region")("value") == "value")
    } finally core.release(ckpt)
  }

  test("a mart read-back is stored: only the marts are kept, not a staging frame over a checkpoint") {
    import org.apache.spark.sql.functions.col
    val reg = new pipeline.ModelRegistry(Seq("region"), Seq(
      pipeline.ModelDef("stg_memo_ckpt", Nil, mart = false) { (s, _, _) =>
        s.range(5).toDF("k").localCheckpoint(true)
      },
      pipeline.ModelDef("mart_memo_probe", Seq("stg_memo_ckpt"), mart = true) { (_, _, ref) =>
        ref("stg_memo_ckpt").filter(col("k") > 1)
      }))
    val tag = fresh("mart").replaceAll("[^A-Za-z0-9]", "_")
    def read = pipeline.MartCache.read(spark, sfDir, reg, tag, s"graft_${tag}_",
      "mart_memo_probe").head
    val first = read
    assert(core.checkpointsOf(first).isEmpty)
    assert(first.count() === 3L)
    assert(read eq first, "the second read built the marts again")
  }
}
