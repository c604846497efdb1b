package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** The contract of `core.snapshotMemo`, the one per-snapshot memo: one
  * compute per key however many callers, a lock per key rather than one
  * global lock, nothing stored by a failed compute, no value shared
  * between sessions, and one ledger entry per miss. */
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
}
