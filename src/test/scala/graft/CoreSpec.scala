package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

/** The one runner for concurrent driver actions, and the source rules
  * that keep it and the one per-snapshot memo the only ones. No
  * SparkSession needed. */
class CoreSpec extends AnyFunSuite {

  test("concurrently overlaps its legs and returns results in input order") {
    // each leg waits for the other to start: the test only passes if the
    // two run at the same time
    val started = new CountDownLatch(2)
    def leg(out: String, tailMs: Long) = () => {
      started.countDown()
      assert(started.await(10, TimeUnit.SECONDS), s"leg $out never saw its sibling start")
      Thread.sleep(tailMs)
      out
    }
    // the first leg finishes last, so completion order is the reverse
    assert(core.concurrently(Seq(leg("first", 300), leg("second", 0))) == Seq("first", "second"))
    assert(core.concurrently(Seq.empty[() => Int]).isEmpty)
  }

  test("a failing leg rethrows only after every sibling has finished") {
    val slowDone = new AtomicBoolean(false)
    val err = intercept[IllegalStateException] {
      core.concurrently(Seq(
        () => throw new IllegalStateException("first failure"),
        () => { Thread.sleep(1000); slowDone.set(true); 1 },
        () => throw new IllegalArgumentException("second failure")))
    }
    assert(slowDone.get, "the runner threw while a sibling leg was still running")
    assert(err.getMessage == "first failure")
    assert(err.getSuppressed.map(_.getMessage).toSeq == Seq("second failure"))
  }

  /** `file:line: text` of every `src/main` line outside core/core.scala
    * that matches `banned`. */
  private def offendersOutsideCore(banned: scala.util.matching.Regex): Seq[String] = {
    val root = java.nio.file.Paths.get(s"${sys.props("user.dir")}/src/main/scala")
    val own = root.resolve("graft/core/core.scala")
    val files = java.nio.file.Files.walk(root).iterator()
    var offenders = Seq.empty[String]
    while (files.hasNext) {
      val f = files.next()
      if (f.toString.endsWith(".scala") && f != own) {
        val src = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        offenders ++= src.linesIterator.zipWithIndex.collect {
          case (line, i) if banned.findFirstIn(line).isDefined =>
            s"${root.relativize(f)}:${i + 1}: ${line.trim}"
        }
      }
    }
    offenders
  }

  test("no source outside core runs its own concurrent driver actions") {
    val offenders = offendersOutsideCore("""scala\.concurrent|\bAwait\b|\bactionEc\b""".r)
    assert(offenders.isEmpty,
      s"use core.concurrently instead:\n${offenders.mkString("\n")}")
  }

  test("no source outside core keeps its own memo map") {
    val offenders = offendersOutsideCore("""\bWeakHashMap\b|\bConcurrentHashMap\b""".r)
    assert(offenders.isEmpty,
      s"remember per-snapshot results through core.snapshotMemo instead:\n${offenders.mkString("\n")}")
  }
}
