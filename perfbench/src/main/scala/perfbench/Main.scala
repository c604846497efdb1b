package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.util.Random

import graft.{QueryDef, SparkEntry, core}
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.SparkSession

/** One call of a workload: a registered gate, traced as span `module.gate`. */
final case class Call(module: String, gate: String) {
  def span: String = s"$module.$gate"
}

/** One timed call: wall seconds, process CPU seconds (all JVM threads), host
  * 1-minute loadavg right after it, the error if it threw, and the Spark work
  * attributed to it (traced rounds). */
final case class Sample(call: Call, seconds: Double, cpuSeconds: Double,
    load1: Double, error: Option[String], span: Span)

/** Closed-loop, one-client driver for one workload. Prints nothing of its
  * own; writes every raw sample to a JSON report that `run.py` reduces.
  *
  * Usage: Main --workload NAME --calls module.gate,... --rounds R
  *             --data DIR --seed N --seconds S --trace 0|1 --report FILE --check DIR
  *
  * Phases: session start; one set-up round (the first call of every gate:
  * JIT, one-time mart/memo/index builds; each result is also written to
  * `--check` for the oracle replay); then timed rounds while `--seconds`
  * have not passed, at least R (three when traced). The seed shuffles the
  * call order of every round. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val calls = opt("calls").split(",").toSeq.map { s =>
      val Array(module, gate) = s.split("\\.", 2)
      Call(module, gate)
    }
    val dir = opt("data")
    val check = opt("check")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val minRounds = if (traced) 3 else opt("rounds").toInt
    val rng = new Random(opt("seed").toLong)
    val nproc = Runtime.getRuntime.availableProcessors
    val master = s"local[$nproc]"

    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val sessionStartS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val defs: Map[String, QueryDef] = SparkEntry.defs.map(d => d.name -> d).toMap
    val collector = new Collector
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    def load1: Double =
      try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
      catch { case _: Exception => -1.0 }

    def runCall(c: Call, trace: Boolean, checked: Boolean): Sample = {
      core.releaseSessionState(spark)
      val span = new Span(c.span)
      if (trace) {
        BusDrain(sc)
        sc.setJobGroup(c.span, c.span)
        collector.open(span)
      }
      span.startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val cpu0 = os.getProcessCpuTime
      val err =
        try {
          val df = defs(c.gate).run(spark, dir)
          if (checked) df.coalesce(1).write.mode("overwrite").parquet(s"$check/${c.gate}")
          else df.write.format("noop").mode("overwrite").save()
          None
        } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}".take(300)) }
      val dt = (System.nanoTime() - t0) / 1e9
      val cpu = (os.getProcessCpuTime - cpu0) / 1e9
      span.endMs = System.currentTimeMillis()
      if (trace) {
        BusDrain(sc)
        collector.close()
        sc.clearJobGroup()
      }
      Sample(c, dt, cpu, load1, err, span)
    }

    def round(trace: Boolean, checked: Boolean = false): Seq[Sample] = {
      if (trace) {
        sc.addSparkListener(collector)
        spark.listenerManager.register(collector)
      }
      try rng.shuffle(calls).map(runCall(_, trace, checked))
      finally if (trace) {
        BusDrain(sc)
        sc.removeSparkListener(collector)
        spark.listenerManager.unregister(collector)
      }
    }

    val setup = round(trace = false, checked = true)
    Files.writeString(Paths.get(s"$check/oracle_sql.json"), Json.obj(calls.map(c =>
      c.gate -> Json.str(defs(c.gate).oracle.getOrElse("")))))
    val setupS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    // timed rounds; a traced run alternates untraced and traced rounds, so
    // the tracing overhead and the trend check come from one process
    val timed = Seq.newBuilder[(Boolean, Seq[Sample])]
    val tEnd = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i < minRounds || System.nanoTime() < tEnd) {
      val tr = traced && i % 2 == 1
      timed += (tr -> round(tr))
      i += 1
    }
    val timedRounds = timed.result()

    def treeBytes(p: Path): Long =
      if (!Files.exists(p)) 0L
      else {
        val s = Files.walk(p)
        try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
        finally s.close()
      }
    val storedBytes = treeBytes(Paths.get(core.scratch(dir, "")))
    val sourceBytes = treeBytes(Paths.get(dir))

    val peakRssMb =
      try Files.readString(Paths.get("/proc/self/status")).linesIterator
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
      catch { case _: Exception => -1.0 }
    val heap = ManagementFactory.getRuntimeMXBean.getInputArguments.toArray
      .map(_.toString).find(_.startsWith("-Xmx")).getOrElse(s"max=${Runtime.getRuntime.maxMemory}")

    def sample(s: Sample): String = Json.obj(Seq(
      "span" -> Json.str(s.call.span), "gate" -> Json.str(s.call.gate),
      "s" -> Json.num(s.seconds), "cpu_s" -> Json.num(s.cpuSeconds), "load1" -> Json.num(s.load1),
      "start_ms" -> Json.num(s.span.startMs.toDouble), "end_ms" -> Json.num(s.span.endMs.toDouble),
      "error" -> s.error.map(Json.str).getOrElse("null"),
      "trace" -> Json.obj(s.span.metrics.map { case (k, v) => k -> Json.num(v) })))
    def rounds(rs: Seq[(Boolean, Seq[Sample])]): String = Json.arr(rs.map { case (tr, ss) =>
      Json.obj(Seq("traced" -> tr.toString, "calls" -> Json.arr(ss.map(sample))))
    })
    val report = Json.obj(Seq(
      "workload" -> Json.str(opt("workload")),
      "nproc" -> Json.num(nproc),
      "master" -> Json.str(master),
      "heap" -> Json.str(heap),
      "session_start_s" -> Json.num(sessionStartS),
      "setup_s" -> Json.num(setupS),
      "setup" -> rounds(Seq(false -> setup)),
      "timed" -> rounds(timedRounds),
      "stored_bytes" -> Json.num(storedBytes.toDouble),
      "source_bytes" -> Json.num(sourceBytes.toDouble),
      "build_s" -> Json.num(core.buildLedger.map(_._2).sum),
      "peak_rss_mb" -> Json.num(peakRssMb)))
    Files.writeString(Paths.get(opt("report")), report)
    spark.stop()
  }
}

/** Just enough JSON writing for the report. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
