package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** One engine capability exposed to the driver's correctness gate.
  *
  * `run` evaluates the operator over the driver-generated parquet tables in
  * `sfDir`; `oracle` is the equivalent ANSI SQL the driver replays in DuckDB
  * over the same tables. Column names/aliases must match exactly (the driver
  * sorts columns by name before hashing values).
  */
final case class QueryDef(
    name: String,
    oracle: Option[String])(
    val run: (SparkSession, String) => DataFrame)

/** Injected run parameterization (SURVEY.md §7.1 step 1): the logical
  * "today" every as-of computation derives from. The reference reads the
  * wall clock at transform time (reference `data_transformer.py:118–119`,
  * `airflow/dags/etl_daily_pipeline.py:180–183`), which makes runs
  * non-reproducible; here the as-of date is an explicit input, so a rerun
  * or backfill with the same context is bit-identical (property-tested in
  * ContextSpec). */
final case class RunContext(asOfDate: java.time.LocalDate) {
  /** The as-of date as a foldable DATE column. */
  def asOfCol: Column = lit(asOfDate.toString).cast(DateType)
}

object RunContext {
  /** Deterministic default pinned to the corpus's final order date — the
    * gates' stand-in for "today". A production deployment passes the
    * scheduler's execution date instead. */
  val default: RunContext = RunContext(java.time.LocalDate.parse("1998-12-31"))
}

object core {

  /** Table names shipped in every /root/testdata/sf* directory. */
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one driver-generated parquet table. Plain parquet scan: Catalyst
    * pushes filters + prunes columns into the scan, so callers should never
    * pre-materialize. The schema is inferred once per (session, table
    * snapshot) and pinned, so later reads run no footer-inference job. */
  def tbl(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val pinned = snapshotMemo(spark, s"schema:$name", dir, name)(spark.read.parquet(path).schema)
    spark.read.schema(pinned).parquet(path)
  }

  /** Bind `c` to a lambda VARIABLE for the scope of `f`, evaluating it
    * exactly once per row. Higher-order functions run interpreted with no
    * cross-lambda subexpression elimination, so a lambda body that
    * references a non-attribute argument expression re-evaluates it on
    * EVERY element access — e.g. `element_at(split(text), i)` inside a
    * `transform` re-ran the split on each element: O(tokens²) per document
    * (a 70k-token doc spun for minutes; found via jstack). A 1-element
    * `transform` is the standard binding trick: `array(c)` evaluates c
    * once, and the lambda body sees a cheap variable lookup. Attribute
    * references don't need this — only composite expressions do. */
  def bindOnce(c: Column)(f: Column => Column): Column =
    get(transform(array(c), f), lit(0))

  /** Collision-free tag for an input dir, usable in SQL identifiers and
    * paths: the sanitized dir itself (not its hashCode — 32-bit hashes can
    * collide across dirs, and `math.abs(Int.MinValue)` is negative). */
  def dirTag(dir: String): String = dir.replaceAll("[^A-Za-z0-9]", "_")

  /** JVM-wide named locks for staged side artifacts and shared checkpoint
    * cycles: a bare marker check-then-act is not atomic, so two concurrent
    * executions in one JVM (the spec suite beside verify/bench) could
    * interleave staging writes or watermark read-modify-write cycles. One
    * lock object per key serializes them; [[buildOnce]] is the marker
    * idiom (the loser re-checks under the lock and skips). */
  private val namedLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  def withLock[T](key: String)(body: => T): T = {
    val lock = namedLocks.computeIfAbsent(key, _ => new Object)
    lock.synchronized(body)
  }
  def buildOnce(key: String)(alreadyBuilt: => Boolean)(build: => Unit): Unit =
    withLock(key) {
      if (!alreadyBuilt) timedBuild(s"stage:$key")(build)
    }

  /** JVM-wide ledger of one-time build costs (r20 verdict #1 / r21 verdict
    * #2: materialize-once marts, memos and staged landings are paid in
    * pass 1 only, so the bench's interleaved min-of-2 erases them from
    * every reported number). Every build records its self seconds here as
    * one (key, seconds) entry, in the order builds finish; Bench dumps the
    * per-key sums into `target/bench_detail.json` as `build` rows, so the
    * artifact separates steady-state consumer cost (the timed samples)
    * from cold-build cost — WITHOUT changing what the timed samples
    * measure (comparability with prior rounds holds). */
  private val buildLedgerM = scala.collection.mutable.ArrayBuffer[(String, Double)]()
  def buildLedger: Seq[(String, Double)] =
    buildLedgerM.synchronized { buildLedgerM.toSeq }

  /** Per thread, one cell per build open on it (innermost first): the wall
    * nanos of the builds that finished nested inside that build. */
  private val openBuilds =
    ThreadLocal.withInitial(() => new java.util.ArrayDeque[Array[Long]]())

  /** Runs `build` and records its self time under `key`: its wall time
    * minus that of the builds that finished nested inside it on the same
    * thread, so a nested build's seconds are in its own entry only. A
    * build started on another thread (a [[concurrently]] leg) is not
    * subtracted: the enclosing build still counts it in full. A build
    * that throws records nothing. */
  private def timedBuild[T](key: String)(build: => T): T = {
    val open = openBuilds.get
    val nested = Array(0L)
    open.push(nested)
    val t0 = System.nanoTime()
    val v = try build finally open.pop()
    val wall = System.nanoTime() - t0
    buildLedgerM.synchronized { buildLedgerM += key -> (wall - nested(0)) / 1e9 }
    Option(open.peek).foreach(_(0) += wall)
    v
  }

  /** Values remembered by [[snapshotMemo]], per session. */
  private val snapshotValues = new java.util.WeakHashMap[SparkSession,
    scala.collection.mutable.Map[(String, String, String), Any]]()

  /** THE way to remember a result for one corpus snapshot: `compute`'s
    * value is kept per (session, `label`, `dir`, [[sourceSig]] of
    * `tables`), so a table regenerated in place misses and recomputes
    * instead of serving the dead snapshot's value. A miss computes under
    * [[withLock]] of its key: callers of the same key wait for the first
    * one and reuse its value, callers of other keys run side by side, and
    * a compute that throws stores nothing. Each miss adds one `label`
    * entry with its self seconds to [[buildLedger]] (see [[timedBuild]]:
    * a `schema:` pin inside a `mart:` DAG run is counted once, in its own
    * entry; a miss run by a [[concurrently]] leg is still counted in full
    * by the miss that started the leg). Sessions are held
    * weakly, but a value that references its session (a DataFrame) keeps
    * that session reachable for the life of the JVM. Values are
    * driver-side results and plans over immutable files, never cached
    * blocks, so [[releaseSessionState]] has nothing here to evict: a miss
    * whose value holds a frame that reads a local checkpoint (on its own,
    * or inside a `Map`, a `Seq` or a tuple) fails, naming `label`, and
    * stores nothing. `label` names one value type: a result is cast back
    * to `T`. */
  def snapshotMemo[T](spark: SparkSession, label: String, dir: String, tables: String*)(
      compute: => T): T = {
    val key = (label, dir, sourceSig(spark, dir, tables: _*))
    def values = snapshotValues.computeIfAbsent(spark, _ => scala.collection.mutable.Map())
    def stored = snapshotValues.synchronized(values.get(key))
    stored.getOrElse(withLock(s"memo:$key") {
      stored.getOrElse {
        val v = timedBuild(label) {
          val v = compute
          val held = framesIn(v).flatMap(checkpointsOf).map(_.id).toSeq.distinct
          if (held.nonEmpty) throw new IllegalStateException(
            s"snapshotMemo($label): the value reads local checkpoints (RDDs ${held.mkString(", ")}), " +
              "which releaseSessionState drops while the memo still serves it")
          v
        }
        snapshotValues.synchronized(values(key) = v)
        v
      }
    }).asInstanceOf[T]
  }

  /** Every frame in a memo value: the value itself, or those inside a
    * collection (a `Map`'s entries, a `Seq`) or a tuple, at any depth. */
  private def framesIn(v: Any): Iterator[Dataset[_]] = v match {
    case ds: Dataset[_] => Iterator(ds)
    case it: Iterable[_] => it.iterator.flatMap(framesIn)
    case p: Product => p.productIterator.flatMap(framesIn)
    case _ => Iterator.empty
  }

  /** The local checkpoints `ds` reads: the LogicalRDD leaves of its
    * analyzed plan, subqueries included, whose RDD has a storage level (a
    * frame made by `createDataFrame` over an unpersisted RDD is not one).
    * A walk of the plan on the driver: it runs no job. A released
    * checkpoint keeps its storage level, so it is still listed. */
  def checkpointsOf(ds: Dataset[_]): Seq[RDD[_]] =
    ds.queryExecution.analyzed.collectWithSubqueries {
      case r: LogicalRDD if r.rdd.getStorageLevel != StorageLevel.NONE => r.rdd
    }.distinctBy(_.id)

  /** Driver-side overlap pool for independent Spark actions (guide §2.6).
    * A cached DAEMON pool never starves on blocked threads: a driver
    * action is an I/O-shaped wait, 2–6 in flight is the normal case, and
    * idle threads are reclaimed after 60 s. Only [[concurrently]] submits
    * to it. */
  private lazy val actionEc: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-action")
      t.setDaemon(true)
      t
    })

  /** Runs independent driver actions (the legs) concurrently and returns
    * their results in input order. Every leg finishes before this returns
    * or throws: a failed leg never leaves a sibling submitting jobs
    * against frames the caller is about to release. The first failure in
    * input order is rethrown, later ones attached as suppressed. A leg may
    * itself call `concurrently` (the pool grows instead of starving). */
  def concurrently[T](legs: Seq[() => T]): Seq[T] = {
    import scala.jdk.CollectionConverters._
    val tasks = legs.map(leg => (() => leg()): java.util.concurrent.Callable[T])
    val done = actionEc.invokeAll(tasks.asJava).asScala.toSeq
    val failures = done.flatMap { f =>
      try { f.get(); None }
      catch { case e: java.util.concurrent.ExecutionException => Some(e.getCause) }
    }
    failures.headOption.foreach { first =>
      failures.tail.filter(_ ne first).foreach(first.addSuppressed)
      throw first
    }
    done.map(_.get())
  }

  /** Scratch dir for landing zones / stage handoffs, keyed by the input dir
    * so different scale factors never collide. Rooted at the process working
    * directory (overridable via `graft.scratch.dir`) rather than a hardcoded
    * absolute path. */
  def scratch(dir: String, name: String): String = {
    val base = sys.props.getOrElse("graft.scratch.dir",
      s"${sys.props("user.dir")}/target/graft-scratch")
    s"$base/${dirTag(dir)}/$name"
  }

  /** Writes `v` to `f` through a temp file and an ATOMIC_MOVE, so a
    * concurrent reader sees the old content or the new, never a torn
    * one. */
  def writeAtomic(f: java.nio.file.Path, v: String): Unit = {
    java.nio.file.Files.createDirectories(f.getParent)
    val tmp = java.nio.file.Files.createTempFile(f.getParent, f.getFileName.toString, ".tmp")
    java.nio.file.Files.writeString(tmp, v)
    java.nio.file.Files.move(tmp, f, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Cheap content signature of one or more source parquet tables (file
    * names + sizes + mtimes, hashed): used to key derived layouts (landing
    * zones, bucketed tables) so regenerated source data can never be served
    * from a stale derived copy — mtime catches a regenerated table whose
    * files happen to keep the same names and byte sizes. */
  def sourceSig(spark: SparkSession, dir: String, names: String*): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val parts = names.flatMap { n =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$n.parquet")
      p.getFileSystem(conf).listStatus(p)
        .map(st => s"$n/${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
    }
    java.security.MessageDigest.getInstance("MD5")
      .digest(parts.sorted.mkString("|").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
  }

  /** The `events` table with its timestamp column normalized to MICROSECOND
    * LONGS (`us`) — the one place the events-time contract lives. The driver
    * has shipped `ts` in two physical shapes across rounds: INT64 nanoseconds
    * (read as LONG under `spark.sql.legacy.parquet.nanosAsLong=true`, where
    * ns→µs is an integer `div 1000` — the same truncation DuckDB applies) and
    * a native parquet TIMESTAMP(MICROS). This adapter dispatches on the
    * *observed* schema so both shapes land on identical epoch-micros longs;
    * sessions run with `spark.sql.session.timeZone=UTC`, so the NTZ→micros
    * conversion equals DuckDB's `epoch_us(ts)`. Consumers that want an
    * epoch-micros long (sessionization arithmetic) read `us`; consumers that
    * want a timestamp use [[events]]. */
  def eventsUs(spark: SparkSession, dir: String): DataFrame = {
    val raw = tbl(spark, dir, "events")
    val us = raw.schema("ts").dataType match {
      case LongType         => expr("ts div 1000")            // int64 nanos → µs
      case TimestampNTZType =>
        // the NTZ→TimestampType cast below is tz-SENSITIVE: it reinterprets
        // the wall-clock fields in the session zone, so any zone other than
        // UTC would shift every event time and surface only as downstream
        // hash mismatches — fail loudly here instead (round-11 ADVICE)
        val tz = spark.conf.get("spark.sql.session.timeZone")
        // compare zone RULES, not the id string: Etc/UTC, GMT, +00:00 are
        // all exactly UTC and must not fail a correct deployment
        val isUtc = try {
          java.time.ZoneId.of(tz).getRules.isFixedOffset &&
            java.time.ZoneId.of(tz).getRules.getOffset(java.time.Instant.EPOCH)
              .getTotalSeconds == 0
        } catch { case _: java.time.DateTimeException => false }
        require(isUtc,
          s"events.ts is TIMESTAMP_NTZ and spark.sql.session.timeZone=$tz; " +
            "the NTZ→micros conversion is only oracle-equivalent under UTC — " +
            "set the session timezone to UTC (Verify/Bench/specs all do)")
        unix_micros(col("ts").cast(TimestampType))
      case TimestampType    => unix_micros(col("ts"))
      case other => throw new IllegalStateException(
        s"events.ts has unsupported type $other (expected LONG nanos or TIMESTAMP)")
    }
    raw.withColumn("ts", us) // in-place: keeps column position
      .withColumnRenamed("ts", "us")
  }

  /** [[eventsUs]] with the micros re-surfaced as a microsecond
    * TIMESTAMP_NTZ `ts` column (the shape most calendar/window queries
    * want). Derived, so the truncation rule cannot diverge between the
    * long and timestamp views. */
  def events(spark: SparkSession, dir: String): DataFrame =
    eventsUs(spark, dir)
      .withColumn("us", expr("timestamp_micros(us)").cast(TimestampNTZType))
      .withColumnRenamed("us", "ts")

  // ---------------------------------------------------------------------
  // Determinism helpers for oracle (DuckDB) hash-parity.
  //
  // Floating-point SUM/AVG is evaluation-order-dependent, and Spark and
  // DuckDB will not add doubles in the same order. Money math therefore
  // goes through exact DecimalType: cast each input to DECIMAL(18,2),
  // sum exactly (associative), and only then convert to double for
  // ratios — both engines then perform identical IEEE ops on identical
  // inputs, giving bit-equal results at any parallelism/scale.
  // ---------------------------------------------------------------------

  /** Exact 2-dp decimal view of a (possibly double) money column. */
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Exact money sum normalized to DECIMAL(38,2) (matches the oracle's
    * `CAST(sum(CAST(x AS DECIMAL(18,2))) AS DECIMAL(38,2))`). Keep this for
    * *intermediate* math; final outputs should go through [[moneySumD]]. */
  def moneySum(c: Column): Column = sum(dec2(c)).cast(DecimalType(38, 2))

  /** [[moneySum]] converted to DOUBLE for final output. The sum itself is
    * exact decimal (order-insensitive); the one final decimal→double
    * conversion is exact while |sum| < 2^53/100 ≈ 9e13, so both engines
    * emit identical doubles. Final outputs use DOUBLE rather than decimal
    * because the two engines' client layers render decimals differently
    * (trailing zeros, scale), which breaks value-hash comparison even when
    * the numbers are equal. Oracle twin:
    * `CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE)`. */
  def moneySumD(c: Column): Column = sum(dec2(c)).cast(DoubleType)

  /** Exact-decimal column converted to DOUBLE for final output (same
    * rationale as [[moneySumD]]). */
  def d(c: Column): Column = c.cast(DoubleType)

  /** Order-insensitive average: exact decimal sum divided as double.
    * Equivalent oracle: `CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE) /
    * CAST(count(*) AS DOUBLE)`. */
  def moneyAvg(c: Column): Column =
    sum(dec2(c)).cast(DoubleType) / count(lit(1)).cast(DoubleType)

  /** Conditional 1/0 counter that sums to BIGINT on both engines. */
  def countIf(cond: Column): Column =
    sum(when(cond, 1L).otherwise(0L))

  /** Spark day-of-week with the 0=Monday convention the reference's
    * Python/loader path uses (SURVEY.md §2.3 F9; reference
    * `loaders/warehouse_loader.py:194–204`). Oracle: `isodow(d) - 1`. */
  def dowMon0(c: Column): Column =
    ((dayofweek(c) + lit(5)) % lit(7)).cast(IntegerType)

  /** `yyyyMMdd` integer date key (reference `warehouse_loader.py:196`).
    * Oracle: `CAST(strftime(d, '%Y%m%d') AS INTEGER)`. */
  def dateKey(c: Column): Column =
    date_format(c, "yyyyMMdd").cast(IntegerType)

  /** Drops a dead frame's blocks mid-query. A localCheckpoint is a
    * LogicalRDD leaf over a persisted RDD the cache manager never sees, so
    * `Dataset.unpersist` alone leaves its blocks cached until the RDD is
    * garbage-collected or [[releaseSessionState]] runs; this unpersists
    * the RDD itself. Any other frame goes through `Dataset.unpersist`,
    * which only drops a `cache()`/`persist()` entry. A checkpoint has no
    * lineage: reading one after its release fails the job, so release
    * only what nothing will read again. RDDs are dropped through
    * [[org.apache.spark.graft.RddRelease]], which skips `RDD.unpersist`'s
    * per-call "lineage has been truncated" warning. */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case ckpt: org.apache.spark.sql.execution.LogicalRDD =>
      org.apache.spark.graft.RddRelease(ckpt.rdd)
    case _ => df.unpersist(false)
  }

  /** Release every block a query may have left in session memory: the
    * catalog cache AND raw RDD-level persists. `localCheckpoint` blocks
    * live outside the CacheManager, so `clearCache()` alone left them
    * pinned for the rest of the session (the round-9 suite-inflation
    * suspect); Verify and Bench call this between queries so each
    * measurement starts from a cold cache pool. Safe between queries —
    * results are already materialized — but NOT mid-query: an unpersisted
    * localCheckpoint cannot be recomputed (its lineage is truncated). */
  def releaseSessionState(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(org.apache.spark.graft.RddRelease(_))
  }
}
