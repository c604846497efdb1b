package graft.pipeline

import graft.core._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** dbt-style model registry (SURVEY.md §3.2): named models with declared
  * dependencies, executed in dependency order — the reference's `ref()`
  * graph (reference `dbt_warehouse/dbt_project.yml:11–14`, the SQL models
  * under `models/marts/`) as a first-class runtime object instead of a
  * hand-ordered script.
  *
  * Materialization follows the reference's staging/mart split
  * (`dbt_project.yml`: staging = view, marts = table):
  *  - STAGING models stay lazy DataFrames (and are registered as temp
  *    views for SQL callers) — Catalyst inlines them into every consumer,
  *    so filters/pruning flow through exactly like a SQL view;
  *  - MART models are written to parquet under `core.scratch` and read
  *    back — a real table boundary, the same stage handoff every
  *    downstream consumer (or the next job) reads.
  *
  * Execution is Kahn's algorithm with name-ordered tie-breaking, so the
  * order is deterministic run to run; unknown dependencies and cycles fail
  * loudly at construction rather than mid-run.
  */
final case class ModelDef(
    name: String,
    deps: Seq[String],
    mart: Boolean,
    // append-materialized mart (an incremental fact): each run ADDS the
    // batch to the table instead of rebuilding it — the dbt
    // `materialized: incremental` posture
    append: Boolean = false)(
    val build: (SparkSession, String, String => DataFrame) => DataFrame)

/** Materialize-once discipline for registry MARTS, shared by every
  * train-once artifact (cluster labels, the bigram/trigram LM models): the
  * DAG runs the first time a (session, dir-at-snapshot, prefix) asks for
  * it; afterwards every consumer reads the parquet tables back. This is
  * the pipeline posture at 100 TB: training is the expensive step, its
  * output is tiny, so it is paid once per corpus snapshot, never once per
  * consumer.
  *
  * Session-state footprint: the marker map is WEAK-keyed by the session
  * (dead sessions fall out with GC) and holds only built-prefix strings —
  * no DataFrame — so `core.releaseSessionState` has nothing to evict. The
  * caller's prefix must carry the corpus snapshot signature
  * (`core.sourceSig`) so a dataset regenerated IN PLACE rebuilds the mart
  * rather than serving the dead corpus' artifact. The lock spans the DAG
  * run so a concurrent second consumer blocks until the mart exists
  * rather than reading a half-written table. */
object MartCache {
  private val built =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Set[String]]()
  def ensure(spark: SparkSession, dir: String, dag: ModelRegistry,
      martPrefix: String, viewPrefix: String): Unit =
    built.synchronized {
      val dirs = built.computeIfAbsent(spark,
        _ => scala.collection.mutable.Set[String]())
      val key = s"$dir@$martPrefix" // scratch() scopes by dir; the marker must too
      if (!dirs.contains(key)) {
        val t0 = System.nanoTime()
        dag.run(spark, dir, viewPrefix = viewPrefix, martPrefix = martPrefix)
        // one-time cost into the build ledger (r22): Bench's sidecar then
        // reports the mart family's cold-build seconds separately from the
        // steady-state samples the min-of-2 methodology keeps
        graft.core.recordBuild(s"mart:$martPrefix", (System.nanoTime() - t0) / 1e9)
        dirs += key
      }
    }

  /** THE ensure-then-read accessor every mart family uses (round-17
    * review: nine hand-kept copies of the same prefix/ensure/read
    * pattern had accumulated): the mart prefix is `<tag>_<sourceSig>` —
    * the signature of `sigSources` keys the artifact to the corpus
    * snapshot, so a dataset regenerated IN PLACE rebuilds instead of
    * serving a stale mart — and `names` are read back from scratch
    * parquet after one `ensure`. */
  // Memoized parquet HANDLES per (session, mart path) — r22: every
  // accessor call re-ran spark.read.parquet (driver-side file listing +
  // footer schema read) on a path whose contents are immutable for the
  // life of its prefix (the prefix carries the corpus snapshot signature,
  // so a regenerated corpus lands on a NEW path and a fresh handle). The
  // map stores only the DataFrame plan — a scan node, no data — so the
  // bench's releaseSessionState has nothing to evict, and the weak session
  // key lets dead sessions fall out with GC. An append-materialized
  // table's file set grows after the first read, so a memoized handle
  // would list stale files forever: `read` rejects any registry holding
  // an append model.
  private val handles = new java.util.WeakHashMap[
    SparkSession, scala.collection.mutable.Map[String, DataFrame]]()

  def read(spark: SparkSession, dir: String, dag: ModelRegistry,
      prefixTag: String, viewPrefix: String, sigSources: Seq[String],
      names: String*): Seq[org.apache.spark.sql.DataFrame] = {
    require(!dag.hasAppend,
      s"MartCache.read memoizes file listings; append models must be read directly ($prefixTag)")
    val prefix = s"${prefixTag}_${graft.core.sourceSig(spark, dir, sigSources: _*)}"
    ensure(spark, dir, dag, prefix, viewPrefix)
    names.map { n =>
      val path = graft.core.scratch(dir, s"$prefix/$n")
      handles.synchronized {
        handles.computeIfAbsent(spark,
            _ => scala.collection.mutable.Map[String, DataFrame]())
          .getOrElseUpdate(path, spark.read.parquet(path))
      }
    }
  }
}

final class ModelRegistry(models: Seq[ModelDef]) {

  private val byName: Map[String, ModelDef] = {
    val dup = models.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dup.isEmpty, s"duplicate model names: ${dup.mkString(", ")}")
    models.map(m => m.name -> m).toMap
  }

  /** Whether any model appends to its table on every run. */
  val hasAppend: Boolean = models.exists(_.append)
  locally {
    val missing = for (m <- models; d <- m.deps if !byName.contains(d))
      yield s"${m.name} -> $d"
    require(missing.isEmpty, s"unknown model dependencies: ${missing.mkString(", ")}")
  }

  /** Dependency-ordered model names (every model after all of its deps);
    * deterministic via name-sorted tie-breaking. Fails on cycles. */
  val topoOrder: Seq[String] = {
    val indeg = scala.collection.mutable.Map(
      models.map(m => m.name -> m.deps.size): _*)
    val dependents = models.flatMap(m => m.deps.map(_ -> m.name))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val ready = scala.collection.mutable.SortedSet(
      models.collect { case m if m.deps.isEmpty => m.name }: _*)
    val out = Seq.newBuilder[String]
    var n = 0
    while (ready.nonEmpty) {
      val name = ready.head; ready.remove(name)
      out += name; n += 1
      for (d <- dependents.getOrElse(name, Nil)) {
        indeg(d) -= 1
        if (indeg(d) == 0) ready.add(d)
      }
    }
    require(n == models.size, {
      val stuck = indeg.collect { case (m, d) if d > 0 => m }
      s"dependency cycle among: ${stuck.toSeq.sorted.mkString(", ")}"
    })
    out.result()
  }

  /** Build every model in dependency order; returns name → materialized
    * frame. Staging views are registered as `<prefix><name>`; mart tables
    * land under `scratch(dir, "<martPrefix>/<name>")` (append-marts
    * accumulate across runs; the read-back below always reflects the
    * whole table, so downstream models see the accumulated state). */
  def run(spark: SparkSession, dir: String, viewPrefix: String = "graft_mdl_",
      martPrefix: String = "marts"): Map[String, DataFrame] =
    topoOrder.foldLeft(Map.empty[String, DataFrame]) { (built, name) =>
      val m = byName(name)
      val df = m.build(spark, dir, built.apply)
      val out =
        if (m.mart) {
          val loc = scratch(dir, s"$martPrefix/$name")
          df.write.mode(if (m.append) "append" else "overwrite").parquet(loc)
          spark.read.parquet(loc)
        } else {
          df.createOrReplaceTempView(s"$viewPrefix$name")
          df
        }
      built + (name -> out)
    }
}
