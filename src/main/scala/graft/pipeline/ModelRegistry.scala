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

/** Materialize-once access to registry MARTS, shared by every train-once
  * artifact (cluster labels, the bigram/trigram LM models, the ANN
  * indexes): the DAG runs the first time a session asks for it at a corpus
  * snapshot (the `sourceSig` of `sigSources`, through
  * [[graft.core.snapshotMemo]]), its marts land under
  * `<prefixTag>_<sourceSig>` in scratch, and every later call returns the
  * same read-back frames. This is the pipeline posture at 100 TB:
  * training is the expensive step, its output is tiny, so it is paid once
  * per corpus snapshot, never once per consumer. */
object MartCache {
  def read(spark: SparkSession, dir: String, dag: ModelRegistry,
      prefixTag: String, viewPrefix: String, sigSources: Seq[String],
      names: String*): Seq[DataFrame] = {
    // an append model's file set grows on every run, so a remembered
    // read-back would list stale files forever
    require(!dag.hasAppend,
      s"MartCache.read remembers read-back frames; append models must be read directly ($prefixTag)")
    val built = snapshotMemo(spark, s"mart:$prefixTag", dir, sigSources: _*) {
      dag.run(spark, dir, viewPrefix = viewPrefix,
        martPrefix = s"${prefixTag}_${sourceSig(spark, dir, sigSources: _*)}")
    }
    names.map(built)
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
    * whole table, so downstream models see the accumulated state). A mart
    * is read back with the schema of the frame just written, so no
    * footer-inference job runs. */
  def run(spark: SparkSession, dir: String, viewPrefix: String = "graft_mdl_",
      martPrefix: String = "marts"): Map[String, DataFrame] =
    topoOrder.foldLeft(Map.empty[String, DataFrame]) { (built, name) =>
      val m = byName(name)
      val df = m.build(spark, dir, built.apply)
      val out =
        if (m.mart) {
          val loc = scratch(dir, s"$martPrefix/$name")
          df.write.mode(if (m.append) "append" else "overwrite").parquet(loc)
          spark.read.schema(df.schema).parquet(loc)
        } else {
          df.createOrReplaceTempView(s"$viewPrefix$name")
          df
        }
      built + (name -> out)
    }
}
