package graft.pipeline

import graft.core._
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}
import java.nio.file.{Files, NoSuchFileException, Path, Paths}

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
  *
  * `metrics` are the aggregate control totals the model reports in the
  * run log ([[ModelLog]]), observed on the pass that writes a mart: a mart
  * always reports `rows` before them, and a staging model's are observed
  * on the write of the one mart that reads it.
  */
final case class ModelDef(
    name: String,
    deps: Seq[String],
    mart: Boolean,
    // append-materialized mart (an incremental fact): each run ADDS the
    // batch to the table instead of rebuilding it — the dbt
    // `materialized: incremental` posture
    append: Boolean = false,
    metrics: Seq[Column] = Nil)(
    val build: (SparkSession, String, String => DataFrame) => DataFrame)

/** One model's entry in a run log (the reference's `etl_run_log` row,
  * `warehouse/target_schema.sql:87–98`): the aggregates the model
  * reported — `rows` and then its declared metrics for a mart, its
  * declared metrics (possibly none) for a staging model — and its wall
  * time: the build, plus the write and read-back for a mart. */
final case class ModelLog(metrics: Row, wallMs: Long)

/** One registry run: the models' frames (a staging model's lazy frame, a
  * mart's read-back) and the run log. */
final case class DagRun(frames: Map[String, DataFrame], log: Map[String, ModelLog]) {
  def apply(name: String): DataFrame = frames(name)

  /** The value of `name` that `model` reported in this run. */
  def metric[T](model: String, name: String): T = log(model).metrics.getAs[T](name)
}

/** Materialize-once access to registry MARTS, shared by every train-once
  * artifact (cluster labels, the bigram/trigram LM models, the ANN
  * indexes): the DAG runs the first time a session asks for it at a corpus
  * snapshot (the `sourceSig` of the registry's `sources`, through
  * [[graft.core.snapshotMemo]]), its marts land under
  * `<prefixTag>_<sourceSig>` in scratch, and every later call returns the
  * same read-back frames. This is the pipeline posture at 100 TB:
  * training is the expensive step, its output is tiny, so it is paid once
  * per corpus snapshot, never once per consumer. Only the mart frames are
  * remembered: they read files, and the local checkpoints their builders
  * made were freed by [[ModelRegistry.run]] after each write. */
object MartCache {
  def read(spark: SparkSession, dir: String, dag: ModelRegistry,
      prefixTag: String, viewPrefix: String, names: String*): Seq[DataFrame] = {
    // an append model's file set grows on every run, so a remembered
    // read-back would list stale files forever
    require(!dag.hasAppend,
      s"MartCache.read remembers read-back frames; append models must be read directly ($prefixTag)")
    val built = snapshotMemo(spark, s"mart:$prefixTag", dir, dag.sources: _*) {
      dag.run(spark, dir, viewPrefix = viewPrefix,
        martPrefix = s"${prefixTag}_${sourceSig(spark, dir, dag.sources: _*)}")
        .frames.filter { case (name, _) => dag.marts(name) }
    }
    names.map(built)
  }
}

/** `sources` names the input tables the models read: their
  * [[graft.core.sourceSig]] is the snapshot a run's commit record and the
  * [[MartCache]] key name. */
final class ModelRegistry(val sources: Seq[String], val models: Seq[ModelDef]) {

  private val byName: Map[String, ModelDef] = {
    val dup = models.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dup.isEmpty, s"duplicate model names: ${dup.mkString(", ")}")
    models.map(m => m.name -> m).toMap
  }

  /** Whether any model appends to its table on every run. */
  val hasAppend: Boolean = models.exists(_.append)

  /** The names of the models written as tables. */
  val marts: Set[String] = models.filter(_.mart).map(_.name).toSet
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

  // A staging model's metrics are observed on the write of the mart that
  // reads it, so exactly one mart must read it (directly or through other
  // staging models): with none its observation never completes, with two
  // the metric would ride both writes.
  locally {
    val readers = models.flatMap(m => m.deps.map(_ -> m)).groupMap(_._1)(_._2)
    def martsReading(name: String): Set[String] =
      readers.getOrElse(name, Nil).flatMap(r =>
        if (r.mart) Set(r.name) else martsReading(r.name)).toSet
    val bad = for (m <- models if !m.mart && m.metrics.nonEmpty;
      read = martsReading(m.name).toSeq.sorted if read.size != 1)
      yield s"${m.name} (read by ${if (read.isEmpty) "no mart" else read.mkString(", ")})"
    require(bad.isEmpty,
      s"a staging model with metrics must be read by exactly one mart: ${bad.mkString(", ")}")
  }

  /** Build every model in dependency order and commit the run. Staging
    * views are registered as `<prefix><name>`; mart tables land under
    * `scratch(dir, "<martPrefix>/<name>")` (append-marts accumulate across
    * runs; the read-back below always reflects the whole table, so
    * downstream models see the accumulated state). A mart is read back
    * with the schema of the frame just written, so no footer-inference
    * job runs.
    *
    * Each model's metrics (a mart's `rows` first) are observed on the
    * write pass, one fresh `Observation` per model and run, and land in
    * the returned run log with the model's wall time. The run deletes its
    * commit record before the first write and writes it atomically after
    * the last one: the source snapshot, the application id, each mart's
    * schema and the run log ([[committed]] trusts it).
    *
    * After a mart's write, the registry frees every local checkpoint the
    * written frame reads ([[graft.core.checkpointsOf]]), except those an
    * earlier model's frame reads: a staging frame stays lazy and is
    * returned, so its checkpoints wait for `releaseSessionState`. A
    * builder therefore returns its result lazily and releases only what
    * that result no longer reads (a checkpoint behind another
    * checkpoint). */
  def run(spark: SparkSession, dir: String, viewPrefix: String = "graft_mdl_",
      martPrefix: String = "marts"): DagRun = {
    val snapshot = sourceSig(spark, dir, sources: _*)
    val record = recordPath(dir, martPrefix)
    Files.deleteIfExists(record)
    // per reporting model: its observation and the schema of its metrics
    val observed = scala.collection.mutable.Map.empty[String, (Observation, StructType)]
    val written = scala.collection.mutable.Set.empty[String]
    val schemas = Seq.newBuilder[(String, StructType)]
    val (frames, wallMs) = topoOrder.foldLeft(
        (Map.empty[String, DataFrame], Map.empty[String, Long])) { case ((built, wall), name) =>
      val t0 = System.nanoTime()
      val m = byName(name)
      val reported = (if (m.mart) Seq(count(lit(1)).as("rows")) else Nil) ++ m.metrics
      val df =
        if (reported.isEmpty) m.build(spark, dir, built.apply)
        else {
          val o = Observation(s"$viewPrefix$name")
          val df = m.build(spark, dir, built.apply).observe(o, reported.head, reported.tail: _*)
          val metrics = df.queryExecution.analyzed.asInstanceOf[CollectMetrics].metrics
          observed(name) = o -> StructType(metrics.map(e => StructField(e.name, e.dataType)))
          df
        }
      val out =
        if (m.mart) {
          val loc = scratch(dir, s"$martPrefix/$name")
          df.write.mode(if (m.append) "append" else "overwrite").parquet(loc)
          written ++= df.queryExecution.analyzed.collectWithSubqueries {
            case c: CollectMetrics => c.name
          }
          val kept = built.values.flatMap(checkpointsOf).map(_.id).toSet
          checkpointsOf(df).filterNot(r => kept(r.id))
            .foreach(org.apache.spark.graft.RddRelease(_))
          schemas += name -> df.schema
          spark.read.schema(df.schema).parquet(loc)
        } else {
          df.createOrReplaceTempView(s"$viewPrefix$name")
          df
        }
      (built + (name -> out), wall + (name -> (System.nanoTime() - t0) / 1000000))
    }
    // an observation no written plan carried would block `get` forever
    val unwritten = observed.collect { case (n, (o, _)) if !written(o.name) => n }
    if (unwritten.nonEmpty) throw new IllegalStateException(
      s"metrics of ${unwritten.toSeq.sorted.mkString(", ")} were on no mart's write plan")
    val log = topoOrder.map { name =>
      val metrics = observed.get(name).fold(ModelRegistry.noMetrics) { case (o, schema) =>
        val values = o.get
        new GenericRowWithSchema(schema.fieldNames.map(values), schema)
      }
      name -> ModelLog(metrics, wallMs(name))
    }.toMap
    writeAtomic(record, ModelRegistry.encode(
      snapshot, spark.sparkContext.applicationId, topoOrder, schemas.result(), log))
    DagRun(frames, log)
  }

  /** The read-back marts of the last committed [[run]] under
    * `martPrefix`, or `None` when there is none to trust: no record (no
    * run, or one that failed after deleting it), a record of another
    * registry or another Spark application (which may run other code),
    * or one taken at another snapshot of the sources. The marts are read
    * back with their recorded schemas, so no footer job runs. */
  def committed(spark: SparkSession, dir: String,
      martPrefix: String = "marts"): Option[Map[String, DataFrame]] = {
    require(!hasAppend, "an append mart's table is not one run's output; read it directly")
    implicit val formats: Formats = DefaultFormats
    val text = try Some(Files.readString(recordPath(dir, martPrefix)))
      catch { case _: NoSuchFileException => None }
    text.map(parse(_)).collect {
      case r if (r \ "models").extract[Seq[String]] == topoOrder &&
          (r \ "app").extract[String] == spark.sparkContext.applicationId &&
          (r \ "snapshot").extract[String] == sourceSig(spark, dir, sources: _*) =>
        (r \ "marts").children.map { m =>
          val name = (m \ "name").extract[String]
          val schema = DataType.fromJson(compact(render(m \ "schema"))).asInstanceOf[StructType]
          name -> spark.read.schema(schema).parquet(scratch(dir, s"$martPrefix/$name"))
        }.toMap
    }
  }

  private def recordPath(dir: String, martPrefix: String): Path =
    Paths.get(scratch(dir, s"$martPrefix/_run_log.json"))
}

object ModelRegistry {
  private val noMetrics: Row = new GenericRowWithSchema(Array.empty, new StructType())

  /** The commit record as one JSON object. */
  private def encode(snapshot: String, app: String, models: Seq[String],
      schemas: Seq[(String, StructType)], log: Map[String, ModelLog]): String =
    compact(render(JObject(
      "snapshot" -> JString(snapshot),
      "app" -> JString(app),
      "models" -> JArray(models.map(JString(_)).toList),
      "marts" -> JArray(schemas.toList.map { case (n, s) =>
        JObject("name" -> JString(n), "schema" -> parse(s.json)) }),
      "log" -> JObject(models.toList.map { n =>
        n -> JObject("wall_ms" -> JLong(log(n).wallMs),
          "metrics" -> parse(log(n).metrics.json))
      }))))
}
