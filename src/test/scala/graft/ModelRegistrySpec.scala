package graft

import org.apache.spark.sql.functions._
import pipeline.{ModelDef, ModelRegistry}

/** The dbt-style model registry: dependency-ordered execution, loud
  * failures for bad graphs, and the staging-view / mart-table split. */
class ModelRegistrySpec extends SparkSpec {

  test("topoOrder places every model after all of its dependencies, deterministically") {
    val order = pipeline.Pipeline.dailyDag.topoOrder
    val pos = order.zipWithIndex.toMap
    val deps = Map(
      "stg_src" -> Seq("stg_orders"),
      "stg_valid" -> Seq("stg_src", "stg_customer"),
      "dim_customer" -> Seq("stg_customer"),
      "dim_date" -> Seq("stg_orders"),
      "fact_orders" -> Seq("stg_valid", "dim_customer", "dim_date"),
      "fact_daily" -> Seq("fact_orders"))
    for ((m, ds) <- deps; d <- ds)
      assert(pos(d) < pos(m), s"$d must build before $m (order: $order)")
    assert(order === pipeline.Pipeline.dailyDag.topoOrder, "order not stable")
  }

  test("cycles and unknown dependencies fail at construction, not mid-run") {
    val cycleEx = intercept[IllegalArgumentException] {
      new ModelRegistry(Nil, Seq(
        ModelDef("a", Seq("b"), mart = false) { (_, _, _) => spark.range(1).toDF() },
        ModelDef("b", Seq("a"), mart = false) { (_, _, _) => spark.range(1).toDF() }
      )).topoOrder
    }
    assert(cycleEx.getMessage.contains("cycle"))
    val unknownEx = intercept[IllegalArgumentException] {
      new ModelRegistry(Nil, Seq(
        ModelDef("a", Seq("nope"), mart = false) { (_, _, _) => spark.range(1).toDF() }))
    }
    assert(unknownEx.getMessage.contains("unknown"))
  }

  test("staging models register as temp views; marts materialize as parquet tables") {
    val reg = new ModelRegistry(Nil, Seq(
      ModelDef("stg_probe", Nil, mart = false) { (s, _, _) =>
        s.range(5).select(col("id").as("k"))
      },
      ModelDef("mart_probe", Seq("stg_probe"), mart = true) { (_, _, ref) =>
        ref("stg_probe").agg(count(lit(1)).as("n"))
      }))
    val built = reg.run(spark, sfDir)
    // staging → SQL-visible view, lazily inlined
    assert(spark.sql("SELECT count(*) AS c FROM graft_mdl_stg_probe")
      .head().getLong(0) === 5L)
    // mart → real files on disk, and the returned frame reads them
    val loc = new java.io.File(core.scratch(sfDir, "marts/mart_probe"))
    assert(loc.isDirectory && loc.listFiles().nonEmpty, "mart not materialized")
    assert(built("mart_probe").head().getLong(0) === 5L)
  }

  test("after a mart's write the registry frees the checkpoints it read, not a staging dependency's") {
    var build = Seq.empty[Int]
    var staged = Seq.empty[Int]
    val reg = new ModelRegistry(Nil, Seq(
      ModelDef("stg_ckpt", Nil, mart = false) { (s, _, _) =>
        val stg = s.range(6).toDF("k").localCheckpoint(true)
        staged = core.checkpointsOf(stg).map(_.id)
        stg
      },
      ModelDef("mart_ckpt", Seq("stg_ckpt"), mart = true) { (s, _, ref) =>
        val a = s.range(3).toDF("k").localCheckpoint(true)
        val b = s.range(3, 5).toDF("k").localCheckpoint(true)
        build = Seq(a, b).flatMap(core.checkpointsOf).map(_.id)
        a.unionByName(b).unionByName(ref("stg_ckpt"))
      }))
    val (built, left) = persistsOf(
      reg.run(spark, sfDir, viewPrefix = "graft_ckpt_probe_", martPrefix = "ckpt_probe"))
    assert(build.size == 2 && staged.size == 1)
    assert(left == staged.toSet, s"left behind $left; build checkpoints $build, staging $staged")
    assert(built("mart_ckpt").count() === 11L)
    assert(built("stg_ckpt").count() === 6L)
  }

  test("an append mart's build checkpoints are freed after every write") {
    var build = Seq.empty[Int]
    val reg = new ModelRegistry(Nil, Seq(
      ModelDef("mart_ckpt_append", Nil, mart = true, append = true) { (s, _, _) =>
        val a = s.range(4).toDF("k").localCheckpoint(true)
        build ++= core.checkpointsOf(a).map(_.id)
        a
      }))
    val prefix = s"ckpt_append_${System.nanoTime()}"
    val (rows, left) = persistsOf(Seq.fill(2)(
      reg.run(spark, sfDir, martPrefix = prefix)("mart_ckpt_append").count()))
    assert(rows === Seq(4L, 8L))
    assert(build.size == 2 && left.isEmpty, s"left behind $left; build checkpoints $build")
  }

  test("MartCache.read rejects a registry holding an append mart") {
    val reg = new ModelRegistry(Seq("documents"), Seq(
      ModelDef("mart_appended", Nil, mart = true, append = true) { (s, _, _) =>
        s.range(3).toDF("k")
      }))
    val ex = intercept[IllegalArgumentException] {
      pipeline.MartCache.read(spark, sfDir, reg, "append_probe", "graft_append_probe_",
        "mart_appended")
    }
    assert(ex.getMessage.contains("append"))
  }

  test("the corpus DAG topo-orders its stages and packs consistent shard offsets") {
    val order = pipeline.Pipeline.corpusDag.topoOrder
    val stages = Seq("stg_corpus_raw", "stg_corpus_norm", "stg_corpus_kept",
      "mart_corpus", "mart_packed", "mart_shards")
    for (Seq(a, b) <- stages.sliding(2))
      assert(order.indexOf(a) < order.indexOf(b), s"$a not ordered before $b")
    val outs = pipeline.Pipeline.corpusDag.run(spark, sfDir,
      viewPrefix = "graft_corpus_", martPrefix = "corpus_marts")
    // re-verify the packed offsets on the driver: within each shard,
    // tok_start must be the exact running sum of earlier docs' tokens
    val packed = outs("mart_packed")
      .select("shard", "doc_id", "n_toks", "tok_start")
      .orderBy("shard", "doc_id").collect()
    var curShard = -1L
    var running = 0L
    for (r <- packed) {
      val (shard, toks, start) = (r.getLong(0), r.getLong(2), r.getLong(3))
      if (shard != curShard) { curShard = shard; running = 0L }
      assert(start === running,
        s"shard $shard doc ${r.getLong(1)}: tok_start $start != running sum $running")
      running += toks
    }
  }

  test("the registry-built pipeline marts agree with the summary row") {
    // collect the summary BEFORE re-running the dag: each run overwrites
    // the mart files, invalidating frames handed out by a previous run
    val summary = pipeline.Pipeline.pipelineE2e.run(spark, sfDir).head()
    val built = pipeline.Pipeline.dailyDag.run(spark, sfDir)
    assert(built("fact_orders").count() === summary.getAs[Long]("fact_rows"))
    assert(built("fact_daily").count() === summary.getAs[Long]("fact_daily_rows"))
    assert(built("dim_customer").count() === summary.getAs[Long]("dim_customer_rows"))
  }

  test("the run log's rows of every mart equal the count of its read-back") {
    val dag = pipeline.Pipeline.dailyDag
    val run = dag.run(spark, sfDir)
    for (m <- dag.marts)
      assert(run.metric[Long](m, "rows") === run(m).count(), s"mart $m")
    assert(run.log.keySet === dag.topoOrder.toSet)
  }

  test("a declared staging metric equals the count of the staging frame") {
    val run = pipeline.Pipeline.dailyDag.run(spark, sfDir)
    for (m <- Seq("stg_src", "stg_valid"))
      assert(run.metric[Long](m, "n") === run(m).count(), s"staging model $m")
  }

  test("a staging model with metrics must be read by exactly one mart, checked at construction") {
    val n = Seq(count(lit(1)).as("n"))
    def stg(name: String, deps: String*) = ModelDef(name, deps, mart = false,
      metrics = if (deps.isEmpty) n else Nil) { (s, _, _) => s.range(3).toDF("k") }
    def mart(name: String, deps: String*) =
      ModelDef(name, deps, mart = true) { (_, _, ref) => ref(deps.head) }
    val none = intercept[IllegalArgumentException] {
      new ModelRegistry(Nil, Seq(stg("stg_m"), stg("stg_mid", "stg_m")))
    }
    assert(none.getMessage.contains("stg_m (read by no mart)"), none.getMessage)
    val two = intercept[IllegalArgumentException] {
      new ModelRegistry(Nil, Seq(stg("stg_m"), stg("stg_mid", "stg_m"),
        mart("mart_a", "stg_m"), mart("mart_b", "stg_mid")))
    }
    assert(two.getMessage.contains("stg_m (read by mart_a, mart_b)"), two.getMessage)
    // one mart through a staging model, and marts reading that mart, pass
    new ModelRegistry(Nil, Seq(stg("stg_m"), stg("stg_mid", "stg_m"),
      mart("mart_a", "stg_mid"), mart("mart_b", "mart_a")))
  }

  test("a run whose later model throws leaves no commit record") {
    var fail = false
    val reg = new ModelRegistry(Nil, Seq(
      ModelDef("mart_early", Nil, mart = true) { (s, _, _) => s.range(3).toDF("k") },
      ModelDef("mart_late", Seq("mart_early"), mart = true) { (_, _, ref) =>
        if (fail) throw new IllegalStateException("late model failed")
        ref("mart_early")
      }))
    reg.run(spark, sfDir, martPrefix = "commit_probe")
    assert(reg.committed(spark, sfDir, "commit_probe").map(_("mart_late").count()) === Some(3L))
    fail = true
    intercept[IllegalStateException](reg.run(spark, sfDir, martPrefix = "commit_probe"))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(core.scratch(sfDir, "commit_probe/_run_log.json"))))
    assert(reg.committed(spark, sfDir, "commit_probe").isEmpty)
  }

  test("committed returns the run's marts, and None once a source file changes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-commit-snapshot")
    val dag = pipeline.Pipeline.dailyDag
    try {
      // a table is one parquet file or a directory of them
      val files = for (t <- dag.sources;
        from = java.nio.file.Paths.get(s"$sfDir/$t.parquet");
        f <- if (from.toFile.isDirectory) from.toFile.listFiles().toSeq.map(_.toPath) else Seq(from))
        yield {
          val to = dir.resolve(java.nio.file.Paths.get(sfDir).relativize(f).toString)
          java.nio.file.Files.createDirectories(to.getParent)
          java.nio.file.Files.copy(f, to)
        }
      val run = dag.run(spark, dir.toString)
      val back = dag.committed(spark, dir.toString)
      assert(back.map(_.keySet) === Some(dag.marts))
      for (m <- dag.marts)
        assert(back.get(m).count() === run.metric[Long](m, "rows"), s"mart $m")
      val changed = files.find(_.toString.contains("customer.parquet")).get.toFile
      assert(changed.setLastModified(changed.lastModified() + 60000L))
      assert(dag.committed(spark, dir.toString).isEmpty)
    } finally {
      for (d <- Seq(dir.toString, core.scratch(dir.toString, ""))) {
        val p = new org.apache.hadoop.fs.Path(d)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
    }
  }

  test("committed returns None for a record written by another application") {
    val dag = pipeline.Pipeline.dailyDag
    dag.run(spark, sfDir, martPrefix = "app_probe")
    assert(dag.committed(spark, sfDir, "app_probe").isDefined)
    val record = java.nio.file.Paths.get(core.scratch(sfDir, "app_probe/_run_log.json"))
    val app = s"\"app\":\"${spark.sparkContext.applicationId}\""
    val text = java.nio.file.Files.readString(record)
    assert(text.contains(app))
    java.nio.file.Files.writeString(record, text.replace(app, "\"app\":\"local-other\""))
    assert(dag.committed(spark, sfDir, "app_probe").isEmpty)
  }

  test("every file a daily DAG frame reads lies under a declared source or its mart prefix") {
    val dag = pipeline.Pipeline.dailyDag
    val run = dag.run(spark, sfDir)
    def path(f: String) = new org.apache.hadoop.fs.Path(f).toUri.getPath
    val allowed = dag.sources.map(t => path(s"$sfDir/$t.parquet")) :+
      path(core.scratch(sfDir, "marts"))
    val built = dag.models.filter(_.mart).map(m => m.name -> m.build(spark, sfDir, run.apply))
    for ((name, df) <- run.frames.toSeq ++ built; f <- df.inputFiles)
      assert(allowed.exists(a => path(f) == a || path(f).startsWith(a + "/")),
        s"$name reads $f, outside $allowed")
  }

  test("pipeline_e2e runs no Spark job after its last mart write") {
    val dag = pipeline.Pipeline.dailyDag
    dag.run(spark, sfDir)
    val (_, dagJobs) = jobsOf(dag.run(spark, sfDir))
    val (rows, gateJobs) = jobsOf(pipeline.Pipeline.pipelineE2e.run(spark, sfDir).collect())
    assert(rows.length === 1)
    assert(gateJobs === dagJobs, s"the gate ran ${gateJobs - dagJobs} jobs beyond its DAG's")
  }
}
