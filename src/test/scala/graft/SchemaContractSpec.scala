package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import pipeline.{ModelDef, ModelRegistry}

/** Declared-schema contracts for the driver-generated tables (SURVEY.md
  * §1.3: explicit StructType per source, asserted on read). The engine's
  * oracles, planted-dup offsets, and watermark gates all assume these
  * shapes — a regenerated fixture that drifts (new column, widened type,
  * ns→µs timestamps) should fail HERE with a readable diff, not as a
  * mysterious hash mismatch three gates downstream. `events.ts` admits the
  * shapes the driver has actually shipped (INT64 nanos via nanosAsLong=true,
  * native TIMESTAMP(MICROS)); core.eventsUs owns the normalization.
  * `core.tbl` pins each schema per (session, table snapshot) and mart
  * read-backs reuse the written frame's schema; the pin tests below show
  * neither serves a stale shape nor runs an inference job. */
class SchemaContractSpec extends SparkSpec {

  private val expected: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq(
      "r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq(
      "n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Seq(
      "c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Seq(
      "s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Seq(
      "p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Seq(
      "o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> Seq(
      "l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "events" -> Seq(
      "event_id" -> LongType,
      // The driver has shipped ts as INT64 nanos (read as LONG via
      // nanosAsLong=true) and as native TIMESTAMP(MICROS) in different
      // rounds; core.eventsUs adapts to both, so the contract admits both.
      "ts" -> TimestampNTZType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> Seq(
      "doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> Seq(
      "vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
      "label" -> IntegerType))

  /** Alternate types the contract also admits, keyed by (table, column):
    * shapes the driver has actually shipped in past rounds and that the
    * engine's read adapters normalize away. */
  private val alsoAllowed: Map[(String, String), Set[DataType]] = Map(
    ("events", "ts") -> Set[DataType](LongType, TimestampType))

  test("every driver table matches its declared schema (names, types, order)") {
    val diffs = core.tableNames.flatMap { t =>
      val got = core.tbl(spark, sfDir, t).schema.fields
        .map(f => (f.name, f.dataType)).toSeq
      val want = expected(t)
      val ok = got.size == want.size && got.zip(want).forall {
        case ((gn, gt), (wn, wt)) =>
          gn == wn && (gt == wt || alsoAllowed.getOrElse((t, gn), Set.empty)(gt))
      }
      if (ok) None
      else Some(s"$t:\n  want ${want.map { case (n, d) => (n, d.simpleString) }}" +
        s"\n  got  ${got.map { case (n, d) => (n, d.simpleString) }}")
    }
    assert(diffs.isEmpty, s"schema drift:\n${diffs.mkString("\n")}")
  }

  test("the contract covers every shipped table and nothing more") {
    assert(expected.keySet === core.tableNames.toSet)
  }

  /** Removes a directory tree (no-op if absent). */
  private def deleteTree(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** A fresh directory holding a copy of `name` from the fixture. */
  private def copyOf(name: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-schema-pin").toString
    core.tbl(spark, sfDir, name).write.parquet(s"$dir/$name.parquet")
    dir
  }

  test("a table rewritten in place with a new column type reads back with the new type") {
    val dir = copyOf("region")
    try {
      assert(core.tbl(spark, dir, "region").schema("r_regionkey").dataType === IntegerType)
      core.tbl(spark, sfDir, "region")
        .withColumn("r_regionkey", col("r_regionkey").cast(LongType))
        .write.mode("overwrite").parquet(s"$dir/region.parquet")
      val again = core.tbl(spark, dir, "region")
      assert(again.schema("r_regionkey").dataType === LongType,
        "core.tbl served the schema pinned for the table's previous snapshot")
      assert(again.count() === core.tbl(spark, sfDir, "region").count())
    } finally deleteTree(dir)
  }

  test("a second core.tbl schema on an unchanged table runs no job") {
    val dir = copyOf("nation")
    try {
      assert(jobsOf(core.tbl(spark, dir, "nation").schema)._2 >= 1, "the first read infers the schema")
      assert(jobsOf(core.tbl(spark, dir, "nation").schema)._2 === 0)
    } finally deleteTree(dir)
  }

  test("a ModelRegistry mart read-back runs no schema-inference job") {
    def frame = spark.range(3).select(col("id").cast(IntegerType).as("k"))
    val reg = new ModelRegistry(Nil, Seq(
      ModelDef("mart_pin_probe", Nil, mart = true) { (_, _, _) => frame }))
    val (_, writeJobs) = jobsOf(frame.write.mode("overwrite")
      .parquet(core.scratch(sfDir, "pin_probe_bare/mart_pin_probe")))
    val (built, runJobs) = jobsOf(reg.run(spark, sfDir, martPrefix = "pin_probe_marts"))
    assert(runJobs === writeJobs, "the read-back ran jobs beyond the mart's write")
    assert(built("mart_pin_probe").schema.map(f => (f.name, f.dataType)) ===
      Seq("k" -> IntegerType))
  }

  test("an append mart run twice reads back both batches with the built frame's schema") {
    def batch(s: org.apache.spark.sql.SparkSession) =
      s.range(3).select(col("id").cast(ShortType).as("k"), lit("x").as("tag"))
    val reg = new ModelRegistry(Nil, Seq(
      ModelDef("mart_pin_append", Nil, mart = true, append = true) { (s, _, _) => batch(s) }))
    deleteTree(core.scratch(sfDir, "pin_append_marts"))
    reg.run(spark, sfDir, martPrefix = "pin_append_marts")
    val out = reg.run(spark, sfDir, martPrefix = "pin_append_marts")("mart_pin_append")
    assert(out.schema.map(f => (f.name, f.dataType)) ===
      batch(spark).schema.map(f => (f.name, f.dataType)))
    assert(out.groupBy("k").count().collect().map(r => (r.getShort(0), r.getLong(1))).sorted.toSeq ===
      Seq((0: Short) -> 2L, (1: Short) -> 2L, (2: Short) -> 2L))
  }
}
