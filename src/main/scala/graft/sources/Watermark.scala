package graft.sources

import graft.{QueryDef, core}
import graft.core._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, Path}
import java.time.LocalDate

/** Persisted high-watermark checkpoint store (SURVEY.md §2.10) — the
  * reference keeps `last_extracted_date` between runs and starts each
  * incremental extraction from it (reference
  * `extractors/postgres_extractor.py:41–50`; Airflow hands the value
  * between tasks, `airflow/dags/etl_daily_pipeline.py:87–88`).
  *
  * The store is one tiny text file per (input dir, source, content
  * signature) under `core.scratch` — checkpoint METADATA, a single scalar,
  * exactly the state an Airflow variable/XCom or a warehouse `etl_state`
  * row carries; reading/advancing it is O(1) driver work at any data
  * scale. Keying the path by [[core.sourceSig]] means a REGENERATED source
  * table (new content signature) starts from a fresh watermark instead of
  * silently extracting nothing past a checkpoint that belongs to data
  * that no longer exists.
  */
object Watermark {

  /** `tag` separates independent consumers of the same source table (e.g.
    * the standalone gate vs the incremental DAG) into distinct checkpoints;
    * the content signature still comes from the real source table. */
  private def file(spark: SparkSession, dir: String, source: String,
      tag: String): Path =
    Paths.get(scratch(dir, "watermarks"),
      s"$source${if (tag.isEmpty) "" else s"_$tag"}_${sourceSig(spark, dir, source)}.txt")

  private def readRaw(f: Path): Option[String] =
    if (Files.exists(f)) Some(Files.readString(f).trim) else None

  /** Stored watermark, or `default` when none has been persisted for this
    * (dir, source, content) yet. */
  def read(spark: SparkSession, dir: String, source: String,
      default: LocalDate, tag: String = ""): LocalDate =
    readRaw(file(spark, dir, source, tag)).map(LocalDate.parse).getOrElse(default)

  /** Advance the stored watermark to `to` — MONOTONIC: a lagging caller
    * (a re-run of an old batch) can never move the checkpoint backwards.
    * Returns the effective stored value. The value is written with
    * [[graft.core.writeAtomic]]; the read-compare-write itself is
    * last-writer-wins (serialize runs externally if two drivers may
    * advance the same checkpoint). */
  def advance(spark: SparkSession, dir: String, source: String,
      to: LocalDate, tag: String = ""): LocalDate = {
    val f = file(spark, dir, source, tag)
    val eff = readRaw(f).map(LocalDate.parse) match {
      case Some(cur) if !to.isAfter(cur) => cur
      case _                             => to
    }
    writeAtomic(f, eff.toString)
    eff
  }

  /** Sequence-id twin of [[read]] — for sources whose increment column is
    * a monotone key rather than a date (the MySQL id-watermark idiom). */
  def readLong(spark: SparkSession, dir: String, source: String,
      default: Long, tag: String = ""): Long =
    readRaw(file(spark, dir, source, tag)).map(_.toLong).getOrElse(default)

  /** Sequence-id twin of [[advance]]: same file, same MONOTONIC rule. */
  def advanceLong(spark: SparkSession, dir: String, source: String,
      to: Long, tag: String = ""): Long = {
    val f = file(spark, dir, source, tag)
    val eff = readRaw(f).map(_.toLong) match {
      case Some(cur) if to <= cur => cur
      case _                      => to
    }
    writeAtomic(f, eff.toString)
    eff
  }

  /** Drop the checkpoint (a backfill-from-scratch request). */
  def reset(spark: SparkSession, dir: String, source: String,
      tag: String = ""): Unit =
    Files.deleteIfExists(file(spark, dir, source, tag))

  /** A date read back from a Row surfaces per session config as sql.Date /
    * LocalDate / (midnight) timestamp — normalize to the day. */
  def asLocalDate(v: Any): LocalDate = v match {
    case d: java.sql.Date           => d.toLocalDate
    case d: LocalDate               => d
    case t: java.time.LocalDateTime => t.toLocalDate
    case t: java.sql.Timestamp      => t.toLocalDateTime.toLocalDate
    case other => sys.error(s"unexpected watermark type: $other")
  }

  /** Gate — the full checkpointed incremental cycle in one deterministic
    * run: seed the store, extract strictly past the stored watermark
    * (filter pushed to the scan, same path as S2), ADVANCE the store to
    * the batch's max date, then extract again — provably empty, the
    * idempotence a re-triggered daily job relies on. Only the two
    * checkpoint scalars (count, max) cross to the driver. */
  val sWatermarkStore: QueryDef = QueryDef(
    "s_watermark_store",
    Some("""
      WITH inc AS (SELECT o_orderdate FROM orders WHERE o_orderdate > DATE '1998-06-30')
      SELECT CAST(DATE '1998-06-30' AS TIMESTAMP) AS start_watermark,
             (SELECT count(*) FROM inc) AS first_extract_rows,
             CAST((SELECT max(o_orderdate) FROM inc) AS TIMESTAMP) AS advanced_watermark,
             CAST(0 AS BIGINT) AS second_extract_rows
    """)) { (spark, dir) =>
    val seed = LocalDate.parse("1998-06-30")
    // deterministic gate: every run exercises the same seed→advance cycle
    reset(spark, dir, "orders")
    val src = tbl(spark, dir, "orders").select(col("o_orderdate"))
    def extractPast(wm: LocalDate) =
      src.filter(col("o_orderdate") > lit(wm.toString).cast("date"))
    val wm0 = read(spark, dir, "orders", seed)
    val first = extractPast(wm0)
      .agg(count(lit(1)).as("n"), max(col("o_orderdate")).as("mx")).head()
    val batchMax = asLocalDate(first.getAs[Any]("mx"))
    val wm1 = advance(spark, dir, "orders", batchMax)
    val second = extractPast(wm1).count()
    spark.range(1).select(
      to_timestamp(lit(wm0.toString)).as("start_watermark"),
      lit(first.getAs[Long]("n")).as("first_extract_rows"),
      to_timestamp(lit(wm1.toString)).as("advanced_watermark"),
      lit(second).as("second_extract_rows"))
  }

  val all: Seq[QueryDef] = Seq(sWatermarkStore)
}
