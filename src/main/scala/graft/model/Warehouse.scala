package graft.model

import graft.{QueryDef, core}
import graft.core._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Star-schema model layer (SURVEY.md §2.1 S8–S10, §2.7 W8): generated date
  * dimension, surrogate-key assignment, merge-upsert and append-if-absent
  * sinks — the reference's `loaders/warehouse_loader.py` + dbt marts
  * re-expressed as join-based DataFrame programs. */
object Warehouse {

  /** S10 — date-dimension generator (reference
    * `loaders/warehouse_loader.py:157–212`): enumerate [min, max] of the fact
    * dates and derive 8 calendar attributes. The bounds row is a 1-row
    * aggregate; `sequence` + `explode` generates the calendar distributed —
    * a calendar is only ~36.5K rows per century, so this is never a scale
    * concern. Day-of-week uses the 0=Monday convention (SURVEY.md §2.3 F9). */
  def dateDim(facts: DataFrame, dateCol: String): DataFrame = {
    val bounds = facts.agg(
      min(col(dateCol).cast(DateType)).as("lo"),
      max(col(dateCol).cast(DateType)).as("hi"))
    bounds
      .select(explode(sequence(col("lo"), col("hi"))).as("full_date"))
      .select(
        dateKey(col("full_date")).as("date_key"),
        col("full_date"),
        dowMon0(col("full_date")).as("day_of_week"),
        date_format(col("full_date"), "EEEE").as("day_name"),
        month(col("full_date")).as("month"),
        date_format(col("full_date"), "MMMM").as("month_name"),
        quarter(col("full_date")).as("quarter"),
        year(col("full_date")).as("year"),
        (dowMon0(col("full_date")) >= 5).as("is_weekend"))
  }

  private[graft] val dateDimSql = """
      WITH bounds AS (
        SELECT CAST(min(o_orderdate) AS DATE) AS lo, CAST(max(o_orderdate) AS DATE) AS hi
        FROM orders),
      days AS (
        SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP), CAST(hi AS TIMESTAMP),
                                           INTERVAL 1 DAY)) AS DATE) AS full_date
        FROM bounds)
      SELECT CAST(strftime(full_date, '%Y%m%d') AS INTEGER) AS date_key,
             full_date,
             CAST(isodow(full_date) - 1 AS INTEGER) AS day_of_week,
             strftime(full_date, '%A') AS day_name,
             CAST(month(full_date) AS INTEGER) AS month,
             strftime(full_date, '%B') AS month_name,
             CAST(quarter(full_date) AS INTEGER) AS quarter,
             CAST(year(full_date) AS INTEGER) AS year,
             isodow(full_date) - 1 >= 5 AS is_weekend
      FROM days"""

  val s10DateDim: QueryDef = QueryDef(
    "s10_date_dim",
    // full_date emitted as TIMESTAMP: the engines' client layers render
    // DATE differently (date vs midnight datetime), breaking value-hash
    // comparison of equal values; TIMESTAMP is unambiguous on both.
    Some(s"""
      SELECT date_key, CAST(full_date AS TIMESTAMP) AS full_date, day_of_week,
             day_name, month, month_name, quarter, year, is_weekend
      FROM ($dateDimSql)
      ORDER BY date_key
    """)) { (spark, dir) =>
    dateDim(tbl(spark, dir, "orders"), "o_orderdate")
      .withColumn("full_date", col("full_date").cast(TimestampNTZType))
      .orderBy("date_key")
  }

  /** W8 — surrogate-key assignment: dense 1..N in `keyCol` order, the
    * oracle's `ROW_NUMBER() OVER (ORDER BY businessKey)` (reference
    * `dim_customers.sql:5`) without a global window, which would funnel
    * every row through one task. One sorted pass: Spark's sort
    * range-partitions by the key over the session's shuffle partitions
    * (AQE may coalesce them) and sorts each partition, and `zipWithIndex`
    * numbers the rows in partition order — one job counts each partition,
    * the next reads the same shuffle output and numbers from the counts'
    * prefix sums. The key must be unique: range partitioning sends equal
    * keys to one partition and the sort makes them adjacent, so the
    * numbering pass fails on a repeated key, naming it, at no extra job.
    * At scale a sort-then-count is one shuffle of the rows plus a second
    * read of the sorted partitions, each task holding one partition's
    * slice, one count per partition on the driver, and each row converted
    * to a `Row` and back once (the RDD step leaves whole-stage codegen). */
  def withSurrogateKey(df: DataFrame, keyCol: String, outCol: String): DataFrame = {
    val k = df.schema.fieldIndex(keyCol)
    val numbered = df.sort(keyCol).rdd
      .mapPartitions { rows =>
        var prev: Option[Any] = None
        rows.map { r =>
          val key = r.get(k)
          require(!prev.contains(key),
            s"withSurrogateKey: $keyCol = $key repeats; the business key must be unique")
          prev = Some(key)
          r
        }
      }
      .zipWithIndex()
      .map { case (r, i) => Row.fromSeq((i + 1) +: r.toSeq) }
    df.sparkSession.createDataFrame(numbered,
      StructType(StructField(outCol, LongType, nullable = false) +: df.schema.fields))
  }

  /** W8 gate: scalable surrogate keys hash-match the ROW_NUMBER oracle. */
  val w8SurrogateKeys: QueryDef = QueryDef(
    "w8_surrogate_keys",
    Some("""
      SELECT row_number() OVER (ORDER BY c_custkey) AS customer_key,
             c_custkey, c_name, c_mktsegment
      FROM customer
      ORDER BY c_custkey
    """)) { (spark, dir) =>
    val cust = tbl(spark, dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    withSurrogateKey(cust, "c_custkey", "customer_key")
      .select("customer_key", "c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
  }

  /** S8 — merge-upsert: incoming rows replace existing rows on the key;
    * survivors = incoming ∪ (existing ⟕anti incoming) (reference
    * `loaders/warehouse_loader.py:49–83` ON CONFLICT DO UPDATE). One
    * broadcast/anti join — no read-modify-write row loop. */
  def upsert(existing: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame =
    incoming.unionByName(existing.join(incoming, keys, "left_anti"))

  val s8UpsertMerge: QueryDef = QueryDef(
    "s8_upsert_merge",
    Some("""
      WITH existing AS (
        SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey % 3 <> 0),
      incoming AS (
        SELECT c_custkey, c_name, c_acctbal + 10.0 AS c_acctbal
        FROM customer WHERE c_custkey % 2 = 0)
      SELECT * FROM incoming
      UNION ALL
      SELECT e.* FROM existing e
      WHERE c_custkey NOT IN (SELECT c_custkey FROM incoming)
      ORDER BY c_custkey
    """)) { (spark, dir) =>
    val cust = tbl(spark, dir, "customer")
    val existing = cust.filter(col("c_custkey") % 3 =!= 0).select("c_custkey", "c_name", "c_acctbal")
    val incoming = cust.filter(col("c_custkey") % 2 === 0)
      .select(col("c_custkey"), col("c_name"), (col("c_acctbal") + 10.0).as("c_acctbal"))
    upsert(existing, incoming, Seq("c_custkey")).orderBy("c_custkey")
  }

  /** S9 — append-if-absent: only incoming keys not already present are
    * appended (reference `loaders/warehouse_loader.py:112–143` ON CONFLICT
    * DO NOTHING). */
  def appendIfAbsent(existing: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame =
    existing.unionByName(incoming.join(existing, keys, "left_anti"))

  val s9AppendIfAbsent: QueryDef = QueryDef(
    "s9_append_if_absent",
    Some("""
      WITH existing AS (
        SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 0),
      incoming AS (
        SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0)
      SELECT * FROM existing
      UNION ALL
      SELECT i.* FROM incoming i
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM existing)
      ORDER BY o_orderkey
    """)) { (spark, dir) =>
    val o = tbl(spark, dir, "orders").select("o_orderkey", "o_totalprice")
    val existing = o.filter(col("o_orderkey") % 3 === 0)
    val incoming = o.filter(col("o_orderkey") % 2 === 0)
    appendIfAbsent(existing, incoming, Seq("o_orderkey")).orderBy("o_orderkey")
  }

  /** J5 — join on a date *expression*: fact timestamp truncated to date
    * against the generated calendar (reference `fact_orders.sql:19–20`). The
    * calendar is tiny → broadcast; the fact side never shuffles. */
  val j5DateExprJoin: QueryDef = QueryDef(
    "j5_date_expr_join",
    Some(s"""
      WITH date_dim AS ($dateDimSql)
      SELECT o_orderkey, date_key, day_name, is_weekend
      FROM orders LEFT JOIN date_dim ON CAST(o_orderdate AS DATE) = full_date
      ORDER BY o_orderkey
    """)) { (spark, dir) =>
    val orders = tbl(spark, dir, "orders")
    val dd = dateDim(orders, "o_orderdate")
    orders
      .join(broadcast(dd), orders("o_orderdate").cast(DateType) === dd("full_date"), "left")
      .select(col("o_orderkey"), col("date_key"), col("day_name"), col("is_weekend"))
      .orderBy("o_orderkey")
  }

  /** SCD2 dimension build (beyond parity — the reference's dimension loads
    * are type-1 overwrite upserts; type-2 history is the standard warehouse
    * pattern it stops short of). Input: per-key change events (user_id, ts,
    * event_type-as-attribute). Output: validity intervals
    * `[eff_from, eff_to)` with `is_current` on the open row.
    *
    * Shape: ONE hash shuffle by key, then two per-key window passes — a
    * `lag` to collapse runs of the unchanged attribute (true SCD2 records
    * transitions, not observations) and a `lead` to close each interval at
    * the next change. No global window, no join: at 100 TB this is the
    * shuffle-minimal formulation (the naive build self-joins change rows to
    * their successors). Determinism: (user_id, ts) is unique in `events`. */
  val wScd2Dim: QueryDef = QueryDef(
    "w_scd2_dim",
    Some("""
      WITH changes AS (
        SELECT user_id, ts, event_type,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev_attr
        FROM events),
      transitions AS (
        SELECT user_id, event_type AS attr, ts AS eff_from
        FROM changes
        WHERE prev_attr IS NULL OR prev_attr <> event_type)
      SELECT user_id, attr, eff_from,
             lead(eff_from) OVER (PARTITION BY user_id ORDER BY eff_from) AS eff_to,
             lead(eff_from) OVER (PARTITION BY user_id ORDER BY eff_from) IS NULL AS is_current
      FROM transitions
      ORDER BY user_id, eff_from
    """)) { (spark, dir) =>
    scd2Intervals(spark, dir).orderBy("user_id", "eff_from")
  }

  /** The SCD2 interval build over an arbitrary change-event frame
    * `(user_id, ts, event_type)` — shared by the full build, the
    * point-in-time consumer, and the incremental maintainer. */
  private def scd2IntervalsOf(ev: DataFrame): DataFrame = {
    val byKey = Window.partitionBy("user_id").orderBy("ts")
    val transitions = ev
      .select(col("user_id"), col("ts"), col("event_type"))
      .withColumn("prev_attr", lag("event_type", 1).over(byKey))
      .filter(col("prev_attr").isNull || col("prev_attr") =!= col("event_type"))
      .select(col("user_id"), col("event_type").as("attr"), col("ts").as("eff_from"))
    val byFrom = Window.partitionBy("user_id").orderBy("eff_from")
    transitions
      .withColumn("eff_to", lead("eff_from", 1).over(byFrom))
      .withColumn("is_current", col("eff_to").isNull)
  }

  /** The SCD2 interval table [[wScd2Dim]] emits, unordered. */
  private def scd2Intervals(spark: SparkSession, dir: String): DataFrame =
    scd2IntervalsOf(events(spark, dir))

  /** POINT-IN-TIME join against the SCD2 dimension — the consumer side
    * that justifies building SCD2 at all: resolve each fact to the dim
    * version valid AT ITS TIMESTAMP (equi join on the key + the interval
    * residual `eff_from <= ts < eff_to`). Scale shape: the join shuffles
    * on user_id only; the interval predicate is a residual filter inside
    * the per-key join, and the expansion before filtering is bounded by
    * versions-per-key (dup chains of attribute changes), never by table
    * size. The gate is SELF-PROVING: the facts are the same events the
    * dim was derived from, so every event must land in exactly ONE
    * interval and the resolved attr must equal the event's own — any
    * boundary error (>= vs >, null eff_to) breaks n_resolved or n_match
    * against n_events in the output. */
  val jScd2PointInTime: QueryDef = QueryDef(
    "j_scd2_pointintime",
    Some("""
      WITH changes AS (
        SELECT user_id, ts, event_type,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev_attr
        FROM events),
      transitions AS (
        SELECT user_id, event_type AS attr, ts AS eff_from
        FROM changes
        WHERE prev_attr IS NULL OR prev_attr <> event_type),
      dim AS (
        SELECT user_id, attr, eff_from,
               lead(eff_from) OVER (PARTITION BY user_id ORDER BY eff_from) AS eff_to
        FROM transitions),
      resolved AS (
        SELECT e.user_id, e.event_type, d.attr
        FROM events e JOIN dim d
          ON e.user_id = d.user_id
         AND e.ts >= d.eff_from
         AND (d.eff_to IS NULL OR e.ts < d.eff_to)),
      ev AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id)
      SELECT ev.user_id, ev.n_events,
             count(r.attr) AS n_resolved,
             CAST(sum(CASE WHEN r.attr = r.event_type THEN 1 ELSE 0 END) AS BIGINT) AS n_match
      FROM ev LEFT JOIN resolved r USING (user_id)
      GROUP BY ev.user_id, ev.n_events
      ORDER BY user_id
    """)) { (spark, dir) =>
    val ev = events(spark, dir).select(col("user_id"), col("ts"), col("event_type"))
    val dim = scd2Intervals(spark, dir)
      .select(col("user_id").as("d_user"), col("attr"), col("eff_from"), col("eff_to"))
    val resolved = ev.join(dim,
      col("user_id") === col("d_user") &&
        col("ts") >= col("eff_from") &&
        (col("eff_to").isNull || col("ts") < col("eff_to")))
      .select(col("user_id"), col("event_type"), col("attr"))
    val perUser = ev.groupBy("user_id").agg(count(lit(1)).as("n_events"))
    perUser.join(resolved, Seq("user_id"), "left")
      .groupBy("user_id", "n_events")
      .agg(count(col("attr")).as("n_resolved"),
        countIf(col("attr") === col("event_type")).as("n_match"))
      .orderBy("user_id")
  }

  /** INCREMENTAL SCD2 MAINTENANCE — apply a delta batch of change events
    * to an existing dimension without rebuilding untouched keys: yesterday's
    * dim is built over the pre-cutoff prefix, today's delta is everything
    * after, and only DELTA USERS are recomputed — their compressed history
    * (the dim's own change points, replayed as pseudo-events) unioned with
    * their delta events and re-compressed. Compressing an
    * already-compressed prefix plus a suffix equals compressing the whole
    * sequence, so the result is provably identical to a full rebuild —
    * and the ORACLE IS the full rebuild (same SQL as `w_scd2_dim`),
    * making the equivalence the gate itself. Scale shape: the recompute
    * touches |delta| + |affected users' intervals| rows — at 100 TB with
    * a 0.1% daily delta that is ~0.1% of the work of a rebuild; untouched
    * users pass through with an anti join, never entering a window. */
  val wScd2Incremental: QueryDef = QueryDef(
    "w_scd2_incremental",
    Some("""
      WITH changes AS (
        SELECT user_id, ts, event_type,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev_attr
        FROM events),
      transitions AS (
        SELECT user_id, event_type AS attr, ts AS eff_from
        FROM changes
        WHERE prev_attr IS NULL OR prev_attr <> event_type)
      SELECT user_id, attr, eff_from,
             lead(eff_from) OVER (PARTITION BY user_id ORDER BY eff_from) AS eff_to,
             lead(eff_from) OVER (PARTITION BY user_id ORDER BY eff_from) IS NULL AS is_current
      FROM transitions
      ORDER BY user_id, eff_from
    """)) { (spark, dir) =>
    scd2IncrementalAt(spark, dir, "2024-01-21 00:00:00")
      .orderBy("user_id", "eff_from")
  }

  /** [[wScd2Incremental]]'s body with the batch cutoff exposed — the spec
    * drives the degenerate cutoffs (all-prefix, all-delta) through the same
    * code path. */
  def scd2IncrementalAt(spark: SparkSession, dir: String,
      cutoffTs: String): DataFrame = {
    val cutoff = lit(cutoffTs).cast(TimestampNTZType)
    val ev = events(spark, dir).select(col("user_id"), col("ts"), col("event_type"))
    // yesterday's dim: the state an incremental run starts from
    val dimOld = scd2IntervalsOf(ev.filter(col("ts") < cutoff))
    val delta = ev.filter(col("ts") >= cutoff)
    val affected = delta.select("user_id").distinct()
    val untouched = dimOld.join(affected, Seq("user_id"), "left_anti")
    // affected users: their compressed change points replayed as events...
    val prefix = dimOld.join(affected, Seq("user_id"), "left_semi")
      .select(col("user_id"), col("eff_from").as("ts"), col("attr").as("event_type"))
    // ...plus the delta, re-compressed exactly like the full build
    val recomputed = scd2IntervalsOf(prefix.unionAll(delta))
    untouched.unionAll(recomputed)
  }

  /** Incremental aggregate maintenance: the monthly revenue mart is kept
    * fresh from persisted DAILY PARTIALS instead of rescanning history —
    * the materialized-view maintenance every warehouse needs once facts
    * outgrow full recompute. Partials carry (count, exact decimal sum),
    * both associative, so merging a new batch is: aggregate the batch to
    * day grain, re-sum per day with the stored partials, roll days up to
    * months. Each refresh touches |batch| fact rows + |days| partial rows
    * — at 100 TB of history the refresh cost is bounded by the batch, not
    * the table. The gate replays the full cycle (historic load → store →
    * incremental 1998 batch → merge → rollup); the oracle recomputes the
    * months directly from all of `orders`, proving incremental == full. */
  val wIncrementalAgg: QueryDef = QueryDef(
    "w_incremental_agg",
    Some("""
      SELECT year(o_orderdate) AS o_year, month(o_orderdate) AS o_month,
             count(*) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM orders
      GROUP BY 1, 2
      ORDER BY 1, 2
    """)) { (spark, dir) =>
    val store = scratch(dir, "w_daily_partials_run") // rebuilt per run: the cycle IS the op
    val storePath = new org.apache.hadoop.fs.Path(store)
    val fs = storePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(storePath, true)
    val cut = lit("1998-01-01").cast(DateType)
    def dailyPartials(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("o_orderdate").as("day"))
      .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("rev"))
    // phase 1: historic load → persisted daily partials
    dailyPartials(tbl(spark, dir, "orders").filter(col("o_orderdate") < cut))
      .write.mode("overwrite").parquet(store)
    // phase 2: incremental batch merged by re-summing per day (the merge
    // reads partials, never historic facts)
    val batch = dailyPartials(tbl(spark, dir, "orders").filter(col("o_orderdate") >= cut))
    spark.read.parquet(store).unionByName(batch)
      .groupBy("day")
      .agg(sum(col("n")).as("n"), sum(col("rev")).cast(DecimalType(38, 2)).as("rev"))
      .write.mode("overwrite").parquet(store + "_merged")
    // phase 3: month rollup from the merged partials only
    spark.read.parquet(store + "_merged")
      .groupBy(year(col("day")).as("o_year"), month(col("day")).as("o_month"))
      .agg(sum(col("n")).as("n_orders"), sum(col("rev")).cast(DoubleType).as("revenue"))
      .orderBy("o_year", "o_month")
  }

  /** LATE-ARRIVING FACT correction via LOOKBACK recompute — the failure
    * mode [[wIncrementalAgg]]'s strictly-forward watermark can't handle:
    * rows whose EVENT date is before the watermark but whose ARRIVAL is
    * after it (simulated here: o_orderkey % 13 = 7 rows are withheld from
    * batch 1 and arrive with batch 2). A naive forward increment would
    * drop them from their pre-cutoff months forever; the lookback
    * maintenance instead recomputes exactly the MONTHS BATCH 2 TOUCHES —
    * late months included — from base+batch rows of those months, and
    * anti-joins everything else through untouched. Work scales with the
    * touched-month slice of the fact, never the full history, and the
    * ORACLE IS the full recompute, so the gate proves the correction is
    * exact. */
  val wLateLookback: QueryDef = QueryDef(
    "w_late_lookback",
    Some("""
      SELECT year(o_orderdate) AS o_year, month(o_orderdate) AS o_month,
             count(*) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM orders
      GROUP BY 1, 2
      ORDER BY 1, 2
    """)) { (spark, dir) =>
    val cut = lit("1997-01-01").cast(DateType)
    val o = tbl(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
    // lates are month-sparse (only March orders run late) so the gate
    // exercises BOTH branches: pre-cutoff Marches recompute, every other
    // pre-cutoff month passes through the anti join untouched
    val late = col("o_orderkey") % 13 === 7 && month(col("o_orderdate")) === 3
    // batch 1: everything before the cutoff except the rows that run late
    val batch1 = o.filter(col("o_orderdate") < cut && !late)
    // batch 2: the post-cutoff rows PLUS the late arrivals
    val batch2 = o.filter(col("o_orderdate") >= cut ||
      (col("o_orderdate") < cut && late))
    def monthly(df: DataFrame) = df
      .groupBy(year(col("o_orderdate")).as("o_year"), month(col("o_orderdate")).as("o_month"))
      .agg(count(lit(1)).as("n_orders"), moneySumD(col("o_totalprice")).as("revenue"))
    val mart1 = monthly(batch1)
    // lookback set: every month batch 2 touches (incl. late months)
    val touched = batch2
      .select(year(col("o_orderdate")).as("o_year"), month(col("o_orderdate")).as("o_month"))
      .distinct()
    val untouched = mart1.join(touched, Seq("o_year", "o_month"), "left_anti")
    // recompute touched months from base + batch rows OF THOSE MONTHS only
    val touchedRows = batch1.unionAll(batch2)
      .join(broadcast(touched),
        year(col("o_orderdate")) === touched("o_year") &&
          month(col("o_orderdate")) === touched("o_month"), "left_semi")
    untouched.unionAll(monthly(touchedRows)).orderBy("o_year", "o_month")
  }

  /** CDC APPLY (beyond parity; completes the merge family S8/S9 with the
    * op-coded form) — replaying a change-data-capture log (I/U/D ops, each
    * with a monotonically increasing sequence per key) onto a snapshot:
    * LAST-WRITE-WINS per key, then deletes drop out. The log here is
    * fabricated deterministically from `orders` (insert every key at seq 1,
    * update keys ≡0 mod 7 at seq 2, delete keys ≡0 mod 11 at seq 3 — the
    * suite's defect-injection convention), and the apply is ONE
    * shuffle-by-key `max_by` aggregation: no window sort, partials merge
    * map-side (max_by is an associative agg), so a 100 TB log applies in a
    * single pass whose state per key is one row. The emitted mart is the
    * applied snapshot's per-status rollup. */
  val sCdcApply: QueryDef = QueryDef(
    "s_cdc_apply",
    Some("""
      WITH log AS (
        SELECT o_orderkey AS k, 'I' AS op, 1 AS seq,
               o_orderstatus AS status, o_totalprice AS price
        FROM orders
        UNION ALL
        SELECT o_orderkey, 'U', 2, o_orderstatus, o_totalprice + 10.0
        FROM orders WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey, 'D', 3, o_orderstatus, 0.0
        FROM orders WHERE o_orderkey % 11 = 0),
      applied AS (
        SELECT k, max_by(op, seq) AS op, max_by(status, seq) AS status,
               max_by(price, seq) AS price
        FROM log GROUP BY k)
      SELECT status, count(*) AS n_rows,
             CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS mass
      FROM applied WHERE op <> 'D'
      GROUP BY status ORDER BY status
    """)) { (spark, dir) =>
    val o = tbl(spark, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    def slice(cond: Column, op: String, seq: Int, price: Column): DataFrame = o
      .filter(cond)
      .select(col("o_orderkey").as("k"), lit(op).as("op"), lit(seq).as("seq"),
        col("o_orderstatus").as("status"), price.as("price"))
    slice(lit(true), "I", 1, col("o_totalprice"))
      .unionAll(slice(col("o_orderkey") % 7 === 0, "U", 2, col("o_totalprice") + 10.0))
      .unionAll(slice(col("o_orderkey") % 11 === 0, "D", 3, lit(0.0)))
      .groupBy("k")
      .agg(max_by(col("op"), col("seq")).as("op"),
        max_by(col("status"), col("seq")).as("status"),
        max_by(col("price"), col("seq")).as("price"))
      .filter(col("op") =!= "D")
      .groupBy("status")
      .agg(count(lit(1)).as("n_rows"), moneySumD(col("price")).as("mass"))
      .orderBy("status")
  }

  /** BITEMPORAL point-in-time resolution: SCD2 ([[wScd2Dim]]) tracks one
    * time axis — when a fact was VALID; a bitemporal store also tracks
    * when the warehouse KNEW it (transaction time), which is what makes
    * "reproduce the report as it looked last quarter" answerable after
    * late-arriving history rewrites (Snodgrass's two-axis model — the
    * SQL:2011 temporal feature set). The change log here derives
    * deterministically from orders (valid_from = order date; tx_from =
    * load time, +3 days normally, +300 for the o_orderkey % 37 stragglers
    * — the late-backfill population that makes the axes genuinely
    * diverge), and the gate answers the same valid-time question
    * ("state as of 1996-06-30") under TWO knowledge dates. Resolution is
    * one pass: filter tx_from ≤ T (knowledge cut), filter valid_from ≤ V,
    * per-key argmax by (valid_from, orderkey) packed into ONE BIGINT
    * (days·10⁷ + key — exact only while keys < 10⁷, which TPC-H orders
    * reach around SF ≈ 1.7; past it the key bleeds into the day field and
    * BOTH engines corrupt identically, so the hash gate cannot catch it.
    * That is why the bound is CHECKED in code below — one counter-scale
    * max over the eligible slice, the [[graft.sources.Ingest]]
    * Morton-guard convention — instead of asserted in prose) so both
    * engines take the same max with the same tie-break, never a per-key
    * sort. The t1/t2 outputs differ exactly where late
    * data rewrote history — customer 505's resolved order changes, 303
    * gains a known row at sf0.01 — which is the bitemporal contract made
    * visible. Shape at 100 TB: scenario join is a 2-row broadcast; one
    * shuffle on (scenario, key) with map-side-combined max/count. */
  val wBitemporal: QueryDef = QueryDef(
    "w_bitemporal",
    Some("""
      WITH chg AS (
        SELECT o_custkey, o_orderkey,
               CAST(o_orderdate AS DATE) AS valid_from,
               CAST(o_orderdate AS DATE)
                 + CASE WHEN o_orderkey % 37 = 0 THEN 300 ELSE 3 END AS tx_from
        FROM orders),
      sc AS (SELECT * FROM (VALUES ('t1_early', DATE '1996-12-31'),
                                   ('t2_late', DATE '1997-06-30')) s(scenario, t_know)),
      elig AS (
        SELECT s.scenario, c.o_custkey, c.o_orderkey, c.valid_from
        FROM chg c JOIN sc s ON c.tx_from <= s.t_know
        WHERE c.valid_from <= DATE '1996-06-30' AND c.o_custkey % 101 = 0),
      r AS (
        SELECT scenario, o_custkey,
               CAST(max(CAST(date_diff('day', DATE '1970-01-01', valid_from) AS BIGINT)
                        * 10000000 + o_orderkey) AS BIGINT) AS k,
               CAST(count(*) AS BIGINT) AS n_known
        FROM elig GROUP BY scenario, o_custkey)
      SELECT scenario, CAST(o_custkey AS BIGINT) AS c_custkey,
             k % 10000000 AS resolved_orderkey,
             k // 10000000 AS valid_days,
             n_known
      FROM r ORDER BY scenario, c_custkey
    """)) { (spark, dir) =>
    val chg = tbl(spark, dir, "orders").select(
      col("o_custkey"), col("o_orderkey"),
      to_date(col("o_orderdate")).as("valid_from"),
      date_add(to_date(col("o_orderdate")),
        when(col("o_orderkey") % 37 === 0, 300).otherwise(3)).as("tx_from"))
    val s2 = spark
    import s2.implicits._
    val sc = Seq(("t1_early", "1996-12-31"), ("t2_late", "1997-06-30"))
      .toDF("scenario", "t_know")
      .select(col("scenario"), col("t_know").cast(DateType).as("t_know"))
    val elig = chg
      .filter(col("o_custkey") % 101 === 0 &&
        col("valid_from") <= lit("1996-06-30").cast(DateType))
    // the packing bound, enforced (round-12 ADVICE): every eligible key
    // must fit the 10⁷ slot or resolved_orderkey/valid_days/tie-break all
    // corrupt — identically on both engines, invisible to the hash gate.
    // One counter-scale scalar over the already-filtered slice.
    val kr = elig.agg(max(col("o_orderkey")).cast(LongType)).head()
    val kmax = if (kr.isNullAt(0)) 0L else kr.getLong(0)
    require(kmax < 10000000L,
      s"bitemporal argmax packing overflows: max eligible o_orderkey $kmax " +
        ">= 10^7 — widen the packing multiplier before trusting resolution")
    elig
      .join(broadcast(sc), col("tx_from") <= col("t_know"))
      .groupBy("scenario", "o_custkey")
      .agg(
        max(datediff(col("valid_from"), lit("1970-01-01").cast(DateType))
          .cast(LongType) * 10000000L + col("o_orderkey")).as("k"),
        count(lit(1)).as("n_known"))
      .select(col("scenario"), col("o_custkey").cast(LongType).as("c_custkey"),
        (col("k") % 10000000L).as("resolved_orderkey"),
        expr("k div 10000000").as("valid_days"),
        col("n_known"))
      .orderBy("scenario", "c_custkey")
  }

  val all: Seq[QueryDef] = Seq(
    s10DateDim, w8SurrogateKeys, s8UpsertMerge, s9AppendIfAbsent, j5DateExprJoin,
    wScd2Dim, jScd2PointInTime, wScd2Incremental, wIncrementalAgg, wLateLookback,
    sCdcApply, wBitemporal)
}
