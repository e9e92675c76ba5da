package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental-scan predicate construction: the watermark filters, the
  * index-friendly coalesce-OR rewrite, and partitioned-JDBC option
  * synthesis (SURVEY.md §2.1 S1/S2, §2.3 F1-F3).
  *
  * In Spark the open watermark filter is just `col >= lit(start)` — Catalyst
  * pushes it to parquet (PushedFilters) or JDBC automatically. What Catalyst
  * can NOT know is that MySQL will not use per-column indexes for
  * `coalesce(a,b) >= x`: that rewrite is source-specific and belongs in the
  * pushdown-subquery builder, exactly where the reference does it
  * (ingest_mysql_data.py:254-262).
  */
object Incremental {

  /** F3 (Column form): `coalesce(a,b) BETWEEN s AND e` expanded to
    * `(a BETWEEN s AND e) OR (b BETWEEN s AND e)`. Semantically equivalent
    * only when `a IS NULL ⇒ rows qualify via b` — which holds for the
    * reference's `coalesce(modified, created)` contract where `created` is
    * non-null (reference: ingest_mysql_data.py:254-262, 276-282).
    */
  def coalesceOrBetween(cols: Seq[Column], start: String, end: String): Column =
    cols.map(_.between(lit(start), lit(end))).reduce(_ || _)

  /** Parse `coalesce(a, b)` / `ifnull(a, b)` into its column names — the
    * typed replacement for the reference's string slicing
    * (ingest_mysql_data.py:256-262). Only this restricted grammar is
    * accepted; anything else is rejected rather than concatenated into SQL
    * (injection surface noted in SURVEY.md §7.3).
    */
  private val CoalesceRe = """(?i)\s*(?:coalesce|ifnull)\s*\(\s*([A-Za-z0-9_]+)\s*,\s*([A-Za-z0-9_]+)\s*\)\s*""".r
  def parseCoalesceExpr(e: String): Option[(String, String)] = e match {
    case CoalesceRe(a, b) => Some((a, b))
    case _                => None
  }

  /** SQL-text form of the watermark WHERE clause for JDBC pushdown
    * subqueries, with the coalesce-OR index rewrite applied when the delta
    * is a coalesce expression. Datetime literals get MySQL-style single
    * quotes; dialects with strict typing supply their own wrapper via the
    * `litFn` overload (Derby: `v => s"TIMESTAMP('$v')"`).
    */
  def pushdownWhere(deltaExpr: String, start: String, end: Option[String],
                    isDatetime: Boolean): String =
    pushdownWhere(deltaExpr, start, end,
      if (isDatetime) (v: String) => s"'$v'" else (v: String) => v)

  def pushdownWhere(deltaExpr: String, start: String, end: Option[String],
                    litFn: String => String): String = {
    def pred(c: String) = end match {
      case Some(e) => s"$c BETWEEN ${litFn(start)} AND ${litFn(e)}"
      case None    => s"$c >= ${litFn(start)}"
    }
    parseCoalesceExpr(deltaExpr) match {
      case Some((a, b)) => s"(${pred(a)} OR ${pred(b)})"
      case None         => pred(deltaExpr)
    }
  }

  /** Options for a partitioned JDBC read of one incremental window —
    * Spark's replacement for both the server-side-cursor chunk loop
    * (400k/100k rows, reference basic_config.py:8-9) and the day-window
    * BETWEEN loop (reference: ingest_mysql_data.py:231-303): `numPartitions`
    * strided predicates on the delta column run in parallel, `fetchsize`
    * bounds per-round-trip memory.
    */
  def jdbcOptions(url: String, db: String, table: String, selectList: Seq[String],
                  whereSql: String, deltaField: String,
                  lowerBound: String, upperBound: String,
                  numPartitions: Int = 8, fetchSize: Int = 10000): Map[String, String] = {
    val proj = if (selectList.isEmpty) "*" else selectList.mkString(", ")
    Map(
      "url" -> url,
      "dbtable" -> s"(SELECT $proj FROM $db.$table WHERE $whereSql) AS graft_src",
      "partitionColumn" -> deltaField,
      "lowerBound" -> lowerBound,
      "upperBound" -> upperBound,
      "numPartitions" -> numPartitions.toString,
      "fetchsize" -> fetchSize.toString,
    )
  }

  /** Partitioned JDBC read with connect retry. `.load()` resolves the
    * schema eagerly — one driver-side connect — which is exactly what the
    * reference retries (MySQLWrapper.py:34-41); executor-side fetch
    * failures ride Spark's own task-retry layer instead.
    */
  def readJdbc(spark: SparkSession, options: Map[String, String],
               attempts: Int = 3, baseDelayMs: Long = 5000L): DataFrame =
    graft.util.Retry.withBackoff(attempts, baseDelayMs) {
      spark.read.format("jdbc").options(options).load()
    }

  /** Incremental slice of a batch source: watermark filter on the delta
    * expression (the parquet/table-source equivalent of S1; filter is
    * pushed down by Catalyst — verify via `PushedFilters` in explain).
    */
  def incrementalSlice(df: DataFrame, deltaExpr: String, start: String,
                       end: Option[String] = None): DataFrame = {
    val d = expr(deltaExpr)
    end match {
      case Some(e) => df.filter(d.between(lit(start), lit(e)))
      case None    => df.filter(d >= lit(start))
    }
  }

  /** A1/A2 in one pass: min/max of the delta expression + row count —
    * single aggregate job, partial aggregation map-side (the reference
    * accumulates per-chunk min/max/len lists, ingest_mysql_data.py:272-289).
    * For a coalesce delta the conservative upper bound is
    * `least(max(a), max(b))` (reference: ingest_mysql_data.py:281-282).
    */
  def deltaBounds(df: DataFrame, deltaExpr: String): (Option[String], Option[String], Long) = {
    // Timestamp bounds format like the reference's python str(datetime):
    // whole seconds plain, else EXACTLY 6 fractional digits (same rule as
    // LogStore.fmtTs). Spark's cast-to-string strips TRAILING zeros
    // (.65048 for .650480) — a formatting the +1 s bump round-trips fine
    // but no other engine reproduces, which made the q40 oracle fragile
    // whenever a max watermark's micros end in 0.
    def fmt(c: Column): Column =
      df.select(expr(deltaExpr)).schema.head.dataType match {
        case org.apache.spark.sql.types.TimestampType =>
          when(unix_micros(c) % 1000000L === 0L,
            date_format(c, "yyyy-MM-dd HH:mm:ss"))
            .otherwise(date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        case _ => c.cast("string")
      }
    val row = parseCoalesceExpr(deltaExpr) match {
      case Some((a, b)) =>
        df.agg(fmt(min(expr(deltaExpr))).as("lo"),
               fmt(least(max(col(a)), max(col(b)))).as("hi"),
               count(lit(1)).as("n")).head()
      case None =>
        df.agg(fmt(min(expr(deltaExpr))).as("lo"),
               fmt(max(expr(deltaExpr))).as("hi"),
               count(lit(1)).as("n")).head()
    }
    (Option(row.getString(0)), Option(row.getString(1)), row.getLong(2))
  }
}
