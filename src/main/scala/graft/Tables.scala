package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Readers over the driver testdata (/root/repo/TESTDATA.md) plus the
 * column adapter that presents the synthetic `events` table in the
 * reference's clickstream vocabulary (/root/repo/FIXTURES.md §4):
 * ts→event_time, user_id→visitorid (string), event_type→event,
 * event_id→itemid surrogate.
 */
object Tables {

  /** Reads one testdata table. Touches no session conf: a TIMESTAMP(NANOS)
    * column needs `spark.sql.legacy.parquet.nanosAsLong`, which
    * [[Session.local]] sets once for the whole session. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def events(spark: SparkSession, dir: String): DataFrame = {
    // The generator has shipped `ts` two ways across testdata
    // generations: TIMESTAMP(NANOS) (which the session's nanosAsLong conf
    // surfaces as a BIGINT of epoch-nanos) and plain timestamp[us]
    // (which arrives as TIMESTAMP_NTZ). Every engine query — and
    // [[eventTimeExpr]] — is written against the CANONICAL form, epoch-
    // nanos BIGINT, so a timestamp-typed column is converted back here:
    // epoch-micros × 1000 is exact (no precision exists below µs to
    // lose), making the whole pipeline bit-identical across generations.
    // Each accepted physical type gets its own timezone-independent
    // conversion — NTZ via timestampdiff on NTZ operands, LTZ via
    // unix_micros (which reads the stored UTC instant directly). An
    // unrecognized type fails fast rather than risking a session-timezone-
    // dependent catch-all cast silently shifting the canonical nanos.
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val df = table(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType => df
      case TimestampNTZType => df.withColumn("ts",
        expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) * 1000"))
      case TimestampType => df.withColumn("ts", expr("unix_micros(ts) * 1000"))
      case other => throw new IllegalArgumentException(
        s"events.ts arrived as unsupported type $other; expected BIGINT epoch-nanos, " +
          "TIMESTAMP_NTZ, or TIMESTAMP (add an explicit conversion before using it)")
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")

  /** The ns-long → microsecond TIMESTAMP_NTZ conversion for `events.ts` —
    * the single definition of the truncation rule every query must share
    * (matches DuckDB's ns→µs read truncation; see events()). */
  val eventTimeExpr: String = "CAST(timestamp_micros(ts DIV 1000) AS TIMESTAMP_NTZ)"

  /**
   * Clickstream view of the testdata `events` table. Column projection is
   * declared up front so Catalyst prunes the parquet scan to exactly the
   * needed columns (value/props excluded unless asked for).
   */
  def clickstream(spark: SparkSession, dir: String, withExtras: Boolean = false): DataFrame = {
    // ts arrives as long nanos (see events()); integer-divide to micros —
    // the same truncation DuckDB applies reading ns parquet — and keep the
    // result TIMESTAMP_NTZ so every derived timestamp stays naive end-to-end
    // (Spark then writes isAdjustedToUTC=false parquet, matching the naive
    // timestamps the DuckDB oracle produces).
    val core = Seq(
      col("user_id").cast("string").as("visitorid"),
      expr(eventTimeExpr).as("event_time"),
      col("event_type").as("event"),
      col("event_id").cast("string").as("itemid"))
    val cols = if (withExtras) core ++ Seq(col("value"), col("props")) else core
    events(spark, dir).select(cols: _*)
  }
}
