package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated test corpus (TESTDATA.md).
  *
  * One parquet file per table under `dir`. Schemas come from the
  * footers, at one schema-inference job per `load` (67–101 ms each on
  * a 4-core host); an explicit schema keeps pruning and pushdown alike
  * (PlanSpec q03: same `PushedFilters` / `ReadSchema` either way).
  *
  * Scale notes: at 100 TB each of these would be a partitioned parquet
  * dataset (directory, not single file); `spark.read.parquet(path)` is
  * unchanged, partition pruning then applies on directory keys.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.ts` arrives in whichever parquet timestamp unit the data
    * generator used, and the generator has shipped BOTH over time:
    * TIMESTAMP(NANOS) (early rounds) and TIMESTAMP(MICROS) (current).
    * The loader normalizes either layout to the same two columns the
    * whole query surface is written against:
    *   - `ts`    µs TimestampType (matches DuckDB's µs TIMESTAMP)
    *   - `ts_ns` epoch-nanos long (the oracle compares at ns precision
    *     via `epoch_ns(ts)`, so tie-breaks/last-wins ordering must too)
    *
    * NANOS path: Spark cannot hold ns in TimestampType, so nanos are
    * read as a long (`nanosAsLong`) and `ts` derives by FLOOR ns→µs
    * truncation (`div` truncates toward zero — a pre-epoch value off a
    * µs boundary must round DOWN like DuckDB's conversion).
    * MICROS path: `ts` loads as TIMESTAMP_NTZ; with the session pinned
    * to UTC (GraftSession) the cast to TimestampType is the identity
    * on the instant — exactly how DuckDB treats its naive TIMESTAMP in
    * `epoch_ns` — and `ts_ns` is unix_micros·1000 (exact: |ns| < 2⁶³
    * until year 2262, no ANSI overflow).
    *
    * SIDE EFFECT: enables `spark.sql.legacy.parquet.nanosAsLong` on the
    * SESSION (there is no per-read switch) — other parquet reads with
    * NANOS columns in the same session will surface them as longs too.
    * GraftSession.local sets it up front so behavior never depends on
    * whether this loader ran first. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => // parquet TIMESTAMP(NANOS) read as epoch-ns long
        raw.withColumn("ts_ns", col("ts"))
          .withColumn("ts", expr(
            "timestamp_micros((ts - pmod(ts, 1000)) div 1000)"))
      case TimestampNTZType | TimestampType => // µs precision on disk
        raw.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported type $other — expected ns-as-long or timestamp")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
