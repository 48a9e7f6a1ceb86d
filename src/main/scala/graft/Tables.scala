package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.TableIO

/** Readers for the driver-provided parquet tables (TESTDATA.md).
  * Plain parquet scans: Catalyst pushes filters/column pruning into the
  * scan, so callers should select/filter on the returned frame directly.
  *
  * Resolution goes through [[TableIO.read]], the one resolver: its
  * per-session plan memo, guarded by [[TableIO.fingerprint]], spares
  * every timed bench exec the ~75–90 ms `spark.read.parquet` per table
  * (OPTIMIZATION_r15.md) while any rewrite of a table forces a fresh
  * resolution.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    TableIO.read(spark, s"$dir/$name.parquet")

  /** Scale-adaptive spread of a narrow scan for CPU-heavy per-row
    * derivations (tokenize / shingle / per-row hashing): the driver's
    * parquet inputs are single-row-group files, so the whole
    * derivation otherwise runs in ONE task however many cores the
    * session has (guide §2.5, input skew — "one huge unsplittable
    * file … repartition immediately after the read"). No-op when the
    * frame already carries at least half the session parallelism —
    * at 100 TB the scan is splittable and a round-robin repartition
    * would shuffle the corpus for nothing. Call ONLY on scan-shaped
    * frames (scan + filter/project, no exchanges): inspecting
    * `rdd.getNumPartitions` on a post-shuffle AQE frame would
    * materialize its query stages. */
  def spread(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val dp = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 <= dp) df.repartition(dp) else df
  }

  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  /** events.ts has shipped as parquet TIMESTAMP(NANOS) in some testdata
    * generations and TIMESTAMP(MICROS, isAdjustedToUTC=false) in others;
    * [[normalizeEventsTs]] maps every physical shape to the same
    * session-UTC TimestampType column so downstream `unix_micros` /
    * window arithmetic is generation-independent. */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventsTs(t(s, d, "events"))

  /** Normalize the `ts` column to TimestampType (µs, session-UTC):
    *  - LongType — TIMESTAMP(NANOS) read under
    *    spark.sql.legacy.parquet.nanosAsLong=true; integer-divide to µs
    *    (`/` on longs is double division in Spark and loses precision
    *    above 2^53 — epoch-ns values are ~1.7e18) exactly like DuckDB's
    *    ns→µs truncating read;
    *  - TimestampNTZType — TIMESTAMP(MICROS) without UTC adjustment; the
    *    cast interprets the naive value in the session timezone (UTC in
    *    GraftSession), so the numeric micros are unchanged — identical
    *    to DuckDB's naive TIMESTAMP read;
    *  - TimestampType — already the target shape. */
  def normalizeEventsTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => raw
      case other => throw new IllegalStateException(
        s"events.ts: unexpected parquet type $other")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}
