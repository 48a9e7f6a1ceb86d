package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the driver-provided parquet tables (TESTDATA.md).
  * Plain parquet scans: Catalyst pushes filters/column pruning into the
  * scan, so callers should select/filter on the returned frame directly.
  *
  * Resolution is memoized per (session, path) behind a freshness
  * signature: `spark.read.parquet` costs ~75–90 ms per call on this
  * host (file listing + parquet footer schema read + datasource
  * resolution — measured in OPTIMIZATION_r15.md), and every timed
  * bench exec paid it once per table. The memo stores the resolved
  * PLAN (an immutable DataFrame) — never data, never results; every
  * action still computes from parquet. A ~µs stat-signature of the
  * path (mtime/size, plus child listing for directories) guards
  * staleness: any rewrite, append or replacement changes the
  * signature and forces a fresh resolution, so write-then-reread
  * flows (e.g. the M9 skip-if-unchanged chains and their specs) see
  * exactly what a plain read would.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    var cur = memo.get()
    if (cur == null || !(cur._1.get() eq spark)) {
      // new session: drop every plan of the old one (stopped sessions
      // must not serve plans to their successors). Reference equality
      // via a WeakReference — identity hash codes can collide between
      // a stopped session and its successor, and the weak ref lets a
      // stopped session be collected instead of being pinned here.
      val fresh = (new java.lang.ref.WeakReference(spark),
        new java.util.concurrent.ConcurrentHashMap[String, (String, DataFrame)]())
      memo.compareAndSet(cur, fresh)
      cur = memo.get()
      if (!(cur._1.get() eq spark)) // lost a cross-session race: stay correct, skip the memo
        return spark.read.parquet(path)
    }
    val s = sig(path)
    val hit = cur._2.get(path)
    if (hit != null && hit._1 == s) hit._2
    else {
      val df = spark.read.parquet(path)
      cur._2.put(path, (s, df))
      df
    }
  }

  private val memo = new java.util.concurrent.atomic.AtomicReference[
    (java.lang.ref.WeakReference[SparkSession],
      java.util.concurrent.ConcurrentHashMap[String, (String, DataFrame)])]()

  /** Freshness signature of a parquet path: single file → (mtime ns,
    * size); directory → every file under it RECURSIVELY (relative
    * path, mtime ns, size), sorted — nested part files of partitioned
    * layouts count, so an in-place rewrite below a direct child still
    * changes the signature. Any write Spark or the jobs can perform
    * (overwrite = delete + recreate, append = add part files, atomic
    * swap = rename) changes it. Unreadable/missing paths get a unique
    * signature so the next call re-resolves (and surfaces the reader's
    * own error). */
  private def sig(path: String): String = {
    import java.nio.file.{Files, Paths}
    import java.util.concurrent.TimeUnit
    try {
      val p = Paths.get(path)
      if (Files.isDirectory(p)) {
        val s = Files.walk(p)
        try {
          val entries = new java.util.ArrayList[String]()
          s.forEach { c =>
            if (!Files.isDirectory(c))
              entries.add(s"${p.relativize(c)}:" +
                s"${Files.getLastModifiedTime(c).to(TimeUnit.NANOSECONDS)}:${Files.size(c)}")
          }
          java.util.Collections.sort(entries)
          String.join("|", entries)
        } finally s.close()
      } else
        s"${Files.getLastModifiedTime(p).to(TimeUnit.NANOSECONDS)}:${Files.size(p)}"
    } catch { case _: Exception => s"unreadable:${System.nanoTime()}" }
  }

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
