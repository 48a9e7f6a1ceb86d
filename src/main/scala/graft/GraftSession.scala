package graft

import org.apache.spark.sql.SparkSession

/** One place to build sessions so Verify / Bench / tests agree on the
  * semantics-relevant configs (UTC, AQE, ns-timestamp handling).
  */
object GraftSession {

  /** Task threads for a `main`'s session: `SPARK_GRAFT_CPUS` when set
    * to a positive integer, else every core of this host. */
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption).filter(_ > 0)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session with one shuffle partition per thread. */
  def local(): SparkSession = { val n = cpus; build(s"local[$n]", n) }

  def build(master: String, shufflePartitions: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // the fuzz gates compile ~450 distinct whole-stage-codegen units
      // per gate pass (150 generated queries × ~3 units); the default
      // 100-entry JVM-wide codegen class cache therefore LRU-thrashes
      // and every bench pass re-runs Janino on every unit. 2048 covers
      // the largest per-gate working set with headroom; entries are
      // compiled classes (not data, not results), so this changes no
      // query semantics. Static conf — must be set at session build.
      .config("spark.sql.codegen.cache.maxEntries", "2048")
      // let AQE rewrite a sort-merge join to a shuffled-hash join at
      // runtime when every post-shuffle partition of the build side is
      // small (guide §3.1) — drops both sort passes. Bounded by actual
      // runtime partition sizes, so it is exactly as safe at 100 TB as
      // locally: an oversized partition keeps the sort-merge plan.
      // Equi-join results are strategy-independent; the oracle gate
      // re-verified 221/221 exact with this on. Env-tunable for
      // cluster sizing and for A/B bisection (r16: the four gates the
      // r15 driver run showed 5-7x slower at 32c were A/B'd with this
      // off and the audit listener off — both measured neutral; the
      // inflation reproduced under start-of-run load ~8, naming
      // contention, not this config, as the cause).
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        sys.env.getOrElse("SPARK_GRAFT_SHJ_THRESHOLD", "64m"))
      .config("spark.ui.enabled", "false")
      // some events.parquet generations store TIMESTAMP(NANOS); Spark
      // has no ns type, so read as long and convert in
      // Tables.normalizeEventsTs (micros, lossless for this data; DuckDB
      // truncates to micros the same way). µs-generation files are
      // unaffected by this flag and normalize from TIMESTAMP_NTZ.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Viollier CSVs are windows-1252 (S2); Spark 4 restricts csv
      // charsets to a short list unless legacy java charsets are on
      .config("spark.sql.legacy.javaCharsets", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // inject every registered optimizer rule (TailFrameRewrite's O(n²)
    // tail-frame → O(n) running twin; TopKProjectInline's bounded-heap
    // top-k preservation) — the registry is the one list both this
    // path and GraftExtensions draw from, and RuleIdentitySpec sweeps
    for ((_, rule) <- plans.GraftRules.injected)
      if (!s.experimental.extraOptimizations.contains(rule))
        s.experimental.extraOptimizations =
          s.experimental.extraOptimizations :+ rule
    // SQL surface for the sketch aggregator (native expressions are
    // injected by GraftExtensions; a typed Aggregator registers
    // per-session): SELECT kmv_sketch(hash_col) ... GROUP BY g
    s.udf.register("kmv_sketch",
      org.apache.spark.sql.functions.udaf(new operators.Sketches.KmvAgg(64)))
    s
  }
}
