package graft.operators

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, concat_ws, count, lit, sum}
import org.apache.spark.sql.types.{LongType, StringType}

import java.util.concurrent.ForkJoinPool
import scala.collection.parallel.CollectionConverters._
import scala.collection.parallel.ForkJoinTaskSupport

/** The one differential-fuzz executor. A harness (`RelFuzz`,
  * `BitwiseFuzz`, … — 32 of them) supplies only its seeded generator,
  * its AST and per-dialect renderers, `NQueries`, `GateSeed` and its
  * dialect notes; everything the gates share lives here:
  *
  *  - the canonical row string: every output column cast to string
  *    with an explicit [[NullSentinel]] (concat_ws silently drops
  *    nulls, which would alias rows), '|'-joined in column order — as
  *    a Spark `Column` and as its DuckDB SQL twin;
  *  - the reduction of one generated query to a bounded
  *    `(qid, n_rows, checksum)` row, the checksum being
  *    Σ(md5Long56(row) % [[ModP]]);
  *  - the pooled run: each generated query is its OWN Spark job, from
  *    a pool of [[FuzzExec.poolSize]] threads that is shut down even
  *    when a query fails. NOT one N-branch unionAll plan:
  *    Catalyst analysis/optimization of the mega-union dominated the
  *    gate's cost (~0.26 s/branch, 26 s at sf0.1) while per-branch
  *    data is trivial, so N small plans optimize independently and
  *    the collected result is N rows by construction;
  *  - the DuckDB oracle: one UNION ALL branch per query over the same
  *    canonical string, ordered by qid;
  *  - the gate declaration ([[declare]]), collected by [[FuzzQueries]].
  *
  * A harness runs its population in one of three shapes:
  *  - [[FuzzExec.Frames]]: each query renders as a DataFrame
  *    (`fingerprintAll(spark, dir, frames)`);
  *  - [[FuzzExec.Views]]: each query is Spark SQL over temp views the
  *    executor registers (`registerViews`, `fingerprint(spark, q)`);
  *  - [[FuzzExec.Outcomes]]: Views whose queries may raise an expected
  *    ANSI error, reduced to `(qid, errored, n_rows, checksum)`.
  *
  * Tables resolve through [[graft.Tables.t]], the one session-scoped,
  * freshness-stamped plan memo, so a gate resolves each table once per
  * session rather than once per generated query. Repartitioning the
  * unsplittable single-row-group inputs after the read (input skew)
  * was measured and REJECTED for the shuffle-bearing gates: the added per-query exchange costs far more
  * than the intra-query parallelism buys at this row count (fz1
  * 15.3 s memo-only → ~30 s with the repartition; fz5 at 3.2× its
  * memo-only time — OPTIMIZATION_r15.md). Cross-query pool
  * concurrency already fills the cores; only the CPU-heavy per-row
  * gates use [[FuzzExec.spread]].
  */
trait FuzzExec {
  import FuzzExec._

  /** The harness's generated-query type. */
  type Query <: Generated

  /** Population size: the property suite and the gate both run the
    * full population. */
  def NQueries: Int

  /** Gate seed — changing it rotates the whole population. */
  def GateSeed: Long

  /** The seeded population: a pure function of `seed`. */
  def queries(seed: Long = GateSeed, n: Int = NQueries): Seq[Query]

  /** The harness's registered gate, made with [[declare]]. */
  def gate: Q

  /** Σ(hash % ModP) over ≤ millions of rows stays far inside BIGINT. */
  final val ModP = 1000003L

  final val NullSentinel = "<NULL>"

  /** The whole population run on Spark: the gate's frame. */
  protected def run(spark: SparkSession, dir: String): DataFrame

  /** A gate whose Spark side is [[run]] and whose DuckDB side is
    * [[duckOracleSql]]: a hash mismatch on any row is a semantics
    * divergence in that generated query. */
  protected final def declare(name: String, doc: String): Q =
    Q(name, doc, run, Some(duckOracleSql))

  private def canon(outCols: Seq[String]): Column =
    concat_ws("|", outCols.map(c =>
      coalesce(col(c).cast(StringType), lit(NullSentinel))): _*)

  protected final def canonSql(outCols: Seq[String]): String =
    "concat_ws('|', " + outCols.map(c =>
      s"coalesce(CAST($c AS VARCHAR), '$NullSentinel')").mkString(", ") + ")"

  /** One (n_rows, checksum) row over the frame's canonical strings. */
  protected final def reduce(frame: DataFrame, outCols: Seq[String]): DataFrame =
    frame.select(canon(outCols).as("__c"))
      .agg(count(lit(1)).cast(LongType).as("n_rows"),
        coalesce(sum(Sketches.md5Long56(col("__c")) % ModP), lit(0L))
          .as("checksum"))

  /** `f` over the whole population, one Spark job per query from the
    * thread pool, results in qid order; the pool is shut down even
    * when a query fails (no thread leak). */
  protected final def pooled[R](spark: SparkSession)(f: Query => R): List[R] = {
    val pool = new ForkJoinPool(poolSize(spark))
    val par = queries().sortBy(_.id).par
    par.tasksupport = new ForkJoinTaskSupport(pool)
    try par.map(f).toList
    finally pool.shutdown()
  }

  /** DuckDB twin of the Spark-side run: one UNION ALL branch per
    * query, over the same canonical string. */
  def duckOracleSql: String = {
    val branches = queries().map(oracleBranch)
    s"SELECT $oracleCols FROM (\n${branches.mkString("\nUNION ALL\n")}\n) ORDER BY qid"
  }

  protected def oracleCols: String = "qid, n_rows, checksum"

  protected def oracleBranch(q: Query): String =
    s"""SELECT ${q.id} AS qid, CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(coalesce(sum(${Sketches.md5Long56Sql("__c")} % $ModP), 0) AS BIGINT) AS checksum
       |FROM (SELECT ${canonSql(q.outCols)} AS __c FROM (${q.duckSql}) __q) __cq""".stripMargin
}

object FuzzExec {

  /** What the executor reads off a generated query: its id, its output
    * columns in order, and its DuckDB rendering. */
  trait Generated {
    def id: Int
    def outCols: Seq[String]
    def duckSql: String
  }

  /** A generated query Spark runs as SQL over the harness's views. */
  trait SqlGenerated extends Generated {
    def sparkSql: String
  }

  /** A generated query that may raise an expected error. `duckSql` is
    * its guarded twin (never errors); `duckErrPred` is the analytic
    * DuckDB predicate that is 1 exactly when Spark must raise. */
  trait ErrGenerated extends SqlGenerated {
    def duckErrPred: String
  }

  /** Harnesses whose queries render as DataFrames. */
  trait Frames extends FuzzExec {

    /** The Spark rendering of `q` over the tables in `dir`. */
    protected def render(spark: SparkSession, dir: String, q: Query): DataFrame

    /** Reduce one query's frame to (qid, n_rows, checksum). */
    def fingerprint(q: Query, frame: DataFrame): DataFrame =
      reduce(frame, q.outCols)
        .select(lit(q.id.toLong).as("qid"), col("n_rows"), col("checksum"))

    /** The whole population reduced — the gate frame. */
    def fingerprintAll(spark: SparkSession, dir: String,
        frames: Query => DataFrame): DataFrame = {
      import spark.implicits._
      pooled(spark) { q =>
        val r = fingerprint(q, frames(q)).head()
        (r.getLong(0), r.getLong(1), r.getLong(2))
      }.toDF("qid", "n_rows", "checksum")
    }

    protected def run(spark: SparkSession, dir: String): DataFrame =
      fingerprintAll(spark, dir, render(spark, dir, _))
  }

  /** Harnesses whose queries are Spark SQL over temp views. */
  trait Views extends FuzzExec {
    type Query <: SqlGenerated

    /** The tables the generated SQL reads, as [[sparkView]] names. */
    protected def viewTables: Seq[String]

    protected def sparkView(table: String): String

    /** The frame registered for `table`. */
    protected def view(spark: SparkSession, dir: String, table: String): DataFrame =
      Tables.t(spark, dir, table)

    def registerViews(spark: SparkSession, dir: String): Unit =
      for (t <- viewTables)
        view(spark, dir, t).createOrReplaceTempView(sparkView(t))

    /** Runs one query (views registered) → (n_rows, checksum). */
    def fingerprint(spark: SparkSession, q: Query): (Long, Long) = {
      val r = reduce(spark.sql(q.sparkSql), q.outCols).head()
      (r.getLong(0), r.getLong(1))
    }

    def fingerprintAll(spark: SparkSession, dir: String): DataFrame = {
      registerViews(spark, dir)
      import spark.implicits._
      pooled(spark) { q =>
        val (n, h) = fingerprint(spark, q)
        (q.id.toLong, n, h)
      }.toDF("qid", "n_rows", "checksum")
    }

    protected def run(spark: SparkSession, dir: String): DataFrame =
      fingerprintAll(spark, dir)
  }

  /** Views whose queries may raise an expected ANSI error: the gate
    * compares DOES-IT-ERROR per query, plus the fingerprint of every
    * query that answers; (-1, -1) stand in when it errored. */
  trait Outcomes extends Views {
    type Query <: ErrGenerated

    /** Whether an error condition is one the population means to raise. */
    protected def expected(condition: String): Boolean

    /** Right((n_rows, checksum)) when the query answers,
      * Left(condition) when it raises an expected error; any other
      * failure propagates (harness bugs must not count as "errored"). */
    def outcome(spark: SparkSession, q: Query): Either[String, (Long, Long)] =
      try Right(fingerprint(spark, q))
      catch {
        case e: Throwable =>
          condition(e).filter(expected) match {
            case Some(cond) => Left(cond)
            case None => throw e
          }
      }

    /** Gate frame: (qid, errored, n_rows, checksum). */
    def outcomes(spark: SparkSession, dir: String): DataFrame = {
      registerViews(spark, dir)
      import spark.implicits._
      pooled(spark) { q =>
        outcome(spark, q) match {
          case Left(_) => (q.id.toLong, 1L, -1L, -1L)
          case Right((n, h)) => (q.id.toLong, 0L, n, h)
        }
      }.toDF("qid", "errored", "n_rows", "checksum")
    }

    override protected def run(spark: SparkSession, dir: String): DataFrame =
      outcomes(spark, dir)

    override protected def oracleCols: String = "qid, errored, n_rows, checksum"

    override protected def oracleBranch(q: Query): String =
      s"""SELECT ${q.id} AS qid, __e.err AS errored,
         |  CASE WHEN __e.err = 1 THEN -1 ELSE __f.n_rows END AS n_rows,
         |  CASE WHEN __e.err = 1 THEN -1 ELSE __f.checksum END AS checksum
         |FROM (SELECT ${q.duckErrPred} AS err) __e CROSS JOIN
         |  (SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |    CAST(coalesce(sum(${Sketches.md5Long56Sql("__c")} % $ModP), 0) AS BIGINT) AS checksum
         |  FROM (SELECT ${canonSql(q.outCols)} AS __c FROM (${q.duckSql}) __q) __cq) __f""".stripMargin
  }

  /** Walks the cause chain for a SparkThrowable error condition. */
  private def condition(t: Throwable, depth: Int = 0): Option[String] = t match {
    case null => None
    case _ if depth > 12 => None
    case st: org.apache.spark.SparkThrowable if st.getCondition != null =>
      Some(st.getCondition)
    case other => condition(other.getCause, depth + 1)
  }

  /** Driver-pool width for per-generated-query jobs. Measured on the
    * two extreme gate shapes at sf0.1/local[32] (OPTIMIZATION_r15.md +
    * targeted bench): shuffle-bearing gates (fz1) are flat in pool
    * width — each generated query's exchanges already fan to
    * shuffle-partition tasks — while CPU-bound single-task-scan gates
    * (fz26's per-row JSON) are serialized by the pool. Half the session
    * parallelism, floored at the historical 8 (low-core runs keep
    * their round-14 shape), capped at 16 (fz1 degrades past
    * that); env SPARK_GRAFT_FUZZ_POOL overrides for cluster tuning. */
  def poolSize(spark: SparkSession): Int =
    // toIntOption + positivity check: a malformed or non-positive env
    // value falls back to the computed default instead of throwing an
    // opaque NumberFormatException from inside every gate
    sys.env.get("SPARK_GRAFT_FUZZ_POOL").flatMap(_.toIntOption).filter(_ > 0)
      .getOrElse {
        val cores = spark.sparkContext.defaultParallelism
        math.min(16, math.max(8, cores / 2))
      }

  /** Spread + pin an unsplittable scan for the CPU-heavy per-row
    * gates (fz16 map HOFs, fz26 VARIANT parse): the driver's parquet
    * inputs are single-row-group files, so each generated query's
    * expensive projection (map construction + HOF + canon + md5)
    * otherwise runs in ONE task — a 4–5 s serial link in the gate's
    * critical path at 32 cores (guide §2.5, input skew: "one huge
    * unsplittable file … repartition immediately after the read").
    * Round-robin repartition to the session parallelism moves the
    * per-row work behind a narrow exchange where it fans out to every
    * core, and a `.cache()` lets the gate's N generated queries share
    * ONE materialization instead of N rescans+reshuffles of the same
    * rows. The cache is strictly in-region: it is built inside the
    * timed exec, Bench.exec clears the catalog cache after every
    * execution, and the entry is keyed by the logical plan, so
    * repeated calls within one exec reuse it and nothing survives a
    * run. Only valid for gates whose generated queries are order-free
    * (pure per-row projections + WHERE reduced by count/sum
    * fingerprints — repartition permutes row order); the r15
    * measurement that REJECTED a per-query repartition for the
    * shuffle-bearing/cheap-row gates (fz1/fz5) is unaffected: those
    * keep the raw plan. */
  def spread(spark: SparkSession, df: DataFrame): DataFrame =
    df.repartition(spark.sparkContext.defaultParallelism).cache()

  /** [[spread]] without the cache: for gates whose generated queries
    * are order-free but whose per-query work is light enough that the
    * shared in-memory materialization costs more than the rescan it
    * saves (measured: fz16 7.2 s repartition-only vs 9.4 s with the
    * cache — the columnar cache build + per-query decompress outweigh
    * the 10 MB parquet rescan). */
  def spreadNoCache(spark: SparkSession, df: DataFrame): DataFrame =
    df.repartition(spark.sparkContext.defaultParallelism)
}

/** The 32 differential-fuzz gates, one per harness. */
object FuzzQueries extends QueryModule {
  override val all: Seq[Q] = Seq[FuzzExec](
    RelFuzz, TemporalFuzz, StringFuzz, WindowSetFuzz, GroupingFuzz,
    SubqueryFuzz, ArrayFuzz, JsonFuzz, NumericFuzz, DateArithFuzz,
    FloatFuzz, TsArithFuzz, CastFuzz, RegexFuzz, StructFuzz, MapFuzz,
    ComposedFuzz, LimitFuzz, ErrorFuzz, TryFuzz, WindowNullsFuzz,
    LateralFuzz, RecursiveFuzz, BitwiseFuzz, OrderedAggFuzz, VariantFuzz,
    SignedZeroFuzz, CollationFuzz, IntervalFuzz, NtzFuzz, StatsAggFuzz,
    StringCollationFuzz).map(_.gate)
}
