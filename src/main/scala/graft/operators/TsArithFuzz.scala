package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

import java.time.{Duration, Period}
import scala.util.Random

/** Differential fuzz over TIMESTAMP ARITHMETIC — the twelfth
  * population, completing the temporal story: [[TemporalFuzz]] (fz2)
  * fuzzes `date_trunc`/EXTRACT rollups (the spelling-identical
  * overlap), [[DateArithFuzz]] (fz10) the DATE-typed arithmetic
  * surface; this population covers `timestamp ± INTERVAL` in sub-day
  * units, month clamping on timestamps, and unit-boundary differences
  * — over the µs-precision `events.ts` column through the
  * [[Tables.events]] normalization seam, exactly like fz2.
  *
  * The ONE genuinely divergent op, probed: DuckDB `datediff(unit, a,
  * b)` counts UNIT BOUNDARIES CROSSED while Spark `timestampdiff`
  * counts ELAPSED whole units (probed: 10:00:30 → 11:30:00 is 90
  * minute-boundaries but 89 elapsed minutes). The AST op here is
  * boundary count; the Spark rendering truncates both operands to the
  * unit first and diffs unix seconds (`(unix_timestamp(date_trunc(u,
  * b)) − unix_timestamp(date_trunc(u, a))) / secs_per_unit` — the
  * diff is a multiple of the divisor and far below 2⁵³, so the double
  * division is exact; the session is UTC, no DST seam), months via
  * `12·Δyear + Δmonth`. Everything else is spelling-common (probed):
  * `+/− INTERVAL n MINUTE/HOUR/DAY/MONTH` (month-end clamping
  * identical on timestamps), `CAST(date_trunc(...) AS TIMESTAMP)`
  * (the fz2 DATE-vs-TIMESTAMP compensation, a no-op in Spark),
  * greatest/least, minute/hour/day fields.
  *
  * µs discipline: raw `ts` values carry microseconds whose string
  * forms are not gate-safe — every timestamp that reaches an OUTPUT
  * (projection or min/max aggregate) is trunc-ROOTED (minute or
  * coarser ⇒ whole-second strings, the fz2 canonical-row rule);
  * boundary-diff and field/predicate operands may stay raw because
  * those ops truncate internally.
  */
object TsArithFuzz extends FuzzExec.Frames {

  val NQueries = 40
  val GateSeed = 20260822L

  // events range is 2024-01-01 .. 2024-01-30 (TESTDATA); offsets ≤ ~2
  // months keep clamping live without leaving a comparable range
  private val TsLiterals = Seq(
    "2024-01-05 00:00:00", "2024-01-08 12:30:00", "2024-01-12 06:00:00",
    "2024-01-18 06:30:00", "2024-01-25 00:00:00", "2024-01-31 23:30:00")

  private val Types = Seq("click", "error", "purchase", "signup", "view")

  // ---- AST ----

  private sealed trait TN {
    def sparkSql: String; def duckSql: String; def df: Column
    /** root is a date_trunc at minute-or-coarser ⇒ whole-second */
    def truncRooted: Boolean
  }

  /** Raw ts leaf, with an id-cycled conditional-NULL arm (common
    * spelling — a value-dependent CASE, deterministic per row). */
  private final case class TLeaf(nullArm: Boolean) extends TN {
    def sparkSql =
      if (nullArm) "(CASE WHEN event_id % 17 = 0 THEN CAST(NULL AS TIMESTAMP) ELSE ts END)"
      else "ts"
    def duckSql = sparkSql
    def df =
      if (nullArm) when(col("event_id") % 17 === 0, lit(null).cast(TimestampType))
        .otherwise(col("ts"))
      else col("ts")
    def truncRooted = false
  }

  private final case class TLit(s: String) extends TN {
    def sparkSql = s"TIMESTAMP '$s'"; def duckSql = sparkSql
    def df = lit(java.sql.Timestamp.valueOf(s)); def truncRooted = true
  }

  private final case class TAdd(in: TN, n: Int, unit: String, sub: Boolean) extends TN {
    private def op = if (sub) "-" else "+"
    def sparkSql = s"((${in.sparkSql}) $op INTERVAL $n $unit)"
    def duckSql = s"((${in.duckSql}) $op INTERVAL $n $unit)"
    def df = {
      val k = if (sub) -n else n
      val iv = unit match {
        case "MINUTE" => lit(Duration.ofMinutes(k))
        case "HOUR" => lit(Duration.ofHours(k))
        case "DAY" => lit(Duration.ofDays(k))
        case _ => lit(Period.ofMonths(k))
      }
      in.df + iv
    }
    // whole-unit shifts preserve the sub-second part unchanged, so
    // trunc-rootedness survives addition of ≥minute units
    def truncRooted = in.truncRooted
  }

  private final case class TTrunc(in: TN, unit: String) extends TN {
    // CAST(... AS TIMESTAMP): DuckDB's date_trunc returns DATE for
    // day-and-coarser units (the fz2 divergence); a no-op in Spark
    def sparkSql = s"CAST(date_trunc('$unit', ${in.sparkSql}) AS TIMESTAMP)"
    def duckSql = s"CAST(date_trunc('$unit', ${in.duckSql}) AS TIMESTAMP)"
    def df = date_trunc(unit.toUpperCase, in.df)
    def truncRooted = true
  }

  private final case class TExtreme(a: TN, b: TN, isMax: Boolean) extends TN {
    private def fn = if (isMax) "greatest" else "least"
    def sparkSql = s"$fn(${a.sparkSql}, ${b.sparkSql})"
    def duckSql = s"$fn(${a.duckSql}, ${b.duckSql})"
    def df = if (isMax) greatest(a.df, b.df) else least(a.df, b.df)
    def truncRooted = a.truncRooted && b.truncRooted
  }

  private final case class TCase(predSql: String, predDf: Column, a: TN, b: TN) extends TN {
    def sparkSql = s"(CASE WHEN $predSql THEN ${a.sparkSql} ELSE ${b.sparkSql} END)"
    def duckSql = s"(CASE WHEN $predSql THEN ${a.duckSql} ELSE ${b.duckSql} END)"
    def df = when(predDf, a.df).otherwise(b.df)
    def truncRooted = a.truncRooted && b.truncRooted
  }

  // ---- generator ----

  private val Units = Seq("MINUTE", "HOUR", "DAY", "MONTH")
  private val TruncUnits = Seq("minute", "hour", "day", "month")

  private def intPred(rnd: Random): (String, Column) = {
    val c = if (rnd.nextBoolean()) "user_id" else "event_id"
    val k = Seq(2, 3, 5, 7)(rnd.nextInt(4)); val r = rnd.nextInt(k)
    (s"$c % $k = $r", col(c) % k === r)
  }

  private def leaf(rnd: Random, forceNullArm: Boolean): TN =
    if (!forceNullArm && rnd.nextInt(100) < 15) TLit(TsLiterals(rnd.nextInt(TsLiterals.size)))
    else TLeaf(nullArm = forceNullArm || rnd.nextInt(100) < 15)

  private def genTs(rnd: Random, depth: Int, forceNullArm: Boolean): TN = {
    if (depth <= 0) leaf(rnd, forceNullArm)
    else {
      val a = genTs(rnd, depth - 1, forceNullArm)
      rnd.nextInt(100) match {
        case x if x < 35 =>
          val unit = Units(rnd.nextInt(Units.size))
          val n = unit match {
            case "MINUTE" => 5 + rnd.nextInt(200)
            case "HOUR" => 1 + rnd.nextInt(40)
            case "DAY" => 1 + rnd.nextInt(20)
            case _ => 1 + rnd.nextInt(2)
          }
          TAdd(a, n, unit, sub = rnd.nextBoolean())
        case x if x < 55 => TTrunc(a, TruncUnits(rnd.nextInt(TruncUnits.size)))
        case x if x < 72 => TExtreme(a, genTs(rnd, depth - 1, forceNullArm = false),
          isMax = rnd.nextBoolean())
        case x if x < 88 =>
          val (ps, pc) = intPred(rnd)
          TCase(ps, pc, a, genTs(rnd, depth - 1, forceNullArm = false))
        case _ => a
      }
    }
  }

  /** Output-safe: whole-second string forms guaranteed. */
  private def genTsOut(rnd: Random, depth: Int, forceNullArm: Boolean): TN = {
    val e = genTs(rnd, depth, forceNullArm)
    if (e.truncRooted) e
    else TTrunc(e, TruncUnits(rnd.nextInt(TruncUnits.size)))
  }

  // ---- outputs ----

  private sealed trait TOut { def sparkSql: String; def duckSql: String; def df: Column }

  private final case class OTs(e: TN, name: String) extends TOut {
    require(e.truncRooted)
    def sparkSql = s"(${e.sparkSql}) AS $name"
    def duckSql = s"(${e.duckSql}) AS $name"
    def df = e.df.as(name)
  }

  /** Boundary count — the dual-rendered divergence op (see scaladoc). */
  private final case class OBoundaryDiff(a: TN, b: TN, unit: String, name: String)
      extends TOut {
    private def secs = unit match {
      case "minute" => 60L; case "hour" => 3600L; case _ => 86400L
    }
    def sparkSql =
      if (unit == "month")
        s"CAST((year(${b.sparkSql}) - year(${a.sparkSql})) * 12 + " +
          s"(month(${b.sparkSql}) - month(${a.sparkSql})) AS BIGINT) AS $name"
      else
        s"CAST((unix_timestamp(date_trunc('$unit', ${b.sparkSql})) - " +
          s"unix_timestamp(date_trunc('$unit', ${a.sparkSql}))) / $secs AS BIGINT) AS $name"
    def duckSql = s"CAST(datediff('$unit', ${a.duckSql}, ${b.duckSql}) AS BIGINT) AS $name"
    def df =
      if (unit == "month")
        ((year(b.df) - year(a.df)) * 12 + (month(b.df) - month(a.df)))
          .cast(LongType).as(name)
      else
        ((unix_timestamp(date_trunc(unit.toUpperCase, b.df)) -
          unix_timestamp(date_trunc(unit.toUpperCase, a.df))) / secs)
          .cast(LongType).as(name)
  }

  private final case class OField(e: TN, f: String, name: String) extends TOut {
    def sparkSql = s"CAST($f(${e.sparkSql}) AS BIGINT) AS $name"
    def duckSql = s"CAST($f(${e.duckSql}) AS BIGINT) AS $name"
    def df = (f match {
      case "minute" => minute(e.df); case "hour" => hour(e.df)
      case _ => dayofmonth(e.df)
    }).cast(LongType).as(name)
  }

  private def genOut(rnd: Random, name: String, forceNullArm: Boolean): TOut =
    rnd.nextInt(100) match {
      case x if x < 40 => OTs(genTsOut(rnd, 1 + rnd.nextInt(2), forceNullArm), name)
      case x if x < 70 => OBoundaryDiff(genTs(rnd, 1, forceNullArm),
        genTs(rnd, 1, forceNullArm = false),
        Seq("minute", "hour", "day", "month")(rnd.nextInt(4)), name)
      case _ => OField(genTs(rnd, 1, forceNullArm),
        Seq("minute", "hour", "day")(rnd.nextInt(3)), name)
    }

  // ---- predicates ----

  private def genPred(rnd: Random): (String, String, Column) = rnd.nextInt(4) match {
    case 0 =>
      val a = TsLiterals(rnd.nextInt(TsLiterals.size))
      val b = TsLiterals(rnd.nextInt(TsLiterals.size))
      val (lo, hi) = if (a <= b) (a, b) else (b, a)
      (s"ts >= TIMESTAMP '$lo' AND ts < TIMESTAMP '$hi'",
        s"ts >= TIMESTAMP '$lo' AND ts < TIMESTAMP '$hi'",
        col("ts") >= lit(java.sql.Timestamp.valueOf(lo)) &&
          col("ts") < lit(java.sql.Timestamp.valueOf(hi)))
    case 1 =>
      val e = genTs(rnd, 1, forceNullArm = false)
      val l = TLit(TsLiterals(rnd.nextInt(TsLiterals.size)))
      (s"(${e.sparkSql}) < (${l.sparkSql})", s"(${e.duckSql}) < (${l.duckSql})",
        e.df < l.df)
    case 2 =>
      val e = genTs(rnd, 1, forceNullArm = false)
      val k = rnd.nextInt(24)
      (s"hour(${e.sparkSql}) = $k", s"hour(${e.duckSql}) = $k", hour(e.df) === k)
    case _ =>
      val (s0, c) = intPred(rnd); (s0, s0, c)
  }

  // ---- aggregates ----

  private sealed trait TAgg2 { def sparkSql: String; def duckSql: String; def df: Column }

  private final case class ACount(name: String) extends TAgg2 {
    def sparkSql = s"CAST(count(*) AS BIGINT) AS $name"; def duckSql = sparkSql
    def df = count(lit(1)).cast(LongType).as(name)
  }
  private final case class ACountDist(e: TN, name: String) extends TAgg2 {
    def sparkSql = s"CAST(count(DISTINCT ${e.sparkSql}) AS BIGINT) AS $name"
    def duckSql = s"CAST(count(DISTINCT ${e.duckSql}) AS BIGINT) AS $name"
    def df = count_distinct(e.df).cast(LongType).as(name)
  }
  private final case class AMinMax(e: TN, isMax: Boolean, name: String) extends TAgg2 {
    require(e.truncRooted) // output value: whole-second string needed
    private def fn = if (isMax) "max" else "min"
    def sparkSql = s"$fn(${e.sparkSql}) AS $name"
    def duckSql = s"$fn(${e.duckSql}) AS $name"
    def df = (if (isMax) max(e.df) else min(e.df)).as(name)
  }
  private final case class ASumDiffMod(d: OBoundaryDiff, k: Int, name: String) extends TAgg2 {
    private def strip(s: String) = s.stripSuffix(s" AS ${d.name}")
    def sparkSql = s"CAST(sum(${strip(d.sparkSql)} % $k) AS BIGINT) AS $name"
    def duckSql = s"CAST(sum(${strip(d.duckSql)} % $k) AS BIGINT) AS $name"
    def df = {
      // rebuild the un-aliased diff column
      val inner = d.df
      sum(inner % k).cast(LongType).as(name)
    }
  }

  // ---- query shape ----

  final case class TQuery(id: Int, sparkSql: String, duckSql: String,
      df: (SparkSession, String) => DataFrame, outCols: Seq[String])
      extends FuzzExec.Generated

  def queries(seed: Long, n: Int): Seq[TQuery] =
    (0 until n).map(i => gen(i, new Random(seed * 389 + i)))

  private def gen(id: Int, rnd: Random): TQuery =
    if (id % 5 < 2) genScalar(id, rnd) else genAgg(id, rnd)

  private def genScalar(id: Int, rnd: Random): TQuery = {
    val nOut = 2 + rnd.nextInt(2)
    val outs = (0 until nOut).map(j =>
      genOut(rnd, s"o_$j", forceNullArm = id % 3 == 0 && j == 0))
    val where = if (rnd.nextInt(100) < 55) Some(genPred(rnd)) else None
    val outCols = outs.indices.map(j => s"o_$j")
    val sparkSql = s"SELECT ${outs.map(_.sparkSql).mkString(", ")} FROM events" +
      where.fold("")(p => s" WHERE ${p._1}")
    val duckSql = s"SELECT ${outs.map(_.duckSql).mkString(", ")} FROM events" +
      where.fold("")(p => s" WHERE ${p._2}")
    val dfFn = (s: SparkSession, d: String) => {
      val e = Tables.events(s, d)
      val f = where.fold(e)(p => e.filter(p._3))
      f.select(outs.map(_.df): _*)
    }
    TQuery(id, sparkSql, duckSql, dfFn, outCols)
  }

  private def genAgg(id: Int, rnd: Random): TQuery = {
    // key kinds: trunc rollup (fz2-style), field int, event_type, int mod
    val keyKind = rnd.nextInt(4)
    val (kSpark, kDuck, kDf): (String, String, Column) = keyKind match {
      case 0 =>
        val e = genTsOut(rnd, 1, forceNullArm = id % 3 == 0)
        (e.sparkSql, e.duckSql, e.df)
      case 1 =>
        val e = genTs(rnd, 1, forceNullArm = false)
        val f = Seq("hour", "day")(rnd.nextInt(2))
        (s"CAST($f(${e.sparkSql}) AS BIGINT)", s"CAST($f(${e.duckSql}) AS BIGINT)",
          (if (f == "hour") hour(e.df) else dayofmonth(e.df)).cast(LongType))
      case 2 => ("event_type", "event_type", col("event_type"))
      case _ =>
        val c = if (rnd.nextBoolean()) "user_id" else "event_id"
        val k = 3 + rnd.nextInt(5)
        (s"CAST($c % $k AS BIGINT)", s"CAST($c % $k AS BIGINT)",
          (col(c) % k).cast(LongType))
    }
    val nAggs = 1 + rnd.nextInt(3)
    val aggs: Seq[TAgg2] = (0 until nAggs).map { j =>
      val name = s"a_$j"
      rnd.nextInt(100) match {
        case x if x < 20 => ACount(name)
        case x if x < 45 => ACountDist(genTs(rnd, 1, forceNullArm = id % 3 == 0), name)
        case x if x < 75 => AMinMax(genTsOut(rnd, 1 + rnd.nextInt(2),
          forceNullArm = id % 3 == 0), rnd.nextBoolean(), name)
        case _ =>
          val d = OBoundaryDiff(genTs(rnd, 1, forceNullArm = false),
            genTs(rnd, 1, forceNullArm = false),
            Seq("minute", "hour", "day", "month")(rnd.nextInt(4)), "__d")
          ASumDiffMod(d, Seq(5, 7, 11)(rnd.nextInt(3)), name)
      }
    }
    val where = if (rnd.nextInt(100) < 45) Some(genPred(rnd)) else None
    val havingGt = if (id % 6 == 2) Some(1 + rnd.nextInt(5)) else None
    val outCols = Seq("g_0") ++ aggs.indices.map(j => s"a_$j")
    def render(k: String, aR: TAgg2 => String, pR: Option[String]) =
      s"SELECT $k AS g_0, ${aggs.map(aR).mkString(", ")} FROM events" +
        pR.fold("")(p => s" WHERE $p") +
        " GROUP BY 1" +
        havingGt.fold("")(h => s" HAVING count(*) > $h")
    val sparkSql = render(kSpark, _.sparkSql, where.map(_._1))
    val duckSql = render(kDuck, _.duckSql, where.map(_._2))
    val dfFn = (s: SparkSession, d: String) => {
      val e = Tables.events(s, d)
      val f = where.fold(e)(p => e.filter(p._3))
      val agged = f.groupBy(kDf.as("g_0"))
        .agg(aggs.head.df, (aggs.tail.map(_.df) :+ count(lit(1)).as("__hn")): _*)
      havingGt.fold(agged)(h => agged.filter(col("__hn") > h))
        .select(outCols.map(col): _*)
    }
    TQuery(id, sparkSql, duckSql, dfFn, outCols)
  }

  // ---- the gate (run by FuzzExec) ----

  type Query = TQuery

  protected def render(spark: SparkSession, dir: String, q: Query): DataFrame =
    q.df(spark, dir)

  /** q_fz12 — the timestamp-arithmetic differential gate. */
  def gate: Q = declare(
    "q_fz12_tsarith_fuzz",
    s"timestamp-arithmetic differential fuzz: $NQueries seeded " +
      "interval/clamp/trunc/boundary-diff queries over events.ts, dual-rendered " +
      "from one AST, fingerprint-compared Spark vs DuckDB")
}
