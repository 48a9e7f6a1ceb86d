package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, IntegerType, LongType}

import java.sql.Date
import scala.util.Random

/** Differential fuzz over the DATE-ARITHMETIC surface — the tenth
  * population beside [[RelFuzz]] … [[NumericFuzz]]: interval
  * addition/subtraction with month-end clamping, column-driven day
  * shifts, `last_day` / `trunc` / `make_date` recombination,
  * greatest/least and CASE over dates, day-difference aggregates.
  * [[TemporalFuzz]] (fz2) fuzzes `date_trunc`/EXTRACT rollups of
  * timestamps — the one spelling-identical overlap; everything HERE
  * was excluded from fz2 because the names differ, which the fz7
  * dual-rendering pattern solves: one AST, a `sparkSql` and a
  * `duckSql` rendering (the property spec proves DF ≡ Spark-SQL
  * in-engine; the q_fz10 gate proves Spark ≡ DuckDB cross-engine).
  *
  * Probed AGREEMENT surface (every row verified in both engines
  * before this population was written):
  *  - `date ± INTERVAL n MONTH/YEAR` clamps to month-end identically
  *    (2024-01-31 +1mo → 02-29; 2024-02-29 +1y → 2025-02-28; chained
  *    +1mo +1day → 03-01 — clamp-then-step, not step-then-clamp);
  *  - `last_day`, `make_date`, `trunc` to month/quarter/year/week
  *    (both Monday-start: trunc(2024-02-29,'week') → 02-26);
  *  - `greatest`/`least` SKIP NULLs in both engines (DuckDB 1.0+ —
  *    probed, not assumed: greatest(NULL, d) = d);
  *  - day-count difference: Spark `datediff(end, start)` ≡ DuckDB
  *    `datediff('day', start, end)`, sign and all;
  *  - `year/month/day/quarter`, NULL propagation through every node
  *    (make_date(NULL,…), last_day(NULL), datediff(NULL,…) → NULL).
  *
  * Probed RENDERING divergences the dual renderings compensate:
  *  - DuckDB `date + INTERVAL` returns TIMESTAMP (its string form
  *    carries ' 00:00:00') where Spark stays DATE → every interval
  *    node is wrapped `CAST(… AS DATE)` (common spelling, no-op in
  *    Spark);
  *  - column-driven day shift: Spark `date_add(d, k)` vs DuckDB
  *    `d + k` — and DuckDB has no DATE + BIGINT overload, so the
  *    shift operand is always `CAST(… AS INT)`;
  *  - `trunc(d, 'month')` (Spark, returns DATE) vs
  *    `CAST(date_trunc('month', d) AS DATE)` (DuckDB).
  *
  * The date columns are stored as TIMESTAMP (midnight) in the test
  * parquet, so every leaf is `CAST(col AS DATE)` — identical spelling
  * in both engines. Values span 1995-01-01..2001-11-04; ±24-month
  * arithmetic keeps everything in-range for make_date recombination,
  * and every day-difference is < 5000, so `sum(diff % k)` stays far
  * from BIGINT overflow at any SF.
  */
object DateArithFuzz extends FuzzExec.Frames {

  val NQueries = 60
  val GateSeed = 20260819L

  // ---- table metadata ----

  private final case class TMeta(name: String, dateCol: String,
      nullifLit: String, // a date the column actually takes → live NULL arm
      intKeys: Seq[(String, Column)],
      shifts: Seq[(String, Column)], // small-INT day shifts, common SQL
      predCol: String)

  private def lineitemMeta = TMeta("lineitem", "l_shipdate", "1996-03-13",
    intKeys = Seq(("l_suppkey % 7", col("l_suppkey") % 7),
      ("l_linenumber", col("l_linenumber")),
      ("l_orderkey % 5", col("l_orderkey") % 5)),
    shifts = Seq(
      ("(CAST(l_linenumber % 5 AS INT))",
        (col("l_linenumber") % 5).cast(IntegerType)),
      ("(CAST(l_orderkey % 13 AS INT) - 6)",
        (col("l_orderkey") % 13).cast(IntegerType) - 6),
      ("(CAST(l_suppkey % 28 AS INT) + 1)",
        (col("l_suppkey") % 28).cast(IntegerType) + 1)),
    predCol = "l_partkey")

  private def ordersMeta = TMeta("orders", "o_orderdate", "1997-06-15",
    intKeys = Seq(("o_custkey % 7", col("o_custkey") % 7),
      ("o_orderkey % 4", col("o_orderkey") % 4)),
    shifts = Seq(
      ("(CAST(o_orderkey % 11 AS INT) - 5)",
        (col("o_orderkey") % 11).cast(IntegerType) - 5),
      ("(CAST(o_custkey % 25 AS INT))",
        (col("o_custkey") % 25).cast(IntegerType))),
    predCol = "o_custkey")

  private def tables = Seq(lineitemMeta, ordersMeta)

  // literal grid inside (or near) the data range; two leap-day entries
  private val DateLits = Seq("1995-06-15", "1996-02-29", "1997-01-31",
    "1998-12-01", "1999-07-04", "2000-02-29")

  // ---- the AST: one node, three renderings ----

  private sealed trait DN {
    def sparkSql: String; def duckSql: String; def df: Column
    def nullable: Boolean
  }

  private final case class DLeaf(t: TMeta, nullArm: Boolean) extends DN {
    private def base = s"CAST(${t.dateCol} AS DATE)"
    def sparkSql = if (nullArm) s"nullif($base, DATE '${t.nullifLit}')" else base
    def duckSql = sparkSql // identical spelling
    def df = {
      val b = col(t.dateCol).cast(DateType)
      if (nullArm) nullif(b, lit(Date.valueOf(t.nullifLit))) else b
    }
    def nullable = nullArm
  }

  private final case class DLit(s: String) extends DN {
    def sparkSql = s"DATE '$s'"; def duckSql = sparkSql
    def df = lit(Date.valueOf(s)); def nullable = false
  }

  /** `d ± INTERVAL n unit`, wrapped CAST(… AS DATE) (DuckDB returns
    * TIMESTAMP for the bare form; no-op in Spark). */
  private final case class DAdd(in: DN, n: Int, unit: String, sub: Boolean) extends DN {
    private def op = if (sub) "-" else "+"
    def sparkSql = s"CAST((${in.sparkSql}) $op INTERVAL $n $unit AS DATE)"
    def duckSql = s"CAST((${in.duckSql}) $op INTERVAL $n $unit AS DATE)"
    def df = {
      val k = if (sub) -n else n
      unit match {
        case "DAY" => date_add(in.df, k)
        case "MONTH" => add_months(in.df, k)
        case _ => add_months(in.df, 12 * k)
      }
    }
    def nullable = in.nullable
  }

  /** Column-driven day shift — the one node whose SQL spelling has no
    * overlap at all (see scaladoc). */
  private final case class DShift(in: DN, shiftSql: String, shiftCol: Column) extends DN {
    def sparkSql = s"date_add(${in.sparkSql}, $shiftSql)"
    def duckSql = s"((${in.duckSql}) + $shiftSql)"
    def df = date_add(in.df, shiftCol)
    def nullable = in.nullable
  }

  private final case class DLast(in: DN) extends DN {
    def sparkSql = s"last_day(${in.sparkSql})"
    def duckSql = s"last_day(${in.duckSql})"
    def df = last_day(in.df); def nullable = in.nullable
  }

  private final case class DTrunc(in: DN, fmt: String) extends DN {
    def sparkSql = s"trunc(${in.sparkSql}, '$fmt')"
    def duckSql = s"CAST(date_trunc('$fmt', ${in.duckSql}) AS DATE)"
    def df = trunc(in.df, fmt); def nullable = in.nullable
  }

  private final case class DExtreme(a: DN, b: DN, isMax: Boolean) extends DN {
    private def fn = if (isMax) "greatest" else "least"
    def sparkSql = s"$fn(${a.sparkSql}, ${b.sparkSql})"
    def duckSql = s"$fn(${a.duckSql}, ${b.duckSql})"
    def df = if (isMax) greatest(a.df, b.df) else least(a.df, b.df)
    // both engines SKIP nulls (probed): null only if BOTH null
    def nullable = a.nullable && b.nullable
  }

  private final case class DCase(p: DPred, a: DN, b: DN) extends DN {
    def sparkSql = s"(CASE WHEN ${p.sparkSql} THEN ${a.sparkSql} ELSE ${b.sparkSql} END)"
    def duckSql = s"(CASE WHEN ${p.duckSql} THEN ${a.duckSql} ELSE ${b.duckSql} END)"
    def df = when(p.df, a.df).otherwise(b.df)
    def nullable = a.nullable || b.nullable
  }

  private final case class DFirstOfMonth(in: DN) extends DN {
    def sparkSql = s"make_date(year(${in.sparkSql}), month(${in.sparkSql}), 1)"
    def duckSql = s"make_date(year(${in.duckSql}), month(${in.duckSql}), 1)"
    def df = make_date(year(in.df), month(in.df), lit(1))
    def nullable = in.nullable
  }

  private final case class DCoalesce(in: DN, l: DLit) extends DN {
    def sparkSql = s"coalesce(${in.sparkSql}, ${l.sparkSql})"
    def duckSql = s"coalesce(${in.duckSql}, ${l.duckSql})"
    def df = coalesce(in.df, l.df); def nullable = false
  }

  // ---- predicates (dual-rendered: they embed date nodes) ----

  private sealed trait DPred { def sparkSql: String; def duckSql: String; def df: Column }

  private final case class PBetween(e: DN, lo: String, hi: String) extends DPred {
    def sparkSql = s"(${e.sparkSql}) BETWEEN DATE '$lo' AND DATE '$hi'"
    def duckSql = s"(${e.duckSql}) BETWEEN DATE '$lo' AND DATE '$hi'"
    def df = e.df.between(lit(Date.valueOf(lo)), lit(Date.valueOf(hi)))
  }
  private final case class PLess(a: DN, b: DN) extends DPred {
    def sparkSql = s"(${a.sparkSql}) < (${b.sparkSql})"
    def duckSql = s"(${a.duckSql}) < (${b.duckSql})"
    def df = a.df < b.df
  }
  private final case class PMonthEq(e: DN, k: Int) extends DPred {
    def sparkSql = s"month(${e.sparkSql}) = $k"
    def duckSql = s"month(${e.duckSql}) = $k"
    def df = month(e.df) === k
  }
  private final case class PMod(t: TMeta, k: Int, r: Int) extends DPred {
    def sparkSql = s"${t.predCol} % $k = $r"; def duckSql = sparkSql
    def df = col(t.predCol) % k === r
  }

  // ---- generator ----

  private def litOf(rnd: Random) = DLit(DateLits(rnd.nextInt(DateLits.size)))

  private def leaf(t: TMeta, rnd: Random, forceNullArm: Boolean): DN =
    if (!forceNullArm && rnd.nextInt(100) < 15) litOf(rnd)
    else DLeaf(t, nullArm = forceNullArm || rnd.nextInt(100) < 18)

  private def genDate(t: TMeta, rnd: Random, depth: Int, forceNullArm: Boolean): DN = {
    if (depth <= 0) leaf(t, rnd, forceNullArm)
    else {
      val a = genDate(t, rnd, depth - 1, forceNullArm)
      rnd.nextInt(100) match {
        case x if x < 24 =>
          val unit = Seq("DAY", "MONTH", "YEAR")(rnd.nextInt(3))
          val n = unit match {
            case "DAY" => 1 + rnd.nextInt(45)
            case "MONTH" => 1 + rnd.nextInt(24)
            case _ => 1 + rnd.nextInt(2)
          }
          DAdd(a, n, unit, sub = rnd.nextBoolean())
        case x if x < 38 =>
          val (s, c) = t.shifts(rnd.nextInt(t.shifts.size))
          DShift(a, s, c)
        case x if x < 48 => DLast(a)
        case x if x < 60 =>
          DTrunc(a, Seq("month", "quarter", "year", "week")(rnd.nextInt(4)))
        case x if x < 70 =>
          DExtreme(a, genDate(t, rnd, depth - 1, forceNullArm = false),
            isMax = rnd.nextBoolean())
        case x if x < 80 =>
          DCase(PMod(t, 2 + rnd.nextInt(3), rnd.nextInt(2)), a,
            genDate(t, rnd, depth - 1, forceNullArm = false))
        case x if x < 90 => DFirstOfMonth(a)
        case _ => if (a.nullable) DCoalesce(a, litOf(rnd)) else a
      }
    }
  }

  private def genPred(t: TMeta, rnd: Random): DPred = rnd.nextInt(4) match {
    case 0 =>
      val (lo, hi) = ("1995-06-01", Seq("1998-01-01", "1999-06-30", "2001-01-01")(rnd.nextInt(3)))
      PBetween(leaf(t, rnd, forceNullArm = false), lo, hi)
    case 1 => PLess(genDate(t, rnd, 1, forceNullArm = false),
      genDate(t, rnd, 1, forceNullArm = false))
    case 2 => PMonthEq(leaf(t, rnd, forceNullArm = false), 1 + rnd.nextInt(12))
    case _ => PMod(t, 2 + rnd.nextInt(4), 0)
  }

  // ---- outputs ----

  private sealed trait DOut { def sparkSql: String; def duckSql: String; def df: Column }

  private final case class ODate(e: DN, name: String) extends DOut {
    def sparkSql = s"(${e.sparkSql}) AS $name"
    def duckSql = s"(${e.duckSql}) AS $name"
    def df = e.df.as(name)
  }
  private final case class ODiff(a: DN, b: DN, name: String) extends DOut {
    def sparkSql = s"CAST(datediff(${b.sparkSql}, ${a.sparkSql}) AS BIGINT) AS $name"
    def duckSql = s"CAST(datediff('day', ${a.duckSql}, ${b.duckSql}) AS BIGINT) AS $name"
    def df = datediff(b.df, a.df).cast(LongType).as(name)
  }
  private final case class OField(e: DN, f: String, name: String) extends DOut {
    def sparkSql = s"CAST($f(${e.sparkSql}) AS BIGINT) AS $name"
    def duckSql = s"CAST($f(${e.duckSql}) AS BIGINT) AS $name"
    def df = (f match {
      case "year" => year(e.df); case "month" => month(e.df)
      case "quarter" => quarter(e.df); case _ => dayofmonth(e.df)
    }).cast(LongType).as(name)
  }

  private def genOut(t: TMeta, rnd: Random, name: String, forceNullArm: Boolean): DOut =
    rnd.nextInt(100) match {
      case x if x < 45 => ODate(genDate(t, rnd, 1 + rnd.nextInt(2), forceNullArm), name)
      case x if x < 70 => ODiff(genDate(t, rnd, 1, forceNullArm),
        genDate(t, rnd, 1, forceNullArm = false), name)
      case _ => OField(genDate(t, rnd, 1 + rnd.nextInt(2), forceNullArm),
        Seq("year", "month", "day", "quarter")(rnd.nextInt(4)), name)
    }

  // ---- aggregates ----

  private sealed trait DAgg { def sparkSql: String; def duckSql: String; def df: Column }

  private final case class ACount(name: String) extends DAgg {
    def sparkSql = s"CAST(count(*) AS BIGINT) AS $name"; def duckSql = sparkSql
    def df = count(lit(1)).cast(LongType).as(name)
  }
  private final case class ACountDist(e: DN, name: String) extends DAgg {
    def sparkSql = s"CAST(count(DISTINCT ${e.sparkSql}) AS BIGINT) AS $name"
    def duckSql = s"CAST(count(DISTINCT ${e.duckSql}) AS BIGINT) AS $name"
    def df = count_distinct(e.df).cast(LongType).as(name)
  }
  private final case class AMinMax(e: DN, isMax: Boolean, name: String) extends DAgg {
    private def fn = if (isMax) "max" else "min"
    def sparkSql = s"$fn(${e.sparkSql}) AS $name"
    def duckSql = s"$fn(${e.duckSql}) AS $name"
    def df = (if (isMax) max(e.df) else min(e.df)).as(name)
  }
  /** day-diff mod-sum — `%` is sign-of-dividend in both (the fz9 probe). */
  private final case class ASumDiffMod(a: DN, b: DN, k: Int, name: String) extends DAgg {
    def sparkSql = s"CAST(sum(datediff(${b.sparkSql}, ${a.sparkSql}) % $k) AS BIGINT) AS $name"
    def duckSql = s"CAST(sum(datediff('day', ${a.duckSql}, ${b.duckSql}) % $k) AS BIGINT) AS $name"
    def df = sum(datediff(b.df, a.df) % k).cast(LongType).as(name)
  }

  // ---- query shape ----

  final case class DQuery(id: Int, table: String,
      sparkSql: String, duckSql: String,
      df: (SparkSession, String) => DataFrame, outCols: Seq[String])
      extends FuzzExec.Generated

  def queries(seed: Long, n: Int): Seq[DQuery] =
    (0 until n).map(i => gen(i, new Random(seed * 977 + i)))

  private def gen(id: Int, rnd: Random): DQuery = {
    val t = tables(rnd.nextInt(tables.size))
    if (id % 5 < 2) genScalar(id, t, rnd) else genAgg(id, t, rnd)
  }

  private def genScalar(id: Int, t: TMeta, rnd: Random): DQuery = {
    val nOut = 2 + rnd.nextInt(2)
    val outs = (0 until nOut).map(j =>
      genOut(t, rnd, s"o_$j", forceNullArm = id % 3 == 0 && j == 0))
    val where = if (rnd.nextInt(100) < 55) Some(genPred(t, rnd)) else None
    val outCols = outs.indices.map(j => s"o_$j")
    def sql(render: DOut => String, renderP: DPred => String) =
      s"SELECT ${outs.map(render).mkString(", ")} FROM ${t.name}" +
        where.fold("")(p => s" WHERE ${renderP(p)}")
    val dfFn = (s: SparkSession, d: String) => {
      val raw = Tables.t(s, d, t.name)
      val f = where.fold(raw)(p => raw.filter(p.df))
      f.select(outs.map(_.df): _*)
    }
    DQuery(id, t.name, sql(_.sparkSql, _.sparkSql), sql(_.duckSql, _.duckSql),
      dfFn, outCols)
  }

  private def genAgg(id: Int, t: TMeta, rnd: Random): DQuery = {
    val nKeys = 1 + rnd.nextInt(2)
    // key kinds: truncated date expr / int field of a date expr / int col
    val keys: Seq[(String, String, Column)] = (0 until nKeys).map { j =>
      rnd.nextInt(3) match {
        case 0 if j == 0 =>
          val e = DTrunc(leaf(t, rnd, forceNullArm = id % 3 == 0),
            Seq("month", "quarter", "year")(rnd.nextInt(3)))
          (e.sparkSql, e.duckSql, e.df)
        case 1 if j == 0 =>
          val e = genDate(t, rnd, 1, forceNullArm = false)
          val f = Seq("year", "month", "quarter")(rnd.nextInt(3))
          (s"CAST($f(${e.sparkSql}) AS BIGINT)", s"CAST($f(${e.duckSql}) AS BIGINT)",
            (f match {
              case "year" => year(e.df); case "month" => month(e.df)
              case _ => quarter(e.df)
            }).cast(LongType))
        case _ =>
          val (s, c) = t.intKeys(rnd.nextInt(t.intKeys.size))
          (s"CAST($s AS BIGINT)", s"CAST($s AS BIGINT)", c.cast(LongType))
      }
    }
    val nAggs = 1 + rnd.nextInt(3)
    val aggs: Seq[DAgg] = (0 until nAggs).map { j =>
      val name = s"a_$j"
      rnd.nextInt(100) match {
        case x if x < 20 => ACount(name)
        case x if x < 45 => ACountDist(genDate(t, rnd, 1, forceNullArm = id % 3 == 0), name)
        case x if x < 75 => AMinMax(genDate(t, rnd, 1 + rnd.nextInt(2),
          forceNullArm = id % 3 == 0), rnd.nextBoolean(), name)
        case _ => ASumDiffMod(genDate(t, rnd, 1, forceNullArm = false),
          genDate(t, rnd, 1, forceNullArm = false), Seq(5, 7, 11)(rnd.nextInt(3)), name)
      }
    }
    val where = if (rnd.nextInt(100) < 45) Some(genPred(t, rnd)) else None
    val havingGt = if (id % 6 == 5) Some(1 + rnd.nextInt(5)) else None
    val outCols = keys.indices.map(j => s"g_$j") ++ aggs.indices.map(j => s"a_$j")
    def sql(kR: ((String, String, Column)) => String, aR: DAgg => String,
        pR: DPred => String) = {
      val keySel = keys.zipWithIndex.map { case (k, j) => s"${kR(k)} AS g_$j" }
      s"SELECT ${(keySel ++ aggs.map(aR)).mkString(", ")} FROM ${t.name}" +
        where.fold("")(p => s" WHERE ${pR(p)}") +
        s" GROUP BY ${keys.indices.map(_ + 1).mkString(", ")}" +
        havingGt.fold("")(k => s" HAVING count(*) > $k")
    }
    val dfFn = (s: SparkSession, d: String) => {
      val raw = Tables.t(s, d, t.name)
      val f = where.fold(raw)(p => raw.filter(p.df))
      val grouped = f.groupBy(keys.zipWithIndex.map { case ((_, _, c), j) => c.as(s"g_$j") }: _*)
      val agged = grouped.agg(aggs.head.df,
        (aggs.tail.map(_.df) :+ count(lit(1)).as("__hn")): _*)
      havingGt.fold(agged)(k => agged.filter(col("__hn") > k))
        .select(outCols.map(col): _*)
    }
    DQuery(id, t.name, sql(_._1, _.sparkSql, _.sparkSql),
      sql(_._2, _.duckSql, _.duckSql), dfFn, outCols)
  }

  // ---- the gate (run by FuzzExec) ----

  type Query = DQuery

  protected def render(spark: SparkSession, dir: String, q: Query): DataFrame =
    q.df(spark, dir)

  /** q_fz10 — the date-arithmetic differential gate. */
  def gate: Q = declare(
    "q_fz10_datearith_fuzz",
    s"date-arithmetic differential fuzz: $NQueries seeded interval/" +
      "clamp/last_day/trunc/make_date/datediff queries, dual-rendered from one AST, " +
      "fingerprint-compared Spark vs DuckDB")
}
