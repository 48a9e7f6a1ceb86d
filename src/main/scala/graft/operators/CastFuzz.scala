package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.util.Random

/** Differential fuzz over the CAST / COERCION matrix — the thirteenth
  * population: `try_cast` round-trips between STRING and
  * BIGINT/SMALLINT/DECIMAL/DOUBLE/BOOLEAN/DATE/TIMESTAMP, plus
  * numeric-width overflow and bool/date/timestamp cross-casts, with
  * id-cycled malformed / whitespace / signed / zero-padded / empty
  * arms. Every spelling is in the probed common dialect (DuckDB
  * accepts `AS STRING`; `try_cast` exists in both).
  *
  * Probed AGREEMENT surface:
  *  - integer strings: whitespace-trimmed, signed (`+5`/`-5`),
  *    zero-padded (`0012`), junk → NULL, empty → NULL, overflow
  *    (`99999999999999999999`, or 70000 → SMALLINT) → NULL in both;
  *  - decimal strings parse with ROUND-half-up to scale in BOTH
  *    (`'12.345'` → DECIMAL(8,2) 12.35), junk/overflow → NULL, and
  *    DECIMAL→STRING is scale-preserving in both (`12.50`);
  *  - ISO dates (incl. leap-day validity: `2024-02-30` → NULL) and
  *    ISO timestamps (space AND `T` separators), date↔timestamp;
  *  - booleans over `t/f/true/false/1/0` (case-insensitive),
  *    bool→STRING `'true'`, bool→BIGINT 1/0, int→BOOLEAN (2 → true);
  *  - quarter-grid double strings (`'12.25'`) parse exactly — the
  *    output exits ×4 as BIGINT (the fz11 encoder discipline).
  *
  * Probed DIVERGENCE classes (excluded, the reason this population
  * dual-checks at all):
  *  - fractional string → integer: Spark NULL, DuckDB parses+rounds
  *    (`'12.5'` → 13);
  *  - scientific / hex integer strings: DuckDB parses (`'1e3'` →
  *    1000, `'0x1A'` → 26), Spark NULL;
  *  - English-word booleans: Spark parses `'yes'/'no'`, DuckDB NULL;
  *  - non-ISO date separators: DuckDB parses `2024/02/29`, Spark NULL.
  */
object CastFuzz extends FuzzExec.Frames {

  val NQueries = 45
  val GateSeed = 20260823L

  // ---- table metadata ----

  private final case class CTable(name: String, intCols: Seq[String],
      dateCol: String)

  private def tables = Seq(
    CTable("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"), "l_shipdate"),
    CTable("orders", Seq("o_orderkey", "o_custkey"), "o_orderdate"),
    CTable("customer", Seq("c_custkey", "c_nationkey"), ""))

  /** A generated expression: common SQL + DF + output kind. */
  private final case class CE(sql: String, df: Column, kind: String)

  // ---- string builders (data-driven, id-cycled decorations) ----

  private def intStr(c: String, m: Int): CE =
    CE(s"CAST($c % $m AS STRING)", (col(c) % m).cast(StringType), "str")

  private def decorate(s: CE, arm: Int): CE = arm match {
    case 0 => CE(s"concat('  ', ${s.sql}, ' ')",
      concat(lit("  "), s.df, lit(" ")), "str") // trimmed in both
    case 1 => CE(s"concat('+', ${s.sql})", concat(lit("+"), s.df), "str")
    case 2 => CE(s"concat('-', ${s.sql})", concat(lit("-"), s.df), "str")
    case 3 => CE(s"concat('00', ${s.sql})", concat(lit("00"), s.df), "str")
    case 4 => CE(s"concat('x', ${s.sql})", concat(lit("x"), s.df), "str") // junk → NULL
    case _ => CE(s"concat(${s.sql}, '.25')", concat(s.df, lit(".25")), "qstr") // quarter
  }

  private def decStr(c: String): CE =
    CE(s"concat(CAST($c % 500 AS STRING), '.', CAST($c % 100 AS STRING))",
      concat((col(c) % 500).cast(StringType), lit("."), (col(c) % 100).cast(StringType)),
      "decstr")

  private def boolStr(c: String, withJunk: Boolean): CE = {
    val arms = if (withJunk) Seq("true", "false", "t", "f", "1", "0", "zz")
      else Seq("true", "FALSE", "T", "f", "1", "0")
    val n = arms.size
    val sql = s"(CASE ${arms.zipWithIndex.map { case (a, i) =>
      s"WHEN $c % $n = $i THEN '$a'" }.mkString(" ")} END)"
    val df = arms.zipWithIndex.foldLeft(null: Column) { case (acc, (a, i)) =>
      if (acc == null) when(col(c) % n === i, lit(a))
      else acc.when(col(c) % n === i, lit(a))
    }
    CE(sql, df, "boolstr")
  }

  /** ISO date string from the table's date column, with invalid-day /
    * de-hyphenated junk arms (both NULL in both engines — probed). */
  private def dateStr(t: CTable, c: String, arm: Int): CE = {
    val iso = s"CAST(CAST(${t.dateCol} AS DATE) AS STRING)"
    val isoDf = col(t.dateCol).cast(DateType).cast(StringType)
    arm match {
      case 0 => CE(iso, isoDf, "datestr")
      case 1 => CE(s"concat(substring($iso, 1, 8), '32')",
        concat(substring(isoDf, 1, 8), lit("32")), "datestr") // day 32 → NULL
      case 2 => CE(s"replace($iso, '-', '')",
        regexp_replace(isoDf, "-", ""), "datestr") // '20240229' → NULL both
      case _ => CE(s"(CASE WHEN $c % 11 = 0 THEN '2024-02-30' ELSE $iso END)",
        when(col(c) % 11 === 0, lit("2024-02-30")).otherwise(isoDf), "datestr")
    }
  }

  private def tsStr(t: CTable, c: String, tForm: Boolean): CE = {
    val iso = s"CAST(CAST(${t.dateCol} AS DATE) AS STRING)"
    val isoDf = col(t.dateCol).cast(DateType).cast(StringType)
    val sep = if (tForm) "T" else " "
    CE(s"concat($iso, '$sep', CAST(10 + $c % 12 AS STRING), ':45:33')",
      concat(isoDf, lit(sep), (lit(10) + col(c) % 12).cast(StringType), lit(":45:33")),
      "tsstr")
  }

  // ---- cast outputs: every value exits gate-safe ----

  private sealed trait COut { def sql: String; def df: Column }
  private final case class Out(sql: String, df: Column) extends COut

  private def named(e: CE, name: String): COut = Out(s"(${e.sql}) AS $name", e.df.as(name))

  /** Build a casted output from a source expression. The invalid-date
    * arms are id-FORCED as the first output of id%4==2 queries (even →
    * always the scalar shape) over date-bearing tables — not left to
    * an RNG roll. */
  private def castOut(t: CTable, rnd: Random, id: Int, name: String): COut = {
    val c = t.intCols(rnd.nextInt(t.intCols.size))
    val roll = rnd.nextInt(100)
    val forcedDate = id % 4 == 2 && name == "o_0" && t.dateCol.nonEmpty
    (if (forcedDate) 55 else roll) match {
      case x if x < 18 => // string → BIGINT (decorated, junk/empty arms)
        val arm = if (id % 4 == 0) 4 else rnd.nextInt(5) // never the quarter arm
        val s = decorate(intStr(c, 100000), arm)
        named(CE(s"try_cast(${s.sql} AS BIGINT)", s.df.try_cast("BIGINT"), "long"), name)
      case x if x < 30 => // string → DECIMAL(12,2), round-to-scale both
        val s = if (rnd.nextBoolean()) decStr(c)
          else decorate(intStr(c, 1000), if (id % 5 == 0) 4 else 2)
        named(CE(s"CAST(try_cast(${s.sql} AS DECIMAL(12,2)) AS STRING)",
          s.df.try_cast("DECIMAL(12,2)").cast(StringType), "str"), name)
      case x if x < 40 => // quarter string → DOUBLE, exits ×4 BIGINT
        val s = decorate(intStr(c, 1000), 5)
        named(CE(s"CAST(try_cast(${s.sql} AS DOUBLE) * 4 AS BIGINT)",
          (s.df.try_cast("DOUBLE") * 4).cast(LongType), "long"), name)
      case x if x < 52 => // boolean round-trips
        val s = boolStr(c, withJunk = id % 3 == 0)
        if (rnd.nextBoolean())
          named(CE(s"CAST(try_cast(${s.sql} AS BOOLEAN) AS STRING)",
            s.df.try_cast("BOOLEAN").cast(StringType), "str"), name)
        else
          named(CE(s"try_cast(try_cast(${s.sql} AS BOOLEAN) AS BIGINT)",
            s.df.try_cast("BOOLEAN").try_cast("BIGINT"), "long"), name)
      case x if x < 64 && t.dateCol.nonEmpty => // string → DATE
        // id-cycled invalid arms (1=day-32, 2=de-hyphenated, 3=leap-day
        // literal), deterministic — not left to an RNG roll
        val s = dateStr(t, c, if (id % 4 == 2) 1 + (id / 4) % 3 else 0)
        named(CE(s"CAST(try_cast(${s.sql} AS DATE) AS STRING)",
          s.df.try_cast("DATE").cast(StringType), "str"), name)
      case x if x < 74 && t.dateCol.nonEmpty => // string → TIMESTAMP (space/T forms)
        val s = tsStr(t, c, tForm = id % 2 == 0)
        named(CE(s"CAST(try_cast(${s.sql} AS TIMESTAMP) AS STRING)",
          s.df.try_cast("TIMESTAMP").cast(StringType), "str"), name)
      case x if x < 84 => // numeric width overflow: BIGINT → SMALLINT
        val big = s"($c % 3 + 1) * ($c % 70000)"
        val bigDf = (col(c) % 3 + 1) * (col(c) % 70000)
        named(CE(s"try_cast(try_cast($big AS SMALLINT) AS BIGINT)",
          bigDf.try_cast("SMALLINT").try_cast("BIGINT"), "long"), name)
      case x if x < 92 && t.dateCol.nonEmpty => // date ↔ timestamp
        named(CE(s"CAST(CAST(CAST(${t.dateCol} AS DATE) AS TIMESTAMP) AS STRING)",
          col(t.dateCol).cast(DateType).cast(TimestampType).cast(StringType), "str"), name)
      case _ => // int → BOOLEAN → BIGINT (2 → true → 1, both)
        named(CE(s"try_cast(try_cast($c % 4 AS BOOLEAN) AS BIGINT)",
          (col(c) % 4).try_cast("BOOLEAN").try_cast("BIGINT"), "long"), name)
    }
  }

  // ---- query shapes ----

  final case class CQuery(id: Int, table: String, commonSql: String,
      df: (SparkSession, String) => DataFrame, outCols: Seq[String])
      extends FuzzExec.Generated {
    def duckSql: String = commonSql
  }

  def queries(seed: Long, n: Int): Seq[CQuery] =
    (0 until n).map(i => gen(i, new Random(seed * 271 + i)))

  private def gen(id: Int, rnd: Random): CQuery = {
    val t = tables(rnd.nextInt(tables.size))
    if (id % 2 == 0) genScalar(id, t, rnd) else genAgg(id, t, rnd)
  }

  private def genScalar(id: Int, t: CTable, rnd: Random): CQuery = {
    val nOut = 2 + rnd.nextInt(2)
    val outs = (0 until nOut).map(j => castOut(t, rnd, id, s"o_$j"))
    // WHERE over a cast result: the NULL-rate surface
    val c = t.intCols(rnd.nextInt(t.intCols.size))
    val where: Option[(String, Column)] = rnd.nextInt(3) match {
      case 0 =>
        val s = decorate(intStr(c, 1000), if (id % 4 == 0) 4 else rnd.nextInt(4))
        Some((s"try_cast(${s.sql} AS BIGINT) IS NOT NULL",
          s.df.try_cast("BIGINT").isNotNull))
      case 1 =>
        val k = 2 + rnd.nextInt(3)
        Some((s"$c % $k = 0", col(c) % k === 0))
      case _ => None
    }
    val outCols = outs.indices.map(j => s"o_$j")
    val sql = s"SELECT ${outs.map(_.sql).mkString(", ")} FROM ${t.name}" +
      where.fold("")(p => s" WHERE ${p._1}")
    val dfFn = (s: SparkSession, d: String) => {
      val raw = Tables.t(s, d, t.name)
      val f = where.fold(raw)(p => raw.filter(p._2))
      f.select(outs.map(_.df): _*)
    }
    CQuery(id, t.name, sql, dfFn, outCols)
  }

  private def genAgg(id: Int, t: CTable, rnd: Random): CQuery = {
    val c = t.intCols(rnd.nextInt(t.intCols.size))
    // group key: a casted value (bool string / small int / NULL-arm)
    val key: CE = rnd.nextInt(3) match {
      case 0 =>
        val s = boolStr(c, withJunk = id % 3 == 0)
        CE(s"CAST(try_cast(${s.sql} AS BOOLEAN) AS STRING)",
          s.df.try_cast("BOOLEAN").cast(StringType), "str")
      case 1 =>
        val s = decorate(intStr(c, 7), if (id % 4 == 0) 4 else rnd.nextInt(4))
        CE(s"try_cast(${s.sql} AS BIGINT)", s.df.try_cast("BIGINT"), "long")
      case _ =>
        CE(s"CAST($c % 5 AS BIGINT)", (col(c) % 5).cast(LongType), "long")
    }
    val nAggs = 1 + rnd.nextInt(3)
    val aggDefs: Seq[(String, Column)] = (0 until nAggs).map { j =>
      val name = s"a_$j"
      rnd.nextInt(100) match {
        case x if x < 30 =>
          (s"CAST(count(*) AS BIGINT) AS $name", count(lit(1)).cast(LongType).as(name))
        case x if x < 55 =>
          val o = castOut(t, rnd, id, "__x")
          val inner = o.sql.stripSuffix(" AS __x")
          (s"CAST(count(DISTINCT $inner) AS BIGINT) AS $name",
            count_distinct(o.df).cast(LongType).as(name))
        case x if x < 80 =>
          val o = castOut(t, rnd, id, "__x")
          val inner = o.sql.stripSuffix(" AS __x")
          val fn = if (rnd.nextBoolean()) "min" else "max"
          (s"$fn($inner) AS $name",
            (if (fn == "min") min(o.df) else max(o.df)).as(name))
        case _ =>
          val s = decorate(intStr(c, 1000), if (id % 4 == 0) 4 else rnd.nextInt(4))
          (s"CAST(count(CASE WHEN try_cast(${s.sql} AS BIGINT) IS NULL THEN 1 END) AS BIGINT) AS $name",
            count(when(s.df.try_cast("BIGINT").isNull, 1)).cast(LongType).as(name))
      }
    }
    val outCols = Seq("g_0") ++ aggDefs.indices.map(j => s"a_$j")
    val sql = s"SELECT (${key.sql}) AS g_0, ${aggDefs.map(_._1).mkString(", ")}" +
      s" FROM ${t.name} GROUP BY 1"
    val dfFn = (s: SparkSession, d: String) => {
      val raw = Tables.t(s, d, t.name)
      raw.groupBy(key.df.as("g_0"))
        .agg(aggDefs.head._2, aggDefs.tail.map(_._2): _*)
        .select(outCols.map(col): _*)
    }
    CQuery(id, t.name, sql, dfFn, outCols)
  }

  // ---- the gate (run by FuzzExec) ----

  type Query = CQuery

  protected def render(spark: SparkSession, dir: String, q: Query): DataFrame =
    q.df(spark, dir)

  /** q_fz13 — the cast/coercion differential gate. */
  def gate: Q = declare(
    "q_fz13_cast_fuzz",
    s"cast/coercion differential fuzz: $NQueries seeded try_cast round-trips " +
      "between string and bigint/smallint/decimal/double/boolean/date/timestamp with " +
      "malformed/whitespace/overflow arms, fingerprint-compared Spark vs DuckDB")
}
