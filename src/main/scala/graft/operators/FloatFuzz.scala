package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import scala.util.Random

/** Differential fuzz over IEEE-754 SPECIAL-VALUE semantics — the
  * eleventh population beside [[RelFuzz]] … [[DateArithFuzz]]: NaN,
  * ±Infinity and −0.0 as grouping keys, join keys, comparison
  * operands and aggregate inputs. Floats were banned from fz1's
  * grammar ("floats are never exact"); this population is the
  * carve-out where float behavior IS exact — the special values and
  * a small binary-fraction grid (quarters), where IEEE arithmetic is
  * deterministic bit-for-bit.
  *
  * Probed AGREEMENT surface (every row verified in both engines):
  *  - NaN = NaN is TRUE, NaN > x TRUE for every x (both engines use
  *    the total order in comparisons, grouping, joins, min/max,
  *    greatest/least — NaN is the maximum, -Inf the minimum);
  *  - −0.0 = 0.0: equal, same group, join-match, one DISTINCT value;
  *  - count(DISTINCT) over {NaN, NaN, −0.0, 0.0} = 2 in both;
  *  - min/max and greatest/least: NaN wins max, loses min — both;
  *  - Inf − Inf = NaN, Inf + finite = Inf, sum over a group
  *    containing both ±Inf = NaN regardless of order; sums over the
  *    quarter grid are integral·2⁻⁴ and far below 2⁵³, so they are
  *    order-invariant — the one condition under which float sums may
  *    gate at all.
  *
  * Probed DIVERGENCE classes the encoding discipline neutralizes:
  *  - double→string spelling: Spark 'NaN'/'Infinity'/'-0.0' vs DuckDB
  *    'nan'/'inf' and even '-nan' for Inf−Inf → no raw double ever
  *    reaches an output: every float exits through the SENTINEL
  *    ENCODER `CASE isnan → 4·10¹⁵+3 | =+Inf → 4·10¹⁵+1 |
  *    =−Inf → −(4·10¹⁵+1) | ELSE CAST(v·16 AS BIGINT)` (all finite
  *    values are sixteenths, so the cast is integral-exact — the fz9
  *    normalize-before-cast rule; the sentinel band sits 3 orders
  *    above any reachable encoded group sum — see the constants);
  *  - the group-surviving zero representative (Spark normalizes −0.0
  *    to 0.0 in keys; DuckDB may keep the first-seen sign) and
  *    abs(−0.0) (DuckDB preserves the sign bit) — both invisible
  *    through the encoder, which sends every zero to 0;
  *  - division is NEVER generated (Spark ANSI throws on x/0; and
  *    quotients leave the binary-fraction grid).
  */
object FloatFuzz extends FuzzExec.Frames {

  val NQueries = 50
  val GateSeed = 20260821L

  /** A double-typed expression; `denom` tracks the binary-fraction
    * denominator of its FINITE values (4 = quarters, 16 after one
    * multiply — the encoder's ×16 must stay integral), `mag` bounds
    * |finite value|. */
  private final case class FExpr(sql: String, df: Column, denom: Int,
      mag: Double, nullable: Boolean)

  // ---- table metadata ----

  private final case class FTable(name: String, intCols: Seq[String],
      keyCols: Seq[(String, Column)])

  private def tables = Seq(
    FTable("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"),
      Seq(("l_suppkey % 7", col("l_suppkey") % 7),
        ("l_orderkey % 5", col("l_orderkey") % 5))),
    FTable("orders", Seq("o_orderkey", "o_custkey"),
      Seq(("o_custkey % 7", col("o_custkey") % 7),
        ("o_orderkey % 4", col("o_orderkey") % 4))),
    FTable("customer", Seq("c_custkey", "c_nationkey"),
      Seq(("c_nationkey % 5", col("c_nationkey") % 5),
        ("c_custkey % 6", col("c_custkey") % 6))))

  // ---- leaves: the special-value constructor ----

  private def dlit(v: String): String = s"CAST('$v' AS DOUBLE)"

  /** The 8-arm constructor: NaN / +Inf / −Inf / −0.0 / 0.0 on arms
    * 0–4 of `(c + r) % 8`, quarter-grid finite values otherwise. `r`
    * rotates which rows land on which arm so populations differ. */
  private def special(c: String, r: Int): FExpr = {
    val k = s"($c + $r) % 8"
    val sql = s"(CASE WHEN $k = 0 THEN ${dlit("NaN")}" +
      s" WHEN $k = 1 THEN ${dlit("Infinity")}" +
      s" WHEN $k = 2 THEN ${dlit("-Infinity")}" +
      s" WHEN $k = 3 THEN ${dlit("-0.0")}" +
      s" WHEN $k = 4 THEN CAST(0.0 AS DOUBLE)" +
      s" ELSE CAST($c % 37 AS DOUBLE) / 4 - 3 END)"
    val kc = (col(c) + r) % 8
    val df = when(kc === 0, lit(Double.NaN))
      .when(kc === 1, lit(Double.PositiveInfinity))
      .when(kc === 2, lit(Double.NegativeInfinity))
      .when(kc === 3, lit(-0.0d))
      .when(kc === 4, lit(0.0d))
      .otherwise((col(c) % 37).cast(DoubleType) / 4 - 3)
    FExpr(sql, df, denom = 4, mag = 9.25, nullable = false)
  }

  /** Finite-only quarter-grid leaf (negative-capable). */
  private def finite(c: String, m: Int): FExpr =
    FExpr(s"(CAST($c % $m AS DOUBLE) / 4 - 2)",
      (col(c) % m).cast(DoubleType) / 4 - 2, 4, m / 4.0 + 2, nullable = false)

  private def leaf(t: FTable, rnd: Random): FExpr = {
    val c = t.intCols(rnd.nextInt(t.intCols.size))
    if (rnd.nextInt(100) < 70) special(c, rnd.nextInt(8))
    else finite(c, Seq(23, 29, 31)(rnd.nextInt(3)))
  }

  // ---- ops (denominator ≤ 16: one multiply max per path) ----

  private def add(a: FExpr, b: FExpr, minus: Boolean): Option[FExpr] =
    if (math.max(a.denom, b.denom) > 16 || a.mag + b.mag > 1e4) None
    else Some(FExpr(s"(${a.sql} ${if (minus) "-" else "+"} ${b.sql})",
      if (minus) a.df - b.df else a.df + b.df,
      math.max(a.denom, b.denom), a.mag + b.mag, a.nullable || b.nullable))

  private def mul(a: FExpr, b: FExpr): Option[FExpr] =
    if (a.denom * b.denom > 16 || a.mag * b.mag > 1e4) None
    else Some(FExpr(s"(${a.sql} * ${b.sql})", a.df * b.df,
      a.denom * b.denom, a.mag * b.mag, a.nullable || b.nullable))

  private def absNeg(a: FExpr, isAbs: Boolean): FExpr =
    if (isAbs) FExpr(s"abs(${a.sql})", abs(a.df), a.denom, a.mag, a.nullable)
    else FExpr(s"(- ${a.sql})", -a.df, a.denom, a.mag, a.nullable)

  private def extreme(a: FExpr, b: FExpr, isMax: Boolean): FExpr =
    FExpr(s"${if (isMax) "greatest" else "least"}(${a.sql}, ${b.sql})",
      if (isMax) greatest(a.df, b.df) else least(a.df, b.df),
      math.max(a.denom, b.denom), math.max(a.mag, b.mag),
      a.nullable && b.nullable) // both engines SKIP nulls (probed)

  private def caseOf(t: FTable, rnd: Random, a: FExpr, b: FExpr): FExpr = {
    val c = t.intCols(rnd.nextInt(t.intCols.size))
    val k = 2 + rnd.nextInt(3); val r = rnd.nextInt(k)
    FExpr(s"(CASE WHEN $c % $k = $r THEN ${a.sql} ELSE ${b.sql} END)",
      when(col(c) % k === r, a.df).otherwise(b.df),
      math.max(a.denom, b.denom), math.max(a.mag, b.mag),
      a.nullable || b.nullable)
  }

  /** nullif against +0.0 — fires on BOTH zero arms (−0.0 = 0.0), so
    * the NULL path and the zero-unification rule are tested at once. */
  private def nullifZero(a: FExpr): FExpr =
    FExpr(s"nullif(${a.sql}, CAST(0.0 AS DOUBLE))",
      nullif(a.df, lit(0.0d)), a.denom, a.mag, nullable = true)

  private def coalesceQ(a: FExpr, rnd: Random): FExpr = {
    val q = (rnd.nextInt(16) - 8) / 4.0
    FExpr(s"coalesce(${a.sql}, CAST($q AS DOUBLE))",
      coalesce(a.df, lit(q)), math.max(a.denom, 4),
      math.max(a.mag, math.abs(q)), nullable = false)
  }

  private def genExpr(t: FTable, rnd: Random, depth: Int): FExpr = {
    if (depth <= 0) leaf(t, rnd)
    else {
      val a = genExpr(t, rnd, depth - 1)
      val cand = rnd.nextInt(100) match {
        case x if x < 22 => add(a, genExpr(t, rnd, depth - 1), rnd.nextBoolean())
        case x if x < 34 => mul(a, genExpr(t, rnd, depth - 1))
        case x if x < 46 => Some(absNeg(a, rnd.nextBoolean()))
        case x if x < 60 => Some(extreme(a, genExpr(t, rnd, depth - 1), rnd.nextBoolean()))
        case x if x < 74 => Some(caseOf(t, rnd, a, genExpr(t, rnd, depth - 1)))
        case x if x < 86 => Some(nullifZero(a))
        case _ => Some(coalesceQ(if (a.nullable) a else nullifZero(a), rnd))
      }
      cand.getOrElse(a)
    }
  }

  // ---- the sentinel encoder: the ONLY exit for a double ----

  /** Sentinels sit at 4·10¹⁵ — far above any reachable encoded finite
    * aggregate, so a finite sum can never collide with (mask or fake)
    * an Inf/NaN-vs-finite cross-engine divergence: per-expression
    * magnitudes are bounded by the `mag` tracker (≤ ~10⁴ after the
    * depth-2 grammar) and group sums by rows·mag·16 ≲ 10¹² even at
    * sf1-scale groups, 3 orders below the sentinel band. The values
    * stay below 2⁵³ so they are also exact if a future rendering ever
    * routes them through a double. */
  val NanSentinel = 4000000000000003L
  val InfSentinel = 4000000000000001L

  private def encSql(e: String): String =
    s"(CASE WHEN isnan($e) THEN ${NanSentinel}" +
      s" WHEN $e = ${dlit("Infinity")} THEN ${InfSentinel}" +
      s" WHEN $e = ${dlit("-Infinity")} THEN -${InfSentinel}" +
      s" ELSE CAST(($e) * 16 AS BIGINT) END)"

  private def encDf(e: Column): Column =
    when(isnan(e), lit(NanSentinel))
      .when(e === Double.PositiveInfinity, lit(InfSentinel))
      .when(e === Double.NegativeInfinity, lit(-InfSentinel))
      .otherwise((e * 16).cast(LongType))

  // ---- predicates (total-order comparisons are the surface) ----

  private def genPred(t: FTable, rnd: Random): (String, Column) = {
    val e = genExpr(t, rnd, 1)
    rnd.nextInt(4) match {
      case 0 => (s"isnan(${e.sql})", isnan(e.df))
      case 1 => (s"NOT isnan(${e.sql})", !isnan(e.df))
      case 2 =>
        val q = (rnd.nextInt(12) - 6) / 4.0
        (s"${e.sql} > CAST($q AS DOUBLE)", e.df > lit(q))
      case _ =>
        (s"${e.sql} = ${dlit("Infinity")}", e.df === Double.PositiveInfinity)
    }
  }

  // ---- query shapes ----

  final case class FQuery(id: Int, table: String, commonSql: String,
      df: (SparkSession, String) => DataFrame, outCols: Seq[String])
      extends FuzzExec.Generated {
    def duckSql: String = commonSql
  }

  def queries(seed: Long, n: Int): Seq[FQuery] =
    (0 until n).map(i => gen(i, new Random(seed * 613 + i)))

  private def gen(id: Int, rnd: Random): FQuery = {
    val t = tables(rnd.nextInt(tables.size))
    id % 3 match {
      case 0 => genScalar(id, t, rnd)
      case 1 => genGrouped(id, t, rnd)
      case _ => genJoin(id, t, rnd)
    }
  }

  private def genScalar(id: Int, t: FTable, rnd: Random): FQuery = {
    val nOut = 2 + rnd.nextInt(2)
    val outs = (0 until nOut).map(_ => genExpr(t, rnd, 1 + rnd.nextInt(2)))
    val where = if (rnd.nextInt(100) < 55) Some(genPred(t, rnd)) else None
    val outCols = outs.indices.map(j => s"o_$j")
    val sql = s"SELECT ${outs.zipWithIndex.map { case (e, j) =>
        s"${encSql(e.sql)} AS o_$j" }.mkString(", ")} FROM ${t.name}" +
      where.fold("")(p => s" WHERE ${p._1}")
    val dfFn = (s: SparkSession, d: String) => {
      val raw = Tables.t(s, d, t.name)
      val f = where.fold(raw)(p => raw.filter(p._2))
      f.select(outs.zipWithIndex.map { case (e, j) => encDf(e.df).as(s"o_$j") }: _*)
    }
    FQuery(id, t.name, sql, dfFn, outCols)
  }

  /** GROUP BY a raw double — grouping identity on NaN/±0.0 is the
    * point; the key exits through the encoder in the projection. */
  private def genGrouped(id: Int, t: FTable, rnd: Random): FQuery = {
    val v = genExpr(t, rnd, 1 + rnd.nextInt(2))
    val w = genExpr(t, rnd, 1)
    val where = if (rnd.nextInt(100) < 40) Some(genPred(t, rnd)) else None
    val nAggs = 1 + rnd.nextInt(3)
    // (sql, df) agg pairs over the inner alias w
    val aggs: Seq[(String, Column)] = (0 until nAggs).map { j =>
      val name = s"a_$j"
      rnd.nextInt(100) match {
        case x if x < 25 =>
          (s"CAST(count(*) AS BIGINT) AS $name", count(lit(1)).cast(LongType).as(name))
        case x if x < 45 =>
          (s"CAST(count(DISTINCT w) AS BIGINT) AS $name",
            count_distinct(col("w")).cast(LongType).as(name))
        case x if x < 65 =>
          (s"${encSql("min(w)")} AS $name", encDf(min(col("w"))).as(name))
        case x if x < 85 =>
          (s"${encSql("max(w)")} AS $name", encDf(max(col("w"))).as(name))
        case _ =>
          // group sums: finite parts are exact sixteenths (order-free);
          // ±Inf/NaN arms poison deterministically (probed)
          (s"${encSql("sum(w)")} AS $name", encDf(sum(col("w"))).as(name))
      }
    }
    // id ≡ 4 (mod 6) is always a grouped id (4 mod 3 = 1) — id%6==5
    // would NEVER coincide with the grouped shape (5 mod 3 = 2)
    val havingGt = if (id % 6 == 4) Some(1 + rnd.nextInt(4)) else None
    val outCols = Seq("g_0") ++ aggs.indices.map(j => s"a_$j")
    val inner = s"SELECT ${v.sql} AS v, ${w.sql} AS w FROM ${t.name}" +
      where.fold("")(p => s" WHERE ${p._1}")
    val sql = s"SELECT ${encSql("v")} AS g_0, ${aggs.map(_._1).mkString(", ")}" +
      s" FROM ($inner) __i GROUP BY v" +
      havingGt.fold("")(k => s" HAVING count(*) > $k")
    val dfFn = (s: SparkSession, d: String) => {
      val raw = Tables.t(s, d, t.name)
      val f = where.fold(raw)(p => raw.filter(p._2))
      val inner0 = f.select(v.df.as("v"), w.df.as("w"))
      val agged = inner0.groupBy(col("v"))
        .agg(aggs.head._2, (aggs.tail.map(_._2) :+ count(lit(1)).as("__hn")): _*)
      havingGt.fold(agged)(k => agged.filter(col("__hn") > k))
        .select(encDf(col("v")).as("g_0") +: aggs.indices.map(j => col(s"a_$j")): _*)
    }
    FQuery(id, t.name, sql, dfFn, outCols)
  }

  /** Equi-join ON a double key: NaN must match NaN, −0.0 must match
    * 0.0 (probed in both engines). Build side is DISTINCT over a
    * constructor → ≤ ~40 values, broadcast-sized at any SF. */
  private def genJoin(id: Int, t: FTable, rnd: Random): FQuery = {
    val bt = tables((tables.indexWhere(_.name == t.name) + 1) % tables.size)
    val av = genExpr(t, rnd, 1)
    val bv = leaf(bt, rnd) // leaf-only: keeps the build domain dense
    val where = if (rnd.nextInt(100) < 40) Some(genPred(t, rnd)) else None
    val outCols = Seq("g_0", "a_0")
    val sql =
      s"SELECT ${encSql("a.v")} AS g_0, CAST(count(*) AS BIGINT) AS a_0 " +
        s"FROM (SELECT ${av.sql} AS v FROM ${t.name}" +
        where.fold("")(p => s" WHERE ${p._1}") + ") a " +
        s"JOIN (SELECT DISTINCT ${bv.sql} AS v FROM ${bt.name}) b ON a.v = b.v " +
        "GROUP BY a.v"
    val dfFn = (s: SparkSession, d: String) => {
      val raw = Tables.t(s, d, t.name)
      val f = where.fold(raw)(p => raw.filter(p._2))
      val a = f.select(av.df.as("v"))
      val b = Tables.t(s, d, bt.name)
        .select(bv.df.as("v")).distinct()
      a.join(b, Seq("v")).groupBy(col("v"))
        .agg(count(lit(1)).cast(LongType).as("a_0"))
        .select(encDf(col("v")).as("g_0"), col("a_0"))
    }
    FQuery(id, t.name, sql, dfFn, outCols)
  }

  // ---- the gate (run by FuzzExec) ----

  type Query = FQuery

  protected def render(spark: SparkSession, dir: String, q: Query): DataFrame =
    q.df(spark, dir)

  /** q_fz11 — the IEEE special-value differential gate. */
  def gate: Q = declare(
    "q_fz11_float_fuzz",
    s"IEEE special-value differential fuzz: $NQueries seeded NaN/±Inf/−0.0 " +
      "grouping/join/comparison/aggregate queries, every double exiting through the " +
      "sentinel encoder, fingerprint-compared Spark vs DuckDB")
}
