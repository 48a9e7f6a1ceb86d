package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

import scala.util.Random

/** Differential fuzz over the EXACT-NUMERIC surface — decimal
  * arithmetic, rounding, integer div/mod sign conventions — the ninth
  * population beside [[RelFuzz]] (relational), [[TemporalFuzz]],
  * [[StringFuzz]], [[WindowSetFuzz]], [[GroupingFuzz]],
  * [[SubqueryFuzz]], [[ArrayFuzz]] and [[JsonFuzz]].
  *
  * The test parquet stores money columns as DOUBLE, so every decimal
  * leaf is an explicit `CAST(col AS DECIMAL(12,s))` (the stored values
  * are 1–2 dp, far from any scale-2/3 rounding midpoint, so the
  * double→decimal cast is value-identical in both engines — probed).
  *
  * Probed AGREEMENT surface (what the population exercises):
  *  - `+ − ×` scale/precision propagation: add → max(s), mul → s₁+s₂,
  *    values exact in both engines while Spark precision ≤ 38 (the
  *    generator tracks Spark's rules and caps precision ≤ 30, mul
  *    scale ≤ 6, so no silent scale-reduction path ever fires);
  *  - `round(dec, k)` is HALF-UP (away from zero) in BOTH engines on
  *    decimals (2.345→2.35, −2.345→−2.35, 0.125→0.13) — on DOUBLEs
  *    they'd disagree (banker's vs half-up), which is why every
  *    arithmetic node here is decimal-typed;
  *  - floor/ceil → scale 0, floor(−2.5)=−3 / ceil(−2.5)=−2 both;
  *  - integer `%` is sign-of-dividend in both (−7%3=−1, 7%−3=1), and
  *    truncating integer division agrees (Spark `div` ≡ DuckDB `//`,
  *    both −7÷3→−2) — but NEITHER spelling parses in the other
  *    dialect, so the common-dialect rendering is the identity
  *    `(a − (a % b)) / b` (exact in DOUBLE for |a| < 2⁵³, which the
  *    magnitude tracker guarantees);
  *  - greatest/least/CASE unify mixed-scale decimals to max-scale with
  *    exact widening in both.
  *
  * Probed DIVERGENCE classes (what the population must NOT emit raw,
  * and the reason this surface needs a population at all):
  *  - `decimal / decimal` → DECIMAL(·,·) in Spark but DOUBLE in DuckDB
  *    — division appears only as the explicit truncated-mean contract
  *    above, never as raw `/` on decimals;
  *  - `CAST(decimal AS BIGINT)` TRUNCATES in Spark (2.7→2) but ROUNDS
  *    in DuckDB (2.7→3) — so every output is normalized by
  *    multiplying to its tracked scale FIRST (`CAST(e · 10^s AS
  *    BIGINT)`), where the value is integral and round≡truncate;
  *  - `avg(decimal)` → decimal(p+4,s+4) in Spark but DOUBLE in DuckDB
  *    — the mean appears only as the truncated-mean contract.
  *
  * Determinism discipline: results are row multisets of BIGINTs
  * (group keys normalized the same way), reduced to the RelFuzz
  * n_rows+checksum fingerprint — no ordering anywhere. Magnitude
  * tracking bounds every scaled sum ≤ ~6·10¹⁷ at sf0.1 (ANSI overflow
  * never fires) and every truncated-mean numerator < 2⁵³.
  */
object NumericFuzz extends FuzzExec.Frames {

  val NQueries = 50
  val GateSeed = 20260817L

  /** A decimal-typed expression with its Spark-rule type tracked.
    * `mag` bounds |value|; `w = mag·10^s` is the scaled-integer weight
    * that all overflow caps are written against. */
  private final case class DExpr(sql: String, df: Column, p: Int, s: Int,
      mag: Double, nullable: Boolean) {
    def w: Double = mag * math.pow(10, s)
  }

  // ---- table metadata ----

  private final case class NTable(name: String,
      decLeaves: Seq[(String, Int, Double)], // (col, castScale, magBound)
      intKeys: Seq[(String, Column)],
      intCol: String)

  private def lineitemMeta = NTable("lineitem",
    decLeaves = Seq(("l_extendedprice", 2, 1.2e5), ("l_discount", 2, 0.12),
      ("l_tax", 2, 0.1), ("l_quantity", 1, 51.0)),
    intKeys = Seq(("l_suppkey % 7", col("l_suppkey") % 7),
      ("l_linenumber", col("l_linenumber")),
      ("l_orderkey % 5", col("l_orderkey") % 5)),
    intCol = "l_partkey")

  private def ordersMeta = NTable("orders",
    decLeaves = Seq(("o_totalprice", 2, 6.1e5)),
    intKeys = Seq(("o_custkey % 7", col("o_custkey") % 7),
      ("o_orderkey % 4", col("o_orderkey") % 4)),
    intCol = "o_custkey")

  private def customerMeta = NTable("customer",
    // c_acctbal goes NEGATIVE — the sign conventions above only
    // matter if negatives actually flow through the population
    decLeaves = Seq(("c_acctbal", 2, 1.1e4)),
    intKeys = Seq(("c_nationkey % 5", col("c_nationkey") % 5),
      ("c_custkey % 6", col("c_custkey") % 6)),
    intCol = "c_custkey")

  private def tables = Seq(lineitemMeta, ordersMeta, customerMeta)

  private def decLit(sql: String, p: Int, s: Int, v: Double): DExpr =
    DExpr(s"CAST($sql AS DECIMAL($p,$s))", lit(sql).cast(DecimalType(p, s)),
      p, s, math.abs(v), nullable = false)

  private def literals = Seq(
    decLit("1.05", 3, 2, 1.05), decLit("0.04", 3, 2, 0.04),
    decLit("2.5", 2, 1, 2.5), decLit("-3.25", 3, 2, 3.25),
    decLit("100.001", 6, 3, 100.001), decLit("0.5", 2, 1, 0.5))

  // ---- expression generator (Spark type rules tracked exactly) ----

  private def leaf(t: NTable, rnd: Random, forceNullArm: Boolean): DExpr = {
    if (rnd.nextInt(100) < 25 && !forceNullArm) literals(rnd.nextInt(literals.size))
    else {
      val (c, s, m) = t.decLeaves(rnd.nextInt(t.decLeaves.size))
      val base = DExpr(s"CAST($c AS DECIMAL(12,$s))",
        col(c).cast(DecimalType(12, s)), 12, s, m, nullable = false)
      if (forceNullArm || rnd.nextInt(100) < 18) {
        // id-cycled NULL arm: a value the column actually takes, so
        // NULL propagation (and its skip-in-aggregates twin) is live
        val nv = c match {
          case "l_discount" => "0.04"; case "l_tax" => "0.04"
          case "l_quantity" => "25.0"; case _ => "0.00"
        }
        DExpr(s"nullif(${base.sql}, $nv)", nullif(base.df, lit(nv)),
          base.p, base.s, base.mag, nullable = true)
      } else base
    }
  }

  /** Precision ceiling: the ×10^s output normalization multiplies by
    * an INT literal (decimal(10,0) under Spark's rules), so the final
    * precision is p+11 — capping p at 27 keeps every node ≤ 38 and
    * Spark's silent scale-reduction path (allowPrecisionLoss) can
    * never fire. */
  private val MaxP = 27

  private def add(a: DExpr, b: DExpr, minus: Boolean): Option[DExpr] = {
    val s = math.max(a.s, b.s)
    val p = math.max(a.p - a.s, b.p - b.s) + s + 1
    if (p > MaxP) None
    else Some(DExpr(s"(${a.sql} ${if (minus) "-" else "+"} ${b.sql})",
      if (minus) a.df - b.df else a.df + b.df,
      p, s, a.mag + b.mag, a.nullable || b.nullable))
  }

  private def mul(a: DExpr, b: DExpr): Option[DExpr] = {
    val s = a.s + b.s
    val p = a.p + b.p + 1
    if (p > MaxP || s > 6 || a.mag * b.mag > 1e8) None
    else Some(DExpr(s"(${a.sql} * ${b.sql})", a.df * b.df,
      p, s, a.mag * b.mag, a.nullable || b.nullable))
  }

  private def roundTo(a: DExpr, rnd: Random): Option[DExpr] =
    if (a.s < 1) None
    else {
      val k = rnd.nextInt(a.s) // 0 .. s-1: always a true scale reduction
      Some(DExpr(s"round(${a.sql}, $k)", round(a.df, k), a.p, k,
        a.mag + 1, a.nullable))
    }

  private def floorCeil(a: DExpr, isFloor: Boolean): DExpr = {
    val f = if (isFloor) "floor" else "ceil"
    DExpr(s"$f(${a.sql})", if (isFloor) floor(a.df) else ceil(a.df),
      a.p, 0, a.mag + 1, a.nullable)
  }

  private def absNeg(a: DExpr, isAbs: Boolean): DExpr =
    if (isAbs) DExpr(s"abs(${a.sql})", abs(a.df), a.p, a.s, a.mag, a.nullable)
    else DExpr(s"(- ${a.sql})", -a.df, a.p, a.s, a.mag, a.nullable)

  private def extreme(a: DExpr, b: DExpr, isMax: Boolean): Option[DExpr] = {
    val s = math.max(a.s, b.s)
    val p = math.max(a.p - a.s, b.p - b.s) + s
    if (p > MaxP) None
    else Some(DExpr(s"${if (isMax) "greatest" else "least"}(${a.sql}, ${b.sql})",
      if (isMax) greatest(a.df, b.df) else least(a.df, b.df),
      p, s, math.max(a.mag, b.mag), a.nullable || b.nullable))
  }

  private def caseOf(cond: (String, Column), a: DExpr, b: DExpr): Option[DExpr] = {
    val s = math.max(a.s, b.s)
    val p = math.max(a.p - a.s, b.p - b.s) + s
    if (p > MaxP) None
    else Some(DExpr(s"(CASE WHEN ${cond._1} THEN ${a.sql} ELSE ${b.sql} END)",
      when(cond._2, a.df).otherwise(b.df),
      p, s, math.max(a.mag, b.mag), a.nullable || b.nullable))
  }

  private def coalesceWith(a: DExpr, rnd: Random): DExpr = {
    val l = literals(rnd.nextInt(literals.size))
    DExpr(s"coalesce(${a.sql}, ${l.sql})", coalesce(a.df, l.df),
      math.max(a.p, l.p), math.max(a.s, l.s),
      math.max(a.mag, l.mag), nullable = false)
  }

  /** Simple integer predicate (for CASE / WHERE / conditional sums). */
  private def intCond(t: NTable, rnd: Random): (String, Column) = {
    val k = 2 + rnd.nextInt(3)
    val r = rnd.nextInt(k)
    (s"${t.intCol} % $k = $r", col(t.intCol) % k === r)
  }

  /** Decimal-comparison predicate — exact rational compare both sides. */
  private def decCond(t: NTable, rnd: Random): (String, Column) = {
    val a = leaf(t, rnd, forceNullArm = false)
    rnd.nextInt(3) match {
      case 0 =>
        val b = leaf(t, rnd, forceNullArm = false)
        val op = Seq(">", "<", ">=", "<=")(rnd.nextInt(4))
        (s"${a.sql} $op ${b.sql}", op match {
          case ">" => a.df > b.df; case "<" => a.df < b.df
          case ">=" => a.df >= b.df; case _ => a.df <= b.df
        })
      case 1 =>
        val lo = literals(rnd.nextInt(literals.size))
        (s"${a.sql} BETWEEN ${lo.sql} AND ${lo.sql} + ${a.mag.toInt.max(1)}",
          a.df.between(lo.df, lo.df + lit(a.mag.toInt.max(1))))
      case _ =>
        val l = literals(rnd.nextInt(literals.size))
        (s"${a.sql} > ${l.sql}", a.df > l.df)
    }
  }

  private def genExpr(t: NTable, rnd: Random, depth: Int,
      forceNullArm: Boolean): DExpr = {
    if (depth <= 0) leaf(t, rnd, forceNullArm)
    else {
      val a = genExpr(t, rnd, depth - 1, forceNullArm)
      val candidate = rnd.nextInt(100) match {
        case x if x < 22 => add(a, genExpr(t, rnd, depth - 1, forceNullArm = false),
          minus = rnd.nextBoolean())
        case x if x < 40 => mul(a, genExpr(t, rnd, depth - 1, forceNullArm = false))
        case x if x < 52 => roundTo(a, rnd)
        case x if x < 62 => Some(floorCeil(a, isFloor = rnd.nextBoolean()))
        case x if x < 72 => Some(absNeg(a, isAbs = rnd.nextBoolean()))
        case x if x < 82 => extreme(a, genExpr(t, rnd, depth - 1, forceNullArm = false),
          isMax = rnd.nextBoolean())
        case x if x < 92 => caseOf(intCond(t, rnd), a,
          genExpr(t, rnd, depth - 1, forceNullArm = false))
        case _ => Some(if (a.nullable) coalesceWith(a, rnd) else a)
      }
      candidate.getOrElse(a)
    }
  }

  // ---- output normalization: multiply to integral, THEN cast ----

  /** INT (not Long): a Long literal is decimal(20,0) under Spark's
    * rules and would push the normalization product past precision 38;
    * s ≤ 6 so the factor always fits an Int. */
  private def pow10(s: Int): Int = { var v = 1; (0 until s).foreach(_ => v *= 10); v }

  /** `CAST(e · 10^s AS BIGINT)` — integral before the cast, so Spark's
    * truncation and DuckDB's rounding agree (the bare-cast divergence
    * class this normalization exists for). */
  private def normSql(e: DExpr): String = s"CAST((${e.sql}) * ${pow10(e.s)} AS BIGINT)"
  private def normDf(e: DExpr): Column = (e.df * lit(pow10(e.s))).cast(LongType)

  // ---- aggregate forms ----

  private sealed trait NAgg { def sql: String; def df: Column }
  private final case class CountStarA(name: String) extends NAgg {
    def sql = s"CAST(count(*) AS BIGINT) AS $name"
    def df = count(lit(1)).cast(LongType).as(name)
  }
  private final case class SumA(e: DExpr, distinct: Boolean, name: String) extends NAgg {
    def sql = s"CAST(sum(${if (distinct) "DISTINCT " else ""}(${e.sql}) * ${pow10(e.s)}) AS BIGINT) AS $name"
    def df = (if (distinct) sum_distinct(e.df * lit(pow10(e.s)))
      else sum(e.df * lit(pow10(e.s)))).cast(LongType).as(name)
  }
  private final case class MinMaxN(e: DExpr, isMax: Boolean, name: String) extends NAgg {
    private def fn = if (isMax) "max" else "min"
    def sql = s"CAST($fn((${e.sql}) * ${pow10(e.s)}) AS BIGINT) AS $name"
    def df = {
      val b = if (isMax) max(e.df * lit(pow10(e.s))) else min(e.df * lit(pow10(e.s)))
      b.cast(LongType).as(name)
    }
  }
  private final case class CountDistN(e: DExpr, name: String) extends NAgg {
    def sql = s"CAST(count(DISTINCT ${e.sql}) AS BIGINT) AS $name"
    def df = count_distinct(e.df).cast(LongType).as(name)
  }
  private final case class CondSumA(cond: (String, Column), e: DExpr, name: String) extends NAgg {
    def sql = s"CAST(sum(CASE WHEN ${cond._1} THEN (${e.sql}) * ${pow10(e.s)} ELSE 0 END) AS BIGINT) AS $name"
    def df = sum(when(cond._2, e.df * lit(pow10(e.s))).otherwise(lit(0)))
      .cast(LongType).as(name)
  }
  /** The explicit replacement for the avg→DOUBLE divergence: the
    * truncated mean over the scaled integers, written as
    * `(m − (m % n)) / n` — the one truncating-division spelling that
    * parses in BOTH dialects (see the class scaladoc). */
  private final case class TruncMeanA(e: DExpr, name: String) extends NAgg {
    private def m = s"CAST(sum((${e.sql}) * ${pow10(e.s)}) AS BIGINT)"
    def sql = s"CAST(($m - ($m % count(*))) / count(*) AS BIGINT) AS $name"
    def df = {
      val mm = sum(e.df * lit(pow10(e.s))).cast(LongType)
      val n = count(lit(1))
      ((mm - (mm % n)) / n).cast(LongType).as(name)
    }
  }

  // ---- query shape ----

  final case class NQuery(id: Int, table: String, commonSql: String,
      df: (SparkSession, String) => DataFrame, outCols: Seq[String])
      extends FuzzExec.Generated {
    def duckSql: String = commonSql
  }

  def queries(seed: Long, n: Int): Seq[NQuery] =
    (0 until n).map(i => gen(i, new Random(seed * 131 + i)))

  private def gen(id: Int, rnd: Random): NQuery = {
    val t = tables(rnd.nextInt(tables.size))
    val scalar = id % 5 < 2
    if (scalar) genScalar(id, t, rnd) else genAgg(id, t, rnd)
  }

  private def genScalar(id: Int, t: NTable, rnd: Random): NQuery = {
    val nOut = 2 + rnd.nextInt(2)
    val exprs = (0 until nOut).map { j =>
      var e = genExpr(t, rnd, depth = 1 + rnd.nextInt(2),
        forceNullArm = id % 3 == 0 && j == 0)
      var guard = 0
      while (e.w > 1e15 && guard < 8) { e = genExpr(t, rnd, 1, forceNullArm = false); guard += 1 }
      e
    }
    // id%4==1: one integer div+mod pair rides along for the
    // sign-convention coverage (negated dividend, truncating division)
    val intPair = if (id % 4 == 1) {
      val k = 3 + rnd.nextInt(5)
      val a = s"(0 - CAST(${t.intCol} AS BIGINT))"
      Seq(
        (s"CAST($a % $k AS BIGINT)",
          ((lit(0L) - col(t.intCol).cast(LongType)) % k).cast(LongType)),
        (s"CAST(($a - ($a % $k)) / $k AS BIGINT)", {
          val av = lit(0L) - col(t.intCol).cast(LongType)
          ((av - (av % k)) / k).cast(LongType)
        }))
    } else Seq.empty
    val where = if (rnd.nextInt(100) < 45) Some(decCond(t, rnd))
      else if (rnd.nextInt(100) < 30) Some(intCond(t, rnd)) else None
    val outCols = exprs.indices.map(j => s"c_$j") ++
      intPair.indices.map(j => s"i_$j")
    val sel = (exprs.zipWithIndex.map { case (e, j) => s"${normSql(e)} AS c_$j" } ++
      intPair.zipWithIndex.map { case ((s, _), j) => s"$s AS i_$j" }).mkString(", ")
    val sql = s"SELECT $sel FROM ${t.name}${where.fold("")(w => s" WHERE ${w._1}")}"
    val dfFn = (s: SparkSession, d: String) => {
      val raw = Tables.t(s, d, t.name)
      val f = where.fold(raw)(w => raw.filter(w._2))
      f.select((exprs.zipWithIndex.map { case (e, j) => normDf(e).as(s"c_$j") } ++
        intPair.zipWithIndex.map { case ((_, c), j) => c.as(s"i_$j") }).toIndexedSeq: _*)
    }
    NQuery(id, t.name, sql, dfFn, outCols)
  }

  private def genAgg(id: Int, t: NTable, rnd: Random): NQuery = {
    val nKeys = 1 + rnd.nextInt(2)
    val useDecKey = id % 4 == 2
    val keys: Seq[(String, Column)] = (0 until nKeys).map { j =>
      if (useDecKey && j == 0) {
        // a DECIMAL-derived group key, normalized the same way as the
        // outputs (grouping ON decimals is part of the surface: group
        // identity must agree cross-engine on exact values)
        var e = leaf(t, rnd, forceNullArm = id % 3 == 0)
        e = roundTo(e, rnd).getOrElse(e)
        (s"CAST((${e.sql}) * ${pow10(e.s)} AS BIGINT)", normDf(e))
      } else {
        val (s, c) = t.intKeys(rnd.nextInt(t.intKeys.size))
        (s"CAST($s AS BIGINT)", c.cast(LongType))
      }
    }
    val nAggs = 1 + rnd.nextInt(3)
    def boundedExpr(cap: Double): DExpr = {
      var e = genExpr(t, rnd, depth = 1 + rnd.nextInt(2),
        forceNullArm = id % 3 == 0)
      var guard = 0
      while (e.w > cap && guard < 10) { e = genExpr(t, rnd, 1, forceNullArm = false); guard += 1 }
      if (e.w > cap) leaf(t, rnd, forceNullArm = false) else e
    }
    val aggs: Seq[NAgg] = (0 until nAggs).map { j =>
      val name = s"c_$j"
      rnd.nextInt(100) match {
        case x if x < 15 => CountStarA(name)
        case x if x < 40 => SumA(boundedExpr(1e12), distinct = false, name)
        case x if x < 50 => SumA(boundedExpr(1e12), distinct = true, name)
        case x if x < 65 => MinMaxN(boundedExpr(1e15), rnd.nextBoolean(), name)
        case x if x < 77 => CountDistN(boundedExpr(1e15), name)
        case x if x < 89 => CondSumA(intCond(t, rnd), boundedExpr(1e12), name)
        case _ => TruncMeanA(boundedExpr(5e9), name)
      }
    }
    val where = if (rnd.nextInt(100) < 40) Some(decCond(t, rnd)) else None
    // HAVING only when a plain-sum aggregate exists: the DF rendering
    // filters on that OUTPUT column, which is only equivalent when the
    // HAVING expression IS that aggregate
    val having = if (id % 6 == 5)
      aggs.collectFirst { case s0: SumA => s0 }
        .map(s0 => (s0, s"HAVING ${s0.sql.stripSuffix(s" AS ${s0.name}")} <> 0"))
    else None
    val keySel = keys.zipWithIndex.map { case ((s, _), j) => s"$s AS g_$j" }
    val outCols = keys.indices.map(j => s"g_$j") ++ aggs.indices.map(j => s"c_$j")
    val sql = s"SELECT ${(keySel ++ aggs.map(_.sql)).mkString(", ")} FROM ${t.name}" +
      where.fold("")(w => s" WHERE ${w._1}") +
      s" GROUP BY ${keys.indices.map(_ + 1).mkString(", ")}" +
      having.fold("")(h => s" ${h._2}")
    val dfFn = (s: SparkSession, d: String) => {
      val raw = Tables.t(s, d, t.name)
      val f = where.fold(raw)(w => raw.filter(w._2))
      val grouped = f.groupBy(keys.zipWithIndex.map { case ((_, c), j) => c.as(s"g_$j") }: _*)
      val aggCols = aggs.map(_.df)
      val out = grouped.agg(aggCols.head, aggCols.tail: _*)
      having match {
        case None => out
        case Some((s0, _)) => out.filter(col(s0.name) =!= 0)
      }
    }
    NQuery(id, t.name, sql, dfFn, outCols)
  }

  // ---- the gate (run by FuzzExec) ----

  type Query = NQuery

  protected def render(spark: SparkSession, dir: String, q: Query): DataFrame =
    q.df(spark, dir)

  /** q_fz9 — the exact-numeric differential gate. */
  def gate: Q = declare(
    "q_fz9_numeric_fuzz",
    s"exact-numeric differential fuzz: $NQueries seeded decimal-arithmetic / " +
      "rounding / div-mod-sign queries, outputs normalized to scaled BIGINT, " +
      "fingerprint-compared Spark vs DuckDB")
}
