package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

import scala.util.Random

/** Differential fuzz over the ARRAY / HIGHER-ORDER-FUNCTION surface —
  * the seventh population beside [[RelFuzz]], [[TemporalFuzz]],
  * [[StringFuzz]], [[WindowSetFuzz]], [[GroupingFuzz]] and
  * [[SubqueryFuzz]]: `transform` / `filter` / `aggregate` lambdas,
  * sort / reverse / distinct / slice, element access, membership and
  * zip arithmetic over arrays built by grouped collection, per-row
  * literals and string splits.
  *
  * Unlike fz1–fz6 there is NO common SQL dialect here — the list
  * surfaces genuinely differ (`transform` vs `list_transform`,
  * `slice(l,s,n)` vs inclusive `list_slice(l,s,e)`, `size` vs `len`),
  * so every query carries TWO renderings of ONE AST: `sparkSql`
  * (the property spec proves DF ≡ Spark-SQL inside one engine) and
  * `duckSql` (the q_fz7 gate proves Spark ≡ DuckDB cross-engine).
  * The AST is the semantics; each rendering compensates its engine's
  * quirks, all probed before this population was written:
  *
  *  - DuckDB `list_sort` defaults NULLS LAST where Spark `sort_array`
  *    is NULLS FIRST → every DuckDB sort is rendered with explicit
  *    ('ASC','NULLS FIRST') / ('DESC','NULLS LAST').
  *  - DuckDB `list_sum` SKIPS NULL elements and returns NULL on empty;
  *    Spark `aggregate` propagates NULL through the accumulator → the
  *    AST op is "sum of non-null elements, empty → 0": Spark renders
  *    `aggregate(l, 0L, (acc,x) -> acc + coalesce(x,0))`, DuckDB
  *    `coalesce(list_sum(l), 0)`.
  *  - DuckDB `list_distinct` DROPS NULLs and reorders; Spark
  *    `array_distinct` keeps one NULL in first-occurrence order → the
  *    AST op is sorted-distinct, applied to null-free arrays only
  *    (the generator tracks element nullability through the chain).
  *  - `list_contains` is two-valued (missing → false even with NULL
  *    elements) where Spark `array_contains` is three-valued →
  *    membership ops are gated on null-free arrays too.
  *  - DuckDB `array_to_string` returns NULL on the empty list (Spark
  *    `array_join` returns '') and both engines' raw array→string
  *    casts disagree on NULL spelling → the canonical array output is
  *    sentinel-transform + join with an outer coalesce('').
  *  - Spark under ANSI throws on out-of-bounds `element_at` → the
  *    extraction op renders `try_element_at`, matching DuckDB's
  *    NULL-on-out-of-bounds `list_extract` (negative = from-end in
  *    BOTH engines, also probed).
  *
  * Id-cycled guarantees (not left to the RNG): a NULL-injecting
  * `nullif` transform, an empty-producing filter, an out-of-bounds
  * index and a negative (from-end) index each appear throughout the
  * population.
  */
object ArrayFuzz extends FuzzExec.Frames {

  val NQueries = 60
  val GateSeed = 20260817L

  // ---- the array AST ----
  // Every node renders (sparkSql, duckSql, df) from the same
  // semantics; `intElems` and `nullableElems` gate which ops the
  // generator may apply next.

  sealed trait AExpr {
    def sparkSql: String
    def duckSql: String
    def df: Column
    def intElems: Boolean
    def nullableElems: Boolean
  }

  /** A base array column named `arr` in the per-query CTE. */
  private final case class ABase(intElems: Boolean) extends AExpr {
    def sparkSql = "arr"
    def duckSql = "arr"
    def df = col("arr")
    def nullableElems = false
  }

  /** Element-wise lambda; `fn` supplies the three renderings of the
    * body over the bound variable, plus the result typing. */
  private final case class ATransform(in: AExpr, fn: LamFn) extends AExpr {
    def sparkSql = s"transform(${in.sparkSql}, x -> ${fn.spark("x")})"
    def duckSql = s"list_transform(${in.duckSql}, x -> ${fn.duck("x")})"
    def df = transform(in.df, x => fn.dfc(x))
    def intElems = fn.intOut
    def nullableElems = in.nullableElems || fn.nullableOut
  }

  private final case class AFilter(in: AExpr, p: LamPred) extends AExpr {
    def sparkSql = s"filter(${in.sparkSql}, x -> ${p.spark("x")})"
    def duckSql = s"list_filter(${in.duckSql}, x -> ${p.duck("x")})"
    def df = filter(in.df, x => p.dfc(x))
    def intElems = in.intElems
    def nullableElems = in.nullableElems && !p.dropsNulls
  }

  private final case class ASort(in: AExpr, asc: Boolean) extends AExpr {
    def sparkSql =
      if (asc) s"sort_array(${in.sparkSql})"
      else s"sort_array(${in.sparkSql}, false)"
    def duckSql =
      if (asc) s"list_sort(${in.duckSql}, 'ASC', 'NULLS FIRST')"
      else s"list_sort(${in.duckSql}, 'DESC', 'NULLS LAST')"
    def df = sort_array(in.df, asc = asc)
    def intElems = in.intElems
    def nullableElems = in.nullableElems
  }

  private final case class AReverse(in: AExpr) extends AExpr {
    def sparkSql = s"reverse(${in.sparkSql})"
    def duckSql = s"list_reverse(${in.duckSql})"
    def df = reverse(in.df)
    def intElems = in.intElems
    def nullableElems = in.nullableElems
  }

  /** Sorted distinct — null-free input only (see scaladoc). */
  private final case class ADistinctSorted(in: AExpr) extends AExpr {
    require(!in.nullableElems)
    def sparkSql = s"sort_array(array_distinct(${in.sparkSql}))"
    def duckSql = s"list_sort(list_distinct(${in.duckSql}), 'ASC', 'NULLS FIRST')"
    def df = sort_array(array_distinct(in.df))
    def intElems = in.intElems
    def nullableElems = false
  }

  /** 1-based start + length; Spark native, DuckDB inclusive-end. */
  private final case class ASlice(in: AExpr, start: Int, n: Int) extends AExpr {
    require(start >= 1 && n >= 1)
    def sparkSql = s"slice(${in.sparkSql}, $start, $n)"
    def duckSql = s"list_slice(${in.duckSql}, $start, ${start + n - 1})"
    def df = slice(in.df, start, n)
    def intElems = in.intElems
    def nullableElems = in.nullableElems
  }

  // ---- lambda bodies ----

  private final case class LamFn(spark: String => String, duck: String => String,
      dfc: Column => Column, intOut: Boolean, nullableOut: Boolean)
  private final case class LamPred(spark: String => String, duck: String => String,
      dfc: Column => Column, dropsNulls: Boolean)

  private def intFns(rnd: Random, cycleNull: Boolean): LamFn = {
    if (cycleNull) {
      val m = 3 + rnd.nextInt(5); val v = rnd.nextInt(m)
      // the GUARANTEED null-injection arm
      LamFn(x => s"nullif($x % $m, $v)", x => s"nullif($x % $m, $v)",
        x => nullif(x % m, lit(v)), intOut = true, nullableOut = true)
    } else rnd.nextInt(5) match {
      case 0 =>
        val a = 2 + rnd.nextInt(3); val b = rnd.nextInt(7)
        LamFn(x => s"$x * $a + $b", x => s"$x * $a + $b",
          x => x * a + b, intOut = true, nullableOut = false)
      case 1 =>
        val m = 2 + rnd.nextInt(9)
        LamFn(x => s"$x % $m", x => s"$x % $m",
          x => x % m, intOut = true, nullableOut = false)
      case 2 =>
        LamFn(x => s"-$x", x => s"-$x", x => -x, intOut = true, nullableOut = false)
      case 3 =>
        val c = 1 + rnd.nextInt(20)
        LamFn(x => s"abs($x - $c)", x => s"abs($x - $c)",
          x => abs(x - c), intOut = true, nullableOut = false)
      case _ =>
        val c = rnd.nextInt(30)
        // int-cast comparison keeps element arrays integer-typed
        LamFn(x => s"CAST($x > $c AS BIGINT)", x => s"CAST($x > $c AS BIGINT)",
          x => (x > c).cast(LongType), intOut = true, nullableOut = false)
    }
  }

  private def strFns(rnd: Random): LamFn = rnd.nextInt(4) match {
    case 0 => LamFn(x => s"upper($x)", x => s"upper($x)",
      x => upper(x), intOut = false, nullableOut = false)
    case 1 =>
      val n = 1 + rnd.nextInt(3)
      LamFn(x => s"substr($x, 1, $n)", x => s"substr($x, 1, $n)",
        x => substring(x, 1, n), intOut = false, nullableOut = false)
    case 2 => LamFn(x => s"length($x)", x => s"length($x)",
      x => length(x).cast(LongType), intOut = true, nullableOut = false)
    case _ =>
      val s = Seq("R", "E", "N")(rnd.nextInt(3))
      LamFn(x => s"concat($x, '_$s')", x => s"concat($x, '_$s')",
        x => concat(x, lit(s"_$s")), intOut = false, nullableOut = false)
  }

  private def intPreds(rnd: Random, cycleEmpty: Boolean): LamPred =
    if (cycleEmpty)
      // the GUARANTEED empty-result arm
      LamPred(x => s"$x < -99", x => s"$x < -99", x => x < -99, dropsNulls = true)
    else rnd.nextInt(4) match {
      case 0 =>
        val m = 2 + rnd.nextInt(3); val v = rnd.nextInt(m)
        LamPred(x => s"$x % $m = $v", x => s"$x % $m = $v",
          x => x % m === v, dropsNulls = true)
      case 1 =>
        val c = rnd.nextInt(40)
        LamPred(x => s"$x > $c", x => s"$x > $c", x => x > c, dropsNulls = true)
      case 2 =>
        val c = 1 + rnd.nextInt(40)
        LamPred(x => s"$x < $c", x => s"$x < $c", x => x < c, dropsNulls = true)
      case _ =>
        LamPred(x => s"$x IS NOT NULL", x => s"$x IS NOT NULL",
          x => x.isNotNull, dropsNulls = true)
    }

  private def strPreds(rnd: Random): LamPred = rnd.nextInt(3) match {
    case 0 =>
      val n = 1 + rnd.nextInt(6)
      LamPred(x => s"length($x) > $n", x => s"length($x) > $n",
        x => length(x) > n, dropsNulls = true)
    case 1 =>
      val c = Seq("'B'", "'N'", "'R'")(rnd.nextInt(3))
      LamPred(x => s"$x >= $c", x => s"$x >= $c",
        x => x >= c.drop(1).dropRight(1), dropsNulls = true)
    case _ =>
      val s = Seq("E", "A", "U")(rnd.nextInt(3))
      LamPred(x => s"$x LIKE '%$s%'", x => s"$x LIKE '%$s%'",
        x => x.like(s"%$s%"), dropsNulls = true)
  }

  // ---- scalar / canonical outputs off a processed array ----

  sealed trait AOut {
    def sparkSql: String
    def duckSql: String
    def df: Column
  }

  /** The canonical array rendering: sentinel NULLs, comma join,
    * empty → '' (both engines, see scaladoc). */
  private final case class OJoin(a: AExpr, name: String) extends AOut {
    def sparkSql = "array_join(transform(" + a.sparkSql +
      s", x -> coalesce(CAST(x AS STRING), '~N~')), ',') AS $name"
    def duckSql = "coalesce(array_to_string(list_transform(" + a.duckSql +
      s", x -> coalesce(CAST(x AS VARCHAR), '~N~')), ','), '') AS $name"
    def df = array_join(transform(a.df,
      x => coalesce(x.cast(StringType), lit("~N~"))), ",").as(name)
  }

  private final case class OLen(a: AExpr, name: String) extends AOut {
    def sparkSql = s"CAST(size(${a.sparkSql}) AS BIGINT) AS $name"
    def duckSql = s"CAST(len(${a.duckSql}) AS BIGINT) AS $name"
    def df = size(a.df).cast(LongType).as(name)
  }

  /** Sum of non-null elements, empty → 0 (int arrays). */
  private final case class OSum(a: AExpr, name: String) extends AOut {
    def sparkSql = s"aggregate(${a.sparkSql}, CAST(0 AS BIGINT), " +
      s"(acc, x) -> acc + coalesce(CAST(x AS BIGINT), CAST(0 AS BIGINT))) AS $name"
    def duckSql = s"CAST(coalesce(list_sum(${a.duckSql}), 0) AS BIGINT) AS $name"
    def df = aggregate(a.df, lit(0L),
      (acc, x) => acc + coalesce(x.cast(LongType), lit(0L))).as(name)
  }

  /** Max/min skip NULL elements in both engines; empty → NULL. */
  private final case class OMinMax(a: AExpr, isMax: Boolean, name: String) extends AOut {
    private def sfn = if (isMax) "array_max" else "array_min"
    private def dfn = if (isMax) "max" else "min"
    private def castS(s: String) = if (a.intElems) s"CAST($s AS BIGINT)" else s
    def sparkSql = s"${castS(s"$sfn(${a.sparkSql})")} AS $name"
    def duckSql = s"${castS(s"list_aggregate(${a.duckSql}, '$dfn')")} AS $name"
    def df = {
      val b = if (isMax) array_max(a.df) else array_min(a.df)
      (if (a.intElems) b.cast(LongType) else b).as(name)
    }
  }

  /** try_element_at ≡ list_extract: 1-based, negative = from-end,
    * out-of-bounds → NULL (ANSI-safe on the Spark side). */
  private final case class OExtract(a: AExpr, i: Int, name: String) extends AOut {
    private def castS(s: String) = if (a.intElems) s"CAST($s AS BIGINT)" else s
    def sparkSql = s"${castS(s"try_element_at(${a.sparkSql}, $i)")} AS $name"
    def duckSql = s"${castS(s"list_extract(${a.duckSql}, $i)")} AS $name"
    def df = {
      val b = try_element_at(a.df, lit(i))
      (if (a.intElems) b.cast(LongType) else b).as(name)
    }
  }

  /** 1-based position, 0 when missing (both engines; null-free input). */
  private final case class OPosition(a: AExpr, vSql: String, vDf: Column,
      name: String) extends AOut {
    require(!a.nullableElems)
    def sparkSql = s"CAST(array_position(${a.sparkSql}, $vSql) AS BIGINT) AS $name"
    def duckSql = s"CAST(list_position(${a.duckSql}, $vSql) AS BIGINT) AS $name"
    def df = array_position(a.df, vDf).cast(LongType).as(name)
  }

  /** Membership as 0/1 (null-free input keeps both engines two-valued). */
  private final case class OContains(a: AExpr, vSql: String, vDf: Column,
      name: String) extends AOut {
    require(!a.nullableElems)
    def sparkSql = s"CAST(array_contains(${a.sparkSql}, $vSql) AS BIGINT) AS $name"
    def duckSql = s"CAST(list_contains(${a.duckSql}, $vSql) AS BIGINT) AS $name"
    def df = array_contains(a.df, vDf).cast(LongType).as(name)
  }

  /** Σ xᵢ·reverse(x)ᵢ — the zip-arithmetic op. Spark has `zip_with`;
    * DuckDB has no zip lambda, so its rendering indexes through
    * generate_series (same length by construction — both sides of the
    * zip derive from one array). NULL products are skipped on both
    * sides (coalesce / list_sum). Int arrays only; elements are
    * %-bounded upstream so products stay far inside BIGINT. */
  private final case class OZipRevSum(a: AExpr, name: String) extends AOut {
    def sparkSql = s"aggregate(zip_with(${a.sparkSql}, reverse(${a.sparkSql}), " +
      "(x, y) -> CAST(x AS BIGINT) * CAST(y AS BIGINT)), CAST(0 AS BIGINT), " +
      s"(acc, v) -> acc + coalesce(v, CAST(0 AS BIGINT))) AS $name"
    def duckSql = {
      val l = a.duckSql
      s"CAST(coalesce(list_sum(list_transform(generate_series(1, len($l)), " +
        s"i -> CAST(list_extract($l, i) AS BIGINT) * " +
        s"CAST(list_extract(list_reverse($l), i) AS BIGINT))), 0) AS BIGINT) AS $name"
    }
    def df = aggregate(
      zip_with(a.df, reverse(a.df), (x, y) => x.cast(LongType) * y.cast(LongType)),
      lit(0L), (acc, v) => acc + coalesce(v, lit(0L))).as(name)
  }

  // ---- base tables (all element expressions non-null by construction;
  //      doubles excluded: Spark truncates double→bigint casts where
  //      DuckDB rounds) ----

  final case class BaseMeta(table: String,
      sparkCte: String, duckCte: String,
      dfb: (SparkSession, String) => DataFrame,
      intElems: Boolean, posValues: Seq[String])

  private def grouped(table: String, key: String, elemSql: String,
      whereSql: Option[String], intElems: Boolean,
      pos: Seq[String]): BaseMeta = {
    val w = whereSql.fold("")(p => s" WHERE $p")
    BaseMeta(table,
      s"SELECT $key AS k, sort_array(collect_list($elemSql)) AS arr FROM $table$w GROUP BY $key",
      s"SELECT $key AS k, list_sort(list($elemSql), 'ASC', 'NULLS FIRST') AS arr FROM $table$w GROUP BY $key",
      (s, d) => {
        val raw = Tables.t(s, d, table)
        val f = whereSql.fold(raw)(p => raw.filter(p))
        f.groupBy(expr(key).as("k")).agg(sort_array(collect_list(expr(elemSql))).as("arr"))
      },
      intElems, pos)
  }

  private def perRow(table: String, key: String, arrSparkSql: String,
      arrDuckSql: String, arrDf: Column, whereSql: String, intElems: Boolean,
      pos: Seq[String]): BaseMeta =
    BaseMeta(table,
      s"SELECT $key AS k, $arrSparkSql AS arr FROM $table WHERE $whereSql",
      s"SELECT $key AS k, $arrDuckSql AS arr FROM $table WHERE $whereSql",
      (s, d) => Tables.t(s, d, table).filter(whereSql)
        .select(expr(key).as("k"), arrDf.as("arr")),
      intElems, pos)

  private def bases: Seq[BaseMeta] = Seq(
    // small grouped int arrays (≤ 7 elements per TPC-H order)
    grouped("lineitem", "l_orderkey", "CAST(l_linenumber AS BIGINT)",
      Some("l_orderkey % 3 = 0"), intElems = true, pos = Seq("1", "2", "5")),
    grouped("lineitem", "l_orderkey", "l_partkey % 100",
      Some("l_orderkey % 4 = 1"), intElems = true, pos = Seq("7", "42", "99")),
    // wide grouped int arrays (~hundreds of elements per suppkey bucket)
    grouped("lineitem", "l_suppkey % 31", "l_partkey % 500",
      Some("l_orderkey % 5 = 2"), intElems = true, pos = Seq("13", "250", "499")),
    // grouped string arrays
    grouped("lineitem", "l_orderkey", "l_returnflag",
      Some("l_orderkey % 5 = 3"), intElems = false, pos = Seq("'A'", "'N'", "'R'")),
    // per-row int literal arrays
    perRow("orders", "o_orderkey",
      "array(o_orderkey % 7, o_custkey % 11, o_orderkey % 13, o_custkey % 5)",
      "[o_orderkey % 7, o_custkey % 11, o_orderkey % 13, o_custkey % 5]",
      array(col("o_orderkey") % 7, col("o_custkey") % 11,
        col("o_orderkey") % 13, col("o_custkey") % 5),
      "o_orderkey % 4 = 1", intElems = true, pos = Seq("0", "3", "6")),
    // per-row split string arrays ('1-URGENT' → ['1','URGENT'])
    perRow("orders", "o_orderkey",
      "split(o_orderpriority, '-')", "string_split(o_orderpriority, '-')",
      split(col("o_orderpriority"), "-"),
      "o_orderkey % 5 = 4", intElems = false, pos = Seq("'1'", "'URGENT'", "'LOW'")))

  // ---- query shape ----

  final case class AQuery(id: Int, base: BaseMeta, outs: Seq[AOut],
      outNames: Seq[String]) extends FuzzExec.Generated {
    def outCols: Seq[String] = "k" +: outNames
    def sparkSql: String =
      s"WITH base AS (${base.sparkCte}) SELECT k, ${outs.map(_.sparkSql).mkString(", ")} FROM base"
    def duckSql: String =
      s"WITH base AS (${base.duckCte}) SELECT k, ${outs.map(_.duckSql).mkString(", ")} FROM base"
    def df(spark: SparkSession, dir: String): DataFrame =
      base.dfb(spark, dir).select(col("k") +: outs.map(_.df): _*)
  }

  def queries(seed: Long, n: Int): Seq[AQuery] =
    (0 until n).map(i => gen(i, new Random(seed + i)))

  private def gen(id: Int, rnd: Random): AQuery = {
    val b = bases(rnd.nextInt(bases.size))

    // 0–2 chained array ops over the base
    def chain(depth: Int, e: AExpr): AExpr =
      if (depth == 0) e
      else {
        val next = rnd.nextInt(12) match {
          case 0 | 1 =>
            if (e.intElems) ATransform(e, intFns(rnd, cycleNull = id % 3 == 0))
            else ATransform(e, strFns(rnd))
          case 2 | 3 =>
            if (e.intElems) AFilter(e, intPreds(rnd, cycleEmpty = id % 4 == 0))
            else AFilter(e, strPreds(rnd))
          case 4 | 5 => ASort(e, asc = rnd.nextBoolean())
          case 6 => AReverse(e)
          case 7 | 8 if !e.nullableElems => ADistinctSorted(e)
          case 9 | 10 => ASlice(e, 1 + rnd.nextInt(3), 1 + rnd.nextInt(4))
          case _ => e
        }
        chain(depth - 1, next)
      }
    val arr = chain(rnd.nextInt(3), ABase(b.intElems))

    val nOuts = 1 + rnd.nextInt(3)
    val outs = (0 until nOuts).map { j =>
      val name = s"o_$j"
      // id-cycled index arms, FORCED as the first output so neither
      // depends on an RNG roll: out-of-bounds and negative (from-end)
      val pick =
        if (j == 0 && (id % 5 == 0 || id % 7 == 0)) 65 else rnd.nextInt(100)
      val idx =
        if (id % 5 == 0 && j == 0) 500 + rnd.nextInt(100)
        else if (id % 7 == 0 && j == 0) -(1 + rnd.nextInt(3))
        else 1 + rnd.nextInt(6)
      pick match {
        case p if p < 22 => OJoin(arr, name)
        case p if p < 34 => OLen(arr, name)
        case p if p < 48 =>
          if (arr.intElems) OSum(arr, name) else OLen(arr, name)
        case p if p < 60 => OMinMax(arr, rnd.nextBoolean(), name)
        case p if p < 72 => OExtract(arr, idx, name)
        case p if p < 82 && !arr.nullableElems && arr.intElems == b.intElems =>
          val v = b.posValues(rnd.nextInt(b.posValues.size))
          OPosition(arr, v, expr(v), name)
        case p if p < 90 && !arr.nullableElems && arr.intElems == b.intElems =>
          val v = b.posValues(rnd.nextInt(b.posValues.size))
          OContains(arr, v, expr(v), name)
        case p if p < 90 => OJoin(arr, name)
        case _ =>
          if (arr.intElems) OZipRevSum(arr, name) else OJoin(arr, name)
      }
    }
    AQuery(id, b, outs, outs.indices.map(j => s"o_$j"))
  }

  // ---- the gate (run by FuzzExec) ----

  type Query = AQuery

  protected def render(spark: SparkSession, dir: String, q: Query): DataFrame =
    q.df(spark, dir)

  /** q_fz7 — the array / higher-order-function differential gate. */
  def gate: Q = declare(
    "q_fz7_array_fuzz",
    s"array/HOF differential fuzz: $NQueries seeded transform/filter/" +
      "aggregate/sort/slice/zip queries over grouped, literal and split arrays, " +
      "dual-rendered from one AST, fingerprint-compared Spark vs DuckDB")
}
