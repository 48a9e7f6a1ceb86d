package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

import scala.util.Random

/** Differential fuzz over COMPOSED plans — the seventeenth population,
  * and the first that crosses surfaces instead of sweeping one:
  * windows over joins, windows over GROUPING SETS results, set-ops of
  * windowed branches, aggregates of windowed results, and windows over
  * subquery-filtered inputs — 3 levels deep. Per-surface populations
  * (fz1–fz16) can never catch an optimizer rule that fires only when
  * surfaces interact; this one exists precisely for that (the round-10
  * `TailFrameRewrite` avg-guard hole was in exactly this blind spot).
  *
  * Every query composes three levels:
  *
  *   leaf (projection+filter, normalized to a fixed (k,g,v,w) BIGINT
  *   schema) → mid (join against an aggregated dim / GROUP BY /
  *   GROUPING SETS / IN / EXISTS / NOT EXISTS, schema preserved) →
  *   top (window with id-cycled frames incl. BOTH quadratic-hazard
  *   directions, set-op of two windowed branches, or a final
  *   aggregate over a windowed result).
  *
  * The fixed mid-schema makes composition mechanical and set-op
  * branches automatically union-compatible. All spellings are the
  * COMMON dialect already probed by earlier populations: explicit
  * `NULLS FIRST/LAST` in window ORDER BY (fz4 — the engines' default
  * null placement differs), `grouping_id()` projected with every
  * GROUPING SETS (fz5), non-null membership keys (fz6 — the NOT IN
  * three-valued arms live there, not here), CAST-wrapped integer
  * aggregates throughout.
  *
  * Determinism: ROWS-frame windows and row_number/rank order by ALL
  * four schema columns (ties ⇒ the tied rows are identical in every
  * column the window can read, so any tie order yields the same output
  * multiset — and ties are REAL: the lineitem "unique" key
  * (orderkey·8+linenumber) repeats in this testdata, so determinism
  * rests on the full-column order, never on k alone); RANGE frames
  * order by a single column and are tie-insensitive for the
  * sum/min/max/count they carry. The single-node multiset argument is
  * exactly what a SPLIT window execution cannot assume — which is why
  * hazard-frame ids pair with rank() (tie-insensitive, split-safe)
  * and TailFrameRewrite vetoes splits with position-dependent
  * siblings (the round-11 q20 incident, 24 flipped rows).
  *
  * The hazard frames (`k PRECEDING .. UNBOUNDED FOLLOWING` and
  * `k FOLLOWING .. UNBOUNDED FOLLOWING`) make the cross-engine gate a
  * mechanical check on [[graft.plans.TailFrameRewrite]]: the rule
  * fires on these queries in the gate run, so a value-changing rewrite
  * diverges from DuckDB. Each windowed query additionally carries an
  * `avgHazardSql` variant (avg over BIGINT values offset to 2^53,
  * where Double accumulation is order-dependent) for the in-JVM
  * rule-ON ≡ rule-OFF property — the variant that would have caught
  * the round-10 hole mechanically. */
object ComposedFuzz extends FuzzExec.Frames {

  val NQueries = 40
  val GateSeed = 20260907L

  // ---- leaf metadata ----

  private final case class CTable(name: String, uniqueKey: String,
      uniqueKeyDf: Column, ints: Seq[String], preds: Seq[String])

  private def tables = Seq(
    CTable("lineitem", "l_orderkey * 8 + l_linenumber",
      col("l_orderkey") * 8 + col("l_linenumber"),
      Seq("l_partkey", "l_suppkey", "l_orderkey"),
      Seq("l_returnflag = 'R'", "l_linenumber % 2 = 0", "l_suppkey % 3 = 1")),
    CTable("orders", "o_orderkey", col("o_orderkey"),
      Seq("o_custkey", "o_orderkey"),
      Seq("o_orderstatus = 'O'", "o_orderkey % 3 = 1", "o_custkey % 2 = 0")),
    CTable("customer", "c_custkey", col("c_custkey"),
      Seq("c_nationkey", "c_custkey"),
      Seq("c_mktsegment = 'BUILDING'", "c_nationkey % 3 = 1", "c_custkey % 2 = 0")))

  /** A composable block: common-dialect SQL + DF builder, fixed
    * (k BIGINT unique, g BIGINT small-domain, v BIGINT maybe-null,
    * w BIGINT non-null) schema. */
  private final case class Block(sql: String,
      build: (SparkSession, String) => DataFrame, vNullable: Boolean)

  private def leaf(t: CTable, rnd: Random, nullArm: Boolean): Block = {
    val gi = t.ints(rnd.nextInt(t.ints.size))
    val gm = 3 + rnd.nextInt(8)
    val vi = t.ints(rnd.nextInt(t.ints.size))
    val (vSql, vDf, vNull) =
      if (nullArm) {
        val k = 3 + rnd.nextInt(4); val r = rnd.nextInt(k)
        (s"(CASE WHEN $vi % $k = $r THEN NULL ELSE CAST($vi % 50 AS BIGINT) END)",
          when(col(vi) % k === r, lit(null).cast(LongType))
            .otherwise((col(vi) % 50).cast(LongType)), true)
      } else
        (s"CAST($vi % 50 AS BIGINT)", (col(vi) % 50).cast(LongType), false)
    val wi = t.ints(rnd.nextInt(t.ints.size))
    val where = if (rnd.nextInt(100) < 55) Some(t.preds(rnd.nextInt(t.preds.size))) else None
    val sql = s"SELECT CAST(${t.uniqueKey} AS BIGINT) AS k, " +
      s"CAST($gi % $gm AS BIGINT) AS g, $vSql AS v, CAST($wi % 97 AS BIGINT) AS w " +
      s"FROM ${t.name}" + where.fold("")(w => s" WHERE $w")
    val build = (sp: SparkSession, d: String) => {
      val raw = Tables.t(sp, d, t.name)
      val f = where.fold(raw)(w => raw.filter(expr(w)))
      f.select(t.uniqueKeyDf.cast(LongType).as("k"),
        (col(gi) % gm).cast(LongType).as("g"), vDf.as("v"),
        (col(wi) % 97).cast(LongType).as("w"))
    }
    Block(sql, build, vNull)
  }

  // ---- mid forms: Block → Block (schema preserved) ----

  /** Fact joined against an aggregated dim on g — k stays unique; a
    * LEFT arm makes w nullable-by-join (tracked for RANGE ordering). */
  private def midJoin(a: Block, b: Block, rnd: Random): Block = {
    val joinType = if (rnd.nextBoolean()) "JOIN" else "LEFT JOIN"
    val sql = s"SELECT a.k AS k, a.g AS g, a.v AS v, " +
      s"coalesce(b.mw, -1) AS w FROM (${a.sql}) a $joinType " +
      s"(SELECT g, CAST(min(w) AS BIGINT) AS mw FROM (${b.sql}) GROUP BY g) b " +
      s"ON a.g = b.g"
    val build = (sp: SparkSession, d: String) => {
      val l = a.build(sp, d)
      val r = b.build(sp, d).groupBy("g").agg(min("w").cast(LongType).as("mw"))
      l.join(r, l("g") === r("g"), if (joinType == "JOIN") "inner" else "left")
        .select(l("k").as("k"), l("g").as("g"), l("v").as("v"),
          coalesce(r("mw"), lit(-1L)).as("w"))
    }
    Block(sql, build, a.vNullable)
  }

  /** GROUP BY g — k := g (unique), v := sum(v) (null if group all-null). */
  private def midAgg(a: Block, rnd: Random): Block = {
    val gm = 2 + rnd.nextInt(4)
    val sql = s"SELECT g AS k, g % $gm AS g, CAST(sum(v) AS BIGINT) AS v, " +
      s"CAST(count(*) AS BIGINT) AS w FROM (${a.sql}) GROUP BY g"
    val build = (sp: SparkSession, d: String) =>
      a.build(sp, d).groupBy("g")
        .agg(sum("v").cast(LongType).as("v"), count(lit(1)).cast(LongType).as("w"))
        .select(col("g").as("k"), (col("g") % gm).as("g"), col("v"), col("w"))
    Block(sql, build, vNullable = true)
  }

  /** GROUPING SETS ((g),()) with grouping_id projected (fz5
    * discipline); k := coalesce(g,-1)*4 + gid is unique. */
  private def midGsets(a: Block): Block = {
    val sql = "SELECT coalesce(g, -1) * 4 + CAST(grouping_id(g) AS BIGINT) AS k, " +
      "CAST(grouping_id(g) AS BIGINT) AS g, CAST(sum(v) AS BIGINT) AS v, " +
      s"CAST(count(*) AS BIGINT) AS w FROM (${a.sql}) " +
      "GROUP BY GROUPING SETS ((g), ())"
    val build = (sp: SparkSession, d: String) =>
      a.build(sp, d)
        .groupingSets(Seq(Seq(col("g")), Seq.empty), col("g"))
        // grouping_id() is only resolvable inside the aggregate
        .agg(grouping_id().cast(LongType).as("gid"),
          sum("v").cast(LongType).as("v"), count(lit(1)).cast(LongType).as("w"))
        .select((coalesce(col("g"), lit(-1L)) * 4 + col("gid")).as("k"),
          col("gid").as("g"), col("v"), col("w"))
    Block(sql, build, vNullable = true)
  }

  /** Membership filter on the non-null g key (fz6 owns the three-valued
    * NOT IN arms; here keys are non-null by construction). */
  private def midSubq(a: Block, b: Block, rnd: Random): Block = {
    val form = rnd.nextInt(3)
    val inner = s"(SELECT g FROM (${b.sql}) WHERE w % 2 = 0)"
    val cond = form match {
      case 0 => s"g IN $inner"
      case 1 => s"EXISTS (SELECT 1 FROM (${b.sql}) b WHERE b.g = a.g AND b.w % 2 = 0)"
      case _ => s"NOT EXISTS (SELECT 1 FROM (${b.sql}) b WHERE b.g = a.g AND b.w % 2 = 0)"
    }
    val sql = s"SELECT k, g, v, w FROM (${a.sql}) a WHERE $cond"
    val build = (sp: SparkSession, d: String) => {
      val l = a.build(sp, d)
      val r = b.build(sp, d).filter(col("w") % 2 === 0).select("g").distinct()
      l.join(r, l("g") === r("g"),
          if (form == 2) "left_anti" else "left_semi")
        .select("k", "g", "v", "w")
    }
    Block(sql, build, a.vNullable)
  }

  private def mid(id: Int, rnd: Random, a: Block, b: Block): Block =
    id % 4 match {
      case 0 => midJoin(a, b, rnd)
      case 1 => midAgg(a, rnd)
      case 2 => midGsets(a)
      case _ => midSubq(a, b, rnd)
    }

  // ---- top forms ----

  /** Window frames, id-cycled so both quadratic-hazard directions are
    * guaranteed in the population. Returns (sqlFrame, dfFrame setter,
    * rangeOrderCol or None for ROWS full-order). */
  private final case class FrameSpec(sql: String,
      df: WindowSpec => WindowSpec, rangeCol: Option[String])

  private def frame(i: Int): FrameSpec = (i % 6: @unchecked) match {
    case 0 => FrameSpec("ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
      _.rowsBetween(Window.unboundedPreceding, Window.currentRow), None)
    case 1 => FrameSpec("ROWS BETWEEN 2 PRECEDING AND 3 FOLLOWING",
      _.rowsBetween(-2, 3), None)
    case 2 => FrameSpec("ROWS BETWEEN 3 PRECEDING AND UNBOUNDED FOLLOWING",
      _.rowsBetween(-3, Window.unboundedFollowing), None)
    case 3 => FrameSpec("ROWS BETWEEN 2 FOLLOWING AND UNBOUNDED FOLLOWING",
      _.rowsBetween(2, Window.unboundedFollowing), None)
    case 4 => FrameSpec("RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING",
      _.rangeBetween(Window.currentRow, Window.unboundedFollowing), Some("w"))
    case 5 => FrameSpec("RANGE BETWEEN 5 PRECEDING AND UNBOUNDED FOLLOWING",
      _.rangeBetween(-5, Window.unboundedFollowing), Some("w"))
  }

  private val fullOrderSql =
    "k ASC NULLS FIRST, g ASC NULLS FIRST, v ASC NULLS FIRST, w ASC NULLS FIRST"
  private def fullOrderDf =
    Seq(col("k").asc_nulls_first, col("g").asc_nulls_first,
      col("v").asc_nulls_first, col("w").asc_nulls_first)

  private def aggFns = Seq("sum", "min", "max", "count")

  /** Window-aggregate child rendering. `sum` children are CAST to INT
    * (identically in both engines): under ANSI — this build's default —
    * [[graft.plans.TailFrameRewrite]] rewrites hazard frames only for
    * sum children with Long-buffer overflow headroom (Byte/Short/Int;
    * a LONG child's overflow DETECTION is order-dependent, the
    * round-11 judge's repro), and an unrewritten hazard sum is the
    * O(n²) frame this population exists to keep exercising INSIDE the
    * cross-engine gate. Values are INT-safe by construction at the
    * gate's scale factors: v/w are `% 50`/`% 97` residues or
    * mid-level sums/counts of them (≤ ~10⁷ at sf0.1, ≤ ~10⁸ at sf1 —
    * both engines would error identically on a genuine overflow). */
  private def aggChildSql(fn: String, c: String): String =
    if (fn == "sum") s"CAST($c AS INT)" else c
  private def aggDf(fn: String, c: Column): Column = fn match {
    case "sum" => sum(c.cast(IntegerType))
    case "min" => min(c)
    case "max" => max(c)
    case _ => count(c)
  }

  /** One windowed projection over a block (common SQL + DF). */
  private def windowed(b: Block, id: Int, rnd: Random)
      : (String, (SparkSession, String) => DataFrame, Seq[String], Option[String]) = {
    val fs = frame(id)
    val fn = aggFns(rnd.nextInt(aggFns.size))
    val vc = if (rnd.nextBoolean()) "v" else "w"
    val orderSql = fs.rangeCol.fold(fullOrderSql)(c => s"$c ASC NULLS FIRST")
    val overSql = s"(PARTITION BY g ORDER BY $orderSql ${fs.sql})"
    // ROWS-hazard ids (id%6 ∈ {2,3}) share (partition, fullOrder)
    // with the rank column → ONE Window node. The k column is NOT
    // unique in this testdata (lineitem (orderkey, linenumber) pairs
    // repeat), so the rank column must be TIE-insensitive — rank(),
    // never row_number() — for TailFrameRewrite's mixed-node split to
    // apply (position-dependent siblings veto it, and the unsplit
    // node runs the O(n²) frame: the round-11 bench-hang incident).
    // row_number stays exercised on the non-hazard ids.
    val rankFn =
      if (id % 6 == 2 || id % 6 == 3) "rank()"
      else if (rnd.nextBoolean()) "rank()" else "row_number()"
    val rankOver = s"(PARTITION BY g ORDER BY $fullOrderSql)"
    val sql = s"SELECT k, g, v, w, " +
      s"CAST($fn(${aggChildSql(fn, vc)}) OVER $overSql AS BIGINT) AS o_0, " +
      s"CAST($rankFn OVER $rankOver AS BIGINT) AS o_1 " +
      s"FROM (${b.sql})"
    val build = (sp: SparkSession, d: String) => {
      val base = Window.partitionBy(col("g"))
      val wAgg = fs.df(base.orderBy(
        fs.rangeCol.fold(fullOrderDf)(c => Seq(col(c).asc_nulls_first)): _*))
      val wRank = base.orderBy(fullOrderDf: _*)
      b.build(sp, d).select(col("k"), col("g"), col("v"), col("w"),
        aggDf(fn, col(vc)).over(wAgg).cast(LongType).as("o_0"),
        (if (rankFn == "rank()") rank() else row_number())
          .over(wRank).cast(LongType).as("o_1"))
    }
    // the avg-over-2^53 hazard variant, only for the quadratic frames
    val avgVariant =
      if (id % 6 == 2 || id % 6 == 3)
        Some(s"SELECT k, g, avg($vc + 9007199254740992) OVER $overSql AS a " +
          s"FROM (${b.sql})")
      else None
    (sql, build, Seq("k", "g", "v", "w", "o_0", "o_1"), avgVariant)
  }

  // ---- query assembly ----

  final case class CQuery(id: Int, commonSql: String,
      df: (SparkSession, String) => DataFrame, outCols: Seq[String],
      avgHazardSql: Option[String]) extends FuzzExec.Generated {
    def duckSql: String = commonSql
  }

  def queries(seed: Long, n: Int): Seq[CQuery] =
    (0 until n).map(i => gen(i, new Random(seed * 487 + i)))

  private def gen(id: Int, rnd: Random): CQuery = {
    val t1 = tables(rnd.nextInt(tables.size))
    val t2 = tables(rnd.nextInt(tables.size))
    val l1 = leaf(t1, rnd, nullArm = id % 2 == 0)
    val l2 = leaf(t2, rnd, nullArm = false)
    val m = mid(id, rnd, l1, l2)
    id % 5 match {
      case 4 =>
        // set-op of two windowed branches over two DIFFERENT mids
        val m2 = mid(id + 1, rnd, leaf(t2, rnd, nullArm = false), l1)
        val (s1, b1, _, av) = windowed(m, id, rnd)
        val (s2, b2, _, _) = windowed(m2, id, rnd)
        // id-cycled (not RNG-rolled) so all six ops are GUARANTEED:
        // set-op queries are ids 4,9,14,…,39 → (id/5)%6 walks 0..5
        val op = Seq("UNION ALL", "UNION", "INTERSECT", "EXCEPT",
          "INTERSECT ALL", "EXCEPT ALL")((id / 5) % 6)
        val sql = s"SELECT g, o_0, o_1 FROM ($s1) __l $op SELECT g, o_0, o_1 FROM ($s2) __r"
        val build = (sp: SparkSession, d: String) => {
          val a = b1(sp, d).select("g", "o_0", "o_1")
          val b = b2(sp, d).select("g", "o_0", "o_1")
          op match {
            case "UNION ALL" => a.union(b)
            case "UNION" => a.union(b).distinct()
            case "INTERSECT" => a.intersect(b)
            case "EXCEPT" => a.except(b)
            case "INTERSECT ALL" => a.intersectAll(b)
            case _ => a.exceptAll(b)
          }
        }
        CQuery(id, sql, build, Seq("g", "o_0", "o_1"), av)
      case 3 =>
        // final aggregate OVER the windowed result
        val (s1, b1, _, av) = windowed(m, id, rnd)
        val sql = s"SELECT g AS g_0, CAST(sum(o_0) AS BIGINT) AS a_0, " +
          s"CAST(max(o_1) AS BIGINT) AS a_1, CAST(count(*) AS BIGINT) AS a_2 " +
          s"FROM ($s1) __w GROUP BY g"
        val build = (sp: SparkSession, d: String) =>
          b1(sp, d).groupBy(col("g").as("g_0"))
            .agg(sum("o_0").cast(LongType).as("a_0"),
              max("o_1").cast(LongType).as("a_1"),
              count(lit(1)).cast(LongType).as("a_2"))
        CQuery(id, sql, build, Seq("g_0", "a_0", "a_1", "a_2"), av)
      case _ =>
        // plain window over the mid block
        val (sql, build, cols, av) = windowed(m, id, rnd)
        CQuery(id, sql, build, cols, av)
    }
  }

  // ---- the gate (run by FuzzExec) ----

  type Query = CQuery

  protected def render(spark: SparkSession, dir: String, q: Query): DataFrame =
    q.df(spark, dir)

  /** q_fz17 — the composed-plan differential gate. */
  def gate: Q = declare(
    "q_fz17_composed_fuzz",
    s"composed-plan differential fuzz: $NQueries seeded 3-level " +
      "compositions (window / set-op / final-agg over join / GROUP BY / " +
      "GROUPING SETS / membership-filter over projected leaves) incl. both " +
      "quadratic-hazard frame directions, fingerprint-compared Spark vs DuckDB")
}
