package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import scala.util.Random

/** Differential fuzz over the WINDOW-function and SET-operation
  * surface — the fourth population beside [[RelFuzz]] (relational),
  * [[TemporalFuzz]] (temporal) and [[StringFuzz]] (string). Window
  * frames are where engines disagree most quietly — tie handling,
  * null ordering (Spark defaults NULLS FIRST on ASC, DuckDB NULLS
  * LAST), RANGE-vs-ROWS defaults, frame-boundary off-by-ones — and
  * set ops carry their own dedup-semantics edges (UNION vs UNION ALL,
  * INTERSECT/EXCEPT are DISTINCT by default, the ALL multiset forms).
  *
  * Determinism discipline (what makes a window query GATEABLE as a
  * row multiset):
  *  - `rank`/`dense_rank` and RANGE-framed aggregates are functions of
  *    the order-KEY VALUES, so ties are fine — these queries keep
  *    non-unique orders on purpose (the tie exercise);
  *  - `row_number`/`ntile`/`lag`/`lead`/`first_value`/`last_value` and
  *    ROWS-framed aggregates depend on the physical order within
  *    peers, so the generator APPENDS THE UNIQUE KEY as the last
  *    order column (the fz1 non-unique-key lesson);
  *  - every order key renders an EXPLICIT direction + NULLS
  *    FIRST/LAST on both sides — the engines' defaults differ, which
  *    is exactly the class this population exists to pin;
  *  - window results are integer or string valued (sums over INT
  *    expressions only, CAST AS BIGINT on both sides) so the
  *    fingerprint hash is exact.
  *
  * Same renderings and fingerprint reduction as the other three: the
  * DataFrame side builds real `Window`/`functions._` trees (never
  * `expr(sql)`), the common SQL parses in both engines, DuckDB
  * checksums gate it (q_fz4), and the in-JVM property suite proves
  * DF ≡ SQL under Spark so the gate isolates cross-engine drift.
  */
object WindowSetFuzz extends FuzzExec.Frames {

  val NQueries = 72
  val GateSeed = 20260814L

  // ---- order keys: explicit direction + null placement both sides ----

  private final case class OrderKey(sqlExpr: String, dfCol: Column,
      desc: Boolean, nullsLast: Boolean) {
    def sql: String = {
      val d = if (desc) "DESC" else "ASC"
      val n = if (nullsLast) "NULLS LAST" else "NULLS FIRST"
      s"$sqlExpr $d $n"
    }
    def df: Column = (desc, nullsLast) match {
      case (false, false) => dfCol.asc_nulls_first
      case (false, true)  => dfCol.asc_nulls_last
      case (true, false)  => dfCol.desc_nulls_first
      case (true, true)   => dfCol.desc_nulls_last
    }
  }

  // ---- frames ----

  /** Bound: None = unbounded, Some(0) = CURRENT ROW, Some(-k)/Some(k). */
  private final case class Frame(rows: Boolean, lo: Option[Long], hi: Option[Long]) {
    private def boundSql(b: Option[Long], preceding: Boolean): String = b match {
      case None => if (preceding) "UNBOUNDED PRECEDING" else "UNBOUNDED FOLLOWING"
      case Some(0L) => "CURRENT ROW"
      case Some(k) if k < 0 => s"${-k} PRECEDING"
      case Some(k) => s"$k FOLLOWING"
    }
    def sql: String =
      s"${if (rows) "ROWS" else "RANGE"} BETWEEN ${boundSql(lo, preceding = true)} AND ${boundSql(hi, preceding = false)}"
    def apply(w: WindowSpec): WindowSpec = {
      val l = lo.getOrElse(Window.unboundedPreceding)
      val h = hi.getOrElse(Window.unboundedFollowing)
      if (rows) w.rowsBetween(l, h) else w.rangeBetween(l, h)
    }
  }

  // ---- window functions (constraints documented per family) ----

  private sealed trait WFun {
    def sql(over: String): String
    def df(w: WindowSpec): Column
  }
  /** rank/dense_rank: value depends only on order-key values → ties OK. */
  private final case class RankF(dense: Boolean) extends WFun {
    def sql(over: String) = s"CAST(${if (dense) "dense_rank" else "rank"}() OVER ($over) AS BIGINT)"
    def df(w: WindowSpec) = (if (dense) dense_rank() else rank()).over(w).cast(LongType)
  }
  /** row_number/ntile: physical-order dependent → unique order required. */
  private final case class RowNumF(ntileK: Option[Int]) extends WFun {
    def sql(over: String) = ntileK match {
      case Some(k) => s"CAST(ntile($k) OVER ($over) AS BIGINT)"
      case None => s"CAST(row_number() OVER ($over) AS BIGINT)"
    }
    def df(w: WindowSpec) =
      ntileK.fold(row_number())(k => ntile(k)).over(w).cast(LongType)
  }
  /** sum/min/max/count over an INT expression (exactness) — frame optional. */
  private final case class AggF(fn: String, sqlExpr: String, dfCol: Column,
      frame: Option[Frame]) extends WFun {
    def sql(over: String) = {
      val o = frame.fold(over)(f => s"$over ${f.sql}")
      val body = if (fn == "count") "count(*)" else s"$fn($sqlExpr)"
      s"CAST($body OVER ($o) AS BIGINT)"
    }
    def df(w: WindowSpec) = {
      val fw = frame.fold(w)(_.apply(w))
      val body = fn match {
        case "count" => count(lit(1))
        case "sum" => sum(dfCol)
        case "min" => min(dfCol)
        case "max" => max(dfCol)
      }
      body.over(fw).cast(LongType)
    }
  }
  /** lag/lead with explicit default — no frame; unique order required. */
  private final case class LagF(isLead: Boolean, sqlExpr: String, dfCol: Column,
      n: Int, dflt: Long) extends WFun {
    def sql(over: String) =
      s"CAST(${if (isLead) "lead" else "lag"}($sqlExpr, $n, $dflt) OVER ($over) AS BIGINT)"
    def df(w: WindowSpec) =
      (if (isLead) lead(dfCol, n, dflt) else lag(dfCol, n, dflt))
        .over(w).cast(LongType)
  }
  /** first_value/last_value over an explicit frame; unique order required. */
  private final case class FirstLastF(last: Boolean, sqlExpr: String,
      dfCol: Column, frame: Frame) extends WFun {
    def sql(over: String) =
      s"${if (last) "last_value" else "first_value"}($sqlExpr) OVER ($over ${frame.sql})"
    def df(w: WindowSpec) =
      (if (last) last_value(dfCol) else first_value(dfCol)).over(frame(w))
  }

  // ---- query shapes ----

  sealed trait WQuery extends FuzzExec.Generated {
    def commonSql: String
    def duckSql: String = commonSql
    def df(spark: SparkSession, dir: String): DataFrame
  }

  /** Plain window projection, optionally wrapped top-k (`WHERE w_0 <= k`). */
  private final case class WinQ(id: Int, table: String, key: String,
      partSql: String, partDf: Column, orders: Seq[OrderKey],
      funs: Seq[WFun], topK: Option[Int]) extends WQuery {
    def outCols: Seq[String] = Seq(key, "p_0") ++ funs.indices.map(i => s"w_$i")
    private def overSql = s"PARTITION BY $partSql ORDER BY ${orders.map(_.sql).mkString(", ")}"
    def commonSql: String = {
      val sel = (Seq(key, s"$partSql AS p_0") ++
        funs.zipWithIndex.map { case (f, i) => s"${f.sql(overSql)} AS w_$i" }).mkString(", ")
      val inner = s"SELECT $sel FROM $table"
      topK.fold(inner)(k => s"SELECT * FROM ($inner) __w WHERE w_0 <= $k")
    }
    def df(spark: SparkSession, dir: String): DataFrame = {
      val base = Tables.t(spark, dir, table)
      val w = Window.partitionBy(partDf).orderBy(orders.map(_.df): _*)
      val proj = base.select(
        (Seq(col(key), partDf.as("p_0")) ++
          funs.zipWithIndex.map { case (f, i) => f.df(w).as(s"w_$i") }).toIndexedSeq: _*)
      topK.fold(proj)(k => proj.filter(col("w_0") <= k))
    }
  }

  /** Two-level window: rank the FIRST window's result within the same
    * partition (rank-of-sum / rank-of-count — the "window over a
    * window" plan Spark executes as two Window nodes over one
    * exchange). Deterministic: the outer order is (w_0, unique key).
    * SQL nests the inner query; the DF side chains two Window specs —
    * different code paths, same semantics, which is the point. */
  private final case class ChainQ(inner: WinQ) extends WQuery {
    def id: Int = inner.id
    def outCols: Seq[String] = inner.outCols :+ "w_out"
    def commonSql: String =
      s"SELECT *, CAST(rank() OVER (PARTITION BY p_0 ORDER BY w_0 ASC NULLS LAST, " +
        s"${inner.key} ASC NULLS LAST) AS BIGINT) AS w_out FROM (${inner.commonSql}) __chain"
    def df(spark: SparkSession, dir: String): DataFrame = {
      val base = inner.df(spark, dir)
      val w = Window.partitionBy(col("p_0"))
        .orderBy(col("w_0").asc_nulls_last, col(inner.key).asc_nulls_last)
      base.withColumn("w_out", rank().over(w).cast(LongType))
    }
  }

  /** Two filtered projections of the SAME schema combined by a set op. */
  private final case class SetQ(id: Int, op: String,
      leftSql: String, rightSql: String,
      leftDf: (SparkSession, String) => DataFrame,
      rightDf: (SparkSession, String) => DataFrame,
      val outCols: Seq[String]) extends WQuery {
    def commonSql: String = s"$leftSql ${op} $rightSql"
    def df(spark: SparkSession, dir: String): DataFrame = {
      val (a, b) = (leftDf(spark, dir), rightDf(spark, dir))
      op match {
        case "UNION ALL" => a.union(b)
        case "UNION" => a.union(b).distinct()
        case "INTERSECT" => a.intersect(b)
        case "EXCEPT" => a.except(b)
        case "INTERSECT ALL" => a.intersectAll(b)
        case "EXCEPT ALL" => a.exceptAll(b)
      }
    }
  }

  /** Grouped DISTINCT aggregation (count/sum DISTINCT + plain count). */
  private final case class DistQ(id: Int, table: String,
      groupSql: String, groupDf: Column,
      distSql: String, distDf: Column, withSum: Boolean) extends WQuery {
    def outCols: Seq[String] = Seq("g_0", "c_0") ++ (if (withSum) Seq("c_1") else Nil) ++ Seq("c_n")
    def commonSql: String = {
      val sumPart = if (withSum) s", CAST(sum(DISTINCT $distSql) AS BIGINT) AS c_1" else ""
      s"SELECT $groupSql AS g_0, CAST(count(DISTINCT $distSql) AS BIGINT) AS c_0$sumPart, " +
        s"CAST(count(*) AS BIGINT) AS c_n FROM $table GROUP BY $groupSql"
    }
    def df(spark: SparkSession, dir: String): DataFrame = {
      val base = Tables.t(spark, dir, table)
      val aggs = Seq(count_distinct(distDf).cast(LongType).as("c_0")) ++
        (if (withSum) Seq(sum_distinct(distDf).cast(LongType).as("c_1")) else Nil) ++
        Seq(count(lit(1)).cast(LongType).as("c_n"))
      base.groupBy(groupDf.as("g_0")).agg(aggs.head, aggs.tail: _*)
    }
  }

  // ---- table metadata (unique keys verified against the synthetic data) ----

  private final case class TableMeta(name: String, key: String,
      parts: Seq[(String, Column)],          // partition / group expressions
      numOrders: Seq[(String, Column)],      // numeric, non-null (RANGE-safe)
      genOrders: Seq[OrderKeySeed],          // general order expressions
      intExprs: Seq[(String, Column)],       // integer-valued agg inputs
      strCols: Seq[(String, Column)])        // string payloads (first/last/min/max)
  private final case class OrderKeySeed(sqlExpr: String, dfCol: Column, nullable: Boolean)

  private def ordersMeta = TableMeta("orders", "o_orderkey",
    parts = Seq(
      ("o_orderstatus", col("o_orderstatus")),
      ("o_orderpriority", col("o_orderpriority")),
      ("o_custkey % 7", col("o_custkey") % 7)),
    numOrders = Seq(
      ("o_custkey", col("o_custkey")),
      ("o_orderkey % 997", col("o_orderkey") % 997)),
    genOrders = Seq(
      OrderKeySeed("o_orderdate", col("o_orderdate"), nullable = false),
      OrderKeySeed("o_custkey", col("o_custkey"), nullable = false),
      OrderKeySeed("o_totalprice", col("o_totalprice"), nullable = false),
      OrderKeySeed("o_orderpriority", col("o_orderpriority"), nullable = false),
      OrderKeySeed("nullif(o_orderpriority, '1-URGENT')",
        nullif(col("o_orderpriority"), lit("1-URGENT")), nullable = true)),
    intExprs = Seq(
      ("o_custkey", col("o_custkey")),
      ("o_custkey % 100", col("o_custkey") % 100),
      ("o_orderkey % 1000", col("o_orderkey") % 1000)),
    strCols = Seq(
      ("o_orderstatus", col("o_orderstatus")),
      ("o_orderpriority", col("o_orderpriority"))))

  private def customerMeta = TableMeta("customer", "c_custkey",
    parts = Seq(
      ("c_mktsegment", col("c_mktsegment")),
      ("c_nationkey % 4", col("c_nationkey") % 4)),
    numOrders = Seq(
      ("c_nationkey", col("c_nationkey")),
      ("c_custkey % 499", col("c_custkey") % 499)),
    genOrders = Seq(
      OrderKeySeed("c_name", col("c_name"), nullable = false),
      OrderKeySeed("c_acctbal", col("c_acctbal"), nullable = false),
      OrderKeySeed("c_nationkey", col("c_nationkey"), nullable = false),
      OrderKeySeed("nullif(c_mktsegment, 'BUILDING')",
        nullif(col("c_mktsegment"), lit("BUILDING")), nullable = true)),
    intExprs = Seq(
      ("c_nationkey", col("c_nationkey")),
      ("c_custkey % 100", col("c_custkey") % 100)),
    strCols = Seq(
      ("c_mktsegment", col("c_mktsegment")),
      ("c_name", col("c_name"))))

  private def winTables = Seq(ordersMeta, customerMeta)

  /** The seeded population: a pure function of `seed` (the family-5
    * cycle counter is local to the call, so repeat calls are equal). */
  def queries(seed: Long, n: Int): Seq[WQuery] = {
    val rnd = new Random(seed)
    var f5 = -1
    (0 until n).map { i =>
      val pick = rnd.nextInt(100)
      if (pick < 55) {
        val wq = genWindow(i, rnd, topK = false, () => { f5 += 1; f5 })
        // id-cycled two-level chain (guaranteed presence, like the
        // family-5 and nullif variants); single-fun inner only so the
        // outer rank orders by exactly (w_0, key)
        if (i % 6 == 0 && wq.funs.size == 1) ChainQ(wq) else wq
      }
      else if (pick < 67) genWindow(i, rnd, topK = true, () => { f5 += 1; f5 })
      else if (pick < 88) genSetOp(i, rnd)
      else genDistAgg(i, rnd)
    }
  }

  private def genOrderKey(t: TableMeta, rnd: Random): OrderKey = {
    val s = t.genOrders(rnd.nextInt(t.genOrders.size))
    // a nullable key always gets explicit placement anyway; vary both
    OrderKey(s.sqlExpr, s.dfCol, desc = rnd.nextBoolean(), nullsLast = rnd.nextBoolean())
  }

  private def genFrame(rnd: Random, rows: Boolean): Frame = {
    def bound(preceding: Boolean): Option[Long] = rnd.nextInt(4) match {
      case 0 => None
      case 1 => Some(0L)
      case _ =>
        val k = 1L + rnd.nextInt(if (rows) 5 else 150)
        Some(if (preceding) -k else k)
    }
    // Constraints: lo must not be past hi, and a BOUNDED lo with an
    // UNBOUNDED hi is excluded — Spark's UnboundedFollowing frame
    // processor recomputes the aggregate from scratch per row, O(n²)
    // per partition (measured: 45 s for ONE such query on a 30k-row
    // partition at sf0.1, vs <1 s for every other frame; DuckDB's
    // segment tree is fine). Users hitting the shape should rewrite
    // through [[Frames.runningForm]] (the reversed-order running
    // form — measured 71.5 s → 0.63 s on this exact shape; see
    // SCALING.md). Full-partition (UNBOUNDED..UNBOUNDED) stays in —
    // Spark computes that once per partition.
    var f = Frame(rows, bound(preceding = true), bound(preceding = false))
    var guard = 0
    def ok(fr: Frame): Boolean = (fr.lo, fr.hi) match {
      case (Some(l), Some(h)) => l <= h
      case (Some(_), None) => false // the O(n²) Spark frame class
      case (None, _) => true
    }
    while (!ok(f) && guard < 20) {
      f = Frame(rows, bound(preceding = true), bound(preceding = false)); guard += 1
    }
    if (!ok(f)) Frame(rows, Some(-2L), Some(0L)) else f
  }

  private def genWindow(id: Int, rnd: Random, topK: Boolean, nextF5: () => Int): WinQ = {
    val t = winTables(rnd.nextInt(winTables.size))
    val (pSql, pDf) = t.parts(rnd.nextInt(t.parts.size))
    val keyTail = OrderKey(t.key, col(t.key), desc = false, nullsLast = true)

    def uniqueOrders(): Seq[OrderKey] =
      (0 until (1 + rnd.nextInt(2))).map(_ => genOrderKey(t, rnd)) :+ keyTail

    // family choice; top-k wrapping requires a rank-like first function
    val familyPick = if (topK) rnd.nextInt(2) else rnd.nextInt(6)
    val (fun, orders): (WFun, Seq[OrderKey]) = familyPick match {
      case 0 => // rank/dense_rank over possibly-tied orders (the tie exercise)
        val os = (0 until (1 + rnd.nextInt(2))).map(_ => genOrderKey(t, rnd))
        (RankF(dense = rnd.nextBoolean()), os)
      case 1 => // row_number / ntile — unique order
        val f = if (rnd.nextBoolean()) RowNumF(None) else RowNumF(Some(2 + rnd.nextInt(5)))
        (f, uniqueOrders())
      case 2 => // ROWS-framed aggregate — unique order
        val (eSql, eDf) = t.intExprs(rnd.nextInt(t.intExprs.size))
        val fn = Seq("sum", "min", "max", "count")(rnd.nextInt(4))
        (AggF(fn, eSql, eDf, Some(genFrame(rnd, rows = true))), uniqueOrders())
      case 3 => // RANGE-framed aggregate — single numeric order, ties kept
        val (oSql, oDf) = t.numOrders(rnd.nextInt(t.numOrders.size))
        val (eSql, eDf) = t.intExprs(rnd.nextInt(t.intExprs.size))
        val fn = Seq("sum", "min", "max", "count")(rnd.nextInt(4))
        val desc = rnd.nextBoolean()
        (AggF(fn, eSql, eDf, Some(genFrame(rnd, rows = false))),
          Seq(OrderKey(oSql, oDf, desc, nullsLast = !desc)))
      case 4 => // default-frame aggregate (RANGE UNBOUNDED..CURRENT) — ties kept
        val os = (0 until (1 + rnd.nextInt(2))).map(_ => genOrderKey(t, rnd))
        val (eSql, eDf) = t.intExprs(rnd.nextInt(t.intExprs.size))
        (AggF(Seq("sum", "min", "max", "count")(rnd.nextInt(4)), eSql, eDf, None), os)
      case _ => // lag/lead or first/last_value — unique order; the
        // variant CYCLES through a per-population counter (not rnd) so
        // all four appear in the gate population wherever the random
        // stream lands
        val v = nextF5() % 4
        if (v < 2) {
          val (eSql, eDf) = t.intExprs(rnd.nextInt(t.intExprs.size))
          (LagF(isLead = v == 1, eSql, eDf,
            n = 1 + rnd.nextInt(3), dflt = -1L), uniqueOrders())
        } else {
          val (sSql, sDf) = t.strCols(rnd.nextInt(t.strCols.size))
          (FirstLastF(last = v == 3, sSql, sDf,
            genFrame(rnd, rows = true)), uniqueOrders())
        }
    }
    // occasionally a second, independent function sharing the window
    val secondOk = familyPick match {
      case 0 | 4 => true // tie-safe families can host a tie-safe sibling
      case _ => false
    }
    val funs =
      if (!topK && secondOk && rnd.nextInt(100) < 35) {
        val (eSql, eDf) = t.intExprs(rnd.nextInt(t.intExprs.size))
        Seq(fun, AggF("count", eSql, eDf, None))
      } else Seq(fun)
    WinQ(id, t.name, t.key, pSql, pDf, orders, funs,
      if (topK) Some(2 + rnd.nextInt(6)) else None)
  }

  // set-op projections: (sqlSelectList, dfCols, outNames) per table.
  // `withNull` routes one projected expression through nullif — set
  // ops compare NULLs as EQUAL (IS NOT DISTINCT semantics) while
  // ordinary predicates do not, a classic quiet-divergence class, so
  // the population is GUARANTEED to exercise it (id-cycled, like the
  // family-5 variants).
  private def setProjections(t: TableMeta, rnd: Random,
      withNull: Boolean): (Seq[String], Seq[Column]) =
    rnd.nextInt(3) match {
      case 0 =>
        val (aS, aD) = t.strCols.head
        val (bS, bD) = t.strCols.last
        (Seq(s"$aS AS s_0", s"$bS AS s_1"), Seq(aD.as("s_0"), bD.as("s_1")))
      case 1 =>
        val m = 20 + rnd.nextInt(60)
        val r = rnd.nextInt(m)
        if (withNull)
          (Seq(s"nullif(${t.key} % $m, $r) AS s_0"),
            Seq(nullif(col(t.key) % m, lit(r)).as("s_0")))
        else (Seq(s"${t.key} % $m AS s_0"), Seq((col(t.key) % m).as("s_0")))
      case _ =>
        val (aS, aD) = t.parts(rnd.nextInt(t.parts.size))
        val m = 10 + rnd.nextInt(30)
        val r = rnd.nextInt(m)
        val keyExpr =
          if (withNull) (s"nullif(${t.key} % $m, $r)", nullif(col(t.key) % m, lit(r)))
          else (s"${t.key} % $m", col(t.key) % m)
        (Seq(s"${keyExpr._1} AS s_0", s"$aS AS s_1"),
          Seq(keyExpr._2.as("s_0"), aD.as("s_1")))
    }

  private def genSetOp(id: Int, rnd: Random): SetQ = {
    val t = winTables(rnd.nextInt(winTables.size))
    val op = Seq("UNION ALL", "UNION", "INTERSECT", "EXCEPT",
      "INTERSECT ALL", "EXCEPT ALL")(rnd.nextInt(6))
    val (selSql, selDf) = setProjections(t, rnd, withNull = id % 3 == 0)
    def pred(): (String, Column) = {
      val m = 2 + rnd.nextInt(4)
      val r = rnd.nextInt(m)
      (s"${t.key} % $m = $r", col(t.key) % m === r)
    }
    val (lp, lpd) = pred()
    val (rp, rpd) = pred()
    val lSql = s"SELECT ${selSql.mkString(", ")} FROM ${t.name} WHERE $lp"
    // the right side's aliases don't matter in SQL (left names win) but
    // the DF side must project the SAME names for the typed set ops
    val rSql = s"SELECT ${selSql.mkString(", ")} FROM ${t.name} WHERE $rp"
    def side(p: Column)(spark: SparkSession, dir: String): DataFrame =
      Tables.t(spark, dir, t.name).filter(p)
        .select(selDf.toIndexedSeq: _*)
    SetQ(id, op, lSql, rSql, side(lpd), side(rpd),
      outCols = selSql.indices.map(i => s"s_$i"))
  }

  private def genDistAgg(id: Int, rnd: Random): DistQ = {
    val t = winTables(rnd.nextInt(winTables.size))
    val (gSql, gDf) = t.parts(rnd.nextInt(t.parts.size))
    val (eSql, eDf) = t.intExprs(rnd.nextInt(t.intExprs.size))
    // id-cycled nullable distinct expression: count(DISTINCT) ignores
    // NULLs and a NULL group key forms its own group — both engines
    // must agree on both rules
    val (dSql, dDf) =
      if (id % 2 == 0) (s"nullif($eSql, 3)", nullif(eDf, lit(3)))
      else (eSql, eDf)
    DistQ(id, t.name, gSql, gDf, dSql, dDf, withSum = rnd.nextBoolean())
  }

  // ---- the gate (run by FuzzExec) ----

  type Query = WQuery

  protected def render(spark: SparkSession, dir: String, q: Query): DataFrame =
    q.df(spark, dir)

  /** q_fz4 — the window + set-op differential gate. */
  def gate: Q = declare(
    "q_fz4_window_setop_fuzz",
    s"window+set-op differential fuzz: $NQueries seeded window " +
      "frames / ranking / set ops / distinct aggs, fingerprint-compared Spark vs DuckDB")
}
