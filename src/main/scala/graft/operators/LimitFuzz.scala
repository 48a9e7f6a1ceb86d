package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import scala.util.Random

/** Differential fuzz over the ORDER BY + LIMIT/OFFSET (top-k) surface
  * — the eighteenth population. Top-k is the one relational operator
  * class with its own physical strategy (Spark plans ORDER BY+LIMIT
  * as `TakeOrderedAndProject`: per-partition bounded heaps merged at
  * the driver, never a global sort — the 100 TB-relevant plan), and
  * it had no dedicated fuzz: q_o3 gates one hand-written top-k.
  *
  * The selected SET is only well-defined under a TOTAL order, so
  * every ORDER BY ends in the unique key (the fz1/fz4 discipline);
  * after that the fingerprint is orderless, so LIMIT/OFFSET agreement
  * is exactly set agreement. Probed agreement surface (identical SQL
  * both engines — a common-dialect population like fz1):
  * `LIMIT k`, `LIMIT k OFFSET m` (skip m THEN take k), `LIMIT 0` →
  * empty, `OFFSET ≥ n` → empty, `LIMIT > n` → all rows, standalone
  * `OFFSET m`, LIMIT inside a subquery applying BEFORE an outer
  * aggregate, and explicit `NULLS FIRST/LAST` on nullable order
  * expressions (explicit because the engines' DEFAULTS differ:
  * Spark ASC=NULLS FIRST, DuckDB ASC=NULLS LAST).
  *
  * Edge arms are id-cycled, not RNG-rolled: LIMIT 0 (id%7==2),
  * OFFSET beyond the row count (id%7==3), LIMIT above the row count
  * (id%7==4), standalone OFFSET (id%7==5), nullable leading order
  * key (id%2==0). */
object LimitFuzz extends FuzzExec.Frames {

  val NQueries = 35
  val GateSeed = 20260911L

  private final case class LTable(name: String, uk: String, ukDf: Column,
      ints: Seq[String], strs: Seq[String], preds: Seq[String])
  private def tables = Seq(
    LTable("lineitem", "l_orderkey * 8 + l_linenumber",
      col("l_orderkey") * 8 + col("l_linenumber"),
      Seq("l_partkey", "l_suppkey", "l_orderkey"), Seq("l_returnflag", "l_linestatus"),
      Seq("l_returnflag = 'R'", "l_linenumber % 2 = 0", "l_suppkey % 3 = 1")),
    LTable("orders", "o_orderkey", col("o_orderkey"),
      Seq("o_custkey", "o_orderkey"), Seq("o_orderstatus", "o_orderpriority"),
      Seq("o_orderstatus = 'O'", "o_orderkey % 3 = 1", "o_custkey % 2 = 0")),
    LTable("customer", "c_custkey", col("c_custkey"),
      Seq("c_nationkey", "c_custkey"), Seq("c_mktsegment"),
      Seq("c_mktsegment = 'BUILDING'", "c_nationkey % 3 = 1")))

  /** An order expression: common SQL + DF + nullability. */
  private final case class OE(sql: String, df: Column, nullable: Boolean)

  private def orderExpr(t: LTable, rnd: Random, nullArm: Boolean): OE = {
    val c = t.ints(rnd.nextInt(t.ints.size))
    val k = 3 + rnd.nextInt(8)
    if (nullArm) {
      val r = rnd.nextInt(k)
      OE(s"nullif($c % $k, $r)", nullif(col(c) % k, lit(r)), nullable = true)
    } else OE(s"$c % $k", col(c) % k, nullable = false)
  }

  /** Sort rendering with EXPLICIT direction and null placement. */
  private final case class SortTerm(sql: String, df: Column)
  private def sortTerm(e: OE, rnd: Random): SortTerm = {
    val desc = rnd.nextBoolean()
    val nullsLast = rnd.nextBoolean()
    val dir = if (desc) "DESC" else "ASC"
    val np = if (nullsLast) "NULLS LAST" else "NULLS FIRST"
    val dfc = (desc, nullsLast) match {
      case (false, false) => e.df.asc_nulls_first
      case (false, true)  => e.df.asc_nulls_last
      case (true, false)  => e.df.desc_nulls_first
      case (true, true)   => e.df.desc_nulls_last
    }
    SortTerm(s"${e.sql} $dir $np", dfc)
  }

  /** (LIMIT/OFFSET clause, DF applier) — edge arms id-cycled. */
  private def limitArm(id: Int, rnd: Random): (String, DataFrame => DataFrame) =
    id % 7 match {
      case 2 => (" LIMIT 0", df => df.limit(0))
      case 3 =>
        val m = 500000 + rnd.nextInt(1000)
        (s" LIMIT 5 OFFSET $m", df => df.offset(m).limit(5))
      case 4 =>
        val k = 900000 + rnd.nextInt(1000)
        (s" LIMIT $k", df => df.limit(k))
      case 5 =>
        val m = 1 + rnd.nextInt(40)
        (s" OFFSET $m", df => df.offset(m))
      case _ =>
        val k = 1 + rnd.nextInt(60)
        if (rnd.nextBoolean()) (s" LIMIT $k", df => df.limit(k))
        else {
          val m = 1 + rnd.nextInt(30)
          (s" LIMIT $k OFFSET $m", df => df.offset(m).limit(k))
        }
    }

  // ---- query shapes ----

  final case class LQuery(id: Int, commonSql: String,
      df: (SparkSession, String) => DataFrame, outCols: Seq[String])
      extends FuzzExec.Generated {
    def duckSql: String = commonSql
  }

  def queries(seed: Long, n: Int): Seq[LQuery] =
    (0 until n).map(i => gen(i, new Random(seed * 509 + i)))

  private def gen(id: Int, rnd: Random): LQuery = {
    val t = tables(rnd.nextInt(tables.size))
    id % 4 match {
      case 0 => genPlain(id, t, rnd)
      case 1 => genAggTopK(id, t, rnd)
      case 2 => genWindowTopK(id, t, rnd)
      case _ => genSubqueryLimit(id, t, rnd)
    }
  }

  /** ORDER BY exprs…, uk LIMIT/OFFSET over a filtered projection.
    * nullArm cycles id%8==0 (not id%2) so the population carries BOTH
    * plain-keyed top-k (plans TakeOrderedAndProject) and
    * nullif-keyed top-k (Spark's common-expr rewrite splits the
    * projection and the planner falls back to a global sort — the
    * at-scale cliff pinned in LimitFuzzSpec). */
  private def genPlain(id: Int, t: LTable, rnd: Random): LQuery = {
    val e1 = orderExpr(t, rnd, nullArm = id % 8 == 0)
    val e2 = orderExpr(t, rnd, nullArm = false)
    val s1 = sortTerm(e1, rnd); val s2 = sortTerm(e2, rnd)
    val where = if (rnd.nextInt(100) < 45) Some(t.preds(rnd.nextInt(t.preds.size))) else None
    val (lim, limDf) = limitArm(id, rnd)
    // the "unique" key is NOT unique in this testdata (lineitem
    // (orderkey, linenumber) pairs repeat), so the ORDER BY must
    // cover EVERY output-distinguishing column — otherwise a LIMIT/
    // OFFSET boundary cutting inside a tie group selects arbitrary
    // rows whose non-ordered outputs differ (the round-11 fz18 flake)
    val sql = s"SELECT CAST(${t.uk} AS BIGINT) AS o_0, " +
      s"CAST(${e1.sql} AS BIGINT) AS o_1, ${t.strs.head} AS o_2 FROM ${t.name}" +
      where.fold("")(w => s" WHERE $w") +
      s" ORDER BY ${s1.sql}, ${s2.sql}, ${t.uk}, ${t.strs.head}$lim"
    val dfFn = (sp: SparkSession, d: String) => {
      val raw = Tables.t(sp, d, t.name)
      val f = where.fold(raw)(w => raw.filter(expr(w)))
      limDf(f.orderBy(s1.df, s2.df, t.ukDf.asc, col(t.strs.head).asc)
        .select(t.ukDf.cast(LongType).as("o_0"),
          e1.df.cast(LongType).as("o_1"), col(t.strs.head).as("o_2")))
    }
    LQuery(id, sql, dfFn, Seq("o_0", "o_1", "o_2"))
  }

  /** Top-k of a grouped aggregate, ordered by the aggregate. */
  private def genAggTopK(id: Int, t: LTable, rnd: Random): LQuery = {
    val g = orderExpr(t, rnd, nullArm = false)
    val v = t.ints(rnd.nextInt(t.ints.size))
    val desc = rnd.nextBoolean()
    val (lim, limDf) = limitArm(id, rnd)
    val dir = if (desc) "DESC" else "ASC"
    val sql = s"SELECT CAST(${g.sql} AS BIGINT) AS g_0, " +
      s"CAST(sum($v % 1000) AS BIGINT) AS a_0, CAST(count(*) AS BIGINT) AS a_1 " +
      s"FROM ${t.name} GROUP BY 1 ORDER BY a_0 $dir NULLS FIRST, g_0$lim"
    val dfFn = (sp: SparkSession, d: String) => {
      val raw = Tables.t(sp, d, t.name)
      val agged = raw.groupBy(g.df.cast(LongType).as("g_0"))
        .agg(sum(col(v) % 1000).cast(LongType).as("a_0"),
          count(lit(1)).cast(LongType).as("a_1"))
      limDf(agged.orderBy(
        if (desc) col("a_0").desc_nulls_first else col("a_0").asc_nulls_first,
        col("g_0").asc))
    }
    LQuery(id, sql, dfFn, Seq("g_0", "a_0", "a_1"))
  }

  /** Top-k ordered by a windowed value (total order inside the window
    * per the fz4 discipline, unique tail outside). */
  private def genWindowTopK(id: Int, t: LTable, rnd: Random): LQuery = {
    val g = orderExpr(t, rnd, nullArm = false)
    val v = t.ints(rnd.nextInt(t.ints.size))
    val (lim, limDf) = limitArm(id, rnd)
    // the window order must include the summed contribution: uk is
    // not unique (see genPlain), and tied-uk rows with DIFFERENT
    // contributions would make the running sum's output multiset
    // tie-order-dependent; with the contribution in the order, tied
    // rows contribute equally and the multiset is deterministic
    val sql = s"SELECT CAST(${t.uk} AS BIGINT) AS o_0, " +
      s"CAST(sum($v % 100) OVER (PARTITION BY ${g.sql} " +
      s"ORDER BY ${t.uk} ASC NULLS FIRST, $v % 100 ASC NULLS FIRST " +
      s"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS o_1 " +
      s"FROM ${t.name} ORDER BY o_1 DESC NULLS LAST, o_0$lim"
    val dfFn = (sp: SparkSession, d: String) => {
      val raw = Tables.t(sp, d, t.name)
      val w = Window.partitionBy(g.df)
        .orderBy(t.ukDf.asc_nulls_first, (col(v) % 100).asc_nulls_first)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      limDf(raw.select(t.ukDf.cast(LongType).as("o_0"),
          sum(col(v) % 100).over(w).cast(LongType).as("o_1"))
        .orderBy(col("o_1").desc_nulls_last, col("o_0").asc))
    }
    LQuery(id, sql, dfFn, Seq("o_0", "o_1"))
  }

  /** LIMIT applies BEFORE the outer aggregate — the subquery arm. */
  private def genSubqueryLimit(id: Int, t: LTable, rnd: Random): LQuery = {
    val e = orderExpr(t, rnd, nullArm = id % 2 == 0)
    val s1 = sortTerm(e, rnd)
    val v = t.ints(rnd.nextInt(t.ints.size))
    val (lim, limDf) = limitArm(id, rnd)
    // cover the output column x in the ORDER BY (non-unique keys —
    // see genPlain): a boundary tie must not pick arbitrary x values
    val inner = s"SELECT CAST($v % 1000 AS BIGINT) AS x FROM ${t.name} " +
      s"ORDER BY ${s1.sql}, ${t.uk}, $v % 1000$lim"
    val sql = s"SELECT CAST(count(*) AS BIGINT) AS a_0, " +
      s"CAST(coalesce(sum(x), 0) AS BIGINT) AS a_1 FROM ($inner) __i"
    val dfFn = (sp: SparkSession, d: String) => {
      val raw = Tables.t(sp, d, t.name)
      val innerDf = limDf(raw.orderBy(s1.df, t.ukDf.asc, (col(v) % 1000).asc)
        .select((col(v) % 1000).cast(LongType).as("x")))
      innerDf.agg(count(lit(1)).cast(LongType).as("a_0"),
        coalesce(sum(col("x")), lit(0L)).cast(LongType).as("a_1"))
    }
    LQuery(id, sql, dfFn, Seq("a_0", "a_1"))
  }

  // ---- the gate (run by FuzzExec) ----

  type Query = LQuery

  protected def render(spark: SparkSession, dir: String, q: Query): DataFrame =
    q.df(spark, dir)

  /** q_fz18 — the ORDER BY + LIMIT/OFFSET differential gate. */
  def gate: Q = declare(
    "q_fz18_limit_fuzz",
    s"top-k differential fuzz: $NQueries seeded ORDER BY + " +
      "LIMIT/OFFSET queries (plain / agg top-k / windowed top-k / " +
      "limit-before-outer-agg) with id-cycled LIMIT 0, OFFSET-beyond, " +
      "LIMIT-beyond and standalone-OFFSET arms, total orders throughout, " +
      "fingerprint-compared Spark vs DuckDB")
}
