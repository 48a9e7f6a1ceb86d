package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import scala.util.Random

/** Differential fuzz over the MULTI-LEVEL AGGREGATE surface —
  * ROLLUP / CUBE / GROUPING SETS — the fifth population beside
  * [[RelFuzz]], [[TemporalFuzz]], [[StringFuzz]] and
  * [[WindowSetFuzz]]. This is the classic quiet-divergence class: a
  * rolled-up row's NULL group key is indistinguishable from a GENUINE
  * NULL key without the grouping flags, so every query projects
  * `grouping_id(keys…)` (and often a single-key `grouping(k)` flag),
  * nullable keys are id-cycled into the population, and the engines
  * must agree on flag bit order (leftmost key = most significant bit
  * in both Spark and DuckDB — probed before this population was
  * written), duplicate grouping sets (BOTH engines emit duplicate
  * rows), the empty set `()`, DISTINCT aggregates per grouping set,
  * and conditional aggregates across rollup levels.
  *
  * Determinism discipline: results are row multisets keyed by the
  * group columns + flags, so no ordering is needed; every aggregate is
  * integer-valued (CAST AS BIGINT both sides) or a string min/max so
  * the fingerprint hash is exact.
  *
  * DF-rendering constraint (discovered by probe): Spark's
  * `Dataset.groupingSets` matches set elements to grouping columns by
  * EXPRESSION IDENTITY, and an aliased expression key in `cols` does
  * not match its twin inside a set — the engine silently treats them
  * as distinct grouping columns. The DF side therefore PRE-PROJECTS
  * every key to a named column (`g_i`) and groups by those names; the
  * SQL side keeps raw expressions. Same semantics, different plan
  * construction paths — which is exactly what the property spec wants
  * to compare.
  */
object GroupingFuzz extends FuzzExec.Frames {

  val NQueries = 60
  val GateSeed = 20260815L

  // ---- key / aggregate seeds ----

  private final case class GKey(sqlExpr: String, dfCol: Column, nullable: Boolean)

  private sealed trait GAgg {
    def sql: String            // rendered with its output alias applied by caller
    def df: Column
    def name: String
  }
  private final case class CountStar(name: String) extends GAgg {
    def sql = s"CAST(count(*) AS BIGINT) AS $name"
    def df = count(lit(1)).cast(LongType).as(name)
  }
  private final case class SumInt(sqlExpr: String, dfCol: Column, name: String) extends GAgg {
    def sql = s"CAST(sum($sqlExpr) AS BIGINT) AS $name"
    def df = sum(dfCol).cast(LongType).as(name)
  }
  private final case class MinMaxA(isMax: Boolean, sqlExpr: String, dfCol: Column,
      isString: Boolean, name: String) extends GAgg {
    private def fn = if (isMax) "max" else "min"
    def sql = if (isString) s"$fn($sqlExpr) AS $name"
      else s"CAST($fn($sqlExpr) AS BIGINT) AS $name"
    def df = {
      val b = if (isMax) max(dfCol) else min(dfCol)
      (if (isString) b else b.cast(LongType)).as(name)
    }
  }
  private final case class CountDist(sqlExpr: String, dfCol: Column, name: String) extends GAgg {
    def sql = s"CAST(count(DISTINCT $sqlExpr) AS BIGINT) AS $name"
    def df = count_distinct(dfCol).cast(LongType).as(name)
  }
  private final case class SumDist(sqlExpr: String, dfCol: Column, name: String) extends GAgg {
    def sql = s"CAST(sum(DISTINCT $sqlExpr) AS BIGINT) AS $name"
    def df = sum_distinct(dfCol).cast(LongType).as(name)
  }
  private final case class CondSum(condSql: String, condDf: Column,
      sqlExpr: String, dfCol: Column, name: String) extends GAgg {
    def sql = s"CAST(sum(CASE WHEN $condSql THEN $sqlExpr ELSE 0 END) AS BIGINT) AS $name"
    def df = sum(when(condDf, dfCol).otherwise(lit(0))).cast(LongType).as(name)
  }

  // ---- grouping modes ----

  sealed trait GMode
  private case object Rollup extends GMode
  private case object Cube extends GMode
  /** Explicit sets as index lists into the query's keys (may repeat,
    * may be empty — both are exercised semantics, not bugs). */
  private final case class Gsets(sets: Seq[Seq[Int]]) extends GMode

  // ---- table metadata ----

  private final case class TableMeta(name: String,
      gkeys: Seq[GKey],
      intExprs: Seq[(String, Column)],
      strCols: Seq[(String, Column)],
      conds: Seq[(String, Column)])

  private def ordersMeta = TableMeta("orders",
    gkeys = Seq(
      GKey("o_orderstatus", col("o_orderstatus"), nullable = false),
      GKey("o_orderpriority", col("o_orderpriority"), nullable = false),
      GKey("o_custkey % 7", col("o_custkey") % 7, nullable = false),
      GKey("o_orderkey % 5", col("o_orderkey") % 5, nullable = false),
      GKey("nullif(o_orderpriority, '1-URGENT')",
        nullif(col("o_orderpriority"), lit("1-URGENT")), nullable = true),
      GKey("nullif(o_custkey % 11, 3)",
        nullif(col("o_custkey") % 11, lit(3)), nullable = true)),
    intExprs = Seq(
      ("o_custkey", col("o_custkey")),
      ("o_custkey % 100", col("o_custkey") % 100),
      ("o_orderkey % 1000", col("o_orderkey") % 1000)),
    strCols = Seq(
      ("o_orderstatus", col("o_orderstatus")),
      ("o_orderpriority", col("o_orderpriority"))),
    conds = Seq(
      ("o_custkey % 2 = 0", col("o_custkey") % 2 === 0),
      ("o_orderstatus = 'O'", col("o_orderstatus") === "O"),
      ("o_orderkey % 3 = 1", col("o_orderkey") % 3 === 1)))

  private def customerMeta = TableMeta("customer",
    gkeys = Seq(
      GKey("c_mktsegment", col("c_mktsegment"), nullable = false),
      GKey("c_nationkey % 4", col("c_nationkey") % 4, nullable = false),
      GKey("c_nationkey", col("c_nationkey"), nullable = false),
      GKey("c_custkey % 6", col("c_custkey") % 6, nullable = false),
      GKey("nullif(c_mktsegment, 'BUILDING')",
        nullif(col("c_mktsegment"), lit("BUILDING")), nullable = true),
      GKey("nullif(c_nationkey % 5, 2)",
        nullif(col("c_nationkey") % 5, lit(2)), nullable = true)),
    intExprs = Seq(
      ("c_nationkey", col("c_nationkey")),
      ("c_custkey % 100", col("c_custkey") % 100)),
    strCols = Seq(
      ("c_mktsegment", col("c_mktsegment")),
      ("c_name", col("c_name"))),
    conds = Seq(
      ("c_custkey % 2 = 0", col("c_custkey") % 2 === 0),
      ("c_nationkey % 3 = 1", col("c_nationkey") % 3 === 1)))

  private def tables = Seq(ordersMeta, customerMeta)

  // ---- query shape ----

  final case class GQuery(id: Int, table: String, whereSql: Option[String],
      whereDf: Option[Column], keys: Seq[(String, Column)], mode: GMode,
      flagKey: Option[Int], aggs: Seq[(String, Column)],
      aggInputs: Seq[(String, Column)]) extends FuzzExec.Generated {
    def duckSql: String = commonSql

    def outCols: Seq[String] =
      keys.indices.map(i => s"g_$i") ++ Seq("gid") ++
        flagKey.map(_ => "f_0").toSeq ++ aggs.indices.map(i => s"c_$i")

    private def keySqls = keys.map(_._1)

    private def groupBySql: String = mode match {
      case Rollup => s"ROLLUP(${keySqls.mkString(", ")})"
      case Cube => s"CUBE(${keySqls.mkString(", ")})"
      case Gsets(sets) =>
        val rendered = sets.map(s => s"(${s.map(keySqls).mkString(", ")})")
        s"GROUPING SETS (${rendered.mkString(", ")})"
    }

    def commonSql: String = {
      val keySel = keySqls.zipWithIndex.map { case (k, i) => s"$k AS g_$i" }
      val gid = s"CAST(grouping_id(${keySqls.mkString(", ")}) AS BIGINT) AS gid"
      val flag = flagKey.map(j => s"CAST(grouping(${keySqls(j)}) AS BIGINT) AS f_0")
      val sel = (keySel ++ Seq(gid) ++ flag.toSeq ++ aggs.map(_._1)).mkString(", ")
      val w = whereSql.fold("")(p => s" WHERE $p")
      s"SELECT $sel FROM $table$w GROUP BY $groupBySql"
    }

    def df(spark: SparkSession, dir: String): DataFrame = {
      val raw = Tables.t(spark, dir, table)
      val filtered = whereDf.fold(raw)(raw.filter)
      // pre-project keys to NAMED columns (see the scaladoc constraint)
      // plus the raw agg-input columns
      val projected = filtered.select(
        (keys.zipWithIndex.map { case ((_, c), i) => c.as(s"g_$i") } ++
          aggInputs.map(_._2)).toIndexedSeq: _*)
      val keyCols = keys.indices.map(i => col(s"g_$i"))
      val grouped = mode match {
        case Rollup => projected.rollup(keyCols: _*)
        case Cube => projected.cube(keyCols: _*)
        case Gsets(sets) =>
          projected.groupingSets(sets.map(_.map(i => col(s"g_$i"))), keyCols: _*)
      }
      val gid = grouping_id().cast(LongType).as("gid")
      val flag = flagKey.map(j => grouping(col(s"g_$j")).cast(LongType).as("f_0"))
      val aggExprs = Seq(gid) ++ flag.toSeq ++ aggs.map(_._2)
      grouped.agg(aggExprs.head, aggExprs.tail: _*)
    }
  }

  // ---- the seeded population ----

  def queries(seed: Long, n: Int): Seq[GQuery] =
    (0 until n).map { i => gen(i, new Random(seed + i)) }

  private def gen(id: Int, rnd: Random): GQuery = {
    val t = tables(rnd.nextInt(tables.size))
    val nKeys = 1 + rnd.nextInt(3)
    // distinct keys; the id-cycle GUARANTEES the nullable-key class
    // (genuine NULL vs rolled-up NULL) appears throughout the gate
    val pool = rnd.shuffle(t.gkeys.toList)
    val chosen0 = pool.take(nKeys)
    val chosen =
      if (id % 3 == 0 && !chosen0.exists(_.nullable))
        pool.filter(_.nullable).take(1) ++ chosen0.tail
      else chosen0
    val keys = chosen.map(k => (k.sqlExpr, k.dfCol))

    val mode: GMode = rnd.nextInt(100) match {
      case p if p < 38 => Rollup
      case p if p < 68 => Cube
      case _ =>
        // set 0 is always the FULL key set: DuckDB's binder requires
        // every grouping_id child to appear in at least one set
        // (probed — a never-grouped key is an error, not implicit
        // NULL), and the full set guarantees that for all keys
        val nSets = 1 + rnd.nextInt(3)
        var sets = Seq(keys.indices.toSeq: Seq[Int]) ++ (0 until nSets).map { _ =>
          keys.indices.filter(_ => rnd.nextBoolean()): Seq[Int]
        }
        // id-cycled guarantees: duplicate sets (both engines emit
        // duplicate rows) and the empty grand-total set. Duplicate
        // EXPRESSIONS inside one set are never generated — DuckDB
        // collapses them into one grouping column (probed: ROLLUP(s,s)
        // gid drift) while keys here are distinct by construction.
        if (id % 4 == 0) sets = sets :+ sets.last
        if (id % 2 == 0 && !sets.contains(Seq())) sets = sets :+ Seq.empty[Int]
        Gsets(sets)
    }

    val flagKey = if (rnd.nextBoolean()) Some(rnd.nextInt(keys.size)) else None

    val nAggs = 1 + rnd.nextInt(3)
    val usedInputs = scala.collection.mutable.LinkedHashMap[String, Column]()
    def intExpr(): (String, Column) = {
      val e = t.intExprs(rnd.nextInt(t.intExprs.size))
      usedInputs.getOrElseUpdate(baseColOf(e._1), col(baseColOf(e._1)))
      e
    }
    def strExpr(): (String, Column) = {
      val e = t.strCols(rnd.nextInt(t.strCols.size))
      usedInputs.getOrElseUpdate(baseColOf(e._1), col(baseColOf(e._1)))
      e
    }
    val aggs = (0 until nAggs).map { j =>
      val name = s"c_$j"
      rnd.nextInt(100) match {
        case p if p < 20 => CountStar(name)
        case p if p < 40 =>
          val (s, c) = intExpr(); SumInt(s, c, name)
        case p if p < 55 =>
          if (rnd.nextBoolean()) { val (s, c) = strExpr()
            MinMaxA(rnd.nextBoolean(), s, c, isString = true, name) }
          else { val (s, c) = intExpr()
            MinMaxA(rnd.nextBoolean(), s, c, isString = false, name) }
        case p if p < 75 =>
          val (s, c) = intExpr()
          // id-cycled nullable DISTINCT operand: count(DISTINCT)
          // ignores NULLs — both engines must agree inside every
          // grouping set
          if (id % 5 == 0) CountDist(s"nullif($s, 3)", nullif(c, lit(3)), name)
          else CountDist(s, c, name)
        case p if p < 85 =>
          val (s, c) = intExpr(); SumDist(s, c, name)
        case _ =>
          val (cs, cc) = t.conds(rnd.nextInt(t.conds.size))
          usedInputs ++= condInputs(t, cs)
          val (s, c) = intExpr(); CondSum(cs, cc, s, c, name)
      }
    }

    val where = if (rnd.nextInt(100) < 35) Some(t.conds(rnd.nextInt(t.conds.size))) else None
    where.foreach { case (s, _) => usedInputs ++= condInputs(t, s) }

    GQuery(id, t.name, where.map(_._1), where.map(_._2), keys, mode, flagKey,
      aggs.map(a => (a.sql, a.df)), usedInputs.toSeq.map { case (n, c) => (n, c) })
  }

  /** Raw column underlying an int/string expression ("o_custkey % 100"
    * → "o_custkey") — what the DF pre-projection must carry. */
  private def baseColOf(sqlExpr: String): String = sqlExpr.split(" ").head

  private def condInputs(t: TableMeta, condSql: String): Seq[(String, Column)] = {
    val c = baseColOf(condSql)
    Seq((c, col(c)))
  }

  // ---- the gate (run by FuzzExec) ----

  type Query = GQuery

  protected def render(spark: SparkSession, dir: String, q: Query): DataFrame =
    q.df(spark, dir)

  /** q_fz5 — the multi-level-aggregate differential gate. */
  def gate: Q = declare(
    "q_fz5_grouping_fuzz",
    s"grouping-sets differential fuzz: $NQueries seeded ROLLUP / CUBE / " +
      "GROUPING SETS queries with grouping_id flags, nullable keys, DISTINCT and " +
      "conditional aggregates, fingerprint-compared Spark vs DuckDB")
}
