package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import scala.util.Random

/** Differential mini-fuzz over the relational core — the gates are
  * fixed queries; this generates a seeded population of random
  * filter/project/join/aggregate compositions over the TPC-H-ish
  * tables and compares Spark against DuckDB on ALL of them, to catch
  * expression-semantics divergences (the ISO-week / HUGEINT class of
  * bug) before a hand-written query trips one.
  *
  * One AST, three renderings:
  *
  *  1. a DataFrame plan (what the engine under test runs),
  *  2. a COMMON-DIALECT SQL string — the generator's grammar is
  *     restricted to the Spark∩DuckDB surface (inner/LEFT/FULL
  *     equi-joins with coalesced-key projections, %, <>,
  *     length/upper/substring/CASE expression projections,
  *     row_number over deterministic keys (NULLS FIRST pinned),
  *     CAST AS BIGINT, count(*)-vs-count(col)-vs-count(DISTINCT)/
  *     sum/min/max, DISTINCT, HAVING on the count family,
  *     ORDER-BY-all-columns LIMIT), so the SAME string parses in
  *     both engines,
  *  3. a DuckDB checksum wrapper for the driver gate.
  *
  * The in-JVM property suite (`RelFuzzSpec`) proves rendering 1 ≡
  * rendering 2 under Spark for every generated query; the driver gate
  * (`q_fz1`) proves rendering 1 ≡ rendering 2 under DuckDB — the
  * cross-engine differential. Each query is reduced to an
  * order-insensitive fingerprint (row count + Σ md5-hash of the
  * canonical row string, mod a prime so the BIGINT sum never
  * overflows), so one 3-column frame carries the whole population
  * through the hash-compare gate.
  *
  * Determinism: the population is a pure function of the seed (no
  * wall-clock, no JVM hash iteration order); the gate pins the seed.
  * Doubles and timestamps are excluded from the grammar — the gate
  * discipline is integer/string exactness (floats are never
  * hash-compared anywhere in this repo).
  */
object RelFuzz extends FuzzExec.Frames {

  val NQueries = 150
  val GateSeed = 20260814L

  // ---- catalog: the Spark∩DuckDB-safe columns (no doubles/timestamps)
  private final case class Col(name: String, num: Boolean)
  private val catalog: Map[String, Seq[Col]] = Map(
    "lineitem" -> Seq(Col("l_orderkey", true), Col("l_partkey", true),
      Col("l_suppkey", true), Col("l_linenumber", true),
      Col("l_returnflag", false), Col("l_linestatus", false)),
    "orders" -> Seq(Col("o_orderkey", true), Col("o_custkey", true),
      Col("o_orderstatus", false), Col("o_orderpriority", false)),
    "customer" -> Seq(Col("c_custkey", true), Col("c_name", false),
      Col("c_nationkey", true), Col("c_mktsegment", false)),
    "supplier" -> Seq(Col("s_suppkey", true), Col("s_name", false),
      Col("s_nationkey", true)),
    "part" -> Seq(Col("p_partkey", true), Col("p_name", false),
      Col("p_brand", false), Col("p_type", false), Col("p_size", true)),
    "nation" -> Seq(Col("n_nationkey", true), Col("n_name", false),
      Col("n_regionkey", true)),
    "region" -> Seq(Col("r_regionkey", true), Col("r_name", false)))

  // FK edges (left table, right table, left key, right key)
  private val joinEdges = Seq(
    ("lineitem", "orders", "l_orderkey", "o_orderkey"),
    ("orders", "customer", "o_custkey", "c_custkey"),
    ("customer", "nation", "c_nationkey", "n_nationkey"),
    ("supplier", "nation", "s_nationkey", "n_nationkey"),
    ("nation", "region", "n_regionkey", "r_regionkey"),
    ("lineitem", "supplier", "l_suppkey", "s_suppkey"),
    ("lineitem", "part", "l_partkey", "p_partkey"))

  // ---- AST --------------------------------------------------------------
  sealed trait Pred { def sql: String; def df: Column }
  private final case class ModEq(c: String, k: Int, r: Int, eq: Boolean) extends Pred {
    def sql = s"($c % $k) ${if (eq) "=" else "<>"} $r"
    def df = if (eq) col(c) % k === r else col(c) % k =!= r
  }
  private final case class NumCmp(a: String, op: String, b: String) extends Pred {
    def sql = s"$a $op $b"
    def df = op match {
      case "<" => col(a) < col(b); case "<=" => col(a) <= col(b)
      case ">" => col(a) > col(b); case ">=" => col(a) >= col(b)
      case "=" => col(a) === col(b); case _ => col(a) =!= col(b)
    }
  }
  private final case class StrNe(a: String, b: String) extends Pred {
    def sql = s"$a <> $b"; def df = col(a) =!= col(b)
  }
  private final case class LenCmp(c: String, op: String, n: Int) extends Pred {
    def sql = s"length($c) $op $n"
    def df = if (op == ">") length(col(c)) > n else length(col(c)) <= n
  }
  private final case class AndOr(a: Pred, b: Pred, and: Boolean) extends Pred {
    def sql = s"(${a.sql}) ${if (and) "AND" else "OR"} (${b.sql})"
    def df = if (and) a.df && b.df else a.df || b.df
  }

  sealed trait Agg {
    def alias: String; def bareSql: String; def df: Column
    final def sql: String = s"$bareSql AS $alias"
    /** True for the count family — the aggs whose value range makes a
      * small-integer HAVING threshold meaningful. */
    def countLike: Boolean = false
  }
  private final case class CountStar(alias: String) extends Agg {
    def bareSql = "CAST(count(*) AS BIGINT)"
    def df = count(lit(1)).cast(LongType).as(alias)
    override def countLike = true
  }
  /** count(col) — skips NULLs, unlike count(*): the divergence class
    * outer-join null padding exposes (an engine that counted padded
    * rows would differ exactly here). */
  private final case class CountCol(c: String, alias: String) extends Agg {
    def bareSql = s"CAST(count($c) AS BIGINT)"
    def df = count(col(c)).cast(LongType).as(alias)
    override def countLike = true
  }
  private final case class CountDist(c: String, alias: String) extends Agg {
    def bareSql = s"CAST(count(DISTINCT $c) AS BIGINT)"
    def df = countDistinct(col(c)).cast(LongType).as(alias)
    override def countLike = true
  }
  private final case class SumCol(c: String, alias: String) extends Agg {
    def bareSql = s"CAST(sum($c) AS BIGINT)"
    def df = sum(col(c)).cast(LongType).as(alias)
  }
  private final case class MinMax(c: String, mx: Boolean, alias: String) extends Agg {
    def bareSql = s"${if (mx) "max" else "min"}($c)"
    def df = (if (mx) max(col(c)) else min(col(c))).as(alias)
  }

  /** A computed projection column — the expression surface is where
    * the ISO-week/HUGEINT class of divergence lives, so the grammar
    * covers arithmetic, string functions, and CASE, restricted to the
    * Spark∩DuckDB semantics overlap (ASCII data, non-negative ints). */
  final case class ExprCol(alias: String, bareSql: String, dfc: Column) {
    def sql = s"$bareSql AS $alias"
    def df: Column = dfc.as(alias)
  }

  /** One generated query: id, the table chain, predicate, and either
    * an aggregate or a (possibly DISTINCT) projection. */
  final case class FuzzQuery(
      id: Int,
      tables: Seq[String], // chained along joinEdges; head = FROM
      joinKinds: Seq[String], // "JOIN" | "LEFT JOIN", one per edge used
      pred: Option[Pred],
      groupCols: Seq[String],
      aggs: Seq[Agg],
      projCols: Seq[String],
      distinct: Boolean,
      exprCols: Seq[ExprCol] = Seq.empty, // extra computed projections
      having: Option[(Agg, Long)] = None, // (member of aggs, threshold): agg > v
      orderLimit: Option[Int] = None) // ORDER BY <all out cols> LIMIT k
      extends FuzzExec.Generated {

    /** Output column names, in order. */
    def outCols: Seq[String] =
      if (aggs.nonEmpty) groupCols ++ aggs.map(_.alias)
      else projCols ++ exprCols.map(_.alias)

    /** Rendering 2: the common-dialect SQL (same string for Spark SQL
      * and DuckDB). LIMIT is only multiset-deterministic under a TOTAL
      * order, so it always rides on ORDER BY over every output column;
      * NULLS FIRST is explicit because the engines' ASC defaults
      * differ (Spark NULLS FIRST, DuckDB NULLS LAST). HAVING renders
      * the full aggregate expression — alias visibility in HAVING
      * differs across dialects, the expression parses in both. */
    def commonSql: String = {
      val from = tables.head +: tables.tail.zip(joinKinds).zip(edgesUsed).map {
        case ((t, jk), (_, _, lk, rk)) => s"$jk $t ON $lk = $rk"
      }
      val select =
        if (aggs.nonEmpty) (groupCols ++ aggs.map(_.sql)).mkString(", ")
        else (if (distinct) "DISTINCT " else "") +
          (projCols ++ exprCols.map(_.sql)).mkString(", ")
      s"SELECT $select FROM ${from.mkString(" ")}" +
        pred.map(p => s" WHERE ${p.sql}").getOrElse("") +
        (if (groupCols.nonEmpty) s" GROUP BY ${groupCols.mkString(", ")}"
         else "") +
        having.map { case (a, v) => s" HAVING ${a.bareSql} > $v" }.getOrElse("") +
        orderLimit.map(k =>
          s" ORDER BY ${outCols.map(c => s"$c ASC NULLS FIRST").mkString(", ")} LIMIT $k")
          .getOrElse("")
    }

    def duckSql: String = commonSql

    private def edgesUsed: Seq[(String, String, String, String)] =
      joinEdgesFor(tables)

    /** Rendering 1: the DataFrame plan over parquet at `dir`. */
    def df(spark: SparkSession, dir: String): DataFrame =
      df(spark, (t: String) => Tables.t(spark, dir, t))

    /** Same plan built through a caller-supplied table resolver, so one
      * gate invocation resolves each parquet table once (one file
      * listing + one footer schema read) instead of once per generated
      * query — the DataFrame is an immutable plan, safe to share. */
    def df(spark: SparkSession, read: String => DataFrame): DataFrame = {
      val base = tables.tail.zip(joinKinds).zip(edgesUsed)
        .foldLeft(read(tables.head)) { case (acc, ((t, jk), (_, _, lk, rk))) =>
          acc.join(read(t), col(lk) === col(rk),
            if (jk == "LEFT JOIN") "left" else "inner")
        }
      val filtered = pred.map(p => base.filter(p.df)).getOrElse(base)
      val shaped = if (aggs.nonEmpty) {
        val agged =
          if (groupCols.nonEmpty)
            filtered.groupBy(groupCols.map(col).toIndexedSeq: _*)
              .agg(aggs.head.df, aggs.tail.map(_.df).toIndexedSeq: _*)
          else filtered.agg(aggs.head.df, aggs.tail.map(_.df).toIndexedSeq: _*)
        val had = having match {
          case Some((a, v)) => agged.filter(col(a.alias) > v)
          case None => agged
        }
        had.select(outCols.map(col).toIndexedSeq: _*)
      } else {
        val proj = filtered.select(
          (projCols.map(col) ++ exprCols.map(_.df)).toIndexedSeq: _*)
        if (distinct) proj.distinct() else proj
      }
      orderLimit match {
        case Some(k) =>
          shaped.orderBy(outCols.map(c => col(c).asc_nulls_first).toIndexedSeq: _*)
            .limit(k)
        case None => shaped
      }
    }
  }

  /** The FK edges a table chain traverses, in order. */
  private def joinEdgesFor(chain: Seq[String]): Seq[(String, String, String, String)] =
    chain.tail.foldLeft((chain.head, Seq.empty[(String, String, String, String)])) {
      case ((prev, acc), t) =>
        val e = joinEdges.find(e => e._1 == prev && e._2 == t).get
        (t, acc :+ e)
    }._2

  // ---- generator --------------------------------------------------------

  /** The seeded population: a pure function of `seed`. */
  def queries(seed: Long, n: Int): Seq[FuzzQuery] = {
    val rnd = new Random(seed)
    (0 until n).map(i => genOne(i, rnd))
  }

  private def genOne(id: Int, rnd: Random): FuzzQuery = {
    // base chain: 1 table (55%), 2 (35%), 3 (10%) along FK edges; a
    // dead-ended chain (no outgoing edge) is accepted shorter
    val depth = rnd.nextInt(100) match {
      case x if x < 55 => 1; case x if x < 90 => 2; case _ => 3
    }
    var chain = Seq(joinEdges(rnd.nextInt(joinEdges.size))._1)
    var extendable = true
    while (chain.size < depth && extendable) {
      val outs = joinEdges.filter(_._1 == chain.last)
      if (outs.isEmpty) extendable = false
      else chain = chain :+ outs(rnd.nextInt(outs.size))._2
    }
    genOne2(id, rnd, chain)
  }

  private def genOne2(id: Int, rnd: Random, chain: Seq[String]): FuzzQuery = {
    // 20% LEFT, 12% FULL, rest inner — outer joins are where the
    // null-padding semantics (coalesced keys, count(col) vs count(*),
    // NULLS FIRST ordering) get exercised
    val joinKinds = chain.tail.map(_ => rnd.nextInt(100) match {
      case x if x < 20 => "LEFT JOIN"
      case x if x < 32 => "FULL JOIN"
      case _ => "JOIN"
    })
    val cols = chain.flatMap(catalog)
    val numCols = cols.filter(_.num).map(_.name)
    val strCols = cols.filterNot(_.num).map(_.name)

    def onePred(): Pred = rnd.nextInt(4) match {
      case 0 =>
        val k = Seq(2, 3, 5, 7, 11)(rnd.nextInt(5))
        ModEq(numCols(rnd.nextInt(numCols.size)), k, rnd.nextInt(k), rnd.nextBoolean())
      case 1 if numCols.size >= 2 =>
        // distinct columns — a self-comparison is trivially constant
        // and tells the differential nothing
        val a = numCols(rnd.nextInt(numCols.size))
        val rest = numCols.filterNot(_ == a)
        val b = rest(rnd.nextInt(rest.size))
        NumCmp(a, Seq("<", "<=", ">", ">=", "=", "<>")(rnd.nextInt(6)), b)
      case 2 if strCols.size >= 2 =>
        val a = strCols(rnd.nextInt(strCols.size))
        val rest = strCols.filterNot(_ == a)
        StrNe(a, rest(rnd.nextInt(rest.size)))
      case _ if strCols.nonEmpty =>
        LenCmp(strCols(rnd.nextInt(strCols.size)),
          if (rnd.nextBoolean()) ">" else "<=", 3 + rnd.nextInt(13))
      case _ =>
        val k = Seq(2, 3, 5, 7, 11)(rnd.nextInt(5))
        ModEq(numCols(rnd.nextInt(numCols.size)), k, rnd.nextInt(k), rnd.nextBoolean())
    }
    val pred = rnd.nextInt(10) match {
      case 0 => None
      case x if x < 7 => Some(onePred())
      case _ => Some(AndOr(onePred(), onePred(), rnd.nextBoolean()))
    }

    def oneExpr(i: Int): ExprCol = {
      val alias = s"expr_$i"
      rnd.nextInt(8) match {
        case 6 =>
          // row_number with a DETERMINISTIC output multiset: partition
          // by a low-cardinality derived bucket, order by EVERY column
          // of the chained tables (NULLS FIRST pinned — the engines'
          // ASC defaults differ). The synthetic data has no reliable
          // unique keys (lineitem carries duplicate (orderkey,
          // linenumber) pairs — the first fuzz run with key-only
          // ordering caught exactly that), but an all-columns sort can
          // only tie between FULLY identical rows, and identical rows
          // are interchangeable: whatever tie order an engine picks,
          // the multiset of output rows is the same.
          val p = numCols(rnd.nextInt(numCols.size))
          val pk = Seq(2, 3, 5)(rnd.nextInt(3))
          val keys = chain.flatMap(catalog).map(_.name)
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col(p) % pk)
            .orderBy(keys.map(k => col(k).asc_nulls_first): _*)
          ExprCol(alias,
            s"CAST(row_number() OVER (PARTITION BY ($p % $pk) ORDER BY " +
              keys.map(k => s"$k ASC NULLS FIRST").mkString(", ") + ") AS BIGINT)",
            row_number().over(w).cast(LongType))
        case 7 if chain.size >= 2 =>
          // coalesced join keys — the canonical way outer-join output
          // re-derives a usable key column; exercises engine agreement
          // on which side is null-padded
          val (_, _, lk, rk) = joinEdgesFor(chain).last
          ExprCol(alias, s"coalesce($lk, $rk, -1)",
            coalesce(col(lk), col(rk), lit(-1L)))
        case 0 if numCols.size >= 2 =>
          val a = numCols(rnd.nextInt(numCols.size))
          val b = numCols(rnd.nextInt(numCols.size))
          ExprCol(alias, s"($a + $b)", col(a) + col(b))
        case 1 =>
          val a = numCols(rnd.nextInt(numCols.size))
          val k = Seq(3, 5, 7, 13)(rnd.nextInt(4))
          ExprCol(alias, s"($a % $k)", col(a) % k)
        case 2 if strCols.nonEmpty =>
          val s = strCols(rnd.nextInt(strCols.size))
          ExprCol(alias, s"length($s)", length(col(s)))
        case 3 if strCols.nonEmpty =>
          val s = strCols(rnd.nextInt(strCols.size))
          ExprCol(alias, s"upper($s)", upper(col(s)))
        case 4 if strCols.nonEmpty =>
          val s = strCols(rnd.nextInt(strCols.size))
          val n = 1 + rnd.nextInt(4)
          ExprCol(alias, s"substring($s, 1, $n)", substring(col(s), 1, n))
        case _ =>
          val a = numCols(rnd.nextInt(numCols.size))
          val k = Seq(2, 3, 5)(rnd.nextInt(3))
          ExprCol(alias, s"CASE WHEN ($a % $k) = 0 THEN 'lo' ELSE 'hi' END",
            when(col(a) % k === 0, lit("lo")).otherwise(lit("hi")))
      }
    }

    if (rnd.nextInt(100) < 60) {
      // aggregate shape
      val nGroup = rnd.nextInt(3)
      val groupCols = rnd.shuffle(cols.map(_.name)).take(nGroup)
      val nAggs = 1 + rnd.nextInt(3)
      val aggs = (0 until nAggs).map { i =>
        val alias = s"agg_$i"
        rnd.nextInt(5) match {
          case 0 => CountStar(alias)
          case 1 => CountCol(cols(rnd.nextInt(cols.size)).name, alias)
          case 2 => CountDist(cols(rnd.nextInt(cols.size)).name, alias)
          case 3 => SumCol(numCols(rnd.nextInt(numCols.size)), alias)
          case _ =>
            val c = cols(rnd.nextInt(cols.size)).name
            MinMax(c, rnd.nextBoolean(), alias)
        }
      }
      // HAVING rides on a count-family agg (small-int thresholds are
      // meaningful there); 35% of grouped aggregates get one
      val countAggs = aggs.filter(_.countLike)
      val having =
        if (groupCols.nonEmpty && countAggs.nonEmpty && rnd.nextInt(100) < 35)
          Some((countAggs(rnd.nextInt(countAggs.size)), 1L + rnd.nextInt(4)))
        else None
      val orderLimit =
        if (rnd.nextInt(100) < 25) Some(5 + rnd.nextInt(40)) else None
      FuzzQuery(id, chain, joinKinds, pred, groupCols, aggs, Seq.empty,
        distinct = false, Seq.empty, having, orderLimit)
    } else {
      // projection shape: plain columns + 0–2 computed expressions
      val nProj = 2 + rnd.nextInt(3)
      val projCols = rnd.shuffle(cols.map(_.name)).take(nProj)
      val exprCols = (0 until rnd.nextInt(3)).map(oneExpr)
      val orderLimit =
        if (rnd.nextInt(100) < 25) Some(5 + rnd.nextInt(40)) else None
      FuzzQuery(id, chain, joinKinds, pred, Seq.empty, Seq.empty, projCols,
        distinct = rnd.nextInt(100) < 60, exprCols, None, orderLimit)
    }
  }

  // ---- the gate (run by FuzzExec) ----

  type Query = FuzzQuery

  protected def render(spark: SparkSession, dir: String, q: Query): DataFrame =
    q.df(spark, dir)

  /** The differential gate: Spark runs every generated
    * query from its DataFrame rendering; DuckDB runs the same queries
    * from the common-dialect SQL rendering; both reduce to the same
    * 100-row fingerprint frame. A hash mismatch on any row is a
    * semantics divergence in that generated query. */
  def gate: Q = declare(
    "q_fz1_relational_fuzz",
    s"differential fuzz: $NQueries seeded random filter/join/agg/expr/having/limit " +
      "compositions, fingerprint-compared Spark vs DuckDB")
}
