package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import scala.util.Random

/** Differential fuzz over the SUBQUERY-PREDICATE surface — the sixth
  * population beside [[RelFuzz]] (relational), [[TemporalFuzz]],
  * [[StringFuzz]], [[WindowSetFuzz]] and [[GroupingFuzz]]:
  * correlated [NOT] EXISTS, uncorrelated [NOT] IN, and correlated
  * scalar subqueries (count / max). Three quiet-divergence classes
  * live here:
  *
  *  - **`NOT IN` three-valued logic**: a NULL in the subquery makes
  *    every membership test UNKNOWN (empty result); a NULL outer
  *    operand is likewise dropped; an EMPTY subquery keeps every row
  *    including NULL operands. Nullable operands are id-cycled on both
  *    sides so the gate population is guaranteed to exercise each arm.
  *  - **COUNT decorrelation**: a correlated
  *    `(SELECT count(*) …)` must yield 0 — not NULL — for outer rows
  *    with no match (the classic COUNT-bug of subquery decorrelation).
  *  - **EXISTS vs IN multiplicity**: semi-join semantics never
  *    duplicate outer rows however many inner matches exist.
  *
  * The DataFrame side never writes a subquery (the API has none): it
  * renders the DECOMPOSED plans — semi/anti joins for EXISTS, the
  * [[Subqueries]] membership forms (including the shuffle-scale
  * `notIn` decomposition, exercised against Spark's own broadcast-only
  * null-aware anti join by the DF≡SQL property), and
  * aggregate-then-left-join + coalesce for the scalar forms. The gate
  * (q_fz6) then pins Spark-vs-DuckDB agreement on the same SQL.
  */
object SubqueryFuzz extends FuzzExec.Frames {

  val NQueries = 60
  val GateSeed = 20260816L

  // ---- metadata ----

  /** An (outer, inner) table pair with its equality correlation key
    * and per-side predicate / expression seeds. */
  private final case class PairMeta(outer: String, inner: String,
      okey: String,                       // projected outer id column
      ojk: String, ijk: String,           // correlation key (equality)
      oPreds: Seq[String], iPreds: Seq[String],
      oInts: Seq[String], iInts: Seq[String],
      oStr: String)

  private val pairs = Seq(
    PairMeta("orders", "customer", "o_orderkey", "o_custkey", "c_custkey",
      oPreds = Seq("o_orderstatus = 'O'", "o_orderkey % 3 = 1", "o_custkey % 2 = 0"),
      iPreds = Seq("c_mktsegment = 'BUILDING'", "c_nationkey % 3 = 1", "c_custkey % 2 = 0"),
      oInts = Seq("o_custkey", "o_orderkey % 200", "o_custkey % 30"),
      iInts = Seq("c_custkey", "c_nationkey", "c_custkey % 30"),
      oStr = "o_orderpriority"),
    PairMeta("customer", "orders", "c_custkey", "c_custkey", "o_custkey",
      oPreds = Seq("c_mktsegment = 'AUTOMOBILE'", "c_nationkey % 4 = 2", "c_custkey % 3 = 0"),
      iPreds = Seq("o_orderstatus = 'F'", "o_orderkey % 5 = 0", "o_custkey % 2 = 1"),
      oInts = Seq("c_nationkey", "c_custkey % 40"),
      iInts = Seq("o_custkey", "o_orderkey % 40", "o_custkey % 40"),
      oStr = "c_mktsegment"),
    PairMeta("orders", "lineitem", "o_orderkey", "o_orderkey", "l_orderkey",
      oPreds = Seq("o_orderstatus = 'O'", "o_custkey % 3 = 0"),
      iPreds = Seq("l_returnflag = 'R'", "l_linenumber % 2 = 0", "l_suppkey % 3 = 1"),
      oInts = Seq("o_custkey % 25", "o_orderkey % 25"),
      iInts = Seq("l_suppkey % 25", "l_partkey % 25"),
      oStr = "o_orderstatus"))

  // ---- query shapes ----

  sealed trait SQuery extends FuzzExec.Generated {
    def commonSql: String
    def duckSql: String = commonSql
    def df(spark: SparkSession, dir: String): DataFrame
  }

  private def read(spark: SparkSession, dir: String, t: String): DataFrame =
    Tables.t(spark, dir, t)

  /** Correlated [NOT] EXISTS with an inner predicate, optional outer
    * predicate; output = (okey, p_0 string projection). */
  private final case class ExistsQ(id: Int, m: PairMeta, negated: Boolean,
      iPred: String, oPred: Option[String]) extends SQuery {
    def outCols = Seq(m.okey, "p_0")
    def commonSql: String = {
      val ex = s"${if (negated) "NOT " else ""}EXISTS (SELECT 1 FROM ${m.inner} " +
        s"WHERE ${m.inner}.${m.ijk} = ${m.outer}.${m.ojk} AND $iPred)"
      val w = oPred.fold(ex)(p => s"$ex AND $p")
      s"SELECT ${m.okey}, ${m.oStr} AS p_0 FROM ${m.outer} WHERE $w"
    }
    def df(spark: SparkSession, dir: String): DataFrame = {
      val o = oPred.fold(read(spark, dir, m.outer))(p => read(spark, dir, m.outer).filter(expr(p)))
      val i = read(spark, dir, m.inner).filter(expr(iPred))
      o.join(i, o(m.ojk) === i(m.ijk), if (negated) "left_anti" else "left_semi")
        .select(col(m.okey), col(m.oStr).as("p_0"))
    }
  }

  /** Uncorrelated [NOT] IN over integer expressions; `oNull`/`iNull`
    * route the operands through nullif (the three-valued arms). */
  private final case class InQ(id: Int, m: PairMeta, negated: Boolean,
      oExpr: String, iExpr: String, iPred: String) extends SQuery {
    def outCols = Seq(m.okey, "p_0")
    def commonSql: String =
      s"SELECT ${m.okey}, ${m.oStr} AS p_0 FROM ${m.outer} WHERE $oExpr " +
        s"${if (negated) "NOT " else ""}IN (SELECT $iExpr FROM ${m.inner} WHERE $iPred)"
    def df(spark: SparkSession, dir: String): DataFrame = {
      val o = read(spark, dir, m.outer)
      val sub = read(spark, dir, m.inner).filter(expr(iPred)).select(expr(iExpr).as("v"))
      val kept =
        if (negated) Subqueries.notIn(o, expr(oExpr), sub)
        else Subqueries.in(o, expr(oExpr), sub)
      kept.select(col(m.okey), col(m.oStr).as("p_0"))
    }
  }

  /** Correlated scalar subquery: count(*) (coalesced to 0 — the
    * COUNT-bug arm) or max(expr) (NULL on no match). */
  private final case class ScalarQ(id: Int, m: PairMeta, isCount: Boolean,
      iExpr: String, iPred: String) extends SQuery {
    def outCols = Seq(m.okey, "c_0")
    def commonSql: String = {
      val body = if (isCount) "CAST(count(*) AS BIGINT)"
        else s"CAST(max($iExpr) AS BIGINT)"
      s"SELECT ${m.okey}, (SELECT $body FROM ${m.inner} " +
        s"WHERE ${m.inner}.${m.ijk} = ${m.outer}.${m.ojk} AND $iPred) AS c_0 FROM ${m.outer}"
    }
    def df(spark: SparkSession, dir: String): DataFrame = {
      val o = read(spark, dir, m.outer)
      val aggCol = if (isCount) count(lit(1)).cast(LongType).as("__sq_agg")
        else max(expr(iExpr)).cast(LongType).as("__sq_agg")
      val agg = read(spark, dir, m.inner).filter(expr(iPred))
        .groupBy(col(m.ijk).as("__sq_k")).agg(aggCol)
      val joined = o.join(agg, o(m.ojk) === col("__sq_k"), "left")
      val value = if (isCount) coalesce(col("__sq_agg"), lit(0L)) else col("__sq_agg")
      joined.select(col(m.okey), value.as("c_0"))
    }
  }

  // ---- the seeded population ----

  def queries(seed: Long, n: Int): Seq[SQuery] =
    (0 until n).map { i => gen(i, new Random(seed + i)) }

  private def gen(id: Int, rnd: Random): SQuery = {
    val m = pairs(rnd.nextInt(pairs.size))
    val pick = rnd.nextInt(100)
    // the null-trap ids are FORCED into the membership family so every
    // three-valued arm is a population guarantee, not a coin flip:
    //   id%6==0 → nullable OUTER operand (NULL x never satisfies IN
    //             and never survives NOT IN); IN/NOT IN alternate
    //             deterministically via id%12
    //   id%6==3 → nullable INNER operand under NOT IN (a NULL element
    //             empties the result entirely — the classic trap)
    val family =
      if (id % 6 == 0 || id % 6 == 3) 1
      else if (pick < 35) 0 else if (pick < 70) 1 else 2
    family match {
      case 0 =>
        ExistsQ(id, m, negated = rnd.nextBoolean(),
          iPred = m.iPreds(rnd.nextInt(m.iPreds.size)),
          oPred = if (rnd.nextBoolean()) Some(m.oPreds(rnd.nextInt(m.oPreds.size))) else None)
      case 1 =>
        // matched-domain membership: both operands reduced to the same
        // modulus so match rates stay non-degenerate
        val mod = 5 + rnd.nextInt(25)
        val oBase = s"${m.oInts(rnd.nextInt(m.oInts.size)).split(" ").head} % $mod"
        val iBase = s"${m.iInts(rnd.nextInt(m.iInts.size)).split(" ").head} % $mod"
        val oExpr = if (id % 6 == 0) s"nullif($oBase, ${rnd.nextInt(mod)})" else oBase
        val iExpr = if (id % 6 == 3) s"nullif($iBase, ${rnd.nextInt(mod)})" else iBase
        val negated =
          if (id % 6 == 0) id % 12 != 0
          else if (id % 6 == 3) true
          else rnd.nextBoolean()
        InQ(id, m, negated, oExpr, iExpr,
          iPred = m.iPreds(rnd.nextInt(m.iPreds.size)))
      case _ =>
        ScalarQ(id, m, isCount = rnd.nextBoolean(),
          iExpr = m.iInts(rnd.nextInt(m.iInts.size)),
          iPred = m.iPreds(rnd.nextInt(m.iPreds.size)))
    }
  }

  // ---- the gate (run by FuzzExec) ----

  type Query = SQuery

  protected def render(spark: SparkSession, dir: String, q: Query): DataFrame =
    q.df(spark, dir)

  /** q_fz6 — the subquery-predicate differential gate. */
  def gate: Q = declare(
    "q_fz6_subquery_fuzz",
    s"subquery differential fuzz: $NQueries seeded correlated " +
      "[NOT] EXISTS / [NOT] IN with three-valued NULL arms / correlated scalar " +
      "count+max, fingerprint-compared Spark vs DuckDB")
}
