package graft.operators

import graft.Q

import scala.util.Random

/** Differential fuzz over LATERAL subqueries in FROM — the
  * twenty-second population, and a planner surface none of the earlier
  * ones reach: Spark DECORRELATES every lateral into a join
  * (DecorrelateInnerQuery / DomainJoin), so each arm gates a whole
  * rewrite pipeline, not just expression evaluation. [[SubqueryFuzz]]
  * covers WHERE-clause subqueries (EXISTS/IN/scalar); this one covers
  * the FROM-clause laterals: scalar projection chains (a lateral
  * referencing a previous lateral's column), correlated ungrouped
  * aggregates, correlated row laterals under both CROSS (comma) and
  * LEFT JOIN LATERAL multiplicity, top-k-per-outer-row (inner ORDER
  * BY + LIMIT), and GROUP BY inside a lateral.
  *
  * Probed DIVERGENCE class (compensated, not generated around):
  * DuckDB 1.0's comma-lateral over an UNGROUPED non-count aggregate
  * DROPS outer rows with no inner match (`max(b) WHERE a = t.v` loses
  * the row), where Spark follows the standard — an ungrouped
  * aggregate produces exactly one row, so the cross lateral keeps
  * every outer row with a NULL. DuckDB's own `count(*)` comma-lateral
  * KEEPS the row (the COUNT-bug asymmetry, probed side by side) — so
  * every ungrouped-aggregate arm renders the DuckDB twin as
  * `LEFT JOIN LATERAL (…) ON true`, which is probed ≡ Spark's comma
  * form for every aggregate. GROUP BY inside the lateral drops
  * empty groups in BOTH engines (probed) — those arms stay comma on
  * both sides.
  *
  * Determinism: outer tables are the verified-unique-key orders /
  * customer (the fz21 lineitem lesson); top-k arms ORDER the inner
  * subquery by its unique key so the LIMIT-k set is total-order
  * determined; row laterals emit the inner key itself, making the
  * output multiset join-determined with no order sensitivity. */
object LateralFuzz extends FuzzExec.Views {

  val NQueries = 32
  val GateSeed = 20261019L

  protected def sparkView(t: String) = s"__fz22_$t"

  final case class LQuery(id: Int, sparkSql: String, duckSql: String,
      outCols: Seq[String]) extends FuzzExec.SqlGenerated

  def queries(seed: Long, n: Int): Seq[LQuery] =
    (0 until n).map(i => gen(i, new Random(seed * 307 + i)))

  /** Outer/inner table pairs with a real FK-ish correlation and a
    * modular (hit-and-miss) one; all keys verified unique. */
  private final case class Pair(outer: String, oKey: String, oNum: String,
      oPred: String, inner: String, iKey: String, iNum: String,
      corrEq: String => String, corrMiss: String => String)
  private def pairs = Seq(
    Pair("orders", "o_orderkey", "o_custkey", "o_orderstatus = 'O'",
      "customer", "c_custkey", "c_nationkey",
      o => s"c_custkey = $o.o_custkey",
      o => s"c_custkey = ($o.o_custkey % 2000) * 3 + 1"),
    Pair("customer", "c_custkey", "c_nationkey", "c_mktsegment = 'BUILDING'",
      "orders", "o_orderkey", "o_custkey",
      o => s"o_custkey = $o.c_custkey",
      o => s"o_custkey = ($o.c_custkey % 97) * 5 + 2"))

  private def gen(id: Int, rnd: Random): LQuery = {
    val p = pairs(rnd.nextInt(pairs.size))
    val where =
      if (rnd.nextDouble() < 0.4) s" WHERE t.${p.oPred}" else ""
    val k = s"CAST(t.${p.oKey} AS BIGINT)"
    (id % 4) match {
      case 0 =>
        // scalar lateral chain: l2 reads l1's column AND the outer row
        val m1 = 3 + rnd.nextInt(97)
        val m2 = 2 + rnd.nextInt(9)
        val sql = (tbl: String) =>
          s"SELECT $k AS k, CAST(l2.y AS BIGINT) AS a_0 FROM $tbl t, " +
            s"LATERAL (SELECT t.${p.oNum} % $m1 AS x) l1, " +
            s"LATERAL (SELECT l1.x * $m2 + t.${p.oKey} % 7 AS y) l2$where"
        LQuery(id, sql(sparkView(p.outer)), sql(p.outer), Seq("k", "a_0"))
      case 1 =>
        // correlated ungrouped aggregate: Spark comma-lateral keeps
        // every outer row (standard one-row aggregate); the DuckDB
        // twin MUST be LEFT JOIN LATERAL — its comma form drops
        // no-match rows for non-count aggregates (probed)
        val fn = Seq("max", "min", "count", "sum")(rnd.nextInt(4))
        val corr = if (rnd.nextBoolean()) p.corrEq("t") else p.corrMiss("t")
        val inner = (tbl: String) =>
          s"(SELECT CAST($fn(${p.iNum} % 1000) AS BIGINT) AS m FROM $tbl WHERE $corr)"
        LQuery(id,
          s"SELECT $k AS k, l.m AS a_0 FROM ${sparkView(p.outer)} t, " +
            s"LATERAL ${inner(sparkView(p.inner))} l$where",
          s"SELECT $k AS k, l.m AS a_0 FROM ${p.outer} t LEFT JOIN " +
            s"LATERAL ${inner(p.inner)} l ON true$where",
          Seq("k", "a_0"))
      case 2 =>
        // correlated row lateral: CROSS drops no-match outer rows,
        // LEFT keeps them with NULL — both forms id-cycled, rendered
        // identically in both engines (probed equal)
        val corr = if (rnd.nextBoolean()) p.corrEq("t") else p.corrMiss("t")
        val left = (id / 4) % 2 == 1
        val inner = (tbl: String) =>
          s"(SELECT CAST(${p.iKey} AS BIGINT) AS ik FROM $tbl WHERE $corr)"
        val join = (tbl: String, in: String) =>
          if (left) s"$tbl t LEFT JOIN LATERAL $in l ON true"
          else s"$tbl t, LATERAL $in l"
        LQuery(id,
          s"SELECT $k AS k, l.ik AS a_0 FROM " +
            s"${join(sparkView(p.outer), inner(sparkView(p.inner)))}$where",
          s"SELECT $k AS k, l.ik AS a_0 FROM " +
            s"${join(p.outer, inner(p.inner))}$where",
          Seq("k", "a_0"))
      case _ =>
        // always the customer→orders pair: an eq-correlation against
        // the inner UNIQUE key (the other pair) matches ≤ 1 row, which
        // makes LIMIT-k and GROUP BY vacuous — this inner is multi-row
        val pm = pairs(1)
        val k = s"CAST(t.${pm.oKey} AS BIGINT)"
        val where =
          if (rnd.nextDouble() < 0.4) s" WHERE t.${pm.oPred}" else ""
        if ((id / 4) % 2 == 0) {
          // top-k per outer row: inner ORDER BY its unique key, LIMIT n
          val n = 1 + rnd.nextInt(3)
          val corr = pm.corrEq("t")
          val dir = if (rnd.nextBoolean()) "DESC" else "ASC"
          val inner = (tbl: String) =>
            s"(SELECT CAST(${pm.iKey} AS BIGINT) AS ik FROM $tbl " +
              s"WHERE $corr ORDER BY ${pm.iKey} $dir LIMIT $n)"
          val sql = (tbl: String, in: String) =>
            s"SELECT $k AS k, l.ik AS a_0 FROM $tbl t, LATERAL $in l$where"
          LQuery(id, sql(sparkView(pm.outer), inner(sparkView(pm.inner))),
            sql(pm.outer, inner(pm.inner)), Seq("k", "a_0"))
        } else {
          // GROUP BY inside the lateral: empty groups drop in BOTH
          // engines (probed) — comma form on both sides
          val corr = pm.corrEq("t")
          val m = 2 + rnd.nextInt(5)
          val inner = (tbl: String) =>
            s"(SELECT ${pm.iNum} % $m AS g, " +
              s"CAST(count(*) AS BIGINT) AS c FROM $tbl WHERE $corr " +
              s"GROUP BY ${pm.iNum} % $m)"
          val sql = (tbl: String, in: String) =>
            s"SELECT $k AS k, CAST(l.g AS BIGINT) AS a_0, l.c AS a_1 " +
              s"FROM $tbl t, LATERAL $in l$where"
          LQuery(id, sql(sparkView(pm.outer), inner(sparkView(pm.inner))),
            sql(pm.outer, inner(pm.inner)), Seq("k", "a_0", "a_1"))
        }
    }
  }

  // ---- the gate (run by FuzzExec) ----

  type Query = LQuery

  protected def viewTables: Seq[String] = Seq("orders", "customer")

  /** q_fz22 — the LATERAL subquery differential gate. */
  def gate: Q = declare(
    "q_fz22_lateral_fuzz",
    s"LATERAL subquery fuzz: $NQueries seeded FROM-clause " +
      "laterals — scalar chains, correlated ungrouped aggregates (DuckDB " +
      "twin LEFT JOIN LATERAL, compensating its comma-form no-match drop), " +
      "row laterals under CROSS and LEFT multiplicity, top-k-per-outer-row, " +
      "GROUP BY inside the lateral — fingerprint-compared Spark vs DuckDB")
}
