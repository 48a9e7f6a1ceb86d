package graft.operators

import graft.Q

import scala.util.Random

/** Differential fuzz over RECURSIVE CTEs — the twenty-third
  * population, covering the iterative-plan surface Spark gained in
  * 4.x (`WITH RECURSIVE` executes as a loop of unioned increments, a
  * wholly different executor path from everything the other
  * populations reach). Four shapes, all UNION ALL with an explicit
  * depth/step guard so termination is structural:
  *
  *  - linear recurrences `v' = (v·a + b) % m` over a step bound, the
  *    anchor seeded from a DATA-dependent scalar subquery (count over
  *    a filtered table) so the series differs per SF;
  *  - graph closure over an edge CTE DERIVED from orders (two modular
  *    edge rules, deduplicated), multi-seed anchor, depth-bounded —
  *    outdegree ≤ 2 and depth ≤ 4 keep the UNION ALL path count
  *    ≤ 2^4 per seed;
  *  - hierarchy walk: every customer key maps to a leaf ≤ 1024 and
  *    climbs `v' = floor(v / 2)` to the root, emitting (leaf, v,
  *    depth) — anchor multiplicity (colliding leaves) flows through
  *    the recursion identically in both engines;
  *  - string accumulation `t' = t || digit(n)` with the anchor digit
  *    data-seeded.
  *
  * Probed Spark constraints the generator encodes (each found by a
  * live probe failing first):
  *
  *  - anchor and step column types must match EXACTLY — Spark's
  *    recursive union does NOT coerce (`CANNOT_MERGE_INCOMPATIBLE_
  *    DATA_TYPE "INT" vs "BIGINT"`), so every numeric column is
  *    CAST(... AS BIGINT) in BOTH the anchor and the step;
  *  - UNION (distinct) recursion is not reliably supported — only
  *    UNION ALL arms are generated;
  *  - a WITH RECURSIVE list may mix non-recursive CTEs (the edge
  *    derivation) with the recursive one — probed in both engines.
  *
  * The only dialect split is the string cast (Spark `AS STRING`,
  * DuckDB `AS VARCHAR`); everything else renders from one template. */
object RecursiveFuzz extends FuzzExec.Views {

  val NQueries = 28
  val GateSeed = 20261027L

  protected def sparkView(t: String) = s"__fz23_$t"

  final case class RQuery(id: Int, sparkSql: String, duckSql: String,
      outCols: Seq[String]) extends FuzzExec.SqlGenerated

  def queries(seed: Long, n: Int): Seq[RQuery] =
    (0 until n).map(i => gen(i, new Random(seed * 401 + i)))

  private val preds = Map(
    "orders" -> Seq("o_orderstatus = 'O'", "o_orderkey % 3 = 1", "o_custkey % 2 = 0"),
    "customer" -> Seq("c_mktsegment = 'BUILDING'", "c_custkey % 2 = 0", "c_nationkey < 12"))

  /** Both renderings from one template: `str` is the only dialect
    * split. */
  private def render(id: Int, outCols: Seq[String])
      (tmpl: (String => String, String => String) => String): RQuery = {
    val spark = tmpl(t => sparkView(t), x => s"CAST($x AS STRING)")
    val duck = tmpl(identity, x => s"CAST($x AS VARCHAR)")
    RQuery(id, spark, duck, outCols)
  }

  private def gen(id: Int, rnd: Random): RQuery = {
    val v = (id / 4) % 7
    (id % 4) match {
      case 0 =>
        // linear recurrence, data-seeded anchor
        val t = if (rnd.nextBoolean()) "orders" else "customer"
        val pred = preds(t)(rnd.nextInt(3))
        val (a, b, m) = (2 + rnd.nextInt(7), 1 + rnd.nextInt(99), 101 + rnd.nextInt(899))
        val steps = 5 + rnd.nextInt(16)
        render(id, Seq("n", "v")) { (tbl, _) =>
          s"WITH RECURSIVE s(n, v) AS (" +
            s"SELECT CAST(0 AS BIGINT), (SELECT CAST(count(*) % $m AS BIGINT) " +
            s"FROM ${tbl(t)} WHERE $pred) " +
            s"UNION ALL SELECT CAST(n + 1 AS BIGINT), " +
            s"CAST((v * $a + $b) % $m AS BIGINT) FROM s WHERE n < $steps) " +
            s"SELECT n, v FROM s"
        }
      case 1 =>
        // graph closure over an orders-derived edge CTE
        val k = 20 + rnd.nextInt(60)
        val (c1, c2) = (3 + rnd.nextInt(8), 5 + rnd.nextInt(8))
        val depth = 2 + rnd.nextInt(3)
        val seedMod = 3 + rnd.nextInt(4)
        val r = rnd.nextInt(seedMod)
        // the edge dedup is ONE DISTINCT over UNION ALL, never a
        // UNION of branches: DuckDB 1.0 re-applies a UNION-dedup'd
        // CTE as if UNION ALL when it is referenced from inside a
        // recursion — an edge produced by BOTH rules joined twice and
        // duplicated the closure row (caught by this gate's first
        // run, 5/28 mismatching, one path double-counted; the
        // standalone CTE dedups correctly and AS MATERIALIZED does
        // NOT fix it — probed all three forms)
        render(id, Seq("seed", "v", "d")) { (tbl, _) =>
          s"WITH RECURSIVE ed AS (" +
            s"SELECT DISTINCT src, dst FROM (" +
            s"SELECT CAST(o_orderkey % $k AS BIGINT) AS src, " +
            s"CAST((o_orderkey * $c1 + 1) % $k AS BIGINT) AS dst FROM ${tbl("orders")} " +
            s"UNION ALL SELECT CAST(o_orderkey % $k AS BIGINT), " +
            s"CAST((o_orderkey * $c2 + 2) % $k AS BIGINT) FROM ${tbl("orders")}) __e), " +
            s"reach(seed, v, d) AS (" +
            s"SELECT src, src, CAST(0 AS BIGINT) FROM " +
            s"(SELECT DISTINCT src FROM ed WHERE src % $seedMod = $r) __s " +
            s"UNION ALL SELECT reach.seed, ed.dst, CAST(d + 1 AS BIGINT) " +
            s"FROM reach JOIN ed ON ed.src = reach.v WHERE d < $depth) " +
            s"SELECT seed, v, d FROM reach"
        }
      case 2 =>
        // hierarchy walk to the root, anchor multiplicity preserved
        val leafMod = 256 << rnd.nextInt(3) // 256 / 512 / 1024
        val pred = preds("customer")(rnd.nextInt(3))
        render(id, Seq("leaf", "v", "d")) { (tbl, _) =>
          s"WITH RECURSIVE up(leaf, v, d) AS (" +
            s"SELECT CAST(c_custkey % $leafMod + 1 AS BIGINT), " +
            s"CAST(c_custkey % $leafMod + 1 AS BIGINT), CAST(0 AS BIGINT) " +
            s"FROM ${tbl("customer")} WHERE $pred " +
            s"UNION ALL SELECT leaf, CAST(floor(v / 2.0) AS BIGINT), " +
            s"CAST(d + 1 AS BIGINT) FROM up WHERE v > 1) " +
            s"SELECT leaf, v, d FROM up"
        }
      case _ =>
        // string accumulation, data-seeded first digit
        val t = if (rnd.nextBoolean()) "orders" else "customer"
        val pred = preds(t)(rnd.nextInt(3))
        val steps = 4 + rnd.nextInt(8)
        val mul = 3 + rnd.nextInt(6)
        render(id, Seq("n", "t")) { (tbl, str) =>
          s"WITH RECURSIVE s(n, t) AS (" +
            s"SELECT CAST(1 AS BIGINT), (SELECT ${str(s"count(*) % 10")} " +
            s"FROM ${tbl(t)} WHERE $pred) " +
            s"UNION ALL SELECT CAST(n + 1 AS BIGINT), " +
            s"t || ${str(s"(n * $mul) % 10")} FROM s WHERE n < $steps) " +
            s"SELECT n, t FROM s"
        }
    }
  }

  // ---- the gate (run by FuzzExec) ----

  type Query = RQuery

  protected def viewTables: Seq[String] = Seq("orders", "customer")

  /** q_fz23 — the RECURSIVE CTE differential gate. */
  def gate: Q = declare(
    "q_fz23_recursive_fuzz",
    s"RECURSIVE CTE fuzz: $NQueries seeded UNION ALL " +
      "recursions — data-seeded linear recurrences, depth-bounded graph " +
      "closure over orders-derived edges, hierarchy walks with anchor " +
      "multiplicity, string accumulation — fingerprint-compared Spark vs " +
      "DuckDB")
}
