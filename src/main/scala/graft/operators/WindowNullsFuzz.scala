package graft.operators

import graft.Q

import scala.util.Random

/** Differential fuzz over the IGNORE NULLS window modifier — the
  * twenty-first population. fz4 covers `lead`/`lag`/`first_value`/
  * `last_value`/`nth_value` in their default RESPECT NULLS form; the
  * IGNORE NULLS variant (the LOCF / gap-fill workhorse — q_ev4 gates
  * ONE production shape) was otherwise uncovered, yet it changes the
  * function's entire selection semantics: `lead(v, n) IGNORE NULLS`
  * is the n-th NON-NULL value after the current row, not the value n
  * rows ahead.
  *
  * Dual-rendering (all probed live in both engines first):
  *
  *  - DuckDB 1.0 parses IGNORE NULLS only INSIDE the call and only
  *    for single-argument functions — `first_value(v IGNORE NULLS)`
  *    works; `lead(v, 1) IGNORE NULLS`, `lead(v IGNORE NULLS, 1)`
  *    and `nth_value(v IGNORE NULLS, 2)` are all parse errors. So
  *    first/last arms use DuckDB's NATIVE in-paren form, and the
  *    multi-argument functions render ANALYTICALLY as a filtered
  *    window list — the n-th non-null after the current row is
  *    `(list(v) FILTER (v IS NOT NULL) OVER (… ROWS BETWEEN 1
  *    FOLLOWING AND UNBOUNDED FOLLOWING))[n]`, lag is `[-n]` over
  *    `UNBOUNDED PRECEDING AND 1 PRECEDING`, and nth_value over a
  *    frame F is `[n]` over F (list order = frame order; out-of-range
  *    indexing NULLs — probed element-exact on nullable fixtures,
  *    including the empty-list edge).
  *  - Spark's SQL form is postfix (`lead(v, 1) IGNORE NULLS OVER …`);
  *    lead/lag DEFAULTS substitute only when no qualifying row
  *    exists, which coalesce over the filtered list reproduces
  *    exactly for NON-NULL defaults (the only kind generated).
  *  - Spark has no frame EXCLUDE clause (probed: parse error), so
  *    DuckDB's EXCLUDE surface has no Spark twin and stays out of
  *    scope.
  *
  * Determinism: every OVER carries a UNIQUE order key (the fz1/fz4
  * discipline), so the row sequence — and hence which values are
  * skipped as NULL — is total-order-determined in both engines. Tail
  * frames (bounded-lo / UNBOUNDED FOLLOWING) are never generated:
  * first/last/nth are order-sensitive, so [[graft.plans
  * .TailFrameRewrite]] correctly refuses them and the quadratic
  * frame would be the gate's own cost — running and sliding frames
  * only (the q_fz4 policy). */
object WindowNullsFuzz extends FuzzExec.Views {

  val NQueries = 32
  val GateSeed = 20261011L

  /** orders + customer ONLY: every function here is order-SENSITIVE,
    * so the OVER needs a truly total order — and the synthetic
    * lineitem has none (its (l_orderkey, l_linenumber) pairs COLLIDE:
    * 11,785 duplicates at sf0.01, measured — a q3/q8/q22 first-run
    * sf0.01 gate failure caught it; the sf0.001 pass was stable-sort
    * luck, which neither engine contracts). o_orderkey / c_custkey
    * are verified duplicate-free at sf0.001/0.01/0.1. */
  private final case class WTable(name: String, key: String,
      nums: Seq[String], str: String, preds: Seq[String])
  private def tables = Seq(
    WTable("orders", "o_orderkey",
      Seq("o_custkey", "o_orderkey"), "o_orderstatus",
      Seq("o_orderstatus = 'O'", "o_orderkey % 3 = 1")),
    WTable("customer", "c_custkey",
      Seq("c_nationkey", "c_custkey"), "c_mktsegment",
      Seq("c_mktsegment = 'BUILDING'", "c_custkey % 2 = 0")))

  protected def sparkView(t: String) = s"__fz21_$t"

  final case class WQuery(id: Int, sparkSql: String, duckSql: String,
      outCols: Seq[String]) extends FuzzExec.SqlGenerated

  def queries(seed: Long, n: Int): Seq[WQuery] =
    (0 until n).map(i => gen(i, new Random(seed * 211 + i)))

  /** A nullable value expression shared by both dialects: NULL on a
    * data-dependent residue of one column, a small BIGINT of another
    * otherwise (decorrelated so skipped values are non-trivial). */
  private def nullableVal(t: WTable, rnd: Random): String = {
    val cNull = t.nums(rnd.nextInt(t.nums.size))
    val cVal = t.nums(rnd.nextInt(t.nums.size))
    val m = 2 + rnd.nextInt(4)
    val r = rnd.nextInt(m)
    s"CASE WHEN $cNull % $m = $r THEN NULL ELSE CAST($cVal % 1000 AS BIGINT) END"
  }

  private def gen(id: Int, rnd: Random): WQuery = {
    val t = tables(rnd.nextInt(tables.size))
    val g = t.nums(rnd.nextInt(t.nums.size))
    val part = s"$g % 4"
    val k = s"CAST(${t.key} AS BIGINT)"
    val over = s"PARTITION BY $part ORDER BY ${t.key} ASC"
    val v = nullableVal(t, rnd)
    val where =
      if (rnd.nextDouble() < 0.4) s" WHERE ${t.preds(rnd.nextInt(t.preds.size))}"
      else ""
    def q(sparkExpr: String, duckExpr: String) = WQuery(id,
      s"SELECT $k AS k, $sparkExpr AS a_0 FROM ${sparkView(t.name)}$where",
      s"SELECT $k AS k, $duckExpr AS a_0 FROM ${t.name}$where",
      Seq("k", "a_0"))
    /** n-th non-null strictly after (lead) / before (lag) the current
      * row, as a filtered window list. */
    def filteredList(frame: String) =
      s"list($v) FILTER ($v IS NOT NULL) OVER ($over ROWS BETWEEN $frame)"
    (id % 4) match {
      case 0 =>
        // lead / lag IGNORE NULLS, offsets 1–3, alternating a non-null
        // DEFAULT (substituted only when no qualifying row exists —
        // coalesce over the filtered list reproduces it exactly)
        val n = 1 + rnd.nextInt(3)
        val isLead = rnd.nextBoolean()
        val dflt = if ((id / 4) % 2 == 0) Some(rnd.nextInt(100)) else None
        val fn = if (isLead) "lead" else "lag"
        val args = dflt.fold(s"$v, $n")(d => s"$v, $n, $d")
        val frame =
          if (isLead) "1 FOLLOWING AND UNBOUNDED FOLLOWING"
          else "UNBOUNDED PRECEDING AND 1 PRECEDING"
        val idx = if (isLead) s"$n" else s"-$n"
        val pick = s"(${filteredList(frame)})[$idx]"
        q(s"$fn($args) IGNORE NULLS OVER ($over)",
          dflt.fold(pick)(d => s"coalesce($pick, $d)"))
      case 1 =>
        // first_value / last_value IGNORE NULLS over running and
        // sliding frames — DuckDB's NATIVE in-paren form
        val isLast = rnd.nextBoolean()
        val fn = if (isLast) "last_value" else "first_value"
        val j = 1 + rnd.nextInt(4)
        val frame = (id / 4) % 2 match {
          case 0 => "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
          case _ => s"ROWS BETWEEN $j PRECEDING AND $j FOLLOWING"
        }
        q(s"$fn($v) IGNORE NULLS OVER ($over $frame)",
          s"$fn($v IGNORE NULLS) OVER ($over $frame)")
      case 2 =>
        // nth_value IGNORE NULLS over running/sliding frames — the
        // filtered-list [n] render (frame order = list order)
        val n = 1 + rnd.nextInt(3)
        val j = 2 + rnd.nextInt(3)
        val frame = (id / 4) % 2 match {
          case 0 => "UNBOUNDED PRECEDING AND CURRENT ROW"
          case _ => s"$j PRECEDING AND $j FOLLOWING"
        }
        q(s"nth_value($v, $n) IGNORE NULLS OVER ($over ROWS BETWEEN $frame)",
          s"(${filteredList(frame)})[$n]")
      case _ =>
        // RESPECT-vs-IGNORE contrast arm: both modifiers of the SAME
        // call in one projection — the plain form is the control that
        // keeps the population honest about the modifier actually
        // changing values (asserted in the spec)
        val j = 1 + rnd.nextInt(3)
        val frame = s"ROWS BETWEEN $j PRECEDING AND CURRENT ROW"
        WQuery(id,
          s"SELECT $k AS k, first_value($v) OVER ($over $frame) AS a_0, " +
            s"first_value($v) IGNORE NULLS OVER ($over $frame) AS a_1 " +
            s"FROM ${sparkView(t.name)}$where",
          s"SELECT $k AS k, first_value($v) OVER ($over $frame) AS a_0, " +
            s"first_value($v IGNORE NULLS) OVER ($over $frame) AS a_1 " +
            s"FROM ${t.name}$where",
          Seq("k", "a_0", "a_1"))
    }
  }

  // ---- the gate (run by FuzzExec) ----

  type Query = WQuery

  protected def viewTables: Seq[String] = tables.map(_.name)

  /** q_fz21 — the IGNORE NULLS window differential gate. */
  def gate: Q = declare(
    "q_fz21_window_nulls_fuzz",
    s"IGNORE NULLS window fuzz: $NQueries seeded " +
      "lead/lag/nth_value/first_value/last_value IGNORE NULLS queries over " +
      "running and sliding frames with data-dependent NULL patterns, " +
      "dual-rendered (DuckDB native in-paren form for first/last, filtered " +
      "window lists for the multi-arg functions), fingerprint-compared")
}
