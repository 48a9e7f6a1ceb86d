package graft.operators

import graft.Q

import scala.util.Random

/** Differential fuzz over STATISTICAL AGGREGATES — the thirty-first
  * population: `median` / `percentile_cont` / `mode` / the variance
  * family (`var_pop/var_samp/stddev_pop/stddev_samp`) / `covar_*` /
  * `corr` / `regr_slope/intercept/r2` had no coverage anywhere. The
  * reason is the float-exit problem, and the population splits along
  * the fz11 exactness discipline:
  *
  *  - **Exact arms** (hash-gate the VALUE): median and
  *    `percentile_cont(p)` over INTEGER data with DYADIC p
  *    (1/8 grid) interpolate as `a + g·(b−a)` where g is a dyadic
  *    fraction of denominator ≤ 8 — the result lives on the 1/8 grid
  *    and `CAST(x·8 AS BIGINT)` is integral-exact in both engines
  *    (probed: 2.0 / 1.5 / 0.75 identical). `mode` is gated with a
  *    PLANTED STRICT MAJORITY per group (a ⅔-frequency value), since
  *    tie representative is engine-arbitrary.
  *  - **Epsilon-identity arms** (hash-gate a BOOLEAN): the variance/
  *    covariance/correlation/regression values differ across engines
  *    in the last ulps (probed: var_pop …556 vs …554 — different
  *    accumulation orders), so no raw value can meet a hash. Instead
  *    EACH engine compares ITS OWN aggregate against the EXACT
  *    RATIONAL reference computed from ITS OWN integer sums —
  *    `var_samp = (n·Σx² − (Σx)²)/(n(n−1))` etc., numerators exact in
  *    DECIMAL(18,0) factors in BOTH engines (the sums fit to
  *    n ≈ 1.3e14 rows ≈ sf2e7 — sf-stable, not just
  *    small-sf-bounded; see the case-2 comment for the bind-width
  *    argument), divided once in DOUBLE — and emits
  *    `|agg − ref| ≤ 1e-9·max(1,|ref|)` as a string boolean. The gate
  *    then demands both engines say 'true': an implementation that
  *    drifts from its defining formula flips its own row. corr's
  *    denominator product would overflow int64, so its reference is
  *    `num / (sqrt(a)·sqrt(b))` with a,b exact integers cast to
  *    DOUBLE — the same IEEE ops on the same integers in both
  *    engines.
  *
  * skewness/kurtosis are EXCLUDED from the gate by probe: the engines
  * use different CONVENTIONS entirely (Spark population `m₂`-moment
  * forms vs DuckDB bias-corrected sample forms — 0.768 vs 1.331 on
  * the same four rows, and kurtosis −1.0 vs 1.5: excess-population vs
  * sample). Spark's own convention is pinned against exact moments in
  * StatsAggFuzzSpec instead.
  *
  * Degeneracy guards by construction: every grouped arm groups by a
  * residue ≤ 8 over tables with ≥ 150 rows at the smallest sf (n ≥ 2
  * per group, variance > 0 since the value residues cycle), and corr
  * arms derive x and y from DIFFERENT residues so neither is constant
  * and the denominator never vanishes. */
object StatsAggFuzz extends FuzzExec.Views {

  val NQueries = 24
  val GateSeed = 20261601L

  private final case class STable(name: String, key: String, num: String)
  private def tables = Seq(
    STable("orders", "o_orderkey", "o_custkey"),
    STable("customer", "c_custkey", "c_nationkey"),
    STable("lineitem", "l_orderkey", "l_suppkey"))

  protected def sparkView(t: String) = s"__fz31_$t"

  final case class SQuery(id: Int, sparkSql: String, duckSql: String,
      outCols: Seq[String]) extends FuzzExec.SqlGenerated

  def queries(seed: Long, n: Int): Seq[SQuery] =
    (0 until n).map(i => gen(i, new Random(seed * 1013 + i)))

  /** |agg − ref| ≤ 1e-9·max(1,|ref|) rendered per dialect (only the
    * boolean→string cast differs). */
  private def epsOk(agg: String, ref: String, varchar: Boolean): String = {
    val ty = if (varchar) "VARCHAR" else "STRING"
    s"CAST(abs(($agg) - ($ref)) <= 1e-9 * greatest(CAST(1.0 AS DOUBLE), abs($ref)) AS $ty)"
  }

  private def gen(id: Int, rnd: Random): SQuery = {
    val t = tables(rnd.nextInt(tables.size))
    val m = 29 + rnd.nextInt(60)
    val m2 = 17 + rnd.nextInt(30)
    val x = s"CAST(${t.num} % $m AS BIGINT)"
    val y = s"CAST(${t.key} % $m2 AS BIGINT)"
    val g = s"${t.key} % 8"
    val grouped = rnd.nextBoolean()
    val (gSel, gGrp, gCol) =
      if (grouped) (s"CAST($g AS BIGINT) AS k, ", s" GROUP BY $g", Seq("k"))
      else ("", "", Nil)
    (id % 4) match {
      case 0 =>
        // median + percentile_cont on the dyadic grid — value-exact
        val p = Seq("0.5", "0.25", "0.75", "0.125")(rnd.nextInt(4))
        def sel(varchar: Boolean) = s"$gSel" +
          s"CAST(median($x) * 2 AS BIGINT) AS a_0, " +
          s"CAST(percentile_cont($p) WITHIN GROUP (ORDER BY $x) * 8 AS BIGINT) AS a_1, " +
          s"CAST(count(*) AS BIGINT) AS a_2"
        SQuery(id,
          s"SELECT ${sel(varchar = false)} FROM ${sparkView(t.name)}$gGrp",
          s"SELECT ${sel(varchar = true)} FROM ${t.name}$gGrp",
          gCol ++ Seq("a_0", "a_1", "a_2"))
      case 1 =>
        // mode with a planted strict majority: ⅔ of rows carry the
        // majority value, the rest scatter above 2000. Grouped arms
        // plant g·17+5 (constant WITHIN each group); ungrouped arms
        // plant one global constant — per-group values would tie
        // near-uniformly across the whole table and the argmax would
        // be data-noise, not a property
        val planted = if (grouped) s"($g) * 17 + 5" else "500"
        val v = s"CASE WHEN ${t.num} % 3 < 2 THEN $planted " +
          s"ELSE ${t.num} % 997 + 2000 END"
        val sel = s"${gSel}CAST(mode($v) AS BIGINT) AS a_0, " +
          s"CAST(count(*) AS BIGINT) AS a_1"
        SQuery(id,
          s"SELECT $sel FROM ${sparkView(t.name)}$gGrp",
          s"SELECT $sel FROM ${t.name}$gGrp",
          gCol ++ Seq("a_0", "a_1"))
      case 2 =>
        // variance family vs exact rationals — epsilon booleans. The
        // reference factors are the SUM RESULTS cast to DECIMAL(18,0)
        // before the n·Σx² − (Σx)² products: in BIGINT those products
        // overflow above ~3.5e7 rows (x ≤ 87 ⇒ Σx² ≤ 7.6e3·n, so
        // n·Σx² > 2⁶³ at an ungrouped lineitem arm around sf6 — ANSI
        // errors, legacy silently flips the epsilon boolean). As
        // DECIMAL(18,0) factors the products stay exact and bindable
        // in BOTH engines (Spark 18+19+1 = 38; DuckDB widths add,
        // 18+19 = 37 ≤ 38 — DECIMAL(38,0)² would be REJECTED there)
        // up to factors of 1e18, i.e. n ≈ 1.3e14 rows (~sf2e7). The
        // remaining Long in the chain is Spark's inner BIGINT sum,
        // exact to n ≈ 1.2e15 rows — both bounds far beyond any
        // plausible sf, making the gate sf-stable like fz29's.
        val n = "CAST(count(*) AS DECIMAL(18,0))"
        val sx = s"CAST(sum($x) AS DECIMAL(18,0))"
        val sxx = s"CAST(sum(($x) * ($x)) AS DECIMAL(18,0))"
        val refPop = s"CAST($n * $sxx - $sx * $sx AS DOUBLE) / CAST($n * $n AS DOUBLE)"
        val refSamp = s"CAST($n * $sxx - $sx * $sx AS DOUBLE) / CAST($n * ($n - 1) AS DOUBLE)"
        def sel(vc: Boolean) = s"$gSel" +
          s"${epsOk(s"var_pop($x)", refPop, vc)} AS a_0, " +
          s"${epsOk(s"var_samp($x)", refSamp, vc)} AS a_1, " +
          s"${epsOk(s"stddev_pop($x)", s"sqrt($refPop)", vc)} AS a_2, " +
          s"${epsOk(s"stddev_samp($x)", s"sqrt($refSamp)", vc)} AS a_3, " +
          s"CAST(count(*) AS BIGINT) AS a_4"
        SQuery(id,
          s"SELECT ${sel(vc = false)} FROM ${sparkView(t.name)}$gGrp",
          s"SELECT ${sel(vc = true)} FROM ${t.name}$gGrp",
          gCol ++ Seq("a_0", "a_1", "a_2", "a_3", "a_4"))
      case _ =>
        // covariance / correlation / regression vs exact rationals —
        // factors DECIMAL(18,0)-cast for the same overflow headroom
        // as the variance arm (see case 2)
        val n = "CAST(count(*) AS DECIMAL(18,0))"
        val sx = s"CAST(sum($x) AS DECIMAL(18,0))"
        val sy = s"CAST(sum($y) AS DECIMAL(18,0))"
        val sxy = s"CAST(sum(($x) * ($y)) AS DECIMAL(18,0))"
        val sxx = s"CAST(sum(($x) * ($x)) AS DECIMAL(18,0))"
        val syy = s"CAST(sum(($y) * ($y)) AS DECIMAL(18,0))"
        val num = s"($n * $sxy - $sx * $sy)"
        val dx = s"($n * $sxx - $sx * $sx)"
        val dy = s"($n * $syy - $sy * $sy)"
        val refCovP = s"CAST($num AS DOUBLE) / CAST($n * $n AS DOUBLE)"
        val refCovS = s"CAST($num AS DOUBLE) / CAST($n * ($n - 1) AS DOUBLE)"
        // the denominator product would overflow int64 — sqrt each
        // exact factor in DOUBLE (same IEEE ops, same integers, both
        // engines)
        val refCorr = s"CAST($num AS DOUBLE) / (sqrt(CAST($dx AS DOUBLE)) * sqrt(CAST($dy AS DOUBLE)))"
        val refSlope = s"CAST($num AS DOUBLE) / CAST($dx AS DOUBLE)"
        val refIcept = s"(CAST($sy AS DOUBLE) - ($refSlope) * CAST($sx AS DOUBLE)) / CAST($n AS DOUBLE)"
        def sel(vc: Boolean) = s"$gSel" +
          s"${epsOk(s"covar_pop($y, $x)", refCovP, vc)} AS a_0, " +
          s"${epsOk(s"covar_samp($y, $x)", refCovS, vc)} AS a_1, " +
          s"${epsOk(s"corr($y, $x)", refCorr, vc)} AS a_2, " +
          s"${epsOk(s"regr_slope($y, $x)", refSlope, vc)} AS a_3, " +
          s"${epsOk(s"regr_intercept($y, $x)", refIcept, vc)} AS a_4, " +
          s"CAST(count(*) AS BIGINT) AS a_5"
        SQuery(id,
          s"SELECT ${sel(vc = false)} FROM ${sparkView(t.name)}$gGrp",
          s"SELECT ${sel(vc = true)} FROM ${t.name}$gGrp",
          gCol ++ Seq("a_0", "a_1", "a_2", "a_3", "a_4", "a_5"))
    }
  }

  // ---- the gate (run by FuzzExec) ----

  type Query = SQuery

  protected def viewTables: Seq[String] = tables.map(_.name)

  /** q_fz31 — the statistical-aggregate differential gate. */
  def gate: Q = declare(
    "q_fz31_stats_agg",
    s"statistical-aggregate fuzz: $NQueries seeded " +
      "queries — median/percentile_cont value-exact on the dyadic 1/8 " +
      "grid, mode with planted strict majorities, and the variance/" +
      "covariance/correlation/regression family gated as epsilon-" +
      "identity booleans against exact integer-sum rationals (each " +
      "engine vs its own formula — last-ulp accumulation differences " +
      "make raw values unhashable, probed)")
}
