package graft.operators

import graft.Q

import scala.util.Random

/** Differential fuzz over the TRY-mode escape hatches — the twentieth
  * population, and the value-direction complement of [[ErrorFuzz]]
  * (fz19): where fz19 gates queries whose CORRECT behavior is an ANSI
  * error, this one gates the `try_*` family (`try_sum`, `try_add`,
  * `try_subtract`, `try_multiply`, `try_divide`, `try_mod`,
  * `try_cast`, `try_element_at`) whose correct behavior is a NULL in
  * exactly the rows/aggregates that WOULD have errored. These queries
  * never error, so they hash-gate as ordinary value queries — a
  * STRONGER check than fz19's errored sentinel for the same shapes.
  *
  * Why this population exists (round-12 finding): TRY mode is carried
  * on the EXPRESSION (`Sum(child, EvalMode.TRY)` at analysis time),
  * not on the session — so an optimizer rule that consults
  * `conf.ansiEnabled` alone mis-handles `try_sum` in EVERY session
  * mode. Live repro: with ANSI off, `try_sum(v) OVER (… ROWS BETWEEN
  * CURRENT ROW AND UNBOUNDED FOLLOWING)` over `[Long.MaxValue, 1,
  * -1]` returns NULL for the full frame unrewritten (forward
  * accumulation overflows at MaxValue+1) but the conf-keyed
  * [[graft.plans.TailFrameRewrite]] reversed it into a plan that
  * silently answered `Long.MaxValue` (backward `-1+1+MaxValue` never
  * overflows). The guard now reads `Sum.evalContext.evalMode`; that
  * fixture is id-cycled into THIS gate (family 1, v0) so any future
  * rule that re-admits TRY-mode Long sums diverges from the oracle
  * mechanically — the fz19 lesson, applied to the hatch direction.
  *
  * Probed TRY semantics the oracles encode (all verified live in
  * BOTH engines before this was written):
  *
  *  - **try_sum over Long is STICKY**: the accumulator nulls at the
  *    FIRST partial-sum overflow and never recovers — a running
  *    window stays NULL even when the true prefix re-enters Long
  *    range (probed: `[5e18, 5e18, -6e18]` → `(5e18, NULL, NULL)`,
  *    not `(5e18, NULL, 4e18)`). A whole-table/group try_sum over
  *    MIXED signs is therefore ORDER-dependent (which partials occur
  *    depends on partitioning) — aggregate arms keep contributions
  *    NON-NEGATIVE (any-partial-OOR ⟺ total-OOR, order-independent),
  *    the fz19 discipline. Window arms may mix signs: Spark
  *    accumulates frames in sort order, so the partial set is
  *    deterministic — row i of a tail frame is NULL iff some
  *    in-order interval sum `S_j − S_{i−1}` (j ≥ i) leaves Long
  *    range, rendered in DuckDB as HUGEINT prefix sums + running
  *    tail extrema (two window layers; DuckDB forbids nested window
  *    calls).
  *  - **try_sum over DECIMAL(p ≤ 28) cannot NULL at reachable
  *    scales**: Spark widens the result to DECIMAL(p+10) (observed
  *    live — a 9e19 sum of DECIMAL(19,0) ANSWERS in the widened
  *    type), which is the same +10-digit headroom the
  *    TailFrameRewrite adjudication rests on. The decimal arms
  *    therefore gate `try_cast` NARROWING of the widened sum back to
  *    DECIMAL(19,0) — a final-value condition, order-independent;
  *    the DuckDB twin is a HUGEINT sum against the 10^19 bound.
  *  - try_add / try_subtract / try_multiply NULL per ROW on 64-bit
  *    overflow → DuckDB twin computes in HUGEINT and CASEs the
  *    out-of-range rows to NULL; NULL operands propagate through the
  *    chain in both engines (probed: `try_add(try_multiply(…), x)`).
  *  - try_divide returns DOUBLE and NULLs on /0; DuckDB `/` is also
  *    float division and also NULL-on-zero (0/0 included — probed).
  *    Generated quotients are EXACT integers by construction
  *    (numerator = k·divisor) and both sides cast to BIGINT, so no
  *    float formatting crosses the gate. try_mod ↔ DuckDB `%`
  *    (NULL-on-zero natively; operands kept non-negative where the
  *    engines' truncation/flooring conventions agree).
  *  - try_cast ↔ DuckDB TRY_CAST, probed equal on: invalid-letter
  *    strings → INT, numeric overflow → SMALLINT (40000 → NULL both),
  *    20-digit strings → BIGINT, '12345.99' → DECIMAL(5,2) (NULL
  *    both; '123.45' renders identically), invalid calendar dates
  *    ('2024-13-xx', '2024-02-30' → NULL; '2024-02-29' answers —
  *    leap handling agrees), with DATE outputs ISO-stringified on
  *    both sides per the raw-DATE driver gotcha.
  *  - try_element_at(arr, i) ↔ DuckDB `arr[i]`: NULL above length,
  *    negative indexes count from the end in BOTH (probed `[-2]`,
  *    and `[-5]` on a 3-list → NULL both); index 0 stays an ERROR
  *    under TRY (INVALID_INDEX_OF_ZERO is structural — fz19's beat)
  *    and is never generated here.
  *
  * Scale note: TRY-mode Long tail frames cannot rewrite (the guard
  * above), so those arms run Spark's quadratic
  * UnboundedFollowingWindowFunctionFrame — they are pinned to the
  * CUSTOMER table (15k rows / 8 partitions at sf0.1 → ~3e7 frame
  * ops) so the gate never hits the O(n²) cliff the rewrite exists
  * for; the INT-child tail arm (headroom ⇒ rewrite fires INSIDE this
  * gate) cycles over every table. */
object TryFuzz extends FuzzExec.Views {

  val NQueries = 36
  val GateSeed = 20261002L

  private val LongMax = "9223372036854775807"
  private val LongMin = "-9223372036854775808"
  /** fz19's overflow multiplier: smallest aggregate arm (customer
    * sf0.001, 150 rows, avg residue ≥ 10, 4-way grouping) clears
    * Long.MaxValue ≥ 2×; per-row products stay ≤ 49·5e16 < 2^62 (the
    * operand itself must not ANSI-error outside the try_ hatch). */
  private val KBig = "50000000000000000"

  private final case class TTable(name: String, key: String,
      nums: Seq[String], wide: String, str: String, preds: Seq[String])
  private def tables = Seq(
    TTable("lineitem", "l_orderkey * 8 + l_linenumber",
      Seq("l_suppkey", "l_partkey", "l_orderkey"),
      "l_orderkey * 8 + l_linenumber", "l_returnflag",
      Seq("l_returnflag = 'R'", "l_linenumber % 2 = 0")),
    TTable("orders", "o_orderkey",
      Seq("o_custkey", "o_orderkey"), "o_orderkey * 37", "o_orderstatus",
      Seq("o_orderstatus = 'O'", "o_orderkey % 3 = 1")),
    TTable("customer", "c_custkey",
      Seq("c_nationkey", "c_custkey"), "c_custkey * 211", "c_mktsegment",
      Seq("c_mktsegment = 'BUILDING'", "c_custkey % 2 = 0")))
  private def customer = tables(2)

  protected def sparkView(t: String) = s"__fz20_$t"

  /** One generated query: raw Spark SQL (never errors — the hatch is
    * the point), the DuckDB twin (guarded arithmetic in HUGEINT /
    * TRY_CAST), and the output columns both sides canonicalize over. */
  final case class TQuery(id: Int, sparkSql: String, duckSql: String,
      outCols: Seq[String]) extends FuzzExec.SqlGenerated

  def queries(seed: Long, n: Int): Seq[TQuery] =
    (0 until n).map(i => gen(i, new Random(seed * 131 + i)))

  private def gen(id: Int, rnd: Random): TQuery = {
    val t = tables(rnd.nextInt(tables.size))
    val v = (id / 4) % 9
    id % 4 match {
      case 0 => genTryAgg(id, t, v, rnd)
      case 1 => genTryWindow(id, t, v, rnd)
      case 2 => genTryScalar(id, t, v, rnd)
      case _ => genTryCast(id, t, v, rnd)
    }
  }

  private def whereOf(t: TTable, rnd: Random, p: Double = 0.5): String =
    if (rnd.nextDouble() < p) s" WHERE ${t.preds(rnd.nextInt(t.preds.size))}" else ""

  private def oor(h: String) = s"$h > $LongMax OR $h < $LongMin"

  // ---- family 0: try_sum aggregates (NULL iff the sum WOULD overflow) ----

  private def genTryAgg(id: Int, t: TTable, v: Int, rnd: Random): TQuery = {
    val c = t.nums(rnd.nextInt(t.nums.size))
    val g = t.nums(rnd.nextInt(t.nums.size))
    v match {
      case 0 | 1 =>
        // ungrouped Long try_sum; v0 overflows (→ one NULL row), v1
        // answers. Non-negative terms: order-independent NULL-ness.
        val ovf = v == 0
        val where = if (ovf) "" else whereOf(t, rnd)
        val k = if (ovf) KBig else (1 + rnd.nextInt(1000)).toString
        val term = s"($c % 50) * $k"
        TQuery(id,
          s"SELECT try_sum($term) AS a_0, CAST(count(*) AS BIGINT) AS a_1 " +
            s"FROM ${sparkView(t.name)}$where",
          s"SELECT CAST(CASE WHEN ${oor("__s.s")} THEN NULL ELSE __s.s END " +
            s"AS BIGINT) AS a_0, __s.c AS a_1 FROM " +
            s"(SELECT CAST(sum(CAST($c % 50 AS HUGEINT) * $k) AS HUGEINT) AS s, " +
            s"CAST(count(*) AS BIGINT) AS c FROM ${t.name}$where) __s",
          Seq("a_0", "a_1"))
      case 2 | 3 =>
        // grouped Long try_sum, the term switched by GROUP parity: two
        // groups overflow (NULL), two answer — per-group hatch
        // independence (probed: one NULL group does not null the rest)
        val part = s"$g % 4"
        val term = s"CASE WHEN $part < 2 THEN ($c % 50) * $KBig ELSE ($c % 50) * 7 END"
        TQuery(id,
          s"SELECT CAST($part AS BIGINT) AS k, try_sum($term) AS a_0 " +
            s"FROM ${sparkView(t.name)} GROUP BY $part",
          s"SELECT CAST(__g AS BIGINT) AS k, " +
            s"CAST(CASE WHEN ${oor("s")} THEN NULL ELSE s END AS BIGINT) AS a_0 FROM " +
            s"(SELECT $part AS __g, CAST(sum(CAST($term AS HUGEINT)) AS HUGEINT) AS s " +
            s"FROM ${t.name} GROUP BY $part) __s",
          Seq("k", "a_0"))
      case 4 | 5 =>
        // DECIMAL try_sum + try_cast narrowing: Spark widens
        // sum(DECIMAL(19,0)) to DECIMAL(29,0) (+10-digit headroom —
        // the TailFrameRewrite adjudication, observed live: a 9e19
        // sum ANSWERS in the widened type), so try_sum itself cannot
        // NULL at any reachable scale; the hatch under test is the
        // try_cast back to DECIMAL(19,0) — a FINAL-value narrowing,
        // order-independent. v4 clears 10^19 (NULL), v5 answers; the
        // inner Long product stays ≤ 2^62 so the operand never errors
        val ovf = v == 4
        val where = if (ovf) "" else whereOf(t, rnd)
        val k = if (ovf) KBig else (1 + rnd.nextInt(1000)).toString
        TQuery(id,
          s"SELECT CAST(try_cast(try_sum(CAST(($c % 50) * $k AS DECIMAL(19,0))) " +
            s"AS DECIMAL(19,0)) AS STRING) " +
            s"AS a_0, CAST(count(*) AS BIGINT) AS a_1 FROM ${sparkView(t.name)}$where",
          s"SELECT CAST(CAST(CASE WHEN __s.s >= 10000000000000000000 OR " +
            s"__s.s <= -10000000000000000000 THEN NULL ELSE __s.s END " +
            s"AS DECIMAL(19,0)) AS VARCHAR) AS a_0, __s.c AS a_1 FROM " +
            s"(SELECT CAST(sum(CAST($c % 50 AS HUGEINT) * $k) AS HUGEINT) AS s, " +
            s"CAST(count(*) AS BIGINT) AS c FROM ${t.name}$where) __s",
          Seq("a_0", "a_1"))
      case 6 =>
        // try_sum over per-row try_multiply NULLs: the aggregate SKIPS
        // rows the hatch nulled (probed), and the kept values are
        // small so the sum itself never overflows
        val bad = s"$c % 7 = 3"
        TQuery(id,
          s"SELECT try_sum(try_multiply(CASE WHEN $bad THEN 4611686018427387904 " +
            s"ELSE CAST($c % 100 AS BIGINT) END, 4)) AS a_0, " +
            s"CAST(count(*) AS BIGINT) AS a_1 FROM ${sparkView(t.name)}",
          s"SELECT CAST(sum(CASE WHEN $bad THEN NULL ELSE ($c % 100) * 4 END) " +
            s"AS BIGINT) AS a_0, CAST(count(*) AS BIGINT) AS a_1 FROM ${t.name}",
          Seq("a_0", "a_1"))
      case 7 =>
        // INT-child try_sum (Long buffer ⇒ can never overflow): the
        // hatch is provably idle; values gate exactly
        val where = whereOf(t, rnd)
        TQuery(id,
          s"SELECT try_sum(CAST($c % 50 AS INT)) AS a_0, " +
            s"CAST(count(*) AS BIGINT) AS a_1 FROM ${sparkView(t.name)}$where",
          s"SELECT CAST(sum($c % 50) AS BIGINT) AS a_0, " +
            s"CAST(count(*) AS BIGINT) AS a_1 FROM ${t.name}$where",
          Seq("a_0", "a_1"))
      case _ =>
        // grouped DECIMAL mixed: per-group try_cast narrowing of the
        // widened sum (see v4) — overflow groups NULL, others answer
        val part = s"$g % 4"
        val term = s"CASE WHEN $part < 2 THEN ($c % 50) * $KBig ELSE ($c % 50) * 3 END"
        TQuery(id,
          s"SELECT CAST($part AS BIGINT) AS k, " +
            s"CAST(try_cast(try_sum(CAST($term AS DECIMAL(19,0))) AS DECIMAL(19,0)) " +
            s"AS STRING) AS a_0 " +
            s"FROM ${sparkView(t.name)} GROUP BY $part",
          s"SELECT CAST(__g AS BIGINT) AS k, " +
            s"CAST(CAST(CASE WHEN s >= 10000000000000000000 OR " +
            s"s <= -10000000000000000000 THEN NULL ELSE s END " +
            s"AS DECIMAL(19,0)) AS VARCHAR) AS a_0 FROM " +
            s"(SELECT $part AS __g, CAST(sum(CAST($term AS HUGEINT)) AS HUGEINT) AS s " +
            s"FROM ${t.name} GROUP BY $part) __s",
          Seq("k", "a_0"))
    }
  }

  // ---- family 1: try_sum windows (sticky NULL, fixtures + tables) ----

  /** The running-frame sticky oracle: row j is NULL iff ANY prefix
    * i ≤ j left Long range (the accumulator never recovers —
    * probed). */
  private def runningSticky(src: String, order: String): String =
    s"SELECT k, CAST(CASE WHEN bad = 1 THEN NULL ELSE s END AS BIGINT) AS a_0 " +
      s"FROM (SELECT k, s, max(CASE WHEN ${oor("s")} THEN 1 ELSE 0 END) " +
      s"OVER (ORDER BY $order ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bad " +
      s"FROM (SELECT k, CAST(sum(CAST(v AS HUGEINT)) OVER (ORDER BY $order " +
      s"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS s " +
      s"FROM $src) __p) __q"

  /** The tail-frame oracle: row i is NULL iff some in-order interval
    * sum S_j − S_{i−1} (j ≥ i) leaves Long range — rendered as the
    * running tail extrema of HUGEINT prefix sums (two layers; DuckDB
    * forbids nested window calls). Verified against the probed
    * `[Long.MaxValue, 1, -1]` → `(NULL, 0, -1)`. */
  private def tailSticky(src: String, order: String): String =
    s"SELECT k, CAST(CASE WHEN mx - pp > $LongMax OR mn - pp < $LongMin " +
      s"THEN NULL ELSE tot - pp END AS BIGINT) AS a_0 " +
      s"FROM (SELECT k, CAST(coalesce(lag(s) OVER (ORDER BY $order), 0) AS HUGEINT) AS pp, " +
      s"CAST(max(s) OVER (ORDER BY $order ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS HUGEINT) AS mx, " +
      s"CAST(min(s) OVER (ORDER BY $order ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS HUGEINT) AS mn, " +
      s"CAST(sum(CAST(v AS HUGEINT)) OVER () AS HUGEINT) AS tot " +
      s"FROM (SELECT k, v, CAST(sum(CAST(v AS HUGEINT)) OVER (ORDER BY $order " +
      s"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS s " +
      s"FROM $src) __p) __q"

  private def winFixture(id: Int, rows: String, tail: Boolean): TQuery = {
    def src = s"(VALUES $rows) AS __t(k, v)"
    val frame =
      if (tail) "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING"
      else "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    TQuery(id,
      s"SELECT k, try_sum(v) OVER (ORDER BY k ASC $frame) AS a_0 FROM $src",
      if (tail) tailSticky(src, "k ASC") else runningSticky(src, "k ASC"),
      Seq("k", "a_0"))
  }

  private def genTryWindow(id: Int, t0: TTable, v: Int, rnd: Random): TQuery = {
    v match {
      case 0 =>
        // THE round-12 fixture: the conf-keyed guard rewrote this and
        // silently answered Long.MaxValue where the oracle says NULL
        winFixture(id, "(1, 9223372036854775807), (2, 1), (3, -1)", tail = true)
      case 1 =>
        // stickiness pin: the true prefix re-enters range at row 3
        // but the accumulator never recovers → (5e18, NULL, NULL)
        winFixture(id,
          "(1, 5000000000000000000), (2, 5000000000000000000), (3, -6000000000000000000)",
          tail = false)
      case 2 =>
        // negative-direction sticky running twin
        winFixture(id,
          "(1, -5000000000000000000), (2, -5000000000000000000), (3, 6000000000000000000)",
          tail = false)
      case 3 =>
        // all-interval-safe mixed-sign tail fixture: values agree and
        // the rewrite must NOT fire (TRY-mode Long child)
        winFixture(id,
          "(1, 5000000000000000000), (2, -5000000000000000000), (3, 100)",
          tail = true)
      case 4 | 5 =>
        // table running arms: v4 overflows (per-row NULL from the
        // first OOR prefix on — monotone ⟺ sticky), v5 answers. The
        // order appends the TERM residue (the fz19 pattern): the
        // synthetic lineitem's key TIES (its (orderkey, linenumber)
        // pairs collide — measured), and with the term a function of
        // every order column, tied rows carry EQUAL contributions, so
        // the per-row prefix multiset — and the monotone NULL
        // boundary — is tie-order-invariant in both engines
        val t = t0
        val c = t.nums(rnd.nextInt(t.nums.size))
        val g = t.nums(rnd.nextInt(t.nums.size))
        val ovf = v == 4
        val k = if (ovf) KBig else (1 + rnd.nextInt(1000)).toString
        val term = s"($c % 50) * $k"
        val part = s"$g % 4"
        val ord = s"${t.key} ASC, $c % 50 ASC"
        TQuery(id,
          s"SELECT CAST(${t.key} AS BIGINT) AS k, try_sum($term) OVER " +
            s"(PARTITION BY $part ORDER BY $ord " +
            s"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a_0 " +
            s"FROM ${sparkView(t.name)}",
          s"SELECT k, CAST(CASE WHEN ${oor("s")} THEN NULL ELSE s END AS BIGINT) AS a_0 " +
            s"FROM (SELECT CAST(${t.key} AS BIGINT) AS k, " +
            s"CAST(sum(CAST($term AS HUGEINT)) OVER (PARTITION BY $part " +
            s"ORDER BY $ord ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
            s"AS HUGEINT) AS s FROM ${t.name}) __w",
          Seq("k", "a_0"))
      case 6 =>
        // INT-child tail arm: Long-buffer headroom ⇒ TailFrameRewrite
        // FIRES inside this TRY gate (plan pinned in the spec) — any
        // table, O(n) either way
        val t = t0
        val c = t.nums(rnd.nextInt(t.nums.size))
        val g = t.nums(rnd.nextInt(t.nums.size))
        val term = s"CAST($c % 50 AS INT) * 1000"
        val part = s"$g % 4"
        // term-residue tiebreak: see v4 (tie-order-invariant multisets)
        val ord = s"${t.key} ASC, $c % 50 ASC"
        TQuery(id,
          s"SELECT CAST(${t.key} AS BIGINT) AS k, try_sum($term) OVER " +
            s"(PARTITION BY $part ORDER BY $ord " +
            s"ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS a_0 " +
            s"FROM ${sparkView(t.name)}",
          s"SELECT k, CAST(s AS BIGINT) AS a_0 FROM " +
            s"(SELECT CAST(${t.key} AS BIGINT) AS k, " +
            s"CAST(sum(CAST($term AS HUGEINT)) OVER (PARTITION BY $part " +
            s"ORDER BY $ord ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) " +
            s"AS HUGEINT) AS s FROM ${t.name}) __w",
          Seq("k", "a_0"))
      case _ =>
        // Long-child tail arms: the rewrite must NOT fire (TRY), so
        // these run the quadratic frame — CUSTOMER-only, 8 partitions
        // (~3e7 frame ops at sf0.1; see the scale note). v7 overflows
        // (non-negative ⇒ NULL iff the full tail sum is OOR), v8
        // answers with ON ≡ OFF values
        val t = customer
        val c = t.nums(rnd.nextInt(t.nums.size))
        val ovf = v == 7
        val k = if (ovf) KBig else (1 + rnd.nextInt(1000)).toString
        val term = s"($c % 50) * $k"
        val part = s"c_custkey % 8"
        TQuery(id,
          s"SELECT CAST(${t.key} AS BIGINT) AS k, try_sum($term) OVER " +
            s"(PARTITION BY $part ORDER BY ${t.key} ASC " +
            s"ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS a_0 " +
            s"FROM ${sparkView(t.name)}",
          s"SELECT k, CAST(CASE WHEN ${oor("s")} THEN NULL ELSE s END AS BIGINT) AS a_0 " +
            s"FROM (SELECT CAST(${t.key} AS BIGINT) AS k, " +
            s"CAST(sum(CAST($term AS HUGEINT)) OVER (PARTITION BY $part " +
            s"ORDER BY ${t.key} ASC ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) " +
            s"AS HUGEINT) AS s FROM ${t.name}) __w",
          Seq("k", "a_0"))
    }
  }

  // ---- family 2: scalar try arithmetic (per-row NULL on overflow/zero) ----

  private def genTryScalar(id: Int, t: TTable, v: Int, rnd: Random): TQuery = {
    val c = t.nums(rnd.nextInt(t.nums.size))
    val a = t.nums(rnd.nextInt(t.nums.size))
    val where = whereOf(t, rnd)
    val k = s"CAST(${t.key} AS BIGINT)"
    def q(sparkExpr: String, duckExpr: String) = TQuery(id,
      s"SELECT $k AS k, $sparkExpr AS a_0 FROM ${sparkView(t.name)}$where",
      s"SELECT $k AS k, $duckExpr AS a_0 FROM ${t.name}$where",
      Seq("k", "a_0"))
    def guardedBigint(h: String) =
      s"CAST(CASE WHEN ${oor(s"($h)")} THEN NULL ELSE ($h) END AS BIGINT)"
    v match {
      case 0 =>
        // mixed-sign per-row products: residue −2 overflows (−1e19),
        // the rest answer (−5e18, 0, 5e18)
        q(s"try_multiply(CAST($c % 4 AS BIGINT) - 2, 5000000000000000000)",
          guardedBigint(s"(CAST($c % 4 AS HUGEINT) - 2) * 5000000000000000000"))
      case 1 =>
        // try_add at the Long ceiling: bad rows NULL iff the addend is
        // nonzero; an addend of exactly 0 ANSWERS Long.MaxValue
        val bad = s"$c % 5 = 2"
        q(s"try_add(CASE WHEN $bad THEN $LongMax ELSE CAST($c % 1000 AS BIGINT) END, $a % 100)",
          guardedBigint(s"CAST(CASE WHEN $bad THEN $LongMax ELSE $c % 1000 END AS HUGEINT) + ($a % 100)"))
      case 2 =>
        // try_subtract at the floor (−Max, not MinValue — parser-safe
        // in both dialects): NULL iff the subtrahend ≥ 2
        val bad = s"$c % 5 = 1"
        q(s"try_subtract(CASE WHEN $bad THEN -$LongMax ELSE CAST($c % 1000 AS BIGINT) END, $a % 100)",
          guardedBigint(s"CAST(CASE WHEN $bad THEN -$LongMax ELSE $c % 1000 END AS HUGEINT) - ($a % 100)"))
      case 3 | 4 =>
        // try_divide with EXACT integer quotients (numerator = k·d):
        // v3's divisor hits 0 (NULL — 0/0 included, probed NULL in
        // both), v4's never does
        val d = if (v == 3) s"$c % 9" else s"$c % 9 + 1"
        q(s"CAST(try_divide(($d) * ($a % 7 + 1), $d) AS BIGINT)",
          s"CAST((($d) * ($a % 7 + 1)) / ($d) AS BIGINT)")
      case 5 =>
        // try_mod: NULL on zero divisors; non-negative operands keep
        // Spark truncation ≡ DuckDB flooring
        q(s"try_mod($a % 97 + 1, $c % 9)",
          s"CAST(($a % 97 + 1) % ($c % 9) AS BIGINT)")
      case 6 =>
        // hatch chain: inner try_multiply NULLs propagate through
        // try_add (probed); a valid inner value can't re-overflow
        // under the small addend, so one OOR check covers the chain
        q(s"try_add(try_multiply(CAST($c % 4 AS BIGINT) - 2, 5000000000000000000), $a % 10)",
          s"CAST(CASE WHEN ${oor(s"(CAST($c % 4 AS HUGEINT) - 2) * 5000000000000000000")} " +
            s"THEN NULL ELSE (CAST($c % 4 AS HUGEINT) - 2) * 5000000000000000000 + ($a % 10) END AS BIGINT)")
      case 7 =>
        // power-of-two ceiling walk: residues 0–3 answer (≤ 3·2^61),
        // 4–5 overflow (2^63, 5·2^61)
        q(s"try_multiply(CAST(${t.wide} % 6 AS BIGINT), 2305843009213693952)",
          guardedBigint(s"CAST((${t.wide}) % 6 AS HUGEINT) * 2305843009213693952"))
      case _ =>
        // all-answering control: the hatch never fires, values gate
        q(s"try_multiply(CAST($c % 100 AS BIGINT), $a % 100)",
          s"CAST(($c % 100) * ($a % 100) AS BIGINT)")
    }
  }

  // ---- family 3: try_cast / try_element_at ----

  private def genTryCast(id: Int, t: TTable, v: Int, rnd: Random): TQuery = {
    val c = t.nums(rnd.nextInt(t.nums.size))
    val c2 = t.nums(rnd.nextInt(t.nums.size))
    val where = whereOf(t, rnd)
    val k = s"CAST(${t.key} AS BIGINT)"
    def q(sparkExpr: String, duckExpr: String) = TQuery(id,
      s"SELECT $k AS k, $sparkExpr AS a_0 FROM ${sparkView(t.name)}$where",
      s"SELECT $k AS k, $duckExpr AS a_0 FROM ${t.name}$where",
      Seq("k", "a_0"))
    v match {
      case 0 =>
        // invalid-letter strings → INT (fz19's erroring shape, hatched)
        val bad = s"$c % 7 = 3"
        q(s"try_cast(CASE WHEN $bad THEN concat('x', CAST($c AS STRING)) " +
            s"ELSE CAST($c % 1000 AS STRING) END AS INT)",
          s"TRY_CAST(CASE WHEN $bad THEN 'x' || CAST($c AS VARCHAR) " +
            s"ELSE CAST($c % 1000 AS VARCHAR) END AS INTEGER)")
      case 1 =>
        // numeric → SMALLINT overflow (40000 → NULL in both, probed)
        q(s"try_cast((${t.wide}) % 40000 AS SMALLINT)",
          s"TRY_CAST((${t.wide}) % 40000 AS SMALLINT)")
      case 2 =>
        // structurally-valid SMALLINT control (< 2^15): never NULL
        q(s"try_cast((${t.wide}) % 30000 AS SMALLINT)",
          s"TRY_CAST((${t.wide}) % 30000 AS SMALLINT)")
      case 3 =>
        // invalid calendar month: '10'–'13', 13 NULLs; ISO-string out
        q(s"CAST(try_cast(concat('2024-', CAST(10 + $c % 4 AS STRING), '-', " +
            s"concat('0', CAST(1 + $c2 % 9 AS STRING))) AS DATE) AS STRING)",
          s"CAST(TRY_CAST('2024-' || CAST(10 + $c % 4 AS VARCHAR) || '-0' || " +
            s"CAST(1 + $c2 % 9 AS VARCHAR) AS DATE) AS VARCHAR)")
      case 4 =>
        // leap-boundary days: '2024-02-28/29' answer, '-30' NULLs
        q(s"CAST(try_cast(concat('2024-02-', CAST(28 + $c % 3 AS STRING)) AS DATE) AS STRING)",
          s"CAST(TRY_CAST('2024-02-' || CAST(28 + $c % 3 AS VARCHAR) AS DATE) AS VARCHAR)")
      case 5 =>
        // 20-digit strings → BIGINT overflow vs in-range numerics
        val bad = s"$c % 6 = 5"
        q(s"try_cast(CASE WHEN $bad THEN '99999999999999999999' " +
            s"ELSE CAST(${t.wide} AS STRING) END AS BIGINT)",
          s"TRY_CAST(CASE WHEN $bad THEN '99999999999999999999' " +
            s"ELSE CAST(${t.wide} AS VARCHAR) END AS BIGINT)")
      case 6 =>
        // string → DECIMAL(5,2): constructed in-range values vs the
        // probed '12345.99' overflow; decimal strings render equal
        val bad = s"$c % 5 = 4"
        q(s"CAST(try_cast(CASE WHEN $bad THEN '12345.99' ELSE " +
            s"concat(CAST($c % 900 + 100 AS STRING), '.', CAST($c2 % 9 AS STRING), " +
            s"CAST($c % 9 AS STRING)) END AS DECIMAL(5,2)) AS STRING)",
          s"CAST(TRY_CAST(CASE WHEN $bad THEN '12345.99' ELSE " +
            s"CAST($c % 900 + 100 AS VARCHAR) || '.' || CAST($c2 % 9 AS VARCHAR) || " +
            s"CAST($c % 9 AS VARCHAR) END AS DECIMAL(5,2)) AS VARCHAR)")
      case 7 =>
        // variable-index try_element_at over a 2-token split: index 3
        // is OOB → NULL (fz19's erroring twin, hatched)
        q(s"try_element_at(split(concat(${t.str}, '-', CAST($c % 10 AS STRING)), '-'), " +
            s"CAST(1 + $c % 3 AS INT))",
          s"(string_split(${t.str} || '-' || CAST($c % 10 AS VARCHAR), '-'))[1 + $c % 3]")
      case _ =>
        // negative indexes count from the end in BOTH engines; −3 on
        // a 2-token array is out of range → NULL (probed)
        q(s"try_element_at(split(concat(${t.str}, '-', CAST($c % 10 AS STRING)), '-'), " +
            s"CAST(-(1 + $c % 3) AS INT))",
          s"(string_split(${t.str} || '-' || CAST($c % 10 AS VARCHAR), '-'))[-(1 + $c % 3)]")
    }
  }

  // ---- the gate (run by FuzzExec) ----

  type Query = TQuery

  protected def viewTables: Seq[String] = tables.map(_.name)

  /** q_fz20 — the TRY-mode escape-hatch differential gate. */
  def gate: Q = declare(
    "q_fz20_try_fuzz",
    s"TRY-mode escape-hatch fuzz: $NQueries seeded try_sum/" +
      "try_add/try_subtract/try_multiply/try_divide/try_mod/try_cast/" +
      "try_element_at queries (sticky window NULLs incl. the round-12 " +
      "try_sum suppression fixture, per-group hatch independence, per-row " +
      "overflow/zero/invalid-input NULLs), dual-rendered against analytic " +
      "DuckDB twins (HUGEINT guards, TRY_CAST), fingerprint-compared")
}
