package graft.operators

import graft.Q

import scala.util.Random

/** Differential fuzz over STRING COLLATIONS — the twenty-eighth
  * population, closing the round-12 "what's missing #1": Spark 4's
  * collated strings (`COLLATE UTF8_LCASE`) appeared in no population,
  * spec or gate, which is exactly where half of the round-12 CONFIRMED
  * rewrite hole lived. This gate exercises case-insensitive equality
  * through every relational shape that consumes it: GROUP BY, JOIN,
  * DISTINCT, comparison predicates, and ORDER (via rank over a
  * collated sort).
  *
  * Oracle mapping (probed first): Spark `UTF8_LCASE` compares
  * lowercase-then-binary; DuckDB `COLLATE NOCASE` matched it on every
  * ASCII probe, including the non-alpha orderings a naive ICU mapping
  * would break (`'Z' < '_'` is FALSE both — lower('Z')=0x7A > 0x5F;
  * `'a b' < 'a-b'` TRUE both — 0x20 < 0x2D; digit/letter mixes
  * agree). The testdata is ASCII, so the dialects align:
  * `CAST(e AS STRING COLLATE UTF8_LCASE)` ↔ `e COLLATE NOCASE`.
  *
  * Representative discipline: which case-variant a collated GROUP BY
  * key or min/max keeps is accumulation-order-dependent in BOTH
  * engines (the same coarser-than-bit-identity equality the round-12
  * TailFrameRewrite fix guards — see fz27 for the signed-zero twin).
  * Every string exit is therefore `lower(...)`-normalized: the gate
  * pins the case-insensitive SEMANTICS (which groups exist, which
  * rows join, which rows pass a predicate, where a collated sort
  * places rows) without betting on either engine's representative
  * choice. Case diversity is PLANTED — `upper()`/`lower()` mangling
  * keyed on a numeric residue guarantees every source string appears
  * in multiple casings, so a binary-equality bug (grouping 'URGENT'
  * apart from 'urgent') flips counts, not just representatives. */
object CollationFuzz extends FuzzExec.Views {

  /** 0–23: the UTF8_LCASE ↔ NOCASE half; 24–29: the
    * UTF8_BINARY_RTRIM half (trailing-space-insensitive equality —
    * DuckDB has no RTRIM collation, so the oracle compensates
    * analytically with `rtrim()`: `x = y` under the RTRIM collation
    * ⟺ `rtrim(x) = rtrim(y)` binary, probed); 30–41: the
    * UNICODE / UNICODE_CI (ICU) half — see [[genUnicode]] for the
    * probe-backed ICU-free oracle mapping (the driver's DuckDB
    * cannot LOAD the icu extension from inside a single oracle
    * statement, so locale-collation oracles are out; on the ASCII
    * testdata the ICU semantics reduce analytically); 42–47: the
    * COMPOSITE collations (UTF8_LCASE_RTRIM / UNICODE_CI_RTRIM) —
    * both insensitivity axes at once, case AND trailing-pad variance
    * planted on independent residues, oracle `lower(rtrim(x))`
    * binary equality (probed: 'Apple  ' = 'apple' under both, inner
    * spaces still significant, DISTINCT over ['A ','a','a  ','B']
    * is 2). Ids are seeded per-query, so extending the population
    * leaves earlier ids' generation untouched. */
  val NQueries = 48
  val GateSeed = 20261301L

  private final case class CTable(name: String, key: String, num: String,
      strs: Seq[String])
  private def tables = Seq(
    CTable("orders", "o_orderkey", "o_custkey",
      Seq("o_orderpriority", "substring(o_orderpriority, 3, 4)", "o_orderstatus")),
    CTable("customer", "c_custkey", "c_nationkey",
      Seq("c_mktsegment", "substring(c_name, 1, 12)")))

  protected def sparkView(t: String) = s"__fz28_$t"

  final case class CQuery(id: Int, sparkSql: String, duckSql: String,
      outCols: Seq[String]) extends FuzzExec.SqlGenerated

  def queries(seed: Long, n: Int): Seq[CQuery] =
    (0 until n).map(i => gen(i, new Random(seed * 733 + i)))

  /** The dialect split: Spark types the collation onto the value,
    * DuckDB attaches it to the comparison site. */
  private def collSpark(e: String) = s"CAST($e AS STRING COLLATE UTF8_LCASE)"
  private def collDuck(e: String) = s"($e COLLATE NOCASE)"

  /** Case-mangled string source: the residue guarantees the same
    * logical value appears uppercased, lowercased and verbatim. */
  private def mangled(t: CTable, rnd: Random): String = {
    val s = t.strs(rnd.nextInt(t.strs.size))
    s"CASE WHEN ${t.num} % 3 = 0 THEN upper($s) " +
      s"WHEN ${t.num} % 3 = 1 THEN lower($s) ELSE $s END"
  }

  /** Trailing-space mangling for the RTRIM half: the residue
    * guarantees the same logical value appears with 0/1/2 trailing
    * spaces. */
  private def padded(t: CTable, rnd: Random): String = {
    val s = t.strs(rnd.nextInt(t.strs.size))
    s"CASE WHEN ${t.num} % 3 = 0 THEN $s || '  ' " +
      s"WHEN ${t.num} % 3 = 1 THEN $s || ' ' ELSE $s END"
  }
  private def rtrimSpark(e: String) = s"CAST($e AS STRING COLLATE UTF8_BINARY_RTRIM)"

  private def gen(id: Int, rnd: Random): CQuery = {
    if (id >= 42) return genComposite(id, rnd)
    if (id >= 30) return genUnicode(id, rnd)
    if (id >= 24) return genRtrim(id, rnd)
    val t = tables(rnd.nextInt(tables.size))
    val k = s"CAST(${t.key} AS BIGINT)"
    val v = mangled(t, rnd)
    (id % 4) match {
      case 0 =>
        // collated GROUP BY: the groups themselves are the assertion
        // (a binary-equality bug splits every case-variant apart);
        // key exit lower-normalized, value exits numeric
        val spark = s"SELECT lower(min(${collSpark(v)})) AS g, " +
          s"CAST(count(*) AS BIGINT) AS a_0, " +
          s"CAST(min(${t.num}) AS BIGINT) AS a_1 " +
          s"FROM ${sparkView(t.name)} GROUP BY ${collSpark(v)}"
        val duck = s"SELECT lower(min(${collDuck(v)})) AS g, " +
          s"CAST(count(*) AS BIGINT) AS a_0, " +
          s"CAST(min(${t.num}) AS BIGINT) AS a_1 " +
          s"FROM ${t.name} GROUP BY ${collDuck(v)}"
        CQuery(id, spark, duck, Seq("g", "a_0", "a_1"))
      case 1 =>
        // collated JOIN: the left side is uppercased, the right side
        // lowercased — ZERO rows match under binary equality, all
        // case-equal pairs match under the collation. The join value
        // carries a key residue (#k%499) INSIDE the case mangling:
        // the source strings alone have 1–5 distinct values (the
        // c_name substring is near-constant), and at sf0.1 the
        // unwidened key multiplied 50k×37.5k rows into a ~3.7e8-row
        // near-cartesian — the same class as the RTRIM arm's r13
        // first cut, LATENT here until the round-14 fanout audit
        // (graft.plans.JoinFanoutAudit) flagged it at ratio 5,000–
        // 7,500. The residue widens the key ~500× while upper/lower
        // still flip every letter (digits and '#' are case-inert),
        // so case-insensitive equality stays the property under test
        val p = 1 + rnd.nextInt(5)
        val sub = t.strs(rnd.nextInt(t.strs.size))
        def wv(t0: CTable, s0: String) =
          s"$s0 || '#' || CAST(${t0.key} % 499 AS STRING)"
        val spark =
          s"SELECT CAST(count(*) AS BIGINT) AS a_0, " +
            s"CAST(coalesce(sum(a.k % 10007), 0) AS BIGINT) AS a_1, " +
            s"CAST(coalesce(sum(b.k % 10007), 0) AS BIGINT) AS a_2 FROM " +
            s"(SELECT $k AS k, upper(${wv(t, sub)}) AS v FROM ${sparkView(t.name)} WHERE ${t.key} % $p = 0) a JOIN " +
            s"(SELECT $k AS k, lower(${wv(t, sub)}) AS v FROM ${sparkView(t.name)} WHERE ${t.key} % ${p + 1} = 0) b " +
            // Spark rejects one-sided explicit collation in a
            // comparison (INDETERMINATE_COLLATION) — collate both
            s"ON ${collSpark("a.v")} = ${collSpark("b.v")}"
        val duck =
          s"SELECT CAST(count(*) AS BIGINT) AS a_0, " +
            s"CAST(coalesce(sum(a.k % 10007), 0) AS BIGINT) AS a_1, " +
            s"CAST(coalesce(sum(b.k % 10007), 0) AS BIGINT) AS a_2 FROM " +
            s"(SELECT $k AS k, upper(${wv(t, sub)}) AS v FROM ${t.name} WHERE ${t.key} % $p = 0) a JOIN " +
            s"(SELECT $k AS k, lower(${wv(t, sub)}) AS v FROM ${t.name} WHERE ${t.key} % ${p + 1} = 0) b " +
            s"ON a.v COLLATE NOCASE = b.v"
        CQuery(id, spark, duck, Seq("a_0", "a_1", "a_2"))
      case 2 =>
        // rank over a collated ORDER: pins WHERE the collated sort
        // places rows (rank is tie-insensitive; the unique key
        // tiebreak makes it position-exact), partition-bounded
        val spark = s"SELECT $k AS key, " +
          s"CAST(rank() OVER (PARTITION BY ${t.num} % 64 " +
          s"ORDER BY ${collSpark(v)}, $k) AS BIGINT) AS a_0, " +
          s"lower($v) AS a_1 FROM ${sparkView(t.name)}"
        val duck = s"SELECT $k AS key, " +
          s"CAST(rank() OVER (PARTITION BY ${t.num} % 64 " +
          s"ORDER BY ${collDuck(v)}, $k) AS BIGINT) AS a_0, " +
          s"lower($v) AS a_1 FROM ${t.name}"
        CQuery(id, spark, duck, Seq("key", "a_0", "a_1"))
      case _ =>
        // collated predicates + DISTINCT: a mixed-case literal must
        // fold before comparing; DISTINCT must merge case-variants.
        // DuckDB 1.0 QUIRK (probed, compensated): the AGGREGATE form
        // `count(DISTINCT v COLLATE NOCASE)` silently ignores the
        // collation — 3 over ['a','A','b'] — while `SELECT DISTINCT`
        // respects it (2). The oracle therefore counts
        // `DISTINCT lower(v)`, which equals case-insensitive DISTINCT
        // on ASCII (NOCASE ≡ lower-then-binary, the probe above);
        // Spark keeps the true collated DISTINCT under test.
        val lit = Seq("'M'", "'c'", "'2-HIGH'", "'building'", "'p'")(rnd.nextInt(5))
        val op = Seq("<", ">=", "=")(rnd.nextInt(3))
        val spark = s"SELECT CAST(count(DISTINCT ${collSpark(v)}) AS BIGINT) AS a_0, " +
          s"CAST(count(*) AS BIGINT) AS a_1, " +
          s"CAST(coalesce(sum($k % 10007), 0) AS BIGINT) AS a_2 " +
          s"FROM ${sparkView(t.name)} WHERE ${collSpark(v)} $op $lit"
        val duck = s"SELECT CAST(count(DISTINCT lower($v)) AS BIGINT) AS a_0, " +
          s"CAST(count(*) AS BIGINT) AS a_1, " +
          s"CAST(coalesce(sum($k % 10007), 0) AS BIGINT) AS a_2 " +
          s"FROM ${t.name} WHERE ${collDuck(v)} $op $lit"
        CQuery(id, spark, duck, Seq("a_0", "a_1", "a_2"))
    }
  }

  /** The RTRIM half (ids 24–29): UTF8_BINARY_RTRIM equality ignores
    * TRAILING spaces only. DuckDB has no RTRIM collation — the oracle
    * compensates analytically: every collated site renders as binary
    * equality over `rtrim(x)`, which is the collation's definition.
    * String exits are rtrim()-normalized (which padded variant a
    * group key or min keeps is engine-internal — the fz27/fz28
    * representative discipline). */
  private def genRtrim(id: Int, rnd: Random): CQuery = {
    val t = tables(rnd.nextInt(tables.size))
    val k = s"CAST(${t.key} AS BIGINT)"
    val v = padded(t, rnd)
    ((id - 24) % 3) match {
      case 0 =>
        // RTRIM GROUP BY: padding variants must land in ONE group
        val spark = s"SELECT rtrim(min(${rtrimSpark(v)})) AS g, " +
          s"CAST(count(*) AS BIGINT) AS a_0, " +
          s"CAST(min(${t.num}) AS BIGINT) AS a_1 " +
          s"FROM ${sparkView(t.name)} GROUP BY ${rtrimSpark(v)}"
        val duck = s"SELECT rtrim($v) AS g, " +
          s"CAST(count(*) AS BIGINT) AS a_0, " +
          s"CAST(min(${t.num}) AS BIGINT) AS a_1 " +
          s"FROM ${t.name} GROUP BY rtrim($v)"
        CQuery(id, spark, duck, Seq("g", "a_0", "a_1"))
      case 1 =>
        // RTRIM JOIN: the left side carries two trailing spaces, the
        // right none — zero binary matches, all matches under RTRIM.
        // The join value carries a key residue (#k%499) BEFORE the
        // padding: the source strings alone have 3–5 distinct values,
        // and joining 150k×75k rows on a 5-value key is a
        // near-cartesian ~10⁹-row blowup (measured: +10 s at sf0.1 in
        // the first cut) — the residue widens the key to ~2,500
        // distinct values while the pad stays TRAILING, which is the
        // property under test
        val p = 1 + rnd.nextInt(5)
        val sub = t.strs(rnd.nextInt(t.strs.size))
        def side(alias: String, pad: String, filt: Int, src: String) =
          s"(SELECT $k AS k, $sub || '#' || CAST(${t.key} % 499 AS STRING) || '$pad' AS v " +
            s"FROM $src WHERE ${t.key} % $filt = 0) $alias"
        val spark =
          s"SELECT CAST(count(*) AS BIGINT) AS a_0, " +
            s"CAST(coalesce(sum(a.k % 10007), 0) AS BIGINT) AS a_1, " +
            s"CAST(coalesce(sum(b.k % 10007), 0) AS BIGINT) AS a_2 FROM " +
            s"${side("a", "  ", p, sparkView(t.name))} JOIN ${side("b", "", p + 1, sparkView(t.name))} " +
            s"ON ${rtrimSpark("a.v")} = ${rtrimSpark("b.v")}"
        val duck =
          s"SELECT CAST(count(*) AS BIGINT) AS a_0, " +
            s"CAST(coalesce(sum(a.k % 10007), 0) AS BIGINT) AS a_1, " +
            s"CAST(coalesce(sum(b.k % 10007), 0) AS BIGINT) AS a_2 FROM " +
            s"${side("a", "  ", p, t.name)} JOIN ${side("b", "", p + 1, t.name)} " +
            s"ON rtrim(a.v) = rtrim(b.v)"
        CQuery(id, spark, duck, Seq("a_0", "a_1", "a_2"))
      case _ =>
        // RTRIM DISTINCT + a literal predicate whose trailing spaces
        // must be ignored on BOTH sides of the comparison
        val (src, lit) =
          if (t.name == "orders") ("o_orderstatus", "O ") else ("c_mktsegment", "BUILDING  ")
        val pv = s"CASE WHEN ${t.num} % 3 = 0 THEN $src || '  ' " +
          s"WHEN ${t.num} % 3 = 1 THEN $src || ' ' ELSE $src END"
        val spark = s"SELECT CAST(count(DISTINCT ${rtrimSpark(pv)}) AS BIGINT) AS a_0, " +
          s"CAST(count(*) AS BIGINT) AS a_1, " +
          s"CAST(coalesce(sum($k % 10007), 0) AS BIGINT) AS a_2 " +
          s"FROM ${sparkView(t.name)} WHERE ${rtrimSpark(pv)} = ${rtrimSpark(s"'$lit'")}"
        val duck = s"SELECT CAST(count(DISTINCT rtrim($pv)) AS BIGINT) AS a_0, " +
          s"CAST(count(*) AS BIGINT) AS a_1, " +
          s"CAST(coalesce(sum($k % 10007), 0) AS BIGINT) AS a_2 " +
          s"FROM ${t.name} WHERE rtrim($pv) = rtrim('$lit')"
        CQuery(id, spark, duck, Seq("a_0", "a_1", "a_2"))
    }
  }

  /** The UNICODE / UNICODE_CI half (ids 30–41) — the ICU root
    * collations, closing the round-13 "what's missing #1". Oracle
    * problem: the driver's DuckDB evaluates ONE SQL statement, so its
    * `icu` extension locale collations (which DID probe available in
    * a session that can `LOAD icu`) are unreachable from the gate —
    * the oracle must be ICU-FREE, which the ASCII testdata makes
    * analytic (every mapping below probed on 4.1.2 vs DuckDB 1.0
    * `COLLATE en`, 2026-08-16):
    *
    *  - UNICODE_CI EQUALITY on ASCII ⟺ `lower()` binary equality
    *    (ICU secondary strength folds exactly case there; probed
    *    incl. digit/punct mixes).
    *  - UNICODE (case-sensitive) ORDER on ASCII case-variants of one
    *    template: ICU root sorts lowercase-first at the FIRST
    *    DIFFERING CASE POSITION ('a' < 'A' probed both engines),
    *    which for equal-length case variants is exactly the first
    *    differing byte — binary DESCENDING order. Oracle:
    *    `ORDER BY lower(v) ASC, v DESC` ⟺ Spark `ORDER BY
    *    CAST(v AS STRING COLLATE UNICODE)`.
    *  - Inequality predicates vs literals are EXCLUDED: ICU root and
    *    byte order disagree on punctuation ('-' < '#' under ICU,
    *    '#' < '-' in bytes — probed), and a literal comparison can
    *    hit such a position. The rank arms stay sound because each
    *    query's values share one column template (differences
    *    resolve at a letter/digit, where the orders agree — and the
    *    whole claim is re-verified concretely by the cross-engine
    *    hash at every gate run).
    *
    * Accent folding, canonical equivalence, and locale tailoring are
    * off-ASCII and therefore NOT gateable against this testdata —
    * they are spec-pinned one-engine in CollationSpec §UNICODE. */
  private def genUnicode(id: Int, rnd: Random): CQuery = {
    val t = tables(rnd.nextInt(tables.size))
    val k = s"CAST(${t.key} AS BIGINT)"
    val v = mangled(t, rnd)
    def uni(e: String) = s"CAST($e AS STRING COLLATE UNICODE)"
    def uniCi(e: String) = s"CAST($e AS STRING COLLATE UNICODE_CI)"
    ((id - 30) % 4) match {
      case 0 =>
        // UNICODE_CI GROUP BY: case variants must land in ONE group
        // through the ICU collation-key path; exits lower-normalized
        // (representative is engine-internal, the fz27/28 discipline)
        val spark = s"SELECT lower(min(${uniCi(v)})) AS g, " +
          s"CAST(count(*) AS BIGINT) AS a_0, " +
          s"CAST(min(${t.num}) AS BIGINT) AS a_1 " +
          s"FROM ${sparkView(t.name)} GROUP BY ${uniCi(v)}"
        val duck = s"SELECT lower($v) AS g, " +
          s"CAST(count(*) AS BIGINT) AS a_0, " +
          s"CAST(min(${t.num}) AS BIGINT) AS a_1 " +
          s"FROM ${t.name} GROUP BY lower($v)"
        CQuery(id, spark, duck, Seq("g", "a_0", "a_1"))
      case 1 =>
        // UNICODE_CI JOIN, upper side vs lower side — zero binary
        // matches, all matches under ICU case-insensitivity. Key
        // carries the #key%499 residue (the fanout-audit lesson:
        // 1–5-distinct keys near-cartesian at scale)
        val p = 1 + rnd.nextInt(5)
        val sub = t.strs(rnd.nextInt(t.strs.size))
        val w = s"$sub || '#' || CAST(${t.key} % 499 AS STRING)"
        val spark =
          s"SELECT CAST(count(*) AS BIGINT) AS a_0, " +
            s"CAST(coalesce(sum(a.k % 10007), 0) AS BIGINT) AS a_1, " +
            s"CAST(coalesce(sum(b.k % 10007), 0) AS BIGINT) AS a_2 FROM " +
            s"(SELECT $k AS k, upper($w) AS v FROM ${sparkView(t.name)} WHERE ${t.key} % $p = 0) a JOIN " +
            s"(SELECT $k AS k, lower($w) AS v FROM ${sparkView(t.name)} WHERE ${t.key} % ${p + 1} = 0) b " +
            s"ON ${uniCi("a.v")} = ${uniCi("b.v")}"
        val duck =
          s"SELECT CAST(count(*) AS BIGINT) AS a_0, " +
            s"CAST(coalesce(sum(a.k % 10007), 0) AS BIGINT) AS a_1, " +
            s"CAST(coalesce(sum(b.k % 10007), 0) AS BIGINT) AS a_2 FROM " +
            s"(SELECT $k AS k, upper($w) AS v FROM ${t.name} WHERE ${t.key} % $p = 0) a JOIN " +
            s"(SELECT $k AS k, lower($w) AS v FROM ${t.name} WHERE ${t.key} % ${p + 1} = 0) b " +
            s"ON lower(a.v) = b.v"
        CQuery(id, spark, duck, Seq("a_0", "a_1", "a_2"))
      case 2 =>
        // rank over the ICU order, case-SENSITIVE and case-
        // insensitive variants alternating; unique-key tiebreak makes
        // rank position-exact (values non-null by construction, so
        // the engines' ASC-nulls default divergence never bites)
        val ci = rnd.nextBoolean()
        val (sparkOrd, duckOrd) =
          if (ci) (s"${uniCi(v)}, $k", s"lower($v), $k")
          else (s"${uni(v)}, $k", s"lower($v) ASC, ($v) DESC, $k")
        val spark = s"SELECT $k AS key, " +
          s"CAST(rank() OVER (PARTITION BY ${t.num} % 64 " +
          s"ORDER BY $sparkOrd) AS BIGINT) AS a_0, " +
          s"lower($v) AS a_1 FROM ${sparkView(t.name)}"
        val duck = s"SELECT $k AS key, " +
          s"CAST(rank() OVER (PARTITION BY ${t.num} % 64 " +
          s"ORDER BY $duckOrd) AS BIGINT) AS a_0, " +
          s"lower($v) AS a_1 FROM ${t.name}"
        CQuery(id, spark, duck, Seq("key", "a_0", "a_1"))
      case _ =>
        // UNICODE_CI DISTINCT + an EQUALITY predicate on a mixed-case
        // literal (inequality literals excluded — see the scaladoc)
        val lit = Seq("'1-Urgent'", "'Building'", "'o'", "'Machinery'",
          "'f'")(rnd.nextInt(5))
        val spark = s"SELECT CAST(count(DISTINCT ${uniCi(v)}) AS BIGINT) AS a_0, " +
          s"CAST(count(*) AS BIGINT) AS a_1, " +
          s"CAST(coalesce(sum($k % 10007), 0) AS BIGINT) AS a_2 " +
          s"FROM ${sparkView(t.name)} WHERE ${uniCi(v)} = ${uniCi(lit)}"
        val duck = s"SELECT CAST(count(DISTINCT lower($v)) AS BIGINT) AS a_0, " +
          s"CAST(count(*) AS BIGINT) AS a_1, " +
          s"CAST(coalesce(sum($k % 10007), 0) AS BIGINT) AS a_2 " +
          s"FROM ${t.name} WHERE lower($v) = lower($lit)"
        CQuery(id, spark, duck, Seq("a_0", "a_1", "a_2"))
    }
  }

  /** The COMPOSITE-collation quarter (ids 42–47): Spark 4 composes
    * case-insensitivity with trailing-space-insensitivity
    * (`UTF8_LCASE_RTRIM`, `UNICODE_CI_RTRIM`). Probed: equality under
    * both ⟺ `lower(rtrim(x))` binary equality on ASCII ('Apple  ' =
    * 'apple' TRUE, inner spaces significant, neither axis leaks into
    * the other) — so the oracle compensates with exactly that
    * composition. Case and padding are planted on INDEPENDENT
    * residues (num%3 × key%3), so all nine case×pad combinations
    * appear and a bug on either axis — or in their composition —
    * splits groups / drops join rows. */
  private def genComposite(id: Int, rnd: Random): CQuery = {
    val t = tables(rnd.nextInt(tables.size))
    val k = s"CAST(${t.key} AS BIGINT)"
    val coll = if (rnd.nextBoolean()) "UTF8_LCASE_RTRIM" else "UNICODE_CI_RTRIM"
    def cc(e: String) = s"CAST($e AS STRING COLLATE $coll)"
    def norm(e: String) = s"lower(rtrim($e))"
    // case (num residue) × padding (key residue), independently
    def cpMangled(rnd0: Random): String = {
      val s = t.strs(rnd0.nextInt(t.strs.size))
      val cased = s"CASE WHEN ${t.num} % 3 = 0 THEN upper($s) " +
        s"WHEN ${t.num} % 3 = 1 THEN lower($s) ELSE $s END"
      s"(($cased) || CASE WHEN ${t.key} % 3 = 0 THEN '  ' " +
        s"WHEN ${t.key} % 3 = 1 THEN ' ' ELSE '' END)"
    }
    val v = cpMangled(rnd)
    ((id - 42) % 3) match {
      case 0 =>
        // composite GROUP BY: all nine case×pad variants → ONE group
        val spark = s"SELECT ${norm(s"min(${cc(v)})")} AS g, " +
          s"CAST(count(*) AS BIGINT) AS a_0, " +
          s"CAST(min(${t.num}) AS BIGINT) AS a_1 " +
          s"FROM ${sparkView(t.name)} GROUP BY ${cc(v)}"
        val duck = s"SELECT ${norm(v)} AS g, " +
          s"CAST(count(*) AS BIGINT) AS a_0, " +
          s"CAST(min(${t.num}) AS BIGINT) AS a_1 " +
          s"FROM ${t.name} GROUP BY ${norm(v)}"
        CQuery(id, spark, duck, Seq("g", "a_0", "a_1"))
      case 1 =>
        // composite JOIN: upper+double-pad left vs lower+bare right —
        // zero binary matches, all matches under the composition; the
        // #key%499 residue keeps the key wide (the fanout-audit rule)
        val p = 1 + rnd.nextInt(5)
        val sub = t.strs(rnd.nextInt(t.strs.size))
        val w = s"$sub || '#' || CAST(${t.key} % 499 AS STRING)"
        val spark =
          s"SELECT CAST(count(*) AS BIGINT) AS a_0, " +
            s"CAST(coalesce(sum(a.k % 10007), 0) AS BIGINT) AS a_1, " +
            s"CAST(coalesce(sum(b.k % 10007), 0) AS BIGINT) AS a_2 FROM " +
            s"(SELECT $k AS k, upper($w) || '  ' AS v FROM ${sparkView(t.name)} WHERE ${t.key} % $p = 0) a JOIN " +
            s"(SELECT $k AS k, lower($w) AS v FROM ${sparkView(t.name)} WHERE ${t.key} % ${p + 1} = 0) b " +
            s"ON ${cc("a.v")} = ${cc("b.v")}"
        val duck =
          s"SELECT CAST(count(*) AS BIGINT) AS a_0, " +
            s"CAST(coalesce(sum(a.k % 10007), 0) AS BIGINT) AS a_1, " +
            s"CAST(coalesce(sum(b.k % 10007), 0) AS BIGINT) AS a_2 FROM " +
            s"(SELECT $k AS k, upper($w) || '  ' AS v FROM ${t.name} WHERE ${t.key} % $p = 0) a JOIN " +
            s"(SELECT $k AS k, lower($w) AS v FROM ${t.name} WHERE ${t.key} % ${p + 1} = 0) b " +
            s"ON ${norm("a.v")} = b.v"
        CQuery(id, spark, duck, Seq("a_0", "a_1", "a_2"))
      case _ =>
        // composite DISTINCT + a padded MIXED-CASE literal equality:
        // both axes must fold on both comparison sides
        val (src, lit) =
          if (t.name == "orders") ("o_orderstatus", "o ") else ("c_mktsegment", "Building  ")
        val pv = s"(CASE WHEN ${t.num} % 3 = 0 THEN upper($src) " +
          s"WHEN ${t.num} % 3 = 1 THEN lower($src) ELSE $src END || " +
          s"CASE WHEN ${t.key} % 3 = 0 THEN '  ' " +
          s"WHEN ${t.key} % 3 = 1 THEN ' ' ELSE '' END)"
        val spark = s"SELECT CAST(count(DISTINCT ${cc(pv)}) AS BIGINT) AS a_0, " +
          s"CAST(count(*) AS BIGINT) AS a_1, " +
          s"CAST(coalesce(sum($k % 10007), 0) AS BIGINT) AS a_2 " +
          s"FROM ${sparkView(t.name)} WHERE ${cc(pv)} = ${cc(s"'$lit'")}"
        val duck = s"SELECT CAST(count(DISTINCT ${norm(pv)}) AS BIGINT) AS a_0, " +
          s"CAST(count(*) AS BIGINT) AS a_1, " +
          s"CAST(coalesce(sum($k % 10007), 0) AS BIGINT) AS a_2 " +
          s"FROM ${t.name} WHERE ${norm(pv)} = ${norm(s"'$lit'")}"
        CQuery(id, spark, duck, Seq("a_0", "a_1", "a_2"))
    }
  }

  // ---- the gate (run by FuzzExec) ----

  type Query = CQuery

  protected def viewTables: Seq[String] = tables.map(_.name)

  /** q_fz28 — the collation differential gate. */
  def gate: Q = declare(
    "q_fz28_collation",
    s"collation fuzz: $NQueries seeded queries — " +
      "case-mangled strings under UTF8_LCASE (DuckDB COLLATE NOCASE, " +
      "probed lowercase-then-binary-equivalent on ASCII) through " +
      "collated GROUP BY / JOIN / DISTINCT / predicates / rank, an " +
      "UTF8_BINARY_RTRIM half (trailing-space-insensitive; DuckDB " +
      "has no RTRIM collation, oracle compensates with rtrim()), and " +
      "a UNICODE/UNICODE_CI (ICU root) half — CI equality ≡ lower() " +
      "on ASCII and the case-sensitive ICU order ≡ (lower ASC, raw " +
      "DESC) on per-template case variants, both probed vs DuckDB's " +
      "icu 'en' before being compensated ICU-free; string exits " +
      "lower()/rtrim()-normalized (representative choice is " +
      "engine-internal)")
}
