package graft.operators

import graft.Q

import scala.util.Random

/** Differential fuzz over COLLATION-AWARE STRING FUNCTIONS — the
  * thirty-second population. Spark 4 routes string SEARCH through the
  * collation, not just comparison: `contains` / `startswith` /
  * `endswith` / `instr` / `locate` / `replace` / `split_part` /
  * `trim(chars FROM x)` / `LIKE` / `IN` / `array_contains` /
  * `array_position` all match case-insensitively under `UTF8_LCASE`
  * and via ICU StringSearch under `UNICODE_CI` (every one probed on
  * 4.1.2 — e.g. `instr(UNICODE_CI 'Customer#000 BUILDING',
  * 'building')` = 14, `replace(LCASE 'aAaA', 'aa', 'z')` = 'zz',
  * leftmost non-overlapping). fz28 covers the comparison surface
  * (GROUP/JOIN/DISTINCT/ORDER); this population covers the SEARCH
  * surface nothing else touches.
  *
  * Oracle (ICU-free, the fz28 discipline — the driver's DuckDB can't
  * LOAD icu): on ASCII, a case-insensitive match in `x` is an exact
  * match in `lower(x)` at the SAME position and length, so every
  * function compensates as itself over lowered operands:
  * `contains(lower(x), lower(pat))`, `strpos(lower(x), lower(pat))`
  * (= Spark's instr — positions align because ASCII case variants
  * are equal-length), `replace(lower(x), lower(pat), lower(rep))`
  * (same leftmost-non-overlapping occurrence set; rewriting exits
  * lower-normalize BOTH sides), `split_part(lower(x), lower(d), n)`,
  * `trim(lower(x), lower(chars))`, `list_contains/list_position`
  * over lowered elements. Probed divergence pinned by construction:
  * `LIKE` under UNICODE_CI is a DATATYPE_MISMATCH in Spark (only the
  * UTF8 collations support it) — LIKE arms generate UTF8_LCASE only.
  *
  * Case diversity is PLANTED two ways: the haystack is case-mangled
  * on a numeric residue (fz28's discipline), and the needle literals
  * flip case independently — a binary-match bug flips counts /
  * positions / rewrite outputs on every arm.
  *
  * Ids 24–29: REGEXP under collation — Spark compiles the pattern
  * case-insensitively under UTF8_LCASE (probed: `'apple' RLIKE 'APP'`
  * true, `regexp_count('aAbA', 'a')` = 3, `regexp_replace` rewrites
  * ALL ci occurrences), and REJECTS regexp on every other collation
  * family (UNICODE_CI and any RTRIM variant: DATATYPE_MISMATCH —
  * boundary pinned in the spec). Patterns generate all-lowercase, so
  * the lowered-operand oracle is literal: `regexp_matches(lower(v),
  * pat)` / `len(regexp_extract_all(...))` / `regexp_extract` /
  * `regexp_replace(..., 'g')` — DuckDB's replace is first-match-only
  * without the 'g' flag, Spark's is global.
  *
  * Ids 30–41: the COMPOSITE collations (`UTF8_LCASE_RTRIM` /
  * `UNICODE_CI_RTRIM`) on the search surface — fz28 gates them only
  * on comparison (GROUP/JOIN/DISTINCT, ids 42–47). Probed semantics
  * on 4.1.2 (every claim pinned one-engine in the spec):
  *  - `contains`/`startswith`/`endswith`/`instr`/`locate` rtrim BOTH
  *    operands as whole strings, then search case-insensitively:
  *    `startswith('  ab','a')` = false (leading spaces kept),
  *    `endswith('ab  ','b')` = true and `instr('aBc  ','c')` = 3
  *    (haystack trimmed), `instr('abc','c ')` = 3 (needle trimmed).
  *    Oracle: the function over `rtrim(lower(x))` on both sides —
  *    positions align because trimming and ASCII case changes are
  *    both length-preserving left of the match.
  *  - equality / `IN` / `array_contains` / `array_position` are
  *    rtrim+ci whole-string: oracle `rtrim(lower(x))`.
  *  - `replace` does NOT trim (probed: needle `'xb '` matches
  *    nothing in `'aXBcd'` while contains trims it) — it is plain ci
  *    occurrence rewrite; generated needles are pad-free, so the
  *    base-family lowered-operand oracle carries over unchanged.
  *  - `trim(chars FROM x)` and `split_part` interact with trailing
  *    pads in ways no DuckDB one-liner mirrors (probed: composite
  *    set-trim removes set chars BENEATH trailing spaces and keeps
  *    the spaces), so their composite arms generate the PAD-FREE
  *    case-mangled subject — the composite ci path is exercised, the
  *    murky pad interaction deliberately stays out of the oracle.
  *  - `LIKE` and all regexp functions are DATATYPE_MISMATCH under
  *    BOTH composites (boundary pinned one-engine like the base
  *    families').
  * Pad diversity is planted on a residue of the key INDEPENDENT of
  * the case-mangling residue, so all nine case×pad combinations
  * appear (the fz28 composite discipline). */
object StringCollationFuzz extends FuzzExec.Views {

  val NQueries = 42
  val GateSeed = 20261701L

  private final case class STable(name: String, key: String, num: String,
      strs: Seq[String], needles: Seq[String], prefixes: Seq[String],
      suffixes: Seq[String])
  private def tables = Seq(
    STable("orders", "o_orderkey", "o_custkey",
      Seq("o_orderpriority", "o_orderpriority || '/' || o_orderstatus"),
      Seq("urgent", "HIGH", "eciF", "med", "LOW", "o"),
      Seq("1-u", "2-H", "5-l", "4-N"),
      Seq("ENT", "gh", "IED", "ow", "/o", "/F")),
    STable("customer", "c_custkey", "c_nationkey",
      Seq("c_mktsegment", "c_name"),
      Seq("build", "MACH", "ile", "Customer#", "USEH"),
      Seq("BU", "ma", "Fu", "Cust"),
      Seq("ING", "ery", "olD", "1", "5")))

  protected def sparkView(t: String) = s"__fz32_$t"

  final case class SQuery(id: Int, sparkSql: String, duckSql: String,
      outCols: Seq[String]) extends FuzzExec.SqlGenerated

  def queries(seed: Long, n: Int): Seq[SQuery] =
    (0 until n).map(i => gen(i, new Random(seed * 911 + i)))

  /** Case-mangled haystack (the fz28 discipline). */
  private def mangled(t: STable, rnd: Random): String = {
    val s = t.strs(rnd.nextInt(t.strs.size))
    s"CASE WHEN ${t.num} % 3 = 0 THEN upper($s) " +
      s"WHEN ${t.num} % 3 = 1 THEN lower($s) ELSE $s END"
  }

  /** Trailing-pad mangling on a key residue INDEPENDENT of the case
    * residue (which keys on the num column): nine case×pad combos. */
  private def padded(t: STable, inner: String): String =
    s"CASE WHEN ${t.key} % 3 = 0 THEN $inner || '  ' " +
      s"WHEN ${t.key} % 3 = 1 THEN $inner || ' ' ELSE $inner END"

  private def gen(id: Int, rnd: Random): SQuery = {
    if (id >= 30) return genComposite(id, rnd)
    if (id >= 24) return genRegexp(id, rnd)
    val t = tables(rnd.nextInt(tables.size))
    val k = s"CAST(${t.key} AS BIGINT)"
    val v = mangled(t, rnd)
    // LIKE exists only for UTF8 collations (probed: UNICODE_CI LIKE
    // is DATATYPE_MISMATCH) — arm 0 generates LIKE, so it stays on
    // UTF8_LCASE; the other arms alternate the ICU search path in
    val coll = if (id % 4 != 0 && rnd.nextBoolean()) "UNICODE_CI" else "UTF8_LCASE"
    def c(e: String) = s"CAST($e AS STRING COLLATE $coll)"
    (id % 4) match {
      case 0 =>
        // predicate arm: contains / startswith / endswith / LIKE as
        // WHERE filters — the match SET is the assertion
        val needle = t.needles(rnd.nextInt(t.needles.size))
        val prefix = t.prefixes(rnd.nextInt(t.prefixes.size))
        val suffix = t.suffixes(rnd.nextInt(t.suffixes.size))
        val (sparkPred, duckPred) = rnd.nextInt(4) match {
          case 0 => (s"contains(${c(v)}, ${c(s"'$needle'")})",
            s"contains(lower($v), lower('$needle'))")
          case 1 => (s"startswith(${c(v)}, ${c(s"'$prefix'")})",
            s"starts_with(lower($v), lower('$prefix'))")
          case 2 => (s"endswith(${c(v)}, ${c(s"'$suffix'")})",
            s"ends_with(lower($v), lower('$suffix'))")
          case _ => (s"${c(v)} LIKE ${c(s"'%$needle%'")}",
            s"lower($v) LIKE lower('%$needle%')")
        }
        val spark = s"SELECT CAST(count(*) AS BIGINT) AS a_0, " +
          s"CAST(coalesce(sum($k % 10007), 0) AS BIGINT) AS a_1 " +
          s"FROM ${sparkView(t.name)} WHERE $sparkPred"
        val duck = s"SELECT CAST(count(*) AS BIGINT) AS a_0, " +
          s"CAST(coalesce(sum($k % 10007), 0) AS BIGINT) AS a_1 " +
          s"FROM ${t.name} WHERE $duckPred"
        SQuery(id, spark, duck, Seq("a_0", "a_1"))
      case 1 =>
        // position arm: instr + locate + boolean search exits per row
        // (ASCII case variants are equal-length, so ci positions equal
        // positions in the lowered twin; locate's reversed argument
        // order compensates to the same strpos)
        val needle = t.needles(rnd.nextInt(t.needles.size))
        val needle2 = t.needles(rnd.nextInt(t.needles.size))
        val prefix = t.prefixes(rnd.nextInt(t.prefixes.size))
        val spark = s"SELECT $k AS key, " +
          s"CAST(instr(${c(v)}, ${c(s"'$needle'")}) AS BIGINT) AS a_0, " +
          s"CAST(CAST(startswith(${c(v)}, ${c(s"'$prefix'")}) AS INT) AS BIGINT) AS a_1, " +
          s"CAST(length(${c(v)}) AS BIGINT) AS a_2, " +
          s"CAST(locate(${c(s"'$needle2'")}, ${c(v)}) AS BIGINT) AS a_3 " +
          s"FROM ${sparkView(t.name)}"
        val duck = s"SELECT $k AS key, " +
          s"CAST(strpos(lower($v), lower('$needle')) AS BIGINT) AS a_0, " +
          s"CAST(CAST(starts_with(lower($v), lower('$prefix')) AS INT) AS BIGINT) AS a_1, " +
          s"CAST(length($v) AS BIGINT) AS a_2, " +
          s"CAST(strpos(lower($v), lower('$needle2')) AS BIGINT) AS a_3 " +
          s"FROM ${t.name}"
        SQuery(id, spark, duck, Seq("key", "a_0", "a_1", "a_2", "a_3"))
      case 2 =>
        // rewrite arm: replace + split_part, outputs lower-normalized
        // on BOTH sides (the replacement's case survives in Spark's
        // output; lowering both exits removes only that freedom while
        // keeping occurrence positions under test)
        val needle = t.needles(rnd.nextInt(t.needles.size))
        val delim = Seq("e", "N", "i", "R", "o")(rnd.nextInt(5))
        val part = 1 + rnd.nextInt(3)
        val spark = s"SELECT $k AS key, " +
          s"lower(replace(${c(v)}, ${c(s"'$needle'")}, 'Qz')) AS a_0, " +
          s"lower(split_part(${c(v)}, ${c(s"'$delim'")}, $part)) AS a_1 " +
          s"FROM ${sparkView(t.name)}"
        val duck = s"SELECT $k AS key, " +
          s"replace(lower($v), lower('$needle'), 'qz') AS a_0, " +
          s"split_part(lower($v), lower('$delim'), $part) AS a_1 " +
          s"FROM ${t.name}"
        SQuery(id, spark, duck, Seq("key", "a_0", "a_1"))
      case _ =>
        // trim/IN/array arm: collated trim-set, collated IN-list
        // filter, and array membership + position over a two-element
        // collated array
        val chars = Seq("oF", "Bg", "dE", "m1")(rnd.nextInt(4))
        val (l1, l2) =
          if (t.name == "orders") ("1-URGENT", "5-low") else ("BUILDING", "machinery")
        val needle = t.needles(rnd.nextInt(t.needles.size))
        val spark = s"SELECT $k AS key, " +
          s"lower(trim(${c(s"'$chars'")} FROM ${c(v)})) AS a_0, " +
          s"CAST(CAST(${c(v)} IN (${c(s"'$l1'")}, ${c(s"'$l2'")}) AS INT) AS BIGINT) AS a_1, " +
          s"CAST(CAST(array_contains(array(${c(v)}, ${c(s"'$needle'")}), ${c(s"'$l1'")}) AS INT) AS BIGINT) AS a_2, " +
          s"CAST(array_position(array(${c(s"'$needle'")}, ${c(v)}), ${c(v)}) AS BIGINT) AS a_3 " +
          s"FROM ${sparkView(t.name)}"
        val duck = s"SELECT $k AS key, " +
          s"trim(lower($v), lower('$chars')) AS a_0, " +
          s"CAST(CAST(lower($v) IN (lower('$l1'), lower('$l2')) AS INT) AS BIGINT) AS a_1, " +
          s"CAST(CAST(list_contains([lower($v), lower('$needle')], lower('$l1')) AS INT) AS BIGINT) AS a_2, " +
          s"CAST(list_position([lower('$needle'), lower($v)], lower($v)) AS BIGINT) AS a_3 " +
          s"FROM ${t.name}"
        SQuery(id, spark, duck, Seq("key", "a_0", "a_1", "a_2", "a_3"))
    }
  }

  /** The regexp quarter (ids 24–29): UTF8_LCASE only — the one
    * collation family whose regexp Spark accepts (see the scaladoc).
    * All-lowercase patterns make the lowered oracle literal. */
  private def genRegexp(id: Int, rnd: Random): SQuery = {
    val t = tables(rnd.nextInt(tables.size))
    val k = s"CAST(${t.key} AS BIGINT)"
    val v = mangled(t, rnd)
    def c(e: String) = s"CAST($e AS STRING COLLATE UTF8_LCASE)"
    val pats = Seq("urg", "ent$", "^[0-9]-", "[aeiou]+", "ing", "er",
      "cust[a-z]*", "[a-z]#?[0-9]*")
    val pat = pats(rnd.nextInt(pats.size))
    ((id - 24) % 3) match {
      case 0 =>
        // rlike predicate: the ci match SET is the assertion
        val spark = s"SELECT CAST(count(*) AS BIGINT) AS a_0, " +
          s"CAST(coalesce(sum($k % 10007), 0) AS BIGINT) AS a_1 " +
          s"FROM ${sparkView(t.name)} WHERE ${c(v)} RLIKE '$pat'"
        val duck = s"SELECT CAST(count(*) AS BIGINT) AS a_0, " +
          s"CAST(coalesce(sum($k % 10007), 0) AS BIGINT) AS a_1 " +
          s"FROM ${t.name} WHERE regexp_matches(lower($v), '$pat')"
        SQuery(id, spark, duck, Seq("a_0", "a_1"))
      case 1 =>
        // regexp_count + regexp_extract per row
        val spark = s"SELECT $k AS key, " +
          s"CAST(regexp_count(${c(v)}, '$pat') AS BIGINT) AS a_0, " +
          s"lower(regexp_extract(${c(v)}, '($pat)', 1)) AS a_1 " +
          s"FROM ${sparkView(t.name)}"
        val duck = s"SELECT $k AS key, " +
          s"CAST(len(regexp_extract_all(lower($v), '$pat')) AS BIGINT) AS a_0, " +
          s"regexp_extract(lower($v), '($pat)', 1) AS a_1 " +
          s"FROM ${t.name}"
        SQuery(id, spark, duck, Seq("key", "a_0", "a_1"))
      case _ =>
        // global ci regexp_replace, exits lower-normalized both sides
        val spark = s"SELECT $k AS key, " +
          s"lower(regexp_replace(${c(v)}, '$pat', 'Qz')) AS a_0 " +
          s"FROM ${sparkView(t.name)}"
        val duck = s"SELECT $k AS key, " +
          s"regexp_replace(lower($v), '$pat', 'qz', 'g') AS a_0 " +
          s"FROM ${t.name}"
        SQuery(id, spark, duck, Seq("key", "a_0"))
    }
  }

  /** The composite quarter (ids 30–41): UTF8_LCASE_RTRIM /
    * UNICODE_CI_RTRIM over the search surface, with the probed
    * rtrim-both-operands oracle for search/equality, the base ci
    * oracle for replace (needles pad-free by construction), and the
    * pad-free subject for trim-set/split_part — see the scaladoc's
    * semantics table. */
  /** Per-(table, string-column) needle/prefix/suffix pools for the
    * composite quarter: the shared table-level pools mix needles for
    * BOTH string columns, and a needle that cannot occur in the drawn
    * column makes the predicate arm's match set empty (the first cut
    * generated two vacuous arms out of three — agreement on an empty
    * set gates nothing). */
  private def compositePools(t: STable, si: Int): (Seq[String], Seq[String], Seq[String]) =
    (t.name, si) match {
      case ("orders", _) => // o_orderpriority (± '/status' tail)
        (Seq("urgent", "HIGH", "med", "LOW", "eciF"),
          Seq("1-u", "2-H", "5-l", "4-N"),
          if (si == 0) Seq("ENT", "gh", "IED", "ow") else Seq("/o", "/F", "ENT/P"))
      case (_, 0) => // c_mktsegment: AUTOMOBILE BUILDING FURNITURE MACHINERY HOUSEHOLD
        (Seq("build", "MACH", "USEH", "ile", "ur"),
          Seq("BU", "ma", "Fu", "AUTO"),
          Seq("ING", "ery", "olD", "ILE"))
      case _ => // c_name: 'Customer#000000001'
        (Seq("Customer#", "stomer", "er#0"),
          Seq("Cust", "cUSTO"),
          Seq("1", "5", "8"))
    }

  private def genComposite(id: Int, rnd: Random): SQuery = {
    val t = tables(rnd.nextInt(tables.size))
    val k = s"CAST(${t.key} AS BIGINT)"
    val si = rnd.nextInt(t.strs.size)
    val s0 = t.strs(si)
    val (cNeedles, cPrefixes, cSuffixes) = compositePools(t, si)
    // case-mangled pad-free subject over the EXPLICITLY drawn column
    // (mangled() hides the draw, and the pools must match it)
    val vPlain = s"CASE WHEN ${t.num} % 3 = 0 THEN upper($s0) " +
      s"WHEN ${t.num} % 3 = 1 THEN lower($s0) ELSE $s0 END"
    val v = padded(t, vPlain) // nine case×pad combinations
    val coll = if (rnd.nextBoolean()) "UTF8_LCASE_RTRIM" else "UNICODE_CI_RTRIM"
    def c(e: String) = s"CAST($e AS STRING COLLATE $coll)"
    // rtrim+lower both sides: the probed whole-string-trim-then-ci
    // semantics of search and equality under the composites
    def o(e: String) = s"rtrim(lower($e))"
    // planted pad variants for needles/literals — the composite must
    // erase them; a binary or ci-only path flips the fingerprint
    def pad(s: String) = rnd.nextInt(3) match {
      case 0 => s + "  "
      case 1 => s + " "
      case _ => s
    }
    ((id - 30) % 4) match {
      case 0 =>
        // predicate arm: composite contains/startswith/endswith
        val needle = pad(cNeedles(rnd.nextInt(cNeedles.size)))
        val prefix = pad(cPrefixes(rnd.nextInt(cPrefixes.size)))
        val suffix = pad(cSuffixes(rnd.nextInt(cSuffixes.size)))
        val (sparkPred, duckPred) = rnd.nextInt(3) match {
          case 0 => (s"contains(${c(v)}, ${c(s"'$needle'")})",
            s"contains(${o(v)}, ${o(s"'$needle'")})")
          case 1 => (s"startswith(${c(v)}, ${c(s"'$prefix'")})",
            s"starts_with(${o(v)}, ${o(s"'$prefix'")})")
          case _ => (s"endswith(${c(v)}, ${c(s"'$suffix'")})",
            s"ends_with(${o(v)}, ${o(s"'$suffix'")})")
        }
        val spark = s"SELECT CAST(count(*) AS BIGINT) AS a_0, " +
          s"CAST(coalesce(sum($k % 10007), 0) AS BIGINT) AS a_1 " +
          s"FROM ${sparkView(t.name)} WHERE $sparkPred"
        val duck = s"SELECT CAST(count(*) AS BIGINT) AS a_0, " +
          s"CAST(coalesce(sum($k % 10007), 0) AS BIGINT) AS a_1 " +
          s"FROM ${t.name} WHERE $duckPred"
        SQuery(id, spark, duck, Seq("a_0", "a_1"))
      case 1 =>
        // position arm: instr + locate on the trimmed haystack (the
        // probed position base); length stays on the RAW expression —
        // composite length is untested territory the oracle can't pin
        val needle = pad(cNeedles(rnd.nextInt(cNeedles.size)))
        val needle2 = cNeedles(rnd.nextInt(cNeedles.size))
        val spark = s"SELECT $k AS key, " +
          s"CAST(instr(${c(v)}, ${c(s"'$needle'")}) AS BIGINT) AS a_0, " +
          s"CAST(locate(${c(s"'$needle2'")}, ${c(v)}) AS BIGINT) AS a_1, " +
          s"CAST(length($v) AS BIGINT) AS a_2 " +
          s"FROM ${sparkView(t.name)}"
        val duck = s"SELECT $k AS key, " +
          s"CAST(strpos(${o(v)}, ${o(s"'$needle'")}) AS BIGINT) AS a_0, " +
          s"CAST(strpos(${o(v)}, ${o(s"'$needle2'")}) AS BIGINT) AS a_1, " +
          s"CAST(length($v) AS BIGINT) AS a_2 " +
          s"FROM ${t.name}"
        SQuery(id, spark, duck, Seq("key", "a_0", "a_1", "a_2"))
      case 2 =>
        // equality/membership arm: IN over padded mixed-case literals,
        // array membership + position — all rtrim+ci whole-string
        val (l1, l2) =
          if (t.name == "orders") ("1-URGENT ", "5-low  ") else ("BUILDING ", "machinery")
        val needle = pad(cNeedles(rnd.nextInt(cNeedles.size)))
        val spark = s"SELECT $k AS key, " +
          s"CAST(CAST(${c(v)} IN (${c(s"'$l1'")}, ${c(s"'$l2'")}) AS INT) AS BIGINT) AS a_0, " +
          s"CAST(CAST(array_contains(array(${c(v)}, ${c(s"'$needle'")}), ${c(s"'$l1'")}) AS INT) AS BIGINT) AS a_1, " +
          s"CAST(array_position(array(${c(s"'$needle'")}, ${c(v)}), ${c(v)}) AS BIGINT) AS a_2 " +
          s"FROM ${sparkView(t.name)}"
        val duck = s"SELECT $k AS key, " +
          s"CAST(CAST(${o(v)} IN (${o(s"'$l1'")}, ${o(s"'$l2'")}) AS INT) AS BIGINT) AS a_0, " +
          s"CAST(CAST(list_contains([${o(v)}, ${o(s"'$needle'")}], ${o(s"'$l1'")}) AS INT) AS BIGINT) AS a_1, " +
          s"CAST(list_position([${o(s"'$needle'")}, ${o(v)}], ${o(v)}) AS BIGINT) AS a_2 " +
          s"FROM ${t.name}"
        SQuery(id, spark, duck, Seq("key", "a_0", "a_1", "a_2"))
      case _ =>
        // rewrite arm: ci replace over the PADDED haystack with a
        // pad-free needle (probed: composite replace never trims, so
        // the base lowered-operand oracle holds; haystack pads ride
        // through both engines identically); trim-set and split_part
        // on the PAD-FREE subject (see the scaladoc)
        val needle = cNeedles(rnd.nextInt(cNeedles.size))
        val chars = Seq("oF", "Bg", "dE", "m1")(rnd.nextInt(4))
        val delim = Seq("e", "N", "i", "R", "o")(rnd.nextInt(5))
        val part = 1 + rnd.nextInt(3)
        val spark = s"SELECT $k AS key, " +
          s"lower(replace(${c(v)}, ${c(s"'$needle'")}, 'Qz')) AS a_0, " +
          s"lower(trim(${c(s"'$chars'")} FROM ${c(vPlain)})) AS a_1, " +
          s"lower(split_part(${c(vPlain)}, ${c(s"'$delim'")}, $part)) AS a_2 " +
          s"FROM ${sparkView(t.name)}"
        val duck = s"SELECT $k AS key, " +
          s"replace(lower($v), lower('$needle'), 'qz') AS a_0, " +
          s"trim(lower($vPlain), lower('$chars')) AS a_1, " +
          s"split_part(lower($vPlain), lower('$delim'), $part) AS a_2 " +
          s"FROM ${t.name}"
        SQuery(id, spark, duck, Seq("key", "a_0", "a_1", "a_2"))
    }
  }

  // ---- the gate (run by FuzzExec) ----

  type Query = SQuery

  protected def viewTables: Seq[String] = tables.map(_.name)

  /** q_fz32 — the collation-aware string-function differential gate. */
  def gate: Q = declare(
    "q_fz32_collated_strfuncs",
    s"collated string-function fuzz: $NQueries " +
      "seeded queries — contains/startswith/endswith/LIKE predicates, " +
      "instr/locate positions, replace/split_part rewrites, trim-set/" +
      "IN/array membership, matching through UTF8_LCASE or UNICODE_CI " +
      "(ICU StringSearch); oracle is each function over lower()ed " +
      "operands (probed position/occurrence-equivalent on ASCII), " +
      "rewrite exits lower-normalized both sides; LIKE stays " +
      "UTF8_LCASE-only (probed DATATYPE_MISMATCH under UNICODE_CI); " +
      "ids 30-41 the composite quarter (UTF8_LCASE_RTRIM / " +
      "UNICODE_CI_RTRIM) — search/equality rtrim BOTH operands then " +
      "match ci (probed), oracle composes rtrim(lower()); replace " +
      "never trims (probed), trim-set/split_part ride pad-free " +
      "subjects; LIKE+regexp rejected under both composites (pinned)")
}
