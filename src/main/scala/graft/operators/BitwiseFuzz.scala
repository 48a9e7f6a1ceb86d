package graft.operators

import graft.Q

import scala.util.Random

/** Differential fuzz over the BITWISE surface and the aggregate
  * FILTER clause — the twenty-fourth population, covering two engine
  * features nothing earlier exercises: bit operators (`&`, `|`, xor,
  * `~`, `<<`, `>>`, `bit_count`), the bit/bool aggregate family
  * (`bit_and`/`bit_or`/`bit_xor`, `bool_and`/`bool_or`), and
  * `agg(...) FILTER (WHERE …)` — including FILTER over DISTINCT and
  * FILTER under GROUP BY.
  *
  * Dialect notes (probed first):
  *  - DuckDB's `^` is POWER — bitwise xor renders `xor(a, b)` there
  *    and `a ^ b` in Spark; everything else is common syntax
  *    (`& | ~ << >>` and the aggregate names agree, incl. FILTER and
  *    FILTER + DISTINCT, value-probed side by side).
  *  - Shift counts stay literal in 1..31: DuckDB raises Out of Range
  *    at shift ≥ 64 where Spark (Java semantics) masks the count —
  *    a true divergence, excluded by construction and documented
  *    here. Left-shift OPERANDS are masked `(expr) & 255` in both
  *    renderings (DuckDB also hard-errors on left-shifting a
  *    negative — e.g. any ~-subtree — and on 64-bit overflow, where
  *    Spark wraps silently); arithmetic right shift on negatives
  *    agrees (probed `-64 >> 3 = -8` both) and stays unmasked.
  *  - Empty FILTER sets: count → 0, sum/max/min → NULL — identical
  *    (probed); every aggregate output is CAST-wrapped per the
  *    HUGEINT oracle lint.
  *
  * No arm is order-sensitive (pure scalar maps and whole-table /
  * grouped aggregates), so the tables may include lineitem — the
  * tied-key hazard does not reach this population. */
object BitwiseFuzz extends FuzzExec.Views {

  val NQueries = 28
  val GateSeed = 20261101L

  private final case class BTable(name: String, key: String,
      nums: Seq[String], preds: Seq[String])
  private def tables = Seq(
    BTable("lineitem", "l_orderkey * 8 + l_linenumber",
      Seq("l_suppkey", "l_partkey", "l_orderkey"),
      Seq("l_returnflag = 'R'", "l_linenumber % 2 = 0")),
    BTable("orders", "o_orderkey", Seq("o_custkey", "o_orderkey"),
      Seq("o_orderstatus = 'O'", "o_orderkey % 3 = 1")),
    BTable("customer", "c_custkey", Seq("c_nationkey", "c_custkey"),
      Seq("c_mktsegment = 'BUILDING'", "c_custkey % 2 = 0")))

  protected def sparkView(t: String) = s"__fz24_$t"

  final case class BQuery(id: Int, sparkSql: String, duckSql: String,
      outCols: Seq[String]) extends FuzzExec.SqlGenerated

  def queries(seed: Long, n: Int): Seq[BQuery] =
    (0 until n).map(i => gen(i, new Random(seed * 509 + i)))

  /** A bitwise scalar expression tree over residue-bounded BIGINT
    * leaves, rendered per dialect (`xor` is the only split). */
  private def bitExpr(t: BTable, rnd: Random, depth: Int): (String, String) = {
    def leaf(): (String, String) = {
      val c = t.nums(rnd.nextInt(t.nums.size))
      val m = 16 << rnd.nextInt(5) // 16..256
      (s"CAST($c % $m AS BIGINT)", s"CAST($c % $m AS BIGINT)")
    }
    if (depth == 0) leaf()
    else rnd.nextInt(6) match {
      case 0 =>
        val (ls, ld) = bitExpr(t, rnd, depth - 1); val (rs, rd) = bitExpr(t, rnd, depth - 1)
        (s"($ls & $rs)", s"($ld & $rd)")
      case 1 =>
        val (ls, ld) = bitExpr(t, rnd, depth - 1); val (rs, rd) = bitExpr(t, rnd, depth - 1)
        (s"($ls | $rs)", s"($ld | $rd)")
      case 2 =>
        val (ls, ld) = bitExpr(t, rnd, depth - 1); val (rs, rd) = bitExpr(t, rnd, depth - 1)
        (s"($ls ^ $rs)", s"xor($ld, $rd)") // DuckDB ^ is POWER
      case 3 =>
        val (ls, ld) = bitExpr(t, rnd, depth - 1)
        (s"(~$ls)", s"(~$ld)")
      case 4 =>
        val (ls, ld) = bitExpr(t, rnd, depth - 1)
        val n = 1 + rnd.nextInt(31) // DuckDB errors at >= 64; Spark masks
        // << operands are masked non-negative BY CONSTRUCTION (both
        // renderings — engines agree on & and the masked shift can
        // never overflow 64 bits or go negative): an unmasked subtree
        // can contain ~ (always negative here) or a prior <<, and
        // DuckDB 1.0 hard-errors on BOTH ('Cannot left-shift negative
        // number', 'Overflow in left shift') where Spark wraps
        // silently — a reseed away from killing the whole UNION ALL
        // oracle (the r12 ADVICE medium). >> stays unrestricted:
        // arithmetic right shift on negatives agrees (probed).
        if (rnd.nextBoolean()) (s"((($ls) & 255) << $n)", s"((($ld) & 255) << $n)")
        else (s"($ls >> $n)", s"($ld >> $n)")
      case _ =>
        val (ls, ld) = bitExpr(t, rnd, depth - 1)
        (s"CAST(bit_count($ls) AS BIGINT)", s"CAST(bit_count($ld) AS BIGINT)")
    }
  }

  private def gen(id: Int, rnd: Random): BQuery = {
    val t = tables(rnd.nextInt(tables.size))
    val where =
      if (rnd.nextDouble() < 0.4) s" WHERE ${t.preds(rnd.nextInt(t.preds.size))}" else ""
    val k = s"CAST(${t.key} AS BIGINT)"
    val c = t.nums(rnd.nextInt(t.nums.size))
    (id % 4) match {
      case 0 =>
        // scalar bitwise expression trees, depth 2–3
        val (es, ed) = bitExpr(t, rnd, 2 + rnd.nextInt(2))
        BQuery(id,
          s"SELECT $k AS k, $es AS a_0 FROM ${sparkView(t.name)}$where",
          s"SELECT $k AS k, $ed AS a_0 FROM ${t.name}$where",
          Seq("k", "a_0"))
      case 1 =>
        // bit aggregates over a shared operand, optionally grouped
        val g = t.nums(rnd.nextInt(t.nums.size))
        val m = 16 << rnd.nextInt(5)
        val arg = s"CAST($c % $m AS BIGINT)"
        val aggs = s"CAST(bit_and($arg) AS BIGINT) AS a_0, " +
          s"CAST(bit_or($arg) AS BIGINT) AS a_1, " +
          s"CAST(bit_xor($arg) AS BIGINT) AS a_2"
        if (rnd.nextBoolean())
          BQuery(id,
            s"SELECT CAST($g % 4 AS BIGINT) AS k, $aggs FROM ${sparkView(t.name)}$where GROUP BY $g % 4",
            s"SELECT CAST($g % 4 AS BIGINT) AS k, $aggs FROM ${t.name}$where GROUP BY $g % 4",
            Seq("k", "a_0", "a_1", "a_2"))
        else
          BQuery(id,
            s"SELECT $aggs FROM ${sparkView(t.name)}$where",
            s"SELECT $aggs FROM ${t.name}$where",
            Seq("a_0", "a_1", "a_2"))
      case 2 =>
        // FILTER clause: count / sum / max / min with independent
        // predicates; one arm's filter can be empty (max → NULL)
        val g = t.nums(rnd.nextInt(t.nums.size))
        val fp1 = s"$c % 7 = ${rnd.nextInt(7)}"
        val fp2 = s"$c % 5 < ${1 + rnd.nextInt(4)}"
        val fpEmpty = s"$c % 7 = 9" // structurally empty
        val distinct = if ((id / 4) % 2 == 0) "DISTINCT " else ""
        val aggs = s"CAST(count(*) FILTER (WHERE $fp1) AS BIGINT) AS a_0, " +
          s"CAST(sum($c % 1000) FILTER (WHERE $fp2) AS BIGINT) AS a_1, " +
          s"CAST(max($c % 1000) FILTER (WHERE $fpEmpty) AS BIGINT) AS a_2, " +
          s"CAST(count(${distinct}$c % 50) FILTER (WHERE $fp2) AS BIGINT) AS a_3"
        if (rnd.nextBoolean())
          BQuery(id,
            s"SELECT CAST($g % 4 AS BIGINT) AS k, $aggs FROM ${sparkView(t.name)}$where GROUP BY $g % 4",
            s"SELECT CAST($g % 4 AS BIGINT) AS k, $aggs FROM ${t.name}$where GROUP BY $g % 4",
            Seq("k", "a_0", "a_1", "a_2", "a_3"))
        else
          BQuery(id,
            s"SELECT $aggs FROM ${sparkView(t.name)}$where",
            s"SELECT $aggs FROM ${t.name}$where",
            Seq("a_0", "a_1", "a_2", "a_3"))
      case _ =>
        // combos: bit aggregates under FILTER + bool_and/bool_or
        val m = 16 << rnd.nextInt(5)
        val arg = s"CAST($c % $m AS BIGINT)"
        val fp = s"$c % 3 = ${rnd.nextInt(3)}"
        val thr = 1 + rnd.nextInt(m - 1)
        BQuery(id,
          s"SELECT CAST(bit_xor($arg) FILTER (WHERE $fp) AS BIGINT) AS a_0, " +
            s"CAST(bit_or($arg) FILTER (WHERE $fp) AS BIGINT) AS a_1, " +
            s"CAST(bool_and($c % $m < $thr) AS STRING) AS a_2, " +
            s"CAST(bool_or($c % $m >= $thr) FILTER (WHERE $fp) AS STRING) AS a_3 " +
            s"FROM ${sparkView(t.name)}$where",
          s"SELECT CAST(bit_xor($arg) FILTER (WHERE $fp) AS BIGINT) AS a_0, " +
            s"CAST(bit_or($arg) FILTER (WHERE $fp) AS BIGINT) AS a_1, " +
            s"CAST(bool_and($c % $m < $thr) AS VARCHAR) AS a_2, " +
            s"CAST(bool_or($c % $m >= $thr) FILTER (WHERE $fp) AS VARCHAR) AS a_3 " +
            s"FROM ${t.name}$where",
          Seq("a_0", "a_1", "a_2", "a_3"))
    }
  }

  // ---- the gate (run by FuzzExec) ----

  type Query = BQuery

  protected def viewTables: Seq[String] = tables.map(_.name)

  /** q_fz24 — the bitwise + aggregate-FILTER differential gate. */
  def gate: Q = declare(
    "q_fz24_bitwise_fuzz",
    s"bitwise + FILTER-clause fuzz: $NQueries seeded " +
      "bit-operator expression trees (&, |, xor, ~, shifts, bit_count), " +
      "bit_and/bit_or/bit_xor and bool aggregates, and agg FILTER (WHERE) " +
      "incl. DISTINCT and grouped forms, dual-rendered (DuckDB xor() vs " +
      "Spark ^), fingerprint-compared")
}
