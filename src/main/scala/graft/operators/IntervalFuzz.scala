package graft.operators

import graft.Q

import scala.util.Random

/** Differential fuzz over ANSI INTERVAL TYPES — the twenty-ninth
  * population, closing the round-12 "what's missing #2": `sum`/`avg`-
  * class aggregates over `INTERVAL DAY TO SECOND` / `YEAR TO MONTH`,
  * interval division/multiplication, interval window sums, and ANSI
  * interval-overflow must-error arms had no differential coverage
  * (fz10/fz12 use interval LITERALS in date arithmetic only).
  *
  * **The oracle problem**: DuckDB 1.0 has NO `sum(INTERVAL)` (probed:
  * binder error), so the oracle computes every quantity ANALYTICALLY
  * in integer space — seconds/micros for day-time, months for
  * year-month — and the Spark side exits through integral casts:
  * `CAST(dt_interval AS BIGINT)` is total SECONDS (probed: truncating
  * — 2.5s → 2), `CAST(ym_interval AS INT)` is total MONTHS, and
  * sub-second precision exits through
  * `unix_micros(TIMESTAMP '1970-01-01 00:00:00' + iv)` (session TZ is
  * UTC) ↔ DuckDB pure-integer arithmetic.
  *
  * **Rounding (probed)**: Spark divides intervals at MICROsecond
  * precision with HALF_UP rounding — `5µs / 2 = 3µs`, `2µs / 3 = 1µs`,
  * `7µs / 2 = 4µs`; year-month divides months HALF_UP (`5 mo / 2 = 3`).
  * The oracle replicates with `(2·x + d) // (2·d)` over HUGEINT —
  * exact for the non-negative operands this population generates
  * (negative HALF_UP is direction-ambiguous and excluded by
  * construction).
  *
  * **Must-error arms** (the fz19 discipline): ANSI interval-sum
  * overflow raises `INTERVAL_ARITHMETIC_OVERFLOW`. Contributions are
  * NON-NEGATIVE, so "some partial overflows" ⟺ "the total is out of
  * range" — order-independent, stable under any partial-aggregation
  * order AND any scale factor growth (a growing non-negative sum only
  * errors more; the fixed error arms overflow from 1,500 rows up, so
  * they error at every shipped sf). The DuckDB side computes the
  * must-it-error predicate in HUGEINT. Error arms run on orders only
  * (the smallest shipped sf has 1,500 orders rows; customer's 150
  * would flip the predicate across sfs).
  *
  * **Rewrite-exclusion pin**: interval sums fall through
  * [[graft.plans.TailFrameRewrite]]'s default-exclude arm (Sum's type
  * dispatch recognizes no interval type), so the tail-frame window
  * arms run UNREWRITTEN — the gate pins both the exclusion (values
  * exact vs the oracle either way) and, in IntervalFuzzSpec, the plan
  * shape. Partitions are residue-bounded to keep the deliberate
  * quadratic trivial, and only orders/customer appear (unique keys —
  * lineitem has none and tied ROWS frames legitimately diverge). */
object IntervalFuzz extends FuzzExec.Outcomes {

  val NQueries = 24
  val GateSeed = 20261401L

  /** Spark raw query; DuckDB must-it-error predicate (scalar 0/1
    * subquery) + guarded integer-space twin `duckSql`. */
  final case class IQuery(id: Int, sparkSql: String, duckErrPred: String,
      duckSql: String, outCols: Seq[String]) extends FuzzExec.ErrGenerated

  private final case class ITable(name: String, key: String, num: String)
  private def tables = Seq(
    ITable("orders", "o_orderkey", "o_custkey"),
    ITable("customer", "c_custkey", "c_nationkey"))

  protected def sparkView(t: String) = s"__fz29_$t"
  private def noErr = "(SELECT CAST(0 AS BIGINT))"

  def queries(seed: Long, n: Int): Seq[IQuery] =
    (0 until n).map(i => gen(i, new Random(seed * 827 + i)))

  /** HALF_UP integer division for non-negative x (HUGEINT-safe). */
  private def halfUp(x: String, d: Int): String =
    s"((2 * CAST($x AS HUGEINT) + $d) // ${2 * d})"

  private def gen(id: Int, rnd: Random): IQuery = {
    val t = tables(rnd.nextInt(tables.size))
    val k = s"CAST(${t.key} AS BIGINT)"
    val c = t.num
    (id % 4) match {
      case 0 =>
        // DT + YM aggregates: sum/min/max seconds, sum months — the
        // oracle is the same arithmetic over plain integers.
        // HEADROOM BOUND (the sf-stability argument here is weaker
        // than the must-error arms' any-sf one): each row contributes
        // up to ~24h ≈ 8.64e10 µs, and Spark's interval-sum
        // accumulator is Long micros, so this arm itself raises
        // INTERVAL_ARITHMETIC_OVERFLOW above ~1.0e8 orders rows
        // (~sf70) while the DuckDB HUGEINT integer oracle still
        // answers — the gate is exact for every shipped sf and any
        // plausible bench sf, but NOT for arbitrary sf the way the
        // non-negative must-error predicate is. Kept at hour scale
        // deliberately: shrinking to minutes only moves the cliff to
        // ~sf1700, it cannot remove it, and hour-scale keeps the
        // seconds/minutes/hours fields all non-trivial.
        val secs = s"(($c % 24) * 3600 + (${t.key} % 60) * 60 + ($c % 60))"
        val months = s"(($c % 7) * 12 + (${t.key} % 12))"
        val mkDt = s"make_dt_interval(0, CAST($c % 24 AS INT), " +
          s"CAST(${t.key} % 60 AS INT), CAST($c % 60 AS INT))"
        val mkYm = s"make_ym_interval(CAST($c % 7 AS INT), CAST(${t.key} % 12 AS INT))"
        val grouped = rnd.nextBoolean()
        val (sel, grp, cols) =
          if (grouped) (s"CAST($c % 8 AS BIGINT) AS g, ", s" GROUP BY $c % 8",
            Seq("g", "a_0", "a_1", "a_2", "a_3"))
          else ("", "", Seq("a_0", "a_1", "a_2", "a_3"))
        val spark = s"SELECT $sel" +
          s"CAST(sum($mkDt) AS BIGINT) AS a_0, " +
          s"CAST(min($mkDt) AS BIGINT) AS a_1, " +
          s"CAST(max($mkDt) AS BIGINT) AS a_2, " +
          s"CAST(CAST(sum($mkYm) AS INT) AS BIGINT) AS a_3 " +
          s"FROM ${sparkView(t.name)}$grp"
        val duck = s"SELECT $sel" +
          s"CAST(sum($secs) AS BIGINT) AS a_0, " +
          s"CAST(min($secs) AS BIGINT) AS a_1, " +
          s"CAST(max($secs) AS BIGINT) AS a_2, " +
          s"CAST(sum($months) AS BIGINT) AS a_3 " +
          s"FROM ${t.name}$grp"
        IQuery(id, spark, noErr, duck, cols)
      case 1 =>
        // scalar division / multiplication / date+interval maps,
        // micros-exact through the unix_micros ↔ epoch_us identity
        val d = 2 + rnd.nextInt(6)
        val d2 = 2 + rnd.nextInt(4)
        val m = 3 + rnd.nextInt(5)
        (rnd.nextInt(3): @unchecked) match {
          case 0 =>
            // whole+fractional seconds divided: HALF_UP at micros
            val spark = s"SELECT $k AS k, " +
              s"unix_micros(TIMESTAMP '1970-01-01 00:00:00' + " +
              s"make_dt_interval(0, 0, 0, CAST($c % 3600 AS INT)) / $d) AS a_0, " +
              s"unix_micros(TIMESTAMP '1970-01-01 00:00:00' + " +
              s"make_dt_interval(0, 0, 0, CAST($c % 1000 AS DECIMAL(10,3)) / 1000) / $d2) AS a_1 " +
              s"FROM ${sparkView(t.name)}"
            val duck = s"SELECT $k AS k, " +
              s"CAST(${halfUp(s"($c % 3600) * 1000000", d)} AS BIGINT) AS a_0, " +
              s"CAST(${halfUp(s"($c % 1000) * 1000", d2)} AS BIGINT) AS a_1 " +
              s"FROM ${t.name}"
            IQuery(id, spark, noErr, duck, Seq("k", "a_0", "a_1"))
          case 1 =>
            // multiplication (exact micros) + YM division (months HALF_UP)
            val spark = s"SELECT $k AS k, " +
              s"unix_micros(TIMESTAMP '1970-01-01 00:00:00' + " +
              s"make_dt_interval(0, 0, CAST($c % 60 AS INT), 0) * $m) AS a_0, " +
              s"CAST(CAST(make_ym_interval(0, CAST($c % 48 AS INT)) / $d AS INT) AS BIGINT) AS a_1 " +
              s"FROM ${sparkView(t.name)}"
            val duck = s"SELECT $k AS k, " +
              s"CAST(($c % 60) * ${60000000L * m} AS BIGINT) AS a_0, " +
              s"CAST(${halfUp(s"$c % 48", d)} AS BIGINT) AS a_1 " +
              s"FROM ${t.name}"
            IQuery(id, spark, noErr, duck, Seq("k", "a_0", "a_1"))
          case 2 =>
            // date + interval arithmetic and timestamp difference:
            // DATE→TIMESTAMP is session-UTC midnight on both sides
            // orders only: the one table with a DATE column
            val spark = s"SELECT CAST(o_orderkey AS BIGINT) AS k, " +
              s"unix_micros(CAST(o_orderdate AS TIMESTAMP) + " +
              s"make_dt_interval(0, CAST(o_custkey % 24 AS INT), 0, 0)) AS a_0, " +
              s"CAST(CAST(o_orderdate AS TIMESTAMP) + make_dt_interval(0,0,0,CAST(o_custkey % 60 AS INT)) " +
              s"- TIMESTAMP '1995-01-01 00:00:00' AS BIGINT) AS a_1 " +
              s"FROM ${sparkView("orders")}"
            val duck = s"SELECT CAST(o_orderkey AS BIGINT) AS k, " +
              s"epoch_us(CAST(o_orderdate AS TIMESTAMP) + to_hours(o_custkey % 24)) AS a_0, " +
              s"CAST((epoch_us(CAST(o_orderdate AS TIMESTAMP)) - epoch_us(TIMESTAMP '1995-01-01 00:00:00')) // 1000000 " +
              s"+ (o_custkey % 60) AS BIGINT) AS a_1 " +
              s"FROM orders"
            IQuery(id, spark, noErr, duck, Seq("k", "a_0", "a_1"))
        }
      case 2 =>
        // window interval sums: running (incremental) and tail (the
        // rewrite-EXCLUDED deliberate quadratic, partition-bounded)
        val tail = (id / 4) % 2 == 1
        val frame = if (tail) "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING"
          else "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
        val p = if (t.name == "orders") 512 else 64
        val over = s"(PARTITION BY $c % $p ORDER BY $k $frame)"
        val spark = s"SELECT $k AS k, " +
          s"CAST(sum(make_dt_interval(0, 0, 0, CAST($c % 60 AS INT))) OVER $over AS BIGINT) AS a_0, " +
          s"CAST(CAST(sum(make_ym_interval(0, CAST($c % 12 AS INT))) OVER $over AS INT) AS BIGINT) AS a_1 " +
          s"FROM ${sparkView(t.name)}"
        val duck = s"SELECT $k AS k, " +
          s"CAST(sum($c % 60) OVER $over AS BIGINT) AS a_0, " +
          s"CAST(sum($c % 12) OVER $over AS BIGINT) AS a_1 " +
          s"FROM ${t.name}"
        IQuery(id, spark, noErr, duck, Seq("k", "a_0", "a_1"))
      case _ =>
        // must-error / safe arms on orders (sf-stable from 1,500 rows)
        (id / 4) % 3 match {
          case 0 =>
            // DT day-overflow: 2e6 days/row × ≥1500 rows = 3e9 days ≫
            // the ~1.07e8-day Long-micros ceiling → must error
            val spark = s"SELECT CAST(sum(make_dt_interval(CAST(2000000 + o_custkey % 3 AS INT), 0, 0, 0)) AS BIGINT) AS a_0 " +
              s"FROM ${sparkView("orders")}"
            val err = "(SELECT CAST(CASE WHEN coalesce(sum(CAST(2000000 + o_custkey % 3 AS HUGEINT)), 0) " +
              "* 86400000000 > 9223372036854775807 THEN 1 ELSE 0 END AS BIGINT) FROM orders)"
            val guarded = "SELECT CAST(coalesce(sum(2000000 + o_custkey % 3), 0) AS BIGINT) AS a_0 FROM orders"
            IQuery(id, spark, err, guarded, Seq("a_0"))
          case 1 =>
            // YM month-overflow: 2e6 months/row × ≥1500 rows = 3e9 >
            // 2^31−1 months → must error
            val spark = s"SELECT CAST(CAST(sum(make_ym_interval(0, CAST(2000000 + o_custkey % 3 AS INT))) AS INT) AS BIGINT) AS a_0 " +
              s"FROM ${sparkView("orders")}"
            val err = "(SELECT CAST(CASE WHEN coalesce(sum(CAST(2000000 + o_custkey % 3 AS HUGEINT)), 0) " +
              "> 2147483647 THEN 1 ELSE 0 END AS BIGINT) FROM orders)"
            val guarded = "SELECT CAST(coalesce(sum(2000000 + o_custkey % 3), 0) AS BIGINT) AS a_0 FROM orders"
            IQuery(id, spark, err, guarded, Seq("a_0"))
          case _ =>
            // safe near-miss control: minute-scale contributions stay
            // orders of magnitude under the ceiling at every sf —
            // must ANSWER, value-exact (an all-error family would
            // never test value agreement)
            val spark = s"SELECT CAST(sum(make_dt_interval(0, 0, CAST(o_custkey % 50 AS INT), 0)) AS BIGINT) AS a_0, " +
              s"CAST(count(*) AS BIGINT) AS a_1 FROM ${sparkView("orders")}"
            val err = "(SELECT CAST(CASE WHEN coalesce(sum(CAST(o_custkey % 50 AS HUGEINT)), 0) " +
              "* 60000000 > 9223372036854775807 THEN 1 ELSE 0 END AS BIGINT) FROM orders)"
            val guarded = "SELECT CAST(coalesce(sum((o_custkey % 50) * 60), 0) AS BIGINT) AS a_0, " +
              "CAST(count(*) AS BIGINT) AS a_1 FROM orders"
            IQuery(id, spark, err, guarded, Seq("a_0", "a_1"))
        }
    }
  }

  // ---- the gate (run by FuzzExec) ----

  type Query = IQuery

  protected def viewTables: Seq[String] = tables.map(_.name)

  /** The interval-overflow family (the ErrorFuzz discipline). */
  protected def expected(condition: String): Boolean =
    Seq("INTERVAL_ARITHMETIC_OVERFLOW", "ARITHMETIC_OVERFLOW")
      .exists(condition.startsWith)

  /** q_fz29 — the ANSI interval differential gate. */
  def gate: Q = declare(
    "q_fz29_interval",
    s"ANSI interval fuzz: $NQueries seeded queries over " +
      "day-time + year-month intervals — sum/min/max aggregates, " +
      "HALF_UP micros division/multiplication (unix_micros exit), " +
      "date+interval arithmetic, window interval sums incl. the " +
      "rewrite-excluded tail frame, and INTERVAL_ARITHMETIC_OVERFLOW " +
      "must-error arms (fz19 discipline: DuckDB has no sum(INTERVAL), " +
      "so the oracle is exact HUGEINT integer arithmetic)")
}
