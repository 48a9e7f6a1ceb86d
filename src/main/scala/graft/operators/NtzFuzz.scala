package graft.operators

import graft.Q

import scala.util.Random

/** Differential fuzz over TIMESTAMP_NTZ — the thirtieth population,
  * closing the round-12 "what's missing #3": the NTZ type's cast /
  * comparison / window behavior is a separate codepath in Spark 4
  * (fz2/fz12 run on session-zoned TIMESTAMP only) and had no coverage.
  * DuckDB's plain TIMESTAMP is naive wall-clock time — the exact
  * semantic twin of NTZ — so the oracle is direct: Spark
  * `CAST(d AS TIMESTAMP_NTZ) + make_dt_interval(…)` ↔ DuckDB
  * `CAST(d AS TIMESTAMP) + to_hours(…) + …`, both TZ-independent.
  *
  * Probed dialect seams (each compensated in the oracle rendering):
  *  - Spark `date_trunc('month', ntz)` returns session-zoned
  *    TIMESTAMP (an NTZ-codepath quirk worth gating — the value is
  *    the wall-clock instant in UTC sessions); DuckDB's `date_trunc`
  *    returns DATE at day-or-coarser precision and renders without
  *    the midnight time — the oracle re-CASTs to TIMESTAMP so both
  *    render '1995-03-01 00:00:00';
  *  - `extract(DOW …)`: Spark counts Sunday=1, DuckDB Sunday=0 —
  *    oracle adds 1;
  *  - `timestampdiff(HOUR, a, b)` ↔ `date_diff('hour', a, b)`
  *    (probed equal, same argument direction).
  *
  * NTZ ↔ session-zoned TIMESTAMP conversion under session-TZ changes
  * is NOT oracle-expressible (the driver's DuckDB process owns its own
  * TimeZone setting and one-statement oracles cannot SET it) — that
  * surface is pinned Spark-side in NtzFuzzSpec: `CAST(ntz AS STRING)`
  * is TZ-invariant while `unix_micros(CAST(ntz AS TIMESTAMP))` shifts
  * by exactly the zone offset.
  *
  * RANGE frames over NTZ order keys use interval bounds (folded
  * `Literal(Long, DayTimeIntervalType)`) — tie-insensitive by
  * construction, so the dates' tied wall-clocks are safe without a
  * unique key. */
object NtzFuzz extends FuzzExec.Views {

  val NQueries = 24
  val GateSeed = 20261501L

  private final case class NTable(name: String, key: String, num: String,
      dateSpark: String, dateDuck: String)
  // orders is the one table with a DATE column; customer derives a
  // synthetic date from its key (per-dialect: Spark date_add(d, n),
  // DuckDB d + n — both add days)
  private def tables = Seq(
    NTable("orders", "o_orderkey", "o_custkey", "o_orderdate", "o_orderdate"),
    NTable("customer", "c_custkey", "c_nationkey",
      "date_add(DATE '1993-06-01', CAST(c_custkey % 1461 AS INT))",
      "(DATE '1993-06-01' + CAST(c_custkey % 1461 AS INT))"))

  protected def sparkView(t: String) = s"__fz30_$t"

  final case class NQuery(id: Int, sparkSql: String, duckSql: String,
      outCols: Seq[String]) extends FuzzExec.SqlGenerated

  def queries(seed: Long, n: Int): Seq[NQuery] =
    (0 until n).map(i => gen(i, new Random(seed * 937 + i)))

  /** The NTZ value under test and its DuckDB naive twin. */
  private def ntzSpark(t: NTable, h: Int, m: Int, s: Int): String =
    s"(CAST(${t.dateSpark} AS TIMESTAMP_NTZ) + make_dt_interval(0, " +
      s"CAST(${t.num} % $h AS INT), CAST(${t.key} % $m AS INT), CAST(${t.num} % $s AS INT)))"
  private def ntzDuck(t: NTable, h: Int, m: Int, s: Int): String =
    s"(CAST(${t.dateDuck} AS TIMESTAMP) + to_hours(${t.num} % $h) + " +
      s"to_minutes(${t.key} % $m) + to_seconds(${t.num} % $s))"

  private def gen(id: Int, rnd: Random): NQuery = {
    val t = tables(rnd.nextInt(tables.size))
    val k = s"CAST(${t.key} AS BIGINT)"
    val h = 2 + rnd.nextInt(23)
    val m = 2 + rnd.nextInt(59)
    val s = 2 + rnd.nextInt(59)
    val nS = ntzSpark(t, h, m, s)
    val nD = ntzDuck(t, h, m, s)
    (id % 4) match {
      case 0 =>
        // scalar maps: string/date casts, field extraction (DOW
        // compensated: Spark Sunday=1, DuckDB Sunday=0)
        val spark = s"SELECT $k AS k, CAST($nS AS STRING) AS a_0, " +
          s"CAST(CAST($nS AS DATE) AS STRING) AS a_1, " +
          s"CAST(extract(HOUR FROM $nS) AS BIGINT) AS a_2, " +
          s"CAST(extract(YEAR FROM $nS) * 100 + extract(MONTH FROM $nS) AS BIGINT) AS a_3, " +
          s"CAST(extract(DOW FROM CAST($nS AS DATE)) AS BIGINT) AS a_4 " +
          s"FROM ${sparkView(t.name)}"
        val duck = s"SELECT $k AS k, CAST($nD AS VARCHAR) AS a_0, " +
          s"CAST(CAST($nD AS DATE) AS VARCHAR) AS a_1, " +
          s"CAST(extract(HOUR FROM $nD) AS BIGINT) AS a_2, " +
          s"CAST(extract(YEAR FROM $nD) * 100 + extract(MONTH FROM $nD) AS BIGINT) AS a_3, " +
          s"CAST(extract(DOW FROM CAST($nD AS DATE)) + 1 AS BIGINT) AS a_4 " +
          s"FROM ${t.name}"
        NQuery(id, spark, duck, Seq("k", "a_0", "a_1", "a_2", "a_3", "a_4"))
      case 1 =>
        // comparisons + grouped aggregates over a date_trunc key
        // (Spark's NTZ date_trunc returns session-zoned TIMESTAMP —
        // wall-equal in UTC sessions; DuckDB returns DATE at month
        // precision, re-CAST so both render midnight)
        val lit = Seq("1994-06-01", "1995-07-01", "1996-01-15")(rnd.nextInt(3))
        val spark = s"SELECT CAST(date_trunc('month', $nS) AS STRING) AS g, " +
          s"CAST(count(*) AS BIGINT) AS a_0, " +
          s"CAST(min($nS) AS STRING) AS a_1, CAST(max($nS) AS STRING) AS a_2 " +
          s"FROM ${sparkView(t.name)} " +
          s"WHERE $nS < TIMESTAMP_NTZ '$lit 00:00:00' GROUP BY date_trunc('month', $nS)"
        val duck = s"SELECT CAST(CAST(date_trunc('month', $nD) AS TIMESTAMP) AS VARCHAR) AS g, " +
          s"CAST(count(*) AS BIGINT) AS a_0, " +
          s"CAST(min($nD) AS VARCHAR) AS a_1, CAST(max($nD) AS VARCHAR) AS a_2 " +
          s"FROM ${t.name} " +
          s"WHERE $nD < TIMESTAMP '$lit 00:00:00' GROUP BY date_trunc('month', $nD)"
        NQuery(id, spark, duck, Seq("g", "a_0", "a_1", "a_2"))
      case 2 =>
        // window RANGE frames over the NTZ order key, interval
        // bounds — tie-insensitive (tied wall-clocks are peers)
        val hb = 1 + rnd.nextInt(48)
        val p = if (t.name == "orders") 512 else 64
        def over(orderKey: String) = s"(PARTITION BY ${t.num} % $p ORDER BY $orderKey " +
          s"RANGE BETWEEN INTERVAL '$hb' HOUR PRECEDING AND CURRENT ROW)"
        val spark = s"SELECT $k AS k, " +
          s"CAST(sum(CAST(${t.key} % 100 AS INT)) OVER ${over(nS)} AS BIGINT) AS a_0, " +
          s"CAST(count(*) OVER ${over(nS)} AS BIGINT) AS a_1 " +
          s"FROM ${sparkView(t.name)}"
        val duck = s"SELECT $k AS k, " +
          s"CAST(sum(${t.key} % 100) OVER ${over(nD)} AS BIGINT) AS a_0, " +
          s"CAST(count(*) OVER ${over(nD)} AS BIGINT) AS a_1 " +
          s"FROM ${t.name}"
        NQuery(id, spark, duck, Seq("k", "a_0", "a_1"))
      case _ =>
        // timestampadd/diff roundtrips over NTZ
        val unit = Seq("HOUR", "MINUTE", "DAY")(rnd.nextInt(3))
        val dunit = unit.toLowerCase
        val amt = 7 + rnd.nextInt(500)
        val spark = s"SELECT $k AS k, " +
          s"CAST(timestampadd($unit, CAST(${t.num} % $amt AS INT), $nS) AS STRING) AS a_0, " +
          s"CAST(timestampdiff($unit, $nS, TIMESTAMP_NTZ '1997-01-01 00:00:00') AS BIGINT) AS a_1 " +
          s"FROM ${sparkView(t.name)}"
        // datesub, NOT date_diff: DuckDB's date_diff counts BOUNDARY
        // CROSSINGS (23:00→01:00 is 1 "day") where Spark's
        // timestampdiff counts COMPLETE units (0) — datesub is the
        // complete-units twin, probed in both directions
        val duck = s"SELECT $k AS k, " +
          s"CAST($nD + (${t.num} % $amt) * INTERVAL '1' $unit AS VARCHAR) AS a_0, " +
          s"CAST(datesub('$dunit', $nD, TIMESTAMP '1997-01-01 00:00:00') AS BIGINT) AS a_1 " +
          s"FROM ${t.name}"
        NQuery(id, spark, duck, Seq("k", "a_0", "a_1"))
    }
  }

  // ---- the gate (run by FuzzExec) ----

  type Query = NQuery

  protected def viewTables: Seq[String] = tables.map(_.name)

  /** q_fz30 — the TIMESTAMP_NTZ differential gate. */
  def gate: Q = declare(
    "q_fz30_timestamp_ntz",
    s"TIMESTAMP_NTZ fuzz: $NQueries seeded queries over " +
      "wall-clock timestamps (oracle: DuckDB's naive TIMESTAMP) — " +
      "casts to STRING/DATE, field extraction (DOW off-by-one " +
      "compensated), comparisons, date_trunc grouping (Spark's NTZ " +
      "date_trunc returns session-zoned TIMESTAMP — a pinned quirk), " +
      "interval-bounded RANGE frames over NTZ keys, timestampadd/diff")
}
