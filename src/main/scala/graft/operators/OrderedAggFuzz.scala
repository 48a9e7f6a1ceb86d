package graft.operators

import graft.Q

import scala.util.Random

/** Differential fuzz over ORDERED aggregates — the twenty-fifth
  * population: `listagg(…) WITHIN GROUP (ORDER BY …)` (new SQL:2016
  * surface in Spark 4), `percentile_disc(p) WITHIN GROUP`, and
  * ordered list collection — aggregate families whose VALUE depends
  * on an ordering, which no earlier population gates (fz5 covers
  * unordered aggregation; collect_list appears nowhere in a gate
  * because its order is unspecified).
  *
  * Dual renderings (probed first):
  *  - Spark `listagg(e, sep) WITHIN GROUP (ORDER BY k [DESC])` ↔
  *    DuckDB `string_agg(e, sep ORDER BY k [DESC])` (DuckDB's parser
  *    rejects WITHIN GROUP for string_agg/listagg);
  *  - Spark `sort_array(collect_list(e))` + `array_join` ↔ DuckDB
  *    `list(e ORDER BY e)` + `array_to_string` (and the DESC twins);
  *  - `percentile_disc` parses identically, but Spark returns DOUBLE
  *    where DuckDB returns the element type — both sides CAST to
  *    BIGINT (discrete percentiles pick an element of an integral
  *    set, so the cast is exact).
  *
  * TIE DISCIPLINE — the property that makes ordered aggregation
  * gateable at all: every emitted element is a DETERMINISTIC FUNCTION
  * of its own order key (emit f(k), order by k), so order-tied rows
  * emit EQUAL strings and any tie order produces the same
  * concatenation. Ordering by one column while emitting an
  * independent one would be engine-dependent under ties and is never
  * generated. ASCII-only emissions keep the two engines' default
  * string orders identical (no collation surface). */
object OrderedAggFuzz extends FuzzExec.Views {

  val NQueries = 24
  val GateSeed = 20261109L

  private final case class OTable(name: String, nums: Seq[String],
      preds: Seq[String])
  private def tables = Seq(
    OTable("lineitem", Seq("l_suppkey", "l_partkey", "l_orderkey"),
      Seq("l_returnflag = 'R'", "l_linenumber % 2 = 0")),
    OTable("orders", Seq("o_custkey", "o_orderkey"),
      Seq("o_orderstatus = 'O'", "o_orderkey % 3 = 1")),
    OTable("customer", Seq("c_nationkey", "c_custkey"),
      Seq("c_mktsegment = 'BUILDING'", "c_custkey % 2 = 0")))

  protected def sparkView(t: String) = s"__fz25_$t"

  final case class OQuery(id: Int, sparkSql: String, duckSql: String,
      outCols: Seq[String]) extends FuzzExec.SqlGenerated

  def queries(seed: Long, n: Int): Seq[OQuery] =
    (0 until n).map(i => gen(i, new Random(seed * 613 + i)))

  private def gen(id: Int, rnd: Random): OQuery = {
    val t = tables(rnd.nextInt(tables.size))
    val c = t.nums(rnd.nextInt(t.nums.size))
    val g = t.nums(rnd.nextInt(t.nums.size))
    val where =
      if (rnd.nextDouble() < 0.4) s" WHERE ${t.preds(rnd.nextInt(t.preds.size))}" else ""
    val grouped = rnd.nextBoolean()
    val part = s"$g % 4"
    def shape(aggsS: String, aggsD: String, outs: Seq[String]): OQuery =
      if (grouped)
        OQuery(id,
          s"SELECT CAST($part AS BIGINT) AS k, $aggsS FROM ${sparkView(t.name)}$where GROUP BY $part",
          s"SELECT CAST($part AS BIGINT) AS k, $aggsD FROM ${t.name}$where GROUP BY $part",
          "k" +: outs)
      else
        OQuery(id,
          s"SELECT $aggsS FROM ${sparkView(t.name)}$where",
          s"SELECT $aggsD FROM ${t.name}$where",
          outs)
    (id % 3) match {
      case 0 =>
        // listagg: the emitted string is a function of the order key
        // (tie discipline); modulus keeps group cardinality bounded so
        // the concatenation stays small at every SF
        val m = 20 + rnd.nextInt(200)
        val keyE = s"$c % $m"
        val dir = if (rnd.nextBoolean()) " DESC" else ""
        val eS = s"CAST($keyE AS STRING)"
        val eD = s"CAST($keyE AS VARCHAR)"
        // DISTINCT inside listagg is not portable; dedup via modulus
        // collisions is fine — both engines emit every row
        shape(
          s"listagg($eS, ',') WITHIN GROUP (ORDER BY $keyE$dir) AS a_0",
          s"string_agg($eD, ',' ORDER BY $keyE$dir) AS a_0",
          Seq("a_0"))
      case 1 =>
        // percentile_disc at several points; integral set ⇒ the
        // BIGINT cast is exact in both engines
        val m = 100 + rnd.nextInt(900)
        val e = s"$c % $m"
        val ps = rnd.shuffle(Seq("0.1", "0.25", "0.5", "0.75", "0.9")).take(3)
        val aggs = ps.zipWithIndex.map { case (p, i) =>
          s"CAST(percentile_disc($p) WITHIN GROUP (ORDER BY $e) AS BIGINT) AS a_$i"
        }.mkString(", ")
        shape(aggs, aggs, ps.indices.map(i => s"a_$i"))
      case _ =>
        // ordered list collection, both directions
        val m = 15 + rnd.nextInt(100)
        val e = s"$c % $m"
        val asc = rnd.nextBoolean()
        val eS = s"CAST($e AS STRING)"
        val eD = s"CAST($e AS VARCHAR)"
        val sparkAgg =
          if (asc) s"array_join(sort_array(collect_list($eS)), '|') AS a_0"
          else s"array_join(sort_array(collect_list($eS), false), '|') AS a_0"
        val duckAgg =
          s"array_to_string(list($eD ORDER BY $eD${if (asc) "" else " DESC"}), '|') AS a_0"
        shape(sparkAgg, duckAgg, Seq("a_0"))
    }
  }

  // ---- the gate (run by FuzzExec) ----

  type Query = OQuery

  protected def viewTables: Seq[String] = tables.map(_.name)

  /** q_fz25 — the ordered-aggregate differential gate. */
  def gate: Q = declare(
    "q_fz25_ordered_agg_fuzz",
    s"ordered-aggregate fuzz: $NQueries seeded listagg " +
      "WITHIN GROUP / percentile_disc / ordered-list-collection queries " +
      "under the emit-f(order-key) tie discipline, dual-rendered (DuckDB " +
      "string_agg ORDER BY, list(e ORDER BY e)), fingerprint-compared")
}
