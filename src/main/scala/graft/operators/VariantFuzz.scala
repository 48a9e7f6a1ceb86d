package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.util.Random

/** Differential fuzz over the VARIANT type — the twenty-sixth
  * population. [[JsonFuzz]] (fz8) gates STRING-path extraction
  * (`get_json_object`, re-parsing text per call); this one gates
  * Spark 4's semi-structured kernel: `parse_json` into the binary
  * VARIANT encoding, TYPED extraction via `variant_get(v, path, type)`
  * and its `try_variant_get` hatch, and `try_parse_json` — a wholly
  * different codepath (variant builder + typed cast at the leaf). The
  * DuckDB twin extracts from the SAME constructed JSON text with
  * `json_extract_string` + (TRY_)CAST.
  *
  * Probed semantics the arms are built on (each verified live in both
  * engines first):
  *
  *  - `variant_get(…, 'bigint')` COERCES numeric strings ("123" →
  *    123), exactly like DuckDB's `CAST(json_extract_string …)`;
  *  - a TYPE-mismatched `variant_get` ERRORS (INVALID_VARIANT_CAST
  *    class) — mismatch arms always use `try_variant_get` ↔ DuckDB
  *    `TRY_CAST` (NULL both);
  *  - out-of-range array indexes and missing keys are NULL in both;
  *    NEGATIVE variant array indexes error in Spark and are never
  *    generated;
  *  - `try_parse_json(invalid)` is NULL, and every downstream get of
  *    a NULL variant is NULL — the DuckDB twin CASEs the invalid rows
  *    to NULL before extraction;
  *  - decimal gets render identically through a STRING canon
  *    (`decimal(10,2)` of 7 → "7.00" both); double gets exit as
  *    `CAST(x * 4 AS BIGINT)` over dyadic fractions so no float
  *    formatting crosses the gate; boolean gets stringify to
  *    "true"/"false" in both.
  *
  * Paths are LITERAL (Spark requires a foldable path argument). The
  * JSON text is constructed per row from table residues with
  * whitespace-free concatenation, so both engines parse byte-identical
  * documents. */
object VariantFuzz extends FuzzExec.Views {

  val NQueries = 28
  val GateSeed = 20261117L

  private final case class VTable(name: String, key: String,
      nums: Seq[String], preds: Seq[String])
  private def tables = Seq(
    VTable("lineitem", "l_orderkey * 8 + l_linenumber",
      Seq("l_suppkey", "l_partkey", "l_orderkey"),
      Seq("l_returnflag = 'R'", "l_linenumber % 2 = 0")),
    VTable("orders", "o_orderkey", Seq("o_custkey", "o_orderkey"),
      Seq("o_orderstatus = 'O'", "o_orderkey % 3 = 1")),
    VTable("customer", "c_custkey", Seq("c_nationkey", "c_custkey"),
      Seq("c_mktsegment = 'BUILDING'", "c_custkey % 2 = 0")))

  protected def sparkView(t: String) = s"__fz26_$t"

  final case class VQuery(id: Int, sparkSql: String, duckSql: String,
      outCols: Seq[String]) extends FuzzExec.SqlGenerated

  def queries(seed: Long, n: Int): Seq[VQuery] =
    (0 until n).map(i => gen(i, new Random(seed * 709 + i)))

  /** The per-row JSON document, dialect-split only on the string cast:
    * {"a":<int>,"b":[<int>,<int>],"s":"<letter|digits>","n":{"d":<int>}}
    * — `s` holds letters on a data-dependent residue (the
    * type-mismatch material) and digit strings elsewhere (the
    * coercion material). */
  private def jsonDoc(t: VTable, c1: String, c2: String, str: String => String): String = {
    val letter = s"substr('qwerty', 1 + $c1 % 6, 1)"
    val sVal = s"CASE WHEN $c2 % 3 = 0 THEN $letter ELSE ${str(s"$c1 % 90")} END"
    s"concat('{\"a\":', ${str(s"$c1 % 1000")}, ',\"b\":[', ${str(s"$c1 % 7")}, " +
      s"',', ${str(s"$c2 % 9")}, '],\"s\":\"', $sVal, '\",\"n\":{\"d\":', " +
      s"${str(s"$c2 % 50")}, '}}')"
  }

  private def gen(id: Int, rnd: Random): VQuery = {
    val t = tables(rnd.nextInt(tables.size))
    val c1 = t.nums(rnd.nextInt(t.nums.size))
    val c2 = t.nums(rnd.nextInt(t.nums.size))
    val where =
      if (rnd.nextDouble() < 0.4) s" WHERE ${t.preds(rnd.nextInt(t.preds.size))}" else ""
    val k = s"CAST(${t.key} AS BIGINT)"
    val docS = jsonDoc(t, c1, c2, x => s"CAST($x AS STRING)")
    val docD = jsonDoc(t, c1, c2, x => s"CAST($x AS VARCHAR)")
    def q(sparkExprs: Seq[String], duckExprs: Seq[String]): VQuery = {
      val outs = sparkExprs.indices.map(i => s"a_$i")
      VQuery(id,
        s"SELECT $k AS k, " + sparkExprs.zip(outs).map { case (e, o) => s"$e AS $o" }
          .mkString(", ") + s" FROM ${sparkView(t.name)}$where",
        s"SELECT $k AS k, " + duckExprs.zip(outs).map { case (e, o) => s"$e AS $o" }
          .mkString(", ") + s" FROM ${t.name}$where",
        "k" +: outs)
    }
    (id % 4) match {
      case 0 =>
        // typed scalar + nested gets
        q(Seq(
            s"variant_get(parse_json($docS), '$$.a', 'bigint')",
            s"variant_get(parse_json($docS), '$$.n.d', 'bigint')",
            s"variant_get(parse_json($docS), '$$.s', 'string')"),
          Seq(
            s"CAST(json_extract_string($docD, '$$.a') AS BIGINT)",
            s"CAST(json_extract_string($docD, '$$.n.d') AS BIGINT)",
            s"json_extract_string($docD, '$$.s')"))
      case 1 =>
        // array indexes: in-range, boundary, OOB (NULL both) + a
        // missing key (NULL both)
        val i1 = rnd.nextInt(2)
        q(Seq(
            s"variant_get(parse_json($docS), '$$.b[$i1]', 'bigint')",
            s"variant_get(parse_json($docS), '$$.b[2]', 'bigint')",
            s"variant_get(parse_json($docS), '$$.zz', 'bigint')"),
          Seq(
            s"CAST(json_extract_string($docD, '$$.b[$i1]') AS BIGINT)",
            s"CAST(json_extract_string($docD, '$$.b[2]') AS BIGINT)",
            s"CAST(json_extract_string($docD, '$$.zz') AS BIGINT)"))
      case 2 =>
        // the hatches: try_parse_json over sometimes-invalid text, and
        // try_variant_get over the sometimes-alphabetic 's' key (the
        // coercion arm answers on digit strings, NULLs on letters)
        val bad = s"$c1 % 5 = 2"
        val rawS = s"CASE WHEN $bad THEN 'not json' ELSE $docS END"
        q(Seq(
            s"variant_get(try_parse_json($rawS), '$$.a', 'bigint')",
            s"try_variant_get(parse_json($docS), '$$.s', 'bigint')"),
          Seq(
            s"CASE WHEN $bad THEN NULL ELSE CAST(json_extract_string($docD, '$$.a') AS BIGINT) END",
            s"TRY_CAST(json_extract_string($docD, '$$.s') AS BIGINT)"))
      case _ =>
        // typed coercions: decimal canon, dyadic double exit, boolean
        val docBS = s"concat('{\"f\":', CAST($c1 % 40 AS STRING), '.25,\"t\":', " +
          s"CASE WHEN $c2 % 2 = 0 THEN 'true' ELSE 'false' END, '}')"
        val docBD = s"concat('{\"f\":', CAST($c1 % 40 AS VARCHAR), '.25,\"t\":', " +
          s"CASE WHEN $c2 % 2 = 0 THEN 'true' ELSE 'false' END, '}')"
        q(Seq(
            s"CAST(variant_get(parse_json($docS), '$$.n.d', 'decimal(10,2)') AS STRING)",
            s"CAST(variant_get(parse_json($docBS), '$$.f', 'double') * 4 AS BIGINT)",
            s"CAST(variant_get(parse_json($docBS), '$$.t', 'boolean') AS STRING)"),
          Seq(
            s"CAST(CAST(json_extract_string($docD, '$$.n.d') AS DECIMAL(10,2)) AS VARCHAR)",
            s"CAST(CAST(json_extract_string($docBD, '$$.f') AS DOUBLE) * 4 AS BIGINT)",
            s"CAST(CAST(json_extract_string($docBD, '$$.t') AS BOOLEAN) AS VARCHAR)"))
    }
  }

  // ---- the gate (run by FuzzExec) ----

  type Query = VQuery

  protected def viewTables: Seq[String] = tables.map(_.name)

  // spread: per-row parse_json/variant_get dominates and the input is a
  // single-row-group file — see FuzzExec.spread
  override protected def view(spark: SparkSession, dir: String,
      table: String): DataFrame =
    FuzzExec.spread(spark, Tables.t(spark, dir, table))

  /** q_fz26 — the VARIANT differential gate. */
  def gate: Q = declare(
    "q_fz26_variant_fuzz",
    s"VARIANT fuzz: $NQueries seeded parse_json/variant_get/" +
      "try_variant_get/try_parse_json queries over per-row constructed " +
      "documents — typed scalar/nested/array gets, OOB and missing-key " +
      "NULLs, type-mismatch hatches, decimal/double/boolean coercions — " +
      "vs DuckDB json_extract_string + (TRY_)CAST twins")
}
