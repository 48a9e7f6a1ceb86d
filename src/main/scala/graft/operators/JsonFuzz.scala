package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import scala.util.Random

/** Differential fuzz over the JSON-PATH surface — the eighth
  * population beside [[RelFuzz]] … [[ArrayFuzz]]: documents are BUILT
  * from table columns by plain string concatenation (byte-identical
  * SQL in both engines — no serializer is trusted), then extracted
  * through each engine's own path machinery: Spark `get_json_object` /
  * `json_array_length` vs DuckDB `json_extract_string` /
  * `json_extract`. Probed ground rules the population is built on:
  *
  *  - BOTH engines re-serialize extracted subtrees COMPACTLY (probed:
  *    `{"b": 1, "c":[2,3]}` → `{"b":1,"c":[2,3]}` in each), so object/
  *    array subtree extraction is string-comparable as long as the
  *    documents are CONSTRUCTED without whitespace — which they are.
  *  - A JSON `null` value extracts as SQL NULL in both engines
  *    (probed with isnull, not println).
  *  - Malformed documents: Spark returns NULL, DuckDB ERRORS → every
  *    DuckDB extraction is guarded `CASE WHEN json_valid(j) THEN … END`,
  *    and the population id-cycles a GUARANTEED malformed arm (a
  *    truncated closing brace) through one base.
  *  - Out-of-range array indexes (`$.a[5].b`) → NULL in both; NEGATIVE
  *    indexes diverge (DuckDB from-end, Spark NULL) → never generated.
  *  - `json_array_length` on a NON-array diverges (Spark NULL, DuckDB
  *    0) → array-length ops are generated on array-typed paths only
  *    (missing paths are fine: NULL in both).
  *  - Numeric extraction renders `try_cast(… AS BIGINT)` — the same
  *    spelling parses in both engines — so the ANSI cast can never
  *    throw on the NULL/malformed arms.
  */
object JsonFuzz extends FuzzExec.Frames {

  val NQueries = 50
  val GateSeed = 20260818L

  // ---- path typing ----

  sealed trait Kind
  case object KInt extends Kind
  case object KStr extends Kind
  case object KArr extends Kind
  case object KObj extends Kind

  /** A JSON-document base: `k` (row key) and `j` (the document). The
    * doc-construction SQL is COMMON to both engines except where the
    * base itself needs list machinery (the grouped base). */
  final case class JBase(name: String,
      sparkCte: String, duckCte: String,
      dfb: (SparkSession, String) => DataFrame,
      paths: Seq[(String, Kind)],
      missingPaths: Seq[String],
      canBeMalformed: Boolean)

  private def commonBase(name: String, table: String, key: String,
      docSql: String, docDf: Column, whereSql: String,
      paths: Seq[(String, Kind)], missing: Seq[String],
      malformed: Boolean): JBase =
    JBase(name,
      s"SELECT $key AS k, $docSql AS j FROM $table WHERE $whereSql",
      s"SELECT $key AS k, $docSql AS j FROM $table WHERE $whereSql",
      (s, d) => Tables.t(s, d, table).filter(whereSql)
        .select(expr(key).as("k"), docDf.as("j")),
      paths, missing, malformed)

  // B1: rich per-row orders doc — nested object, variable-length
  // array, JSON-null arm, boolean values.
  private def b1doc(tail: String, tailDf: Column): (String, Column) = {
    val sql =
      "concat('{\"id\":', CAST(o_orderkey AS STRING)," +
        " ',\"st\":\"', o_orderstatus," +
        " '\",\"pr\":\"', o_orderpriority," +
        " '\",\"tags\":[', CAST(o_orderkey % 5 AS STRING), ',', CAST(o_custkey % 7 AS STRING)," +
        " CASE WHEN o_custkey % 3 = 0 THEN concat(',', CAST(o_custkey % 100 AS STRING)) ELSE '' END," +
        " '],\"meta\":{\"n\":'," +
        " CASE WHEN o_custkey % 4 = 1 THEN 'null' ELSE CAST(o_custkey % 50 AS STRING) END," +
        " ',\"f\":', CASE WHEN o_orderkey % 2 = 0 THEN 'true' ELSE 'false' END," +
        s" '}', $tail)"
    val dfc = concat(
      lit("{\"id\":"), col("o_orderkey").cast(StringType),
      lit(",\"st\":\""), col("o_orderstatus"),
      lit("\",\"pr\":\""), col("o_orderpriority"),
      lit("\",\"tags\":["), (col("o_orderkey") % 5).cast(StringType),
      lit(","), (col("o_custkey") % 7).cast(StringType),
      when(col("o_custkey") % 3 === 0,
        concat(lit(","), (col("o_custkey") % 100).cast(StringType))).otherwise(""),
      lit("],\"meta\":{\"n\":"),
      when(col("o_custkey") % 4 === 1, "null")
        .otherwise((col("o_custkey") % 50).cast(StringType)),
      lit(",\"f\":"),
      when(col("o_orderkey") % 2 === 0, "true").otherwise("false"),
      lit("}"), tailDf)
    (sql, dfc)
  }

  private val b1Paths = Seq(
    ("$.id", KInt), ("$.st", KStr), ("$.pr", KStr),
    ("$.tags", KArr), ("$.tags[0]", KInt), ("$.tags[1]", KInt),
    ("$.tags[2]", KInt), ("$.tags[5]", KInt),
    ("$.meta", KObj), ("$.meta.n", KInt), ("$.meta.f", KStr))

  private def bases: Seq[JBase] = Seq(
    {
      val (sql, dfc) = b1doc("'}'", lit("}"))
      commonBase("orders_doc", "orders", "o_orderkey", sql, dfc,
        "o_orderkey % 4 = 2", b1Paths, Seq("$.absent", "$.meta.zzz"),
        malformed = false)
    },
    {
      // the GUARANTEED malformed arm: 1-in-6 docs lose the closing brace
      val (sql, dfc) = b1doc(
        "CASE WHEN o_orderkey % 6 = 0 THEN '' ELSE '}' END",
        when(col("o_orderkey") % 6 === 0, "").otherwise("}"))
      commonBase("orders_doc_broken", "orders", "o_orderkey", sql, dfc,
        "o_orderkey % 4 = 3", b1Paths, Seq("$.absent", "$.meta.zzz"),
        malformed = true)
    },
    // B3: the natural events.props documents ({"k": N})
    commonBase("events_props", "events", "event_id", "props", col("props"),
      "event_id % 3 = 1",
      Seq(("$.k", KInt)), Seq("$.j", "$.k2"), malformed = false),
    // B4: per-row lineitem doc with a nested array under an object
    commonBase("lineitem_doc", "lineitem", "l_orderkey * 10 + l_linenumber",
      "concat('{\"a\":{\"b\":[', CAST(l_suppkey % 10 AS STRING), ',', " +
        "CAST(l_partkey % 10 AS STRING), ']},\"c\":\"', l_returnflag, '\"}')",
      concat(lit("{\"a\":{\"b\":["), (col("l_suppkey") % 10).cast(StringType),
        lit(","), (col("l_partkey") % 10).cast(StringType),
        lit("]},\"c\":\""), col("l_returnflag"), lit("\"}")),
      "l_orderkey % 6 = 5",
      Seq(("$.a", KObj), ("$.a.b", KArr), ("$.a.b[0]", KInt),
        ("$.a.b[1]", KInt), ("$.a.b[9]", KInt), ("$.c", KStr)),
      Seq("$.a.z", "$.q"), malformed = false),
    // B5: grouped array-of-objects doc (needs list machinery → the
    // only dual-rendered construction; element order pinned by string
    // sort of the compact per-line objects)
    JBase("order_lines_doc",
      "SELECT l_orderkey AS k, concat('{\"lines\":[', array_join(" +
        "sort_array(collect_list(concat('{\"q\":', CAST(l_linenumber AS STRING), " +
        "',\"p\":', CAST(l_partkey % 100 AS STRING), '}'))), ','), ']}') AS j " +
        "FROM lineitem WHERE l_orderkey % 5 = 0 GROUP BY l_orderkey",
      "SELECT l_orderkey AS k, concat('{\"lines\":[', array_to_string(" +
        "list_sort(list(concat('{\"q\":', CAST(l_linenumber AS STRING), " +
        "',\"p\":', CAST(l_partkey % 100 AS STRING), '}')), 'ASC', 'NULLS FIRST'), ','), ']}') AS j " +
        "FROM lineitem WHERE l_orderkey % 5 = 0 GROUP BY l_orderkey",
      (s, d) => Tables.t(s, d, "lineitem")
        .filter("l_orderkey % 5 = 0")
        .groupBy(col("l_orderkey").as("k"))
        .agg(concat(lit("{\"lines\":["),
          array_join(sort_array(collect_list(concat(
            lit("{\"q\":"), col("l_linenumber").cast(StringType),
            lit(",\"p\":"), (col("l_partkey") % 100).cast(StringType),
            lit("}")))), ","),
          lit("]}")).as("j")),
      Seq(("$.lines", KArr), ("$.lines[0].q", KInt), ("$.lines[0].p", KInt),
        ("$.lines[1]", KObj), ("$.lines[2].q", KInt), ("$.lines[6].p", KInt)),
      Seq("$.lines[0].zz", "$.other"), canBeMalformed = false))

  // ---- extraction outputs ----

  sealed trait JOut {
    def sparkSql: String
    def duckSql: String
    def df: Column
  }

  /** The json_valid guard every DuckDB extraction wears (Spark returns
    * NULL on malformed input; unguarded DuckDB errors). */
  private def guardedDuck = "CASE WHEN json_valid(j) THEN j END"

  private final case class OStr(path: String, name: String) extends JOut {
    def sparkSql = s"get_json_object(j, '$path') AS $name"
    def duckSql = s"json_extract_string($guardedDuck, '$path') AS $name"
    def df = get_json_object(col("j"), path).as(name)
  }

  private final case class OInt(path: String, name: String) extends JOut {
    def sparkSql = s"try_cast(get_json_object(j, '$path') AS BIGINT) AS $name"
    def duckSql = s"try_cast(json_extract_string($guardedDuck, '$path') AS BIGINT) AS $name"
    def df = expr(s"try_cast(get_json_object(j, '$path') AS BIGINT)").as(name)
  }

  private final case class OArrLen(path: String, name: String) extends JOut {
    def sparkSql = s"json_array_length(get_json_object(j, '$path')) AS $name"
    def duckSql =
      s"json_array_length(json_extract($guardedDuck, '$path')) AS $name"
    def df = json_array_length(get_json_object(col("j"), path)).as(name)
  }

  // ---- query shape ----

  final case class JQuery(id: Int, base: JBase, outs: Seq[JOut],
      outNames: Seq[String]) extends FuzzExec.Generated {
    def outCols: Seq[String] = "k" +: outNames
    def sparkSql: String =
      s"WITH base AS (${base.sparkCte}) SELECT k, ${outs.map(_.sparkSql).mkString(", ")} FROM base"
    def duckSql: String =
      s"WITH base AS (${base.duckCte}) SELECT k, ${outs.map(_.duckSql).mkString(", ")} FROM base"
    def df(spark: SparkSession, dir: String): DataFrame =
      base.dfb(spark, dir).select(col("k") +: outs.map(_.df): _*)
  }

  def queries(seed: Long, n: Int): Seq[JQuery] =
    (0 until n).map(i => gen(i, new Random(seed + i)))

  private def gen(id: Int, rnd: Random): JQuery = {
    // the malformed base is id-cycled so the guard arm is GUARANTEED
    val b =
      if (id % 5 == 1) bases(1)
      else bases(rnd.nextInt(bases.size))
    val nOuts = 1 + rnd.nextInt(3)
    val outs = (0 until nOuts).map { j =>
      val name = s"o_$j"
      // id-cycled missing-path arm
      if (id % 4 == 0 && j == 0)
        OStr(b.missingPaths(rnd.nextInt(b.missingPaths.size)), name)
      else {
        val (p, kind) = b.paths(rnd.nextInt(b.paths.size))
        kind match {
          case KInt =>
            if (rnd.nextBoolean()) OInt(p, name) else OStr(p, name)
          case KArr =>
            if (rnd.nextBoolean()) OArrLen(p, name) else OStr(p, name)
          case _ => OStr(p, name)
        }
      }
    }
    JQuery(id, b, outs, outs.indices.map(j => s"o_$j"))
  }

  // ---- the gate (run by FuzzExec) ----

  type Query = JQuery

  protected def render(spark: SparkSession, dir: String, q: Query): DataFrame =
    q.df(spark, dir)

  /** q_fz8 — the JSON-path differential gate. */
  def gate: Q = declare(
    "q_fz8_json_fuzz",
    s"JSON-path differential fuzz: $NQueries seeded queries over " +
      "concat-constructed documents (nested objects, variable arrays, JSON null, " +
      "a guaranteed malformed arm) extracted via get_json_object vs " +
      "json_extract_string, fingerprint-compared Spark vs DuckDB")
}
