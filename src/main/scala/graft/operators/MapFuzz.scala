package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

import scala.util.Random

/** Differential fuzz over the MAP surface — the sixteenth population,
  * completing the nested-type story ([[ArrayFuzz]] lists, [[JsonFuzz]]
  * documents, [[StructFuzz]] records, this one dictionaries):
  * construction (inline and from-entries, string and BIGINT keys),
  * scalar lookup with data-dependent hit/miss keys, cardinality,
  * keys/values extraction, disjoint-key `map_concat`, and the map
  * HOFs `transform_values` / `map_filter` / entry filtering.
  *
  * Like fz7 there is NO common dialect — every query carries TWO
  * renderings of ONE AST, each compensating its engine's probed
  * quirks (all probed in both engines before this was written):
  *
  *  - DuckDB 1.0 `element_at(m, k)` returns a LIST (`[v]`, or `[]` on
  *    a missing key) where Spark returns the scalar → the scalar
  *    lookup renders Spark `try_element_at(m, k)` vs DuckDB
  *    `(element_at(m, k))[1]` (1-based list index, NULL out of range —
  *    both NULL on miss, probed for string and BIGINT keys incl.
  *    data-dependent lookup expressions).
  *  - a NULL map VALUE and a MISSING key are indistinguishable through
  *    scalar lookup in BOTH engines (NULL either way) — agreement, not
  *    divergence; generated freely.
  *  - `map_keys`/`map_values` preserve construction order in both
  *    engines (probed `['z','m','a']` stays put) → joined-string
  *    outputs need no sort, and pin the order agreement.
  *  - Spark has map HOFs (`map_filter`, `transform_values`); DuckDB
  *    1.0 does not → the DuckDB rendering works on the entry LIST:
  *    `list_filter(map_entries(m), e -> …e.value…)` + `list_transform`
  *    (probed: NULL lambda results drop from filters in BOTH engines,
  *    NULL propagates through transforms in BOTH).
  *  - array→string canon: Spark `array_join` returns '' on empty but
  *    DuckDB `array_to_string` returns NULL → both renderings wrap
  *    `coalesce(…, '')`, with the fz7 `~N~` sentinel for NULL values.
  *  - casts dual-render: Spark `CAST(x AS STRING)` (bare VARCHAR is a
  *    parse error), DuckDB `CAST(x AS VARCHAR)`.
  *
  * Probed DIVERGENCE classes (excluded by construction):
  *  - duplicate keys: Spark map()/map_concat throw DUPLICATED_MAP_KEY
  *    (default EXCEPTION dedup policy), DuckDB errors on construction
  *    but last-wins on concat → keys are distinct string/int literals
  *    and concat operands always use disjoint literal key sets;
  *  - NULL keys: error in both engines → never generated;
  *  - GROUP BY a map / count(DISTINCT map): DuckDB supports, Spark
  *    rejects (maps are not orderable) → never generated;
  *  - raw map output columns: the engines' string forms differ
  *    (`{"a":1}` vs `{a=1}`) → outputs are always scalars or joined
  *    key/value strings.
  */
object MapFuzz extends FuzzExec.Frames {

  val NQueries = 40
  val GateSeed = 20260901L

  private final case class MTable(name: String, intCols: Seq[String],
      strCols: Seq[String])
  private def tables = Seq(
    MTable("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"),
      Seq("l_returnflag", "l_linestatus")),
    MTable("orders", Seq("o_orderkey", "o_custkey"),
      Seq("o_orderstatus", "o_orderpriority")),
    MTable("customer", Seq("c_custkey", "c_nationkey"), Seq("c_mktsegment")))

  /** A value expression: common SQL (both dialects), DF, nullability. */
  private final case class VE(sql: String, df: Column, nullable: Boolean)

  private def intValue(t: MTable, rnd: Random, nullArm: Boolean): VE = {
    val c = t.intCols(rnd.nextInt(t.intCols.size))
    val k = 2 + rnd.nextInt(6)
    if (nullArm) {
      val r = rnd.nextInt(k)
      VE(s"(CASE WHEN $c % $k = $r THEN NULL ELSE CAST($c % $k AS BIGINT) END)",
        when(col(c) % k === r, lit(null).cast(LongType))
          .otherwise((col(c) % k).cast(LongType)), nullable = true)
    } else
      VE(s"CAST($c % $k AS BIGINT)", (col(c) % k).cast(LongType), nullable = false)
  }

  /** A map expression with literal keys (distinct by construction). */
  private final case class ME(sparkSql: String, duckSql: String, df: Column,
      keys: Seq[String], keySqlSpark: Seq[String], keySqlDuck: Seq[String],
      intKeys: Boolean, values: Seq[VE])

  /** keys kPrefix0..kPrefix(n-1) (string) or 0..n-1 (BIGINT). */
  private def genMap(t: MTable, rnd: Random, intKeys: Boolean,
      allowNull: Boolean, keyPrefix: String = "k", keyBase: Int = 0): ME = {
    val n = 2 + rnd.nextInt(3)
    val values = (0 until n).map(j =>
      intValue(t, rnd, nullArm = allowNull && j == 0))
    val (names, kSpark, kDuck) =
      if (intKeys) {
        val ks = (0 until n).map(j => (keyBase + j).toString)
        (ks, ks.map(k => s"CAST($k AS BIGINT)"), ks)
      } else {
        val ks = (0 until n).map(j => s"$keyPrefix$j")
        (ks, ks.map(k => s"'$k'"), ks.map(k => s"'$k'"))
      }
    val fromEntries = !intKeys && rnd.nextInt(100) < 25
    val spark0 =
      if (fromEntries)
        s"map_from_entries(array(${names.zip(values).map { case (k, v) =>
          s"struct('$k', ${v.sql})" }.mkString(", ")}))"
      else s"map(${kSpark.zip(values).map { case (k, v) => s"$k, ${v.sql}" }.mkString(", ")})"
    val duck0 =
      if (fromEntries)
        s"map_from_entries([${names.zip(values).map { case (k, v) =>
          s"{'k': '$k', 'v': ${v.sql}}" }.mkString(", ")}])"
      else s"map([${kDuck.mkString(", ")}], [${values.map(_.sql).mkString(", ")}])"
    val df0 =
      if (fromEntries)
        map_from_entries(array(names.zip(values).map { case (k, v) =>
          struct(lit(k).as("k"), v.df.as("v")) }: _*))
      else map(kSpark.indices.flatMap { j =>
        Seq(if (intKeys) lit((keyBase + j).toLong) else lit(names(j)), values(j).df)
      }: _*)
    ME(spark0, duck0, df0, names, kSpark, kDuck, intKeys, values)
  }

  /** Data-dependent lookup key over modulus m (> #keys ⇒ misses). */
  private def lookup(t: MTable, rnd: Random, me: ME, keyBase: Int)
      : (String, String, Column) = {
    val c = t.intCols(rnd.nextInt(t.intCols.size))
    val m = me.keys.size + 1 + rnd.nextInt(3)
    if (me.intKeys)
      (s"$keyBase + $c % $m", s"$keyBase + $c % $m", lit(keyBase) + col(c) % m)
    else
      (s"concat('k', CAST($c % $m AS STRING))",
        s"concat('k', CAST($c % $m AS VARCHAR))",
        concat(lit("k"), (col(c) % m).cast(StringType)))
  }

  private def whereClause(t: MTable, rnd: Random): Option[(String, Column)] =
    if (rnd.nextInt(100) < 40) {
      val c = t.intCols(rnd.nextInt(t.intCols.size))
      val k = 2 + rnd.nextInt(4)
      Some((s"$c % $k = 0", col(c) % k === 0))
    } else None

  // ---- query shapes ----

  final case class MQuery(id: Int, table: String, sparkSql: String,
      duckSql: String, df: (SparkSession, String) => DataFrame,
      outCols: Seq[String]) extends FuzzExec.Generated

  def queries(seed: Long, n: Int): Seq[MQuery] =
    (0 until n).map(i => gen(i, new Random(seed * 467 + i)))

  private def gen(id: Int, rnd: Random): MQuery = {
    val t = tables(rnd.nextInt(tables.size))
    id % 4 match {
      case 0 => genLookup(id, t, rnd)
      case 1 => genKeysValues(id, t, rnd)
      case 2 => genConcat(id, t, rnd)
      case _ => genHof(id, t, rnd)
    }
  }

  /** Scalar lookups: data-dependent hit/miss key, present literal key,
    * cardinality. Alternates string / BIGINT key maps. */
  private def genLookup(id: Int, t: MTable, rnd: Random): MQuery = {
    val intKeys = id % 8 == 4
    val me = genMap(t, rnd, intKeys, allowNull = id % 2 == 0)
    val (lkS, lkD, lkDf) = lookup(t, rnd, me, keyBase = 0)
    val presentS = me.keySqlSpark.head
    val presentD = me.keySqlDuck.head
    val where = whereClause(t, rnd)
    val proj = Seq(
      (s"try_element_at(${me.sparkSql}, $lkS)",
        s"(element_at(${me.duckSql}, $lkD))[1]",
        try_element_at(me.df, lkDf), "o_0"),
      (s"element_at(${me.sparkSql}, $presentS)",
        s"(element_at(${me.duckSql}, $presentD))[1]",
        element_at(me.df, if (intKeys) lit(0L) else lit(me.keys.head)), "o_1"),
      (s"CAST(cardinality(${me.sparkSql}) AS BIGINT)",
        s"CAST(cardinality(${me.duckSql}) AS BIGINT)",
        size(me.df).cast(LongType), "o_2"))
    render(id, t, proj, where)
  }

  /** Order-pinning joined extractions: filtered keys, sentinel-joined
    * values, cardinality. */
  private def genKeysValues(id: Int, t: MTable, rnd: Random): MQuery = {
    val me = genMap(t, rnd, intKeys = false, allowNull = id % 2 == 0)
    val c = 2 + rnd.nextInt(3)
    val r = rnd.nextInt(c)
    val where = whereClause(t, rnd)
    val proj = Seq(
      (s"coalesce(array_join(map_keys(map_filter(${me.sparkSql}, (k, v) -> v % $c = $r)), ','), '')",
        s"coalesce(array_to_string(list_transform(list_filter(map_entries(${me.duckSql}), e -> e.value % $c = $r), e -> e.key), ','), '')",
        coalesce(array_join(map_keys(map_filter(me.df,
          (_, v) => v % c === r)), ","), lit("")), "o_0"),
      (s"coalesce(array_join(transform(map_values(${me.sparkSql}), x -> coalesce(CAST(x AS STRING), '$NullSentinel')), ','), '')",
        s"coalesce(array_to_string(list_transform(map_values(${me.duckSql}), x -> coalesce(CAST(x AS VARCHAR), '$NullSentinel')), ','), '')",
        coalesce(array_join(transform(map_values(me.df),
          x => coalesce(x.cast(StringType), lit(NullSentinel))), ","),
          lit("")), "o_1"),
      (s"CAST(cardinality(${me.sparkSql}) AS BIGINT)",
        s"CAST(cardinality(${me.duckSql}) AS BIGINT)",
        size(me.df).cast(LongType), "o_2"))
    render(id, t, proj, where)
  }

  /** Disjoint-key concat: lookups across both halves + cardinality. */
  private def genConcat(id: Int, t: MTable, rnd: Random): MQuery = {
    val a = genMap(t, rnd, intKeys = false, allowNull = id % 2 == 0, keyPrefix = "a")
    val b = genMap(t, rnd, intKeys = false, allowNull = false, keyPrefix = "b")
    val cS = s"map_concat(${a.sparkSql}, ${b.sparkSql})"
    val cD = s"map_concat(${a.duckSql}, ${b.duckSql})"
    val cDf = map_concat(a.df, b.df)
    val where = whereClause(t, rnd)
    val proj = Seq(
      (s"element_at($cS, '${a.keys.head}')",
        s"(element_at($cD, '${a.keys.head}'))[1]",
        element_at(cDf, lit(a.keys.head)), "o_0"),
      (s"element_at($cS, '${b.keys.last}')",
        s"(element_at($cD, '${b.keys.last}'))[1]",
        element_at(cDf, lit(b.keys.last)), "o_1"),
      (s"CAST(cardinality($cS) AS BIGINT)",
        s"CAST(cardinality($cD) AS BIGINT)",
        size(cDf).cast(LongType), "o_2"))
    render(id, t, proj, where)
  }

  /** Map HOFs: transform_values arithmetic, entry-filter rebuild
    * cardinality, filtered-keys join. id%8==3 forces the empty-filter
    * arm (predicate never true). */
  private def genHof(id: Int, t: MTable, rnd: Random): MQuery = {
    val me = genMap(t, rnd, intKeys = false, allowNull = id % 2 == 1)
    val mul = 2 + rnd.nextInt(9)
    val add = rnd.nextInt(100)
    val (c, r) = if (id % 8 == 3) (2, 5) else (2 + rnd.nextInt(3), 0)
    val where = whereClause(t, rnd)
    val proj = Seq(
      (s"coalesce(array_join(transform(map_values(transform_values(${me.sparkSql}, (k, v) -> v * $mul + $add)), x -> coalesce(CAST(x AS STRING), '$NullSentinel')), ','), '')",
        s"coalesce(array_to_string(list_transform(map_values(${me.duckSql}), x -> coalesce(CAST(x * $mul + $add AS VARCHAR), '$NullSentinel')), ','), '')",
        coalesce(array_join(transform(map_values(transform_values(me.df,
          (_, v) => v * mul + add)),
          x => coalesce(x.cast(StringType), lit(NullSentinel))), ","),
          lit("")), "o_0"),
      (s"CAST(cardinality(map_from_entries(filter(map_entries(${me.sparkSql}), e -> e.value % $c = $r))) AS BIGINT)",
        s"CAST(cardinality(map_from_entries(list_filter(map_entries(${me.duckSql}), e -> e.value % $c = $r))) AS BIGINT)",
        size(map_from_entries(filter(map_entries(me.df),
          e => e.getField("value") % c === r))).cast(LongType), "o_1"),
      (s"coalesce(array_join(map_keys(map_filter(${me.sparkSql}, (k, v) -> v % $c = $r)), ','), '')",
        s"coalesce(array_to_string(list_transform(list_filter(map_entries(${me.duckSql}), e -> e.value % $c = $r), e -> e.key), ','), '')",
        coalesce(array_join(map_keys(map_filter(me.df,
          (_, v) => v % c === r)), ","), lit("")), "o_2"))
    render(id, t, proj, where)
  }

  private def render(id: Int, t: MTable,
      proj: Seq[(String, String, Column, String)],
      where: Option[(String, Column)]): MQuery = {
    val outCols = proj.map(_._4)
    val sparkSql = s"SELECT ${proj.map(p => s"${p._1} AS ${p._4}").mkString(", ")}" +
      s" FROM ${t.name}" + where.fold("")(w => s" WHERE ${w._1}")
    val duckSql = s"SELECT ${proj.map(p => s"${p._2} AS ${p._4}").mkString(", ")}" +
      s" FROM ${t.name}" + where.fold("")(w => s" WHERE ${w._1}")
    val dfFn = (sp: SparkSession, d: String) => {
      // spread: per-row map/HOF work is the gate's whole cost and the
      // input is a single-row-group file — see FuzzExec.spreadNoCache
      val raw = FuzzExec.spreadNoCache(sp, Tables.t(sp, d, t.name))
      val f = where.fold(raw)(w => raw.filter(w._2))
      f.select(proj.map(p => p._3.as(p._4)): _*)
    }
    MQuery(id, t.name, sparkSql, duckSql, dfFn, outCols)
  }

  // ---- the gate (run by FuzzExec) ----

  type Query = MQuery

  protected def render(spark: SparkSession, dir: String, q: Query): DataFrame =
    q.df(spark, dir)

  /** q_fz16 — the map differential gate. */
  def gate: Q = declare(
    "q_fz16_map_fuzz",
    s"map differential fuzz: $NQueries seeded construction/lookup/" +
      "keys-values/concat/HOF queries over string- and BIGINT-keyed maps, " +
      "dual-rendered, scalar or joined-string outputs, fingerprint-compared " +
      "Spark vs DuckDB")
}
