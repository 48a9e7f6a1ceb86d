package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import scala.util.Random

/** Differential fuzz over the STRUCT surface — the fifteenth
  * population, closing the nested-type story ([[ArrayFuzz]] lists,
  * [[JsonFuzz]] documents, this one records): construction, field
  * access (incl. nested), struct-valued GROUP BY keys, struct
  * DISTINCT counting, and lexicographic struct comparison / min / max.
  *
  * Dual-rendered construction (Spark `named_struct('a', e, …)` vs
  * DuckDB `{'a': e, …}`); field access `(expr).a` is spelling-common.
  *
  * Probed AGREEMENT surface: field access and nesting, NULL-valued
  * fields propagating through access, GROUP BY a struct (NULL fields
  * UNIFY in group identity in both engines — probed), count(DISTINCT
  * struct) likewise, field-ordered lexicographic `<`/`=` comparison,
  * and min/max over structs — with results always projected FIELD BY
  * FIELD (`(min(s)).a`), never as a raw struct (the engines' struct
  * string forms differ: `{0, 2}` vs `{'a': 0, 'b': 2}`).
  *
  * Probed DIVERGENCE classes (excluded — the generator tracks field
  * nullability):
  *  - equality between structs with NULL fields: Spark's struct `=`
  *    is null-safe per field (TRUE), DuckDB's is three-valued (NULL);
  *  - ordering with NULL fields: a NULL field sorts FIRST in Spark's
  *    struct comparison but LAST in DuckDB's (min over
  *    `{a:NULL},{a:2},{a:3}` → `{null}` vs `{'a': 2}`);
  *  → comparison/min/max operands are restricted to structs whose
  *    every field is non-nullable; nullable fields are exercised via
  *    access, grouping and DISTINCT (where identities agree);
  *  - `greatest`/`least` over structs: unsupported in DuckDB → never
  *    generated.
  */
object StructFuzz extends FuzzExec.Frames {

  val NQueries = 35
  val GateSeed = 20260825L

  private final case class STable(name: String, intCols: Seq[String],
      strCols: Seq[String])
  private def tables = Seq(
    STable("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"),
      Seq("l_returnflag", "l_linestatus")),
    STable("orders", Seq("o_orderkey", "o_custkey"),
      Seq("o_orderstatus", "o_orderpriority")),
    STable("customer", Seq("c_custkey", "c_nationkey"), Seq("c_mktsegment")))

  /** A field expression: common SQL, DF, and nullability. */
  private final case class FE(sql: String, df: Column, nullable: Boolean,
      isStr: Boolean)

  private def intField(t: STable, rnd: Random, nullArm: Boolean): FE = {
    val c = t.intCols(rnd.nextInt(t.intCols.size))
    val k = 2 + rnd.nextInt(5)
    if (nullArm) {
      val r = rnd.nextInt(k)
      FE(s"(CASE WHEN $c % $k = $r THEN NULL ELSE CAST($c % $k AS BIGINT) END)",
        when(col(c) % k === r, lit(null).cast(LongType))
          .otherwise((col(c) % k).cast(LongType)), nullable = true, isStr = false)
    } else
      FE(s"CAST($c % $k AS BIGINT)", (col(c) % k).cast(LongType),
        nullable = false, isStr = false)
  }

  private def strField(t: STable, rnd: Random): FE = {
    val c = t.strCols(rnd.nextInt(t.strCols.size))
    FE(c, col(c), nullable = false, isStr = true)
  }

  private def genField(t: STable, rnd: Random, allowNull: Boolean): FE =
    rnd.nextInt(100) match {
      case x if x < 30 => strField(t, rnd)
      case x if x < 55 && allowNull => intField(t, rnd, nullArm = true)
      case _ => intField(t, rnd, nullArm = false)
    }

  /** A struct of 2–3 named fields, optionally with one nested level. */
  private final case class SE(sparkSql: String, duckSql: String, df: Column,
      fields: Seq[(String, FE)], anyNullable: Boolean) {
    def accessSpark(f: String) = s"($sparkSql).$f"
    def accessDuck(f: String) = s"($duckSql).$f"
  }

  private def genStruct(t: STable, rnd: Random, allowNull: Boolean,
      allowNest: Boolean): SE = {
    val n = 2 + rnd.nextInt(2)
    val fields = (0 until n).map { j =>
      (s"f$j", genField(t, rnd, allowNull = allowNull && j == 0))
    }
    val base = SE(
      s"named_struct(${fields.map { case (nm, f) => s"'$nm', ${f.sql}" }.mkString(", ")})",
      s"{${fields.map { case (nm, f) => s"'$nm': ${f.sql}" }.mkString(", ")}}",
      struct(fields.map { case (nm, f) => f.df.as(nm) }: _*),
      fields, fields.exists(_._2.nullable))
    if (allowNest && rnd.nextInt(100) < 25) {
      // one nested level: {'inner': <base>, 'tag': <int>}
      val tag = intField(t, rnd, nullArm = false)
      SE(s"named_struct('inner', ${base.sparkSql}, 'tag', ${tag.sql})",
        s"{'inner': ${base.duckSql}, 'tag': ${tag.sql}}",
        struct(base.df.as("inner"), tag.df.as("tag")),
        Seq(("tag", tag)), base.anyNullable)
    } else base
  }

  // ---- query shapes ----

  final case class SQuery(id: Int, table: String, sparkSql: String,
      duckSql: String, df: (SparkSession, String) => DataFrame,
      outCols: Seq[String]) extends FuzzExec.Generated

  def queries(seed: Long, n: Int): Seq[SQuery] =
    (0 until n).map(i => gen(i, new Random(seed * 449 + i)))

  private def gen(id: Int, rnd: Random): SQuery = {
    val t = tables(rnd.nextInt(tables.size))
    id % 3 match {
      case 0 => genAccess(id, t, rnd)
      case 1 => genGroup(id, t, rnd)
      case _ => genMinMaxCmp(id, t, rnd)
    }
  }

  /** Scalar shape: construct, access fields (incl. one nested access),
    * with a struct-comparison predicate on non-nullable structs. */
  private def genAccess(id: Int, t: STable, rnd: Random): SQuery = {
    val s = genStruct(t, rnd, allowNull = id % 2 == 0, allowNest = true)
    val isNested = s.sparkSql.startsWith("named_struct('inner'")
    val accessesRaw: Seq[(String, String, Column, String)] =
      if (isNested)
        Seq((s"(${s.sparkSql}).inner.f0", s"((${s.duckSql}).inner).f0",
          s.df.getField("inner").getField("f0"), "o_0"),
          (s.accessSpark("tag"), s.accessDuck("tag"),
            s.df.getField("tag"), "o_1"))
      else s.fields.take(2).zipWithIndex.map { case ((nm, _), j) =>
        (s.accessSpark(nm), s.accessDuck(nm), s.df.getField(nm), s"o_$j")
      }
    val where: Option[(String, String, Column)] =
      if (rnd.nextInt(100) < 50) {
        // compare IDENTICALLY-SHAPED structs: generate the left side,
        // then rebuild the right field-for-field with the SAME kind
        // (int/string) but fresh exprs — both engines require exact
        // struct-type equality for comparison
        val a = genStruct(t, rnd, allowNull = false, allowNest = false)
        val bFields = a.fields.map { case (nm, f) =>
          (nm, if (f.isStr) strField(t, rnd) else intField(t, rnd, nullArm = false))
        }
        val b = SE(
          s"named_struct(${bFields.map { case (nm, f) => s"'$nm', ${f.sql}" }.mkString(", ")})",
          s"{${bFields.map { case (nm, f) => s"'$nm': ${f.sql}" }.mkString(", ")}}",
          struct(bFields.map { case (nm, f) => f.df.as(nm) }: _*),
          bFields, anyNullable = false)
        Some((s"(${a.sparkSql}) < (${b.sparkSql})",
          s"(${a.duckSql}) < (${b.duckSql})", a.df < b.df))
      } else None
    val outCols = accessesRaw.map(_._4)
    val sparkSql = s"SELECT ${accessesRaw.map(a => s"${a._1} AS ${a._4}").mkString(", ")}" +
      s" FROM ${t.name}" + where.fold("")(w => s" WHERE ${w._1}")
    val duckSql = s"SELECT ${accessesRaw.map(a => s"${a._2} AS ${a._4}").mkString(", ")}" +
      s" FROM ${t.name}" + where.fold("")(w => s" WHERE ${w._2}")
    val dfFn = (sp: SparkSession, d: String) => {
      val raw = Tables.t(sp, d, t.name)
      val f = where.fold(raw)(w => raw.filter(w._3))
      f.select(accessesRaw.map(a => a._3.as(a._4)): _*)
    }
    SQuery(id, t.name, sparkSql, duckSql, dfFn, outCols)
  }

  /** GROUP BY a struct (nullable fields allowed — identities agree);
    * key exits field-by-field. */
  private def genGroup(id: Int, t: STable, rnd: Random): SQuery = {
    val s = genStruct(t, rnd, allowNull = id % 2 == 1, allowNest = false)
    val nAggs = 1 + rnd.nextInt(2)
    val aggs: Seq[(String, String, Column)] = (0 until nAggs).map { j =>
      val name = s"a_$j"
      if (rnd.nextBoolean())
        (s"CAST(count(*) AS BIGINT) AS $name", s"CAST(count(*) AS BIGINT) AS $name",
          count(lit(1)).cast(LongType).as(name))
      else {
        val inner = genStruct(t, rnd, allowNull = id % 2 == 1, allowNest = false)
        (s"CAST(count(DISTINCT ${inner.sparkSql}) AS BIGINT) AS $name",
          s"CAST(count(DISTINCT ${inner.duckSql}) AS BIGINT) AS $name",
          count_distinct(inner.df).cast(LongType).as(name))
      }
    }
    val keyOuts = s.fields.zipWithIndex.map { case ((nm, _), j) => (nm, s"g_$j") }
    val outCols = keyOuts.map(_._2) ++ aggs.indices.map(j => s"a_$j")
    def render(struct0: String, access: (String, String) => String,
        aR: ((String, String, Column)) => String) =
      s"SELECT ${keyOuts.map { case (nm, o) => s"${access("s", nm)} AS $o" }.mkString(", ")}, " +
        aggs.map(aR).mkString(", ") +
        s" FROM (SELECT $struct0 AS s, * FROM ${t.name}) __i GROUP BY s"
    val sparkSql = render(s.sparkSql, (v, f) => s"($v).$f", _._1)
    val duckSql = render(s.duckSql, (v, f) => s"($v).$f", _._2)
    val dfFn = (sp: SparkSession, d: String) => {
      val raw = Tables.t(sp, d, t.name)
      raw.groupBy(s.df.as("s"))
        .agg(aggs.head._3, aggs.tail.map(_._3): _*)
        .select(keyOuts.map { case (nm, o) => col("s").getField(nm).as(o) } ++
          aggs.indices.map(j => col(s"a_$j")): _*)
    }
    SQuery(id, t.name, sparkSql, duckSql, dfFn, outCols)
  }

  /** min/max over NON-nullable structs, results projected per field. */
  private def genMinMaxCmp(id: Int, t: STable, rnd: Random): SQuery = {
    val s = genStruct(t, rnd, allowNull = false, allowNest = false)
    val isMax = rnd.nextBoolean()
    val fn = if (isMax) "max" else "min"
    val where: Option[(String, Column)] =
      if (rnd.nextInt(100) < 40) {
        val c = t.intCols(rnd.nextInt(t.intCols.size))
        val k = 2 + rnd.nextInt(3)
        Some((s"$c % $k = 0", col(c) % k === 0))
      } else None
    val keyCol = t.intCols(rnd.nextInt(t.intCols.size))
    val km = 2 + rnd.nextInt(4)
    val outCols = Seq("g_0") ++ s.fields.indices.map(j => s"a_$j")
    def render(struct0: String) =
      s"SELECT CAST($keyCol % $km AS BIGINT) AS g_0, " +
        s.fields.zipWithIndex.map { case ((nm, _), j) =>
          s"($fn($struct0)).$nm AS a_$j" }.mkString(", ") +
        s" FROM ${t.name}" + where.fold("")(w => s" WHERE ${w._1}") +
        " GROUP BY 1"
    val sparkSql = render(s.sparkSql)
    val duckSql = render(s.duckSql)
    val dfFn = (sp: SparkSession, d: String) => {
      val raw = Tables.t(sp, d, t.name)
      val f = where.fold(raw)(w => raw.filter(w._2))
      val agged = f.groupBy((col(keyCol) % km).cast(LongType).as("g_0"))
        .agg((if (isMax) max(s.df) else min(s.df)).as("__m"))
      agged.select(col("g_0") +: s.fields.zipWithIndex.map { case ((nm, _), j) =>
        col("__m").getField(nm).as(s"a_$j") }: _*)
    }
    SQuery(id, t.name, sparkSql, duckSql, dfFn, outCols)
  }

  // ---- the gate (run by FuzzExec) ----

  type Query = SQuery

  protected def render(spark: SparkSession, dir: String, q: Query): DataFrame =
    q.df(spark, dir)

  /** q_fz15 — the struct differential gate. */
  def gate: Q = declare(
    "q_fz15_struct_fuzz",
    s"struct differential fuzz: $NQueries seeded construction/access/" +
      "group-by-struct/min-max/comparison queries, dual-rendered, field-projected " +
      "outputs, fingerprint-compared Spark vs DuckDB")
}
