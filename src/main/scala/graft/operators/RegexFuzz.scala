package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

import scala.util.Random

/** Differential fuzz over the REGEX surface — the fourteenth
  * population: match predicates, group extraction, global replace and
  * match counting over the part/customer/orders string columns.
  * Spark executes Java regex, DuckDB RE2 — so the generator is
  * restricted to the probed COMMON SYNTAX where both engines agree:
  * literal runs over the data alphabet, character classes (incl.
  * negated and ranged), `+ ? {m} {m,n}` quantifiers, groups,
  * alternation with non-empty branches, and `^`/`$` anchors. No
  * backslash ever appears in a pattern — `\d`-style shorthands are
  * spelled as classes, because the engines' STRING-LITERAL escaping
  * differs (Spark processes `\`-escapes inside SQL literals, DuckDB
  * does not), which would diverge before the regex engine even runs.
  *
  * Probed AGREEMENT surface: unanchored search semantics for match/
  * extract, leftmost match for extract, `''` (not NULL) on no-match
  * extract, NULL propagation, case-sensitive by default, group
  * extraction by index, global replace (with the DuckDB `'g'` flag —
  * see below), match counting.
  *
  * Probed DIVERGENCE classes (excluded, with the compensations):
  *  - `regexp_replace` replaces ALL matches in Spark but FIRST-only
  *    in DuckDB → the DuckDB rendering always passes the `'g'` flag
  *    (dual-rendered op);
  *  - match counting: Spark `regexp_count` has no DuckDB twin → duck
  *    renders `len(regexp_extract_all(...))` (probed equal incl. the
  *    0-on-no-match and NULL arms);
  *  - EMPTY-MATCHABLE patterns iterate differently under global
  *    replace (Spark `regexp_replace('aaa','a*','X')` → `XX`, DuckDB
  *    → `X`) → every generated pattern contains ≥ 1 MANDATORY atom
  *    (quantifier `+`, `{m}`, or none), so it can never match '';
  *  - out-of-range group index: Spark THROWS, DuckDB returns `''` →
  *    the generator tracks group count and never exceeds it;
  *  - replacement backreferences (`$1` vs `\1`) → replacements are
  *    literal strings only.
  */
object RegexFuzz extends FuzzExec.Frames {

  val NQueries = 45
  val GateSeed = 20260824L

  // (table, string columns) — values are ASCII words/ids/priorities
  private final case class RTable(name: String, strCols: Seq[String],
      intCol: String)
  private def tables = Seq(
    RTable("part", Seq("p_name", "p_brand", "p_type"), "p_partkey"),
    RTable("customer", Seq("c_name", "c_mktsegment"), "c_custkey"),
    RTable("orders", Seq("o_orderpriority", "o_orderstatus"), "o_orderkey"))

  // ---- pattern generator: tracked group count, ≥1 mandatory atom ----

  private final case class Pat(re: String, groups: Int)

  private def charClass(rnd: Random): String = Seq(
    "[a-z]", "[0-9]", "[aeiou]", "[^0-9]", "[a-m]", "[rgb]",
    "[A-Z]", "[^ ]")(rnd.nextInt(8))

  private def literalRun(rnd: Random): String = {
    val words = Seq("a", "e", "r", "an", "er", "re", "Customer", "Brand",
      "URGENT", "LOW", "0", "1", "00", "gre", "bl")
    words(rnd.nextInt(words.size))
  }

  /** One atom: literal run or class, with an optional quantifier.
    * `mandatory` forbids `?` and `*`-like forms. */
  private def atom(rnd: Random, mandatory: Boolean): String = {
    val base = if (rnd.nextBoolean()) charClass(rnd) else literalRun(rnd)
    val q = rnd.nextInt(10) match {
      case 0 | 1 => "+"
      case 2 => "{2}"
      case 3 => "{1,3}"
      case 4 if !mandatory => "?"
      case _ => ""
    }
    // quantifiers bind to ONE char of a literal run in both engines —
    // parenthesize multi-char literals under a quantifier
    if (q.nonEmpty && base.length > 1 && !base.startsWith("["))
      s"($base)$q" // note: adds a group — handled by caller via countGroups
    else s"$base$q"
  }

  private def countGroups(re: String): Int = re.count(_ == '(')

  /** A pattern of 1–3 atoms; at least the first is mandatory; 30%
    * get a tracked extraction group, 20% anchors, 15% alternation. */
  private def pattern(rnd: Random): Pat = {
    val n = 1 + rnd.nextInt(3)
    var atoms = (0 until n).map(i => atom(rnd, mandatory = i == 0))
    // alternation: wrap two non-empty alternatives
    if (rnd.nextInt(100) < 15) {
      val alt = s"(${literalRun(rnd)}|${literalRun(rnd)})"
      atoms = alt +: atoms.tail
    }
    // a deliberate extraction group around a mandatory atom
    if (rnd.nextInt(100) < 45) {
      val g = s"(${atoms.head})"
      atoms = g +: atoms.tail
    }
    var re = atoms.mkString("")
    if (rnd.nextInt(100) < 12) re = "^" + re
    else if (rnd.nextInt(100) < 12) re = re + "$"
    Pat(re, countGroups(re))
  }

  // ---- ops (dual-rendered where the engines' spellings differ) ----

  private sealed trait ROut { def sparkSql: String; def duckSql: String; def df: Column }

  private final case class OMatch(c: String, p: Pat, name: String) extends ROut {
    def sparkSql = s"CAST($c RLIKE '${p.re}' AS STRING) AS $name"
    def duckSql = s"CAST(regexp_matches($c, '${p.re}') AS STRING) AS $name"
    def df = col(c).rlike(p.re).cast(StringType).as(name)
  }
  private final case class OExtract(c: String, p: Pat, idx: Int, name: String)
      extends ROut {
    require(idx <= p.groups)
    def sparkSql = s"regexp_extract($c, '${p.re}', $idx) AS $name"
    def duckSql = s"regexp_extract($c, '${p.re}', $idx) AS $name"
    def df = regexp_extract(col(c), p.re, idx).as(name)
  }
  private final case class OReplaceAll(c: String, p: Pat, rep: String, name: String)
      extends ROut {
    def sparkSql = s"regexp_replace($c, '${p.re}', '$rep') AS $name"
    def duckSql = s"regexp_replace($c, '${p.re}', '$rep', 'g') AS $name"
    def df = regexp_replace(col(c), lit(p.re), lit(rep)).as(name)
  }
  private final case class OCount(c: String, p: Pat, name: String) extends ROut {
    def sparkSql = s"CAST(regexp_count($c, '${p.re}') AS BIGINT) AS $name"
    def duckSql = s"CAST(len(regexp_extract_all($c, '${p.re}')) AS BIGINT) AS $name"
    def df = regexp_count(col(c), lit(p.re)).cast(LongType).as(name)
  }

  private def genOut(t: RTable, rnd: Random, name: String): ROut = {
    val c = t.strCols(rnd.nextInt(t.strCols.size))
    val p = pattern(rnd)
    rnd.nextInt(100) match {
      case x if x < 25 => OMatch(c, p, name)
      case x if x < 55 => OExtract(c, p, rnd.nextInt(p.groups + 1), name)
      case x if x < 80 =>
        OReplaceAll(c, p, Seq("_", "X", "", "#")(rnd.nextInt(4)), name)
      case _ => OCount(c, p, name)
    }
  }

  // ---- query shapes ----

  final case class RQuery(id: Int, table: String, sparkSql: String,
      duckSql: String, df: (SparkSession, String) => DataFrame,
      outCols: Seq[String]) extends FuzzExec.Generated

  def queries(seed: Long, n: Int): Seq[RQuery] =
    (0 until n).map(i => gen(i, new Random(seed * 757 + i)))

  private def gen(id: Int, rnd: Random): RQuery = {
    val t = tables(rnd.nextInt(tables.size))
    if (id % 2 == 0) genScalar(id, t, rnd) else genAgg(id, t, rnd)
  }

  private def genScalar(id: Int, t: RTable, rnd: Random): RQuery = {
    val nOut = 2 + rnd.nextInt(2)
    val outs = (0 until nOut).map(j => genOut(t, rnd, s"o_$j"))
    // WHERE: a match predicate (dual) or an int mod
    val where: Option[(String, String, Column)] = rnd.nextInt(3) match {
      case 0 =>
        val c = t.strCols(rnd.nextInt(t.strCols.size))
        val p = pattern(rnd)
        val neg = rnd.nextBoolean()
        (if (neg)
          Some((s"NOT ($c RLIKE '${p.re}')", s"NOT regexp_matches($c, '${p.re}')",
            !col(c).rlike(p.re)))
        else
          Some((s"$c RLIKE '${p.re}'", s"regexp_matches($c, '${p.re}')",
            col(c).rlike(p.re))))
      case 1 =>
        val k = 2 + rnd.nextInt(3)
        Some((s"${t.intCol} % $k = 0", s"${t.intCol} % $k = 0",
          col(t.intCol) % k === 0))
      case _ => None
    }
    val outCols = outs.indices.map(j => s"o_$j")
    val sparkSql = s"SELECT ${outs.map(_.sparkSql).mkString(", ")} FROM ${t.name}" +
      where.fold("")(p => s" WHERE ${p._1}")
    val duckSql = s"SELECT ${outs.map(_.duckSql).mkString(", ")} FROM ${t.name}" +
      where.fold("")(p => s" WHERE ${p._2}")
    val dfFn = (s: SparkSession, d: String) => {
      val raw = Tables.t(s, d, t.name)
      val f = where.fold(raw)(p => raw.filter(p._3))
      f.select(outs.map(_.df): _*)
    }
    RQuery(id, t.name, sparkSql, duckSql, dfFn, outCols)
  }

  private def genAgg(id: Int, t: RTable, rnd: Random): RQuery = {
    val c = t.strCols(rnd.nextInt(t.strCols.size))
    val p = pattern(rnd)
    // group key: extraction result or match flag
    val key: (String, String, Column) =
      if (rnd.nextBoolean())
        (s"regexp_extract($c, '${p.re}', ${rnd.nextInt(p.groups + 1)})",
          s"regexp_extract($c, '${p.re}', ${rnd.nextInt(p.groups + 1)})",
          null) // re-rendered below with a FIXED idx — see kIdx
      else
        (s"CAST($c RLIKE '${p.re}' AS STRING)",
          s"CAST(regexp_matches($c, '${p.re}') AS STRING)",
          col(c).rlike(p.re).cast(StringType))
    // the extraction key must use ONE idx in all three renderings
    val kIdx = rnd.nextInt(p.groups + 1)
    val (kSpark, kDuck, kDf) =
      if (key._3 == null)
        (s"regexp_extract($c, '${p.re}', $kIdx)",
          s"regexp_extract($c, '${p.re}', $kIdx)",
          regexp_extract(col(c), p.re, kIdx))
      else key
    val nAggs = 1 + rnd.nextInt(2)
    val aggs: Seq[(String, String, Column)] = (0 until nAggs).map { j =>
      val name = s"a_$j"
      rnd.nextInt(100) match {
        case x if x < 40 =>
          (s"CAST(count(*) AS BIGINT) AS $name", s"CAST(count(*) AS BIGINT) AS $name",
            count(lit(1)).cast(LongType).as(name))
        case x if x < 70 =>
          val o = genOut(t, rnd, "__x")
          val si = o.sparkSql.stripSuffix(" AS __x")
          val di = o.duckSql.stripSuffix(" AS __x")
          (s"CAST(count(DISTINCT $si) AS BIGINT) AS $name",
            s"CAST(count(DISTINCT $di) AS BIGINT) AS $name",
            count_distinct(o.df).cast(LongType).as(name))
        case _ =>
          val c2 = t.strCols(rnd.nextInt(t.strCols.size))
          val p2 = pattern(rnd)
          (s"CAST(sum(regexp_count($c2, '${p2.re}')) AS BIGINT) AS $name",
            s"CAST(sum(len(regexp_extract_all($c2, '${p2.re}'))) AS BIGINT) AS $name",
            sum(regexp_count(col(c2), lit(p2.re))).cast(LongType).as(name))
      }
    }
    val outCols = Seq("g_0") ++ aggs.indices.map(j => s"a_$j")
    val sparkSql = s"SELECT ($kSpark) AS g_0, ${aggs.map(_._1).mkString(", ")}" +
      s" FROM ${t.name} GROUP BY 1"
    val duckSql = s"SELECT ($kDuck) AS g_0, ${aggs.map(_._2).mkString(", ")}" +
      s" FROM ${t.name} GROUP BY 1"
    val dfFn = (s: SparkSession, d: String) => {
      val raw = Tables.t(s, d, t.name)
      raw.groupBy(kDf.as("g_0"))
        .agg(aggs.head._3, aggs.tail.map(_._3): _*)
        .select(outCols.map(col): _*)
    }
    RQuery(id, t.name, sparkSql, duckSql, dfFn, outCols)
  }

  // ---- the gate (run by FuzzExec) ----

  type Query = RQuery

  protected def render(spark: SparkSession, dir: String, q: Query): DataFrame =
    q.df(spark, dir)

  /** q_fz14 — the regex differential gate. */
  def gate: Q = declare(
    "q_fz14_regex_fuzz",
    s"regex differential fuzz: $NQueries seeded match/extract/replace/count " +
      "queries over the probed Java-regex ∩ RE2 common syntax, dual-rendered, " +
      "fingerprint-compared Spark vs DuckDB")
}
