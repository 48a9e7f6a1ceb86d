package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import scala.util.Random

/** Differential fuzz over the STRING-function surface — the third
  * population beside [[RelFuzz]] (relational) and [[TemporalFuzz]]
  * (temporal): seeded random compositions of the Spark∩DuckDB string
  * overlap (upper/lower/trim/reverse/substring/replace/repeat/
  * concat_ws/length/md5, LIKE predicates) over the part and customer
  * name columns. String semantics are where engines quietly disagree
  * (empty-string edges, out-of-range substrings, replace-with-empty);
  * every generated expression nests 1–3 ops so those edges actually
  * get hit. Functions whose NAMES or argument orders differ (instr vs
  * strpos, lpad defaults, negative substring starts) stay out — the
  * grammar is the agreed overlap, same discipline as the other two
  * populations.
  *
  * Same three renderings and fingerprint reduction as RelFuzz: the
  * DataFrame rendering builds real `functions._` Column trees (not
  * `expr(sql)` — the property suite would otherwise prove nothing),
  * the common SQL parses in both engines, DuckDB checksums gate it.
  */
object StringFuzz extends FuzzExec.Frames {

  val NQueries = 60
  val GateSeed = 20260814L

  // (table, key column, string columns)
  private val tables = Seq(
    ("part", "p_partkey", Seq("p_name", "p_brand", "p_type")),
    ("customer", "c_custkey", Seq("c_name", "c_mktsegment")))

  sealed trait SExpr { def sql: String; def df: Column }
  private final case class Leaf(c: String) extends SExpr {
    def sql = c; def df = col(c)
  }
  private final case class Upper(e: SExpr) extends SExpr {
    def sql = s"upper(${e.sql})"; def df = upper(e.df)
  }
  private final case class Lower(e: SExpr) extends SExpr {
    def sql = s"lower(${e.sql})"; def df = lower(e.df)
  }
  private final case class TrimE(e: SExpr) extends SExpr {
    def sql = s"trim(${e.sql})"; def df = trim(e.df)
  }
  private final case class Rev(e: SExpr) extends SExpr {
    def sql = s"reverse(${e.sql})"; def df = reverse(e.df)
  }
  private final case class SubStr(e: SExpr, i: Int, n: Int) extends SExpr {
    def sql = s"substring(${e.sql}, $i, $n)"; def df = substring(e.df, i, n)
  }
  private final case class ReplaceE(e: SExpr, from: String, to: String) extends SExpr {
    def sql = s"replace(${e.sql}, '$from', '$to')"
    def df = replace(e.df, lit(from), lit(to))
  }
  private final case class RepeatE(e: SExpr, n: Int) extends SExpr {
    def sql = s"repeat(${e.sql}, $n)"; def df = repeat(e.df, n)
  }
  private final case class ConcatWsE(sep: String, a: SExpr, b: SExpr) extends SExpr {
    def sql = s"concat_ws('$sep', ${a.sql}, ${b.sql})"
    def df = concat_ws(sep, a.df, b.df)
  }
  // terminal wrappers changing the output type
  private final case class LenOf(e: SExpr) extends SExpr {
    def sql = s"CAST(length(${e.sql}) AS BIGINT)"
    def df = length(e.df).cast(LongType)
  }
  private final case class Md5Of(e: SExpr) extends SExpr {
    def sql = s"md5(${e.sql})"; def df = md5(e.df)
  }

  final case class SQuery(id: Int, table: String, key: String,
      exprs: Seq[(String, SExpr)], predSql: Option[String],
      predDf: Option[Column], distinct: Boolean) extends FuzzExec.Generated {
    def duckSql: String = commonSql

    def outCols: Seq[String] = Seq(key) ++ exprs.map(_._1)

    def commonSql: String = {
      val sel = (Seq(key) ++ exprs.map { case (a, e) => s"${e.sql} AS $a" })
        .mkString(", ")
      s"SELECT ${if (distinct) "DISTINCT " else ""}$sel FROM $table" +
        predSql.map(p => s" WHERE $p").getOrElse("")
    }

    def df(spark: SparkSession, dir: String): DataFrame = {
      val base = Tables.t(spark, dir, table)
      val filtered = predDf.map(base.filter).getOrElse(base)
      val proj = filtered.select(
        (Seq(col(key)) ++ exprs.map { case (a, e) => e.df.as(a) }).toIndexedSeq: _*)
      if (distinct) proj.distinct() else proj
    }
  }

  /** The seeded population: a pure function of `seed`. */
  def queries(seed: Long, n: Int): Seq[SQuery] = {
    val rnd = new Random(seed)
    (0 until n).map(i => genOne(i, rnd))
  }

  private def genOne(id: Int, rnd: Random): SQuery = {
    val (table, key, strCols) = tables(rnd.nextInt(tables.size))
    def leaf(): SExpr = Leaf(strCols(rnd.nextInt(strCols.size)))
    def wrap(e: SExpr): SExpr = rnd.nextInt(8) match {
      case 0 => Upper(e)
      case 1 => Lower(e)
      case 2 => TrimE(e)
      case 3 => Rev(e)
      case 4 => SubStr(e, 1 + rnd.nextInt(5), 1 + rnd.nextInt(6))
      case 5 =>
        val pairs = Seq(("a", "x"), (" ", "_"), ("e", ""), ("r", "rr"))
        val (f, t) = pairs(rnd.nextInt(pairs.size))
        ReplaceE(e, f, t)
      case 6 => RepeatE(e, 1 + rnd.nextInt(2))
      case _ => e // identity keeps average depth modest
    }
    def tree(): SExpr = {
      val depth = 1 + rnd.nextInt(3)
      var e = leaf()
      for (_ <- 1 to depth) e = wrap(e)
      if (rnd.nextInt(100) < 20) ConcatWsE("-", e, leaf()) else e
    }
    val nExprs = 1 + rnd.nextInt(2)
    val exprs = (0 until nExprs).map { j =>
      val t = tree()
      val terminal = rnd.nextInt(10) match {
        case 0 => LenOf(t)
        case 1 => Md5Of(t)
        case _ => t
      }
      s"expr_$j" -> terminal
    }
    val pred = rnd.nextInt(10) match {
      case x if x < 4 => (None, None)
      case x if x < 7 =>
        val c = strCols(rnd.nextInt(strCols.size))
        val ch = ('a' + rnd.nextInt(26)).toChar
        (Some(s"$c LIKE '%$ch%'"), Some(col(c).like(s"%$ch%")))
      case _ =>
        val c = strCols(rnd.nextInt(strCols.size))
        val k = 3 + rnd.nextInt(12)
        if (rnd.nextBoolean())
          (Some(s"length($c) > $k"), Some(length(col(c)) > k))
        else (Some(s"length($c) <= $k"), Some(length(col(c)) <= k))
    }
    SQuery(id, table, key, exprs, pred._1, pred._2,
      distinct = rnd.nextInt(100) < 50)
  }

  // ---- the gate (run by FuzzExec) ----

  type Query = SQuery

  protected def render(spark: SparkSession, dir: String, q: Query): DataFrame =
    q.df(spark, dir)

  /** q_fz3 — the string-function differential gate. */
  def gate: Q = declare(
    "q_fz3_string_fuzz",
    s"string differential fuzz: $NQueries seeded nested string-op " +
      "compositions, fingerprint-compared Spark vs DuckDB")
}
