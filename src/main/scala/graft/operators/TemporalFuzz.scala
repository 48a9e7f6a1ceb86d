package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import scala.util.Random

/** Differential fuzz over the TIME dimension — the companion
  * population to [[RelFuzz]]: random `date_trunc` rollups of the
  * events table across every truncation unit (including 'week', the
  * unit whose ISO-vs-engine semantics caused the round-5 divergence
  * class), with modular predicates and count/sum aggregates. The
  * grammar is the Spark∩DuckDB temporal overlap: `date_trunc` is the
  * ONE time function whose name, argument order, and (gate-proven by
  * q_ev1/q_p6) semantics agree; datediff/epoch functions differ by
  * name or argument order and stay out.
  *
  * Same three renderings and fingerprint discipline as RelFuzz; the
  * DataFrame rendering reads events through [[Tables.events]] (the
  * ts-normalization seam — raw reads are forbidden for this table),
  * and the in-JVM property suite registers the SAME normalized frame
  * as the SQL view, so all three engines see identical timestamps.
  * Truncated timestamps are whole-second, so their string forms agree
  * across engines (the canonical-row cast).
  */
object TemporalFuzz extends FuzzExec.Frames {

  val NQueries = 60
  val GateSeed = 20260814L

  private val Units = Seq("hour", "day", "week", "month", "quarter", "year")
  // EXTRACT fields in the agreed overlap: integer-valued and
  // identically defined in both engines. dow/doy stay OUT — Spark and
  // DuckDB number weekdays differently (1-7 Sun-start vs 0-6), which
  // is a real dialect divergence, not an engine bug for the
  // differential to flag.
  private val ExtractFields = Seq("day", "hour", "minute")
  private val Types = Seq("click", "error", "purchase", "signup", "view")
  // timestamp-literal grid inside the generated events range; a
  // literal outside the range just yields an empty (still compared)
  // result, so the grid need not track regeneration exactly
  private val TsLiterals = Seq(
    "2024-01-05 00:00:00", "2024-01-08 12:00:00", "2024-01-12 00:00:00",
    "2024-01-18 06:30:00", "2024-01-25 00:00:00")

  sealed trait TAgg { def alias: String; def sql: String; def df: Column }
  private final case class TCount(alias: String) extends TAgg {
    def sql = s"CAST(count(*) AS BIGINT) AS $alias"
    def df = count(lit(1)).cast(LongType).as(alias)
  }
  private final case class TCountDist(c: String, alias: String) extends TAgg {
    def sql = s"CAST(count(DISTINCT $c) AS BIGINT) AS $alias"
    def df = countDistinct(col(c)).cast(LongType).as(alias)
  }
  private final case class TSumMod(c: String, k: Int, alias: String) extends TAgg {
    def sql = s"CAST(sum($c % $k) AS BIGINT) AS $alias"
    def df = sum(col(c) % k).cast(LongType).as(alias)
  }

  /** `unit` is either a date_trunc unit or `extract:<field>`. */
  final case class TQuery(id: Int, unit: String, byType: Boolean,
      predSql: Option[String], aggs: Seq[TAgg],
      havingGt: Option[Int] = None) extends FuzzExec.Generated {
    def duckSql: String = commonSql

    def outCols: Seq[String] =
      (Seq("g") ++ (if (byType) Seq("event_type") else Nil)) ++ aggs.map(_.alias)

    private def isExtract: Boolean = unit.startsWith("extract:")

    /** Common-dialect SQL over a view/table named `events`. The
      * date_trunc group key carries an explicit TIMESTAMP cast:
      * DuckDB's date_trunc returns DATE for day-and-coarser units (so
      * its string form drops the time part) while Spark always returns
      * TIMESTAMP — the first run of this population caught exactly
      * that divergence on qid 0. EXTRACT keys cast to BIGINT (DuckDB
      * widens to BIGINT, Spark to INT — same value, aligned type). */
    def commonSql: String = {
      val keySql =
        if (isExtract)
          s"CAST(extract(${unit.stripPrefix("extract:")} FROM ts) AS BIGINT) AS g"
        else s"CAST(date_trunc('$unit', ts) AS TIMESTAMP) AS g"
      val groups = Seq(keySql) ++ (if (byType) Seq("event_type") else Nil)
      val keys = (1 to groups.size).mkString(", ")
      s"SELECT ${(groups ++ aggs.map(_.sql)).mkString(", ")} FROM events" +
        predSql.map(p => s" WHERE $p").getOrElse("") +
        s" GROUP BY $keys" +
        havingGt.map(k => s" HAVING count(*) > $k").getOrElse("")
    }

    /** DataFrame rendering over the NORMALIZED events reader. */
    def df(spark: SparkSession, dir: String): DataFrame = {
      val e = Tables.events(spark, dir)
      val base = predSql.map(p => e.filter(expr(p))).getOrElse(e)
      val keyCol =
        if (isExtract) (unit.stripPrefix("extract:") match {
          case "day" => dayofmonth(col("ts"))
          case "hour" => hour(col("ts"))
          case _ => minute(col("ts"))
        }).cast(LongType).as("g")
        else date_trunc(unit.toUpperCase, col("ts")).as("g")
      val keys = Seq(keyCol) ++ (if (byType) Seq(col("event_type")) else Nil)
      val agged = base.groupBy(keys: _*)
        .agg(aggs.head.df,
          (aggs.tail.map(_.df) :+ count(lit(1)).as("__hn")): _*)
      havingGt.map(k => agged.filter(col("__hn") > k)).getOrElse(agged)
        .select(outCols.map(col): _*)
    }
  }

  /** The seeded population: a pure function of `seed`. */
  def queries(seed: Long, n: Int): Seq[TQuery] = {
    val rnd = new Random(seed)
    (0 until n).map { i =>
      // 70% date_trunc keys, 30% EXTRACT keys
      val unit =
        if (rnd.nextInt(10) < 7) Units(rnd.nextInt(Units.size))
        else "extract:" + ExtractFields(rnd.nextInt(ExtractFields.size))
      val byType = rnd.nextBoolean()
      val pred = rnd.nextInt(12) match {
        case x if x < 3 => None
        case x if x < 6 =>
          val k = Seq(2, 3, 5, 7)(rnd.nextInt(4))
          val c = if (rnd.nextBoolean()) "user_id" else "event_id"
          Some(s"($c % $k) ${if (rnd.nextBoolean()) "=" else "<>"} ${rnd.nextInt(k)}")
        case x if x < 9 =>
          Some(s"event_type ${if (rnd.nextBoolean()) "=" else "<>"} '${Types(rnd.nextInt(Types.size))}'")
        case x if x < 11 =>
          // timestamp-literal range predicate — the literal syntax is
          // in the agreed overlap; one- or two-sided
          val a = TsLiterals(rnd.nextInt(TsLiterals.size))
          if (rnd.nextBoolean()) Some(s"ts >= TIMESTAMP '$a'")
          else {
            val b = TsLiterals(rnd.nextInt(TsLiterals.size))
            Some(s"ts >= TIMESTAMP '${if (a <= b) a else b}' AND ts < TIMESTAMP '${if (a <= b) b else a}'")
          }
        case _ =>
          Some(s"ts < TIMESTAMP '${TsLiterals(rnd.nextInt(TsLiterals.size))}'")
      }
      val nAggs = 1 + rnd.nextInt(2)
      val aggs = (0 until nAggs).map { j =>
        val alias = s"agg_$j"
        rnd.nextInt(3) match {
          case 0 => TCount(alias)
          case 1 => TCountDist(
            Seq("user_id", "event_id", "event_type")(rnd.nextInt(3)), alias)
          case _ => TSumMod(
            if (rnd.nextBoolean()) "user_id" else "event_id",
            Seq(3, 5, 11)(rnd.nextInt(3)), alias)
        }
      }
      val having = if (rnd.nextInt(100) < 25) Some(1 + rnd.nextInt(5)) else None
      TQuery(i, unit, byType, pred, aggs, having)
    }
  }

  // ---- the gate (run by FuzzExec) ----

  type Query = TQuery

  protected def render(spark: SparkSession, dir: String, q: Query): DataFrame =
    q.df(spark, dir)

  /** q_fz2 — the temporal differential gate. */
  def gate: Q = declare(
    "q_fz2_temporal_fuzz",
    s"temporal differential fuzz: $NQueries seeded date_trunc/EXTRACT rollups " +
      "(every unit incl. week; ts-literal ranges; HAVING), fingerprint-compared Spark vs DuckDB")
}
