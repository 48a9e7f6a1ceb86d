package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{EmptyRelation, LogicalPlan}
import org.apache.spark.sql.execution.{EmptyRelationExec, GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, LogicalQueryStage, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Runtime CARDINALITY audit over the three blowup classes that are
  * invisible in plan SHAPE and only surface in executed numbers —
  * the round-14 equi-join fanout audit ([[JoinFanoutAudit]], kept as
  * the join arm's implementation) generalized to the two classes its
  * own scaladoc scoped out:
  *
  *  1. '''join''' — low-cardinality equi-key near-cartesians
  *     (out / max(in) on every executed equi-join; see
  *     [[JoinFanoutAudit]] for the bound derivation).
  *  2. '''generate''' — explode/generator fanout: a
  *     [[GenerateExec]]'s `numOutputRows` over its child's. The
  *     reference's char-histogram shape (`gisaid.sql:160-166`,
  *     re-expressed as q_a11) explodes `split(upper(seq), "")` — at
  *     the reference's production 30 kb sequences that is a 30,000×
  *     per-row multiplier, turning 100 TB of input into petabytes of
  *     generator output before the first aggregate sees it. Unlike
  *     join fanout the multiplier is scale-CONSTANT (per-row, not
  *     per-key), so the hazard is a large constant: the corpus's
  *     legitimate exploders measure ≤ ~600× (q_a11's ~306-char synth
  *     docs, dd4's per-token shingles, date spines at days-per-key),
  *     the planted 30 kb control reads 30,001× — the 4096 bound sits
  *     roughly an order of magnitude from each side.
  *  3. '''skew''' — exchange partition imbalance: max vs median
  *     bytes across a shuffle's reduce partitions, read from the
  *     stage's [[org.apache.spark.MapOutputStatistics]] (the same
  *     numbers AQE's skew-join rule keys on — runtime-true,
  *     pre-coalesce). A window/join keyed on a hot value puts the
  *     hot key's entire volume in ONE partition: at 100 TB that
  *     partition is the job (one executor sorts/spills the hot key's
  *     terabytes while the rest idle — the class q_sk1/q_sk2's
  *     salting operators exist to fix). Measured as max/median over
  *     NON-EMPTY partitions with ≥ [[SkewMinPartitions]] non-empty
  *     (fewer can't express imbalance — a 1-key global agg is a
  *     parallelism question, not a skew one) and a floor on the max
  *     partition's absolute bytes (tiny exchanges skew harmlessly).
  *
  * All three arms ride one [[Listener]] registered by Bench and
  * Verify, so every committed bench/correctness artifact carries a
  * corpus-wide verdict; per-arm bounds/floors are parameterized and
  * a non-positive bound disables an arm. The planted-hazard
  * discipline (a control that MUST trip per arm, corpus clean) lives
  * in CardinalityAuditSpec; JoinFanoutAuditSpec keeps the join arm's
  * original pins. */
object CardinalityAudit {

  /** One flagged record, any arm. `base` is the arm's denominator:
    * max input rows (join), child rows (generate), median non-empty
    * partition bytes (skew); `out` the numerator (output rows, output
    * rows, max partition bytes). */
  final case class Finding(kind: String, node: String, detail: String,
      out: Long, base: Long) {
    def ratio: Double = out.toDouble / math.max(1L, base).toDouble
    def render: String =
      f"[$kind] $node($detail): out=$out base=$base ratio=$ratio%.1f"
    /** This finding as one JSON line, tagged with its gate. */
    def json(gate: String): String =
      s"""{"gate":${graft.Json.str(gate)},"kind":${graft.Json.str(kind)},""" +
        s""""node":${graft.Json.str(node)},"detail":${graft.Json.str(detail)},""" +
        s""""out":$out,"base":$base,"ratio":${math.round(ratio * 10) / 10.0}}"""
  }

  /** Generate-arm trip line: the corpus's legitimate exploders top
    * out at a measured 333× (fz4's replicaterows over tiny grouped
    * bases) and ~306× (char histograms over ~306-char synth docs);
    * shingling/tokenization reads ~55× (tokens per doc), date spines
    * days-per-key. The production-shaped hazard — a 30 kb sequence
    * split to chars — reads 30,001×. 4096 sits ~12× above the
    * biggest legitimate multiplier and ~7× below the hazard. */
  val GenerateRatioBound: Double = 4096.0

  /** Generate-arm absolute floor, same rationale as the join arm's:
    * the hazard class is big AND multiplying. */
  val GenerateMinRows: Long = 100000L

  /** Skew-arm trip line on max/median non-empty partition bytes. AQE's
    * own skew-join threshold is 5× median; the audit is a guard, not a
    * re-planner, so it flags only order-of-magnitude imbalance — a
    * planted 90%-one-key control reads ≥ ~30× at 32 partitions while
    * the corpus's hash-keyed exchanges sit low single digits (sf0.1
    * max 3.5× above the floor; the one higher reading, q_lm3's 60× at
    * 24 kB, is a post-partial-agg bucket histogram whose bytes are
    * bounded by map-partitions × bucket-count at ANY scale — the
    * class the absolute floor exists to exclude). */
  val SkewRatioBound: Double = 16.0

  /** Skew-arm floor on the max partition's bytes. 4 MiB is ~6.5×
    * above the corpus's biggest sf0.1 max-partition (623 kB, fz4) and
    * well below the smallest genuinely hazardous hot partition a
    * bench-scale hot key produces (tens of MB — a 90% key over
    * sf0.1's lineitem is ~50 MB in one partition), so the arm is
    * live at bench scale with zero false fires; inherently-bounded
    * post-partial-agg exchanges (q_lm3's buckets) never reach it at
    * any sf because their bytes don't grow with data. */
  val SkewMinBytes: Long = 4L * 1024 * 1024

  /** Non-empty partitions required before imbalance is measurable. */
  val SkewMinPartitions: Int = 4

  /** Per-arm bounds; a non-positive bound disables that arm. */
  final case class Config(
      joinBound: Double = JoinFanoutAudit.DefaultRatioBound,
      joinMinRows: Long = JoinFanoutAudit.DefaultMinRows,
      generateBound: Double = GenerateRatioBound,
      generateMinRows: Long = GenerateMinRows,
      skewBound: Double = SkewRatioBound,
      skewMinBytes: Long = SkewMinBytes)

  // ---- generate arm ----

  /** Every executed generator's (out, child) cardinalities. A child
    * reading 0 rows against non-zero output is physically impossible
    * for a generator (output rows come from input rows) — it means
    * the child's row metric belongs to a subtree this execution
    * didn't drive (cached/reused fragments keep fresh metric objects;
    * measured live on q_ul1's lattice explode: out=27,988, child=0).
    * Skip, don't guess — the audit discipline. */
  def generateFanouts(qe: QueryExecution): Seq[Finding] =
    PlanMetrics.executedNodes(qe.executedPlan).collect { case g: GenerateExec => g }.flatMap { g =>
      val out = g.metrics.get("numOutputRows").map(_.value)
      val in = PlanMetrics.rowsOut(g.child)
      (out, in) match {
        case (Some(o), Some(i)) if i > 0 || o == 0 =>
          Some(Finding("generate", g.nodeName,
            g.generator.sql.take(120), o, i))
        case _ => None
      }
    }

  // ---- skew arm ----

  /** Every materialized shuffle stage's partition-byte imbalance,
    * deduped by shuffleId (reused exchanges appear once). `out` = max
    * partition bytes, `base` = median over non-empty partitions;
    * detail records the shape. Stages with < [[SkewMinPartitions]]
    * non-empty partitions are skipped — see the scaladoc. */
  def skewStats(qe: QueryExecution): Seq[Finding] =
    PlanMetrics.executedNodes(qe.executedPlan)
      .collect { case s: ShuffleQueryStageExec => s }
      .flatMap(s => s.mapStats.map(ms => (ms, s)))
      .distinctBy(_._1.shuffleId)
      .flatMap { case (ms, _) =>
        val nonEmpty = ms.bytesByPartitionId.filter(_ > 0).sorted
        if (nonEmpty.length < SkewMinPartitions) None
        else {
          val max = nonEmpty.last
          val median = nonEmpty(nonEmpty.length / 2)
          Some(Finding("skew", "Exchange",
            s"shuffleId=${ms.shuffleId} parts=${ms.bytesByPartitionId.length} " +
              s"nonEmpty=${nonEmpty.length} totalBytes=${nonEmpty.sum}",
            max, median))
        }
      }

  // ---- plan shape ----

  /** The operators [[planShape]] counts. */
  val ShapeOps: Seq[String] = Seq("Exchange", "SortMergeJoin",
    "ShuffledHashJoin", "BroadcastHashJoin", "InMemoryTableScan", "Generate")

  /** How many of each [[ShapeOps]] operator an executed plan holds
    * ([[PlanMetrics.executedNodes]]). A reused exchange counts once, at
    * the stage that computed it. Every key is present. */
  def planShape(qe: QueryExecution): Map[String, Int] = {
    val ops = PlanMetrics.executedNodes(qe.executedPlan, throughReused = false).collect {
      case _: Exchange => "Exchange"
      case _: SortMergeJoinExec => "SortMergeJoin"
      case _: ShuffledHashJoinExec => "ShuffledHashJoin"
      case _: BroadcastHashJoinExec => "BroadcastHashJoin"
      case _: InMemoryTableScanExec => "InMemoryTableScan"
      case _: GenerateExec => "Generate"
    }
    ShapeOps.map(k => k -> ops.count(_ == k)).toMap
  }

  // ---- unified surface ----

  /** All three arms' raw measurements for one executed frame (no
    * bounds applied) — the measurement surface SCALING.md's linearity
    * tables read. */
  def measurements(qe: QueryExecution): Seq[Finding] =
    JoinFanoutAudit.fromExecution(qe).map(f =>
      Finding("join", f.node, s"${f.joinType} on ${f.keys}",
        f.outputRows, f.maxInputRows)) ++
      generateFanouts(qe) ++ skewStats(qe)

  /** Findings above their arm's (bound, floor) — empty means clean. */
  def violations(qe: QueryExecution, cfg: Config = Config()): Seq[Finding] =
    measurements(qe).filter(f => trips(f, cfg))

  def violations(df: DataFrame): Seq[Finding] =
    violations(df.queryExecution, Config())

  private def trips(f: Finding, cfg: Config): Boolean = f.kind match {
    case "join" => cfg.joinBound > 0 &&
      f.out >= cfg.joinMinRows && f.ratio > cfg.joinBound
    case "generate" => cfg.generateBound > 0 &&
      f.out >= cfg.generateMinRows && f.ratio > cfg.generateBound
    case "skew" => cfg.skewBound > 0 &&
      f.out >= cfg.skewMinBytes && f.ratio > cfg.skewBound
    case _ => false
  }

  /** Session-wide audit hook covering all three arms — the listener
    * Bench and Verify register (superseding round 14's join-only
    * JoinFanoutAudit.Listener). Same discipline: callbacks arrive
    * asynchronously so the `gate` tag is best-effort attribution,
    * entries dedupe by content, and an audit crash must never fail
    * the run. */
  final class Listener(cfg: Config = Config()) extends QueryExecutionListener {
    @volatile var gate: String = ""
    private val seen = new java.util.concurrent.ConcurrentHashMap[String, Finding]()
    private val gates = new java.util.concurrent.ConcurrentHashMap[String, String]()

    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit =
      try violations(qe, cfg).foreach { f =>
        val key = s"${f.kind}|${f.node}|${f.detail}|${f.out}|${f.base}"
        seen.putIfAbsent(key, f)
        gates.putIfAbsent(key, gate)
      } catch { case _: Exception => () }

    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()

    /** (best-effort gate tag, finding) pairs seen so far. */
    def snapshot: Seq[(String, Finding)] = {
      import scala.jdk.CollectionConverters._
      seen.asScala.toSeq.sortBy(_._1).map { case (k, f) => (gates.get(k), f) }
    }
  }
}

/** Shared plan reads for the audit arms and the plan-shape counter. */
private[plans] object PlanMetrics {
  /** Every node of an executed plan, pre-order, read through AQE: the
    * final plan's query stages, the stages that already ran when AQE
    * collapsed an empty result into an `EmptyRelation` (they sit in its
    * logical plan, possibly under an earlier round's `EmptyRelation`:
    * q_j6_anti_join at sf0.001 ran a broadcast join and a shuffle its
    * final plan no longer shows, q_llm3_mix_pipeline 18 jobs) and, with
    * `throughReused`, the fragment a reused exchange points at. */
  def executedNodes(p: SparkPlan, throughReused: Boolean = true): Seq[SparkPlan] = {
    def ranStages(l: LogicalPlan): Seq[SparkPlan] = l.collect {
      case s: LogicalQueryStage => Seq(s.physicalPlan)
      case e: EmptyRelation => ranStages(e.logical)
    }.flatten
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case e: EmptyRelationExec => ranStages(e.logical)
      case r: ReusedExchangeExec => if (throughReused) Seq(r.child) else Nil
      case other => other.children
    }
    p +: inner.flatMap(executedNodes(_, throughReused))
  }

  /** Rows a node produced: the nearest descendant with a row metric
    * (the [[JoinFanoutAudit]] traversal, shared). */
  def rowsOut(p: SparkPlan): Option[Long] = p match {
    case a: AdaptiveSparkPlanExec => rowsOut(a.executedPlan)
    case q: QueryStageExec => rowsOut(q.plan)
    case r: ReusedExchangeExec => rowsOut(r.child)
    case _ =>
      p.metrics.get("numOutputRows").map(_.value)
        .orElse(p.metrics.get("shuffleRecordsWritten").map(_.value))
        .orElse(if (p.children.size == 1) rowsOut(p.children.head) else None)
  }
}
