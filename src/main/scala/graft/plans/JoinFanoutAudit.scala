package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.joins.BaseJoinExec

/** Post-execution EQUI-JOIN FANOUT audit — automating the blowup class
  * that round 13 caught only by eye: fz28's first-cut RTRIM join keyed
  * 150k×75k rows on a 3–5-distinct-value string, a ~10⁹-row
  * near-cartesian intermediate that shipped to a committed bench
  * before a human read the numbers (it cost +10 s at sf0.1; at 100×
  * it is a job-killer, not a blip). The repo's PlanAuditSpec polices
  * band-join cartesians and quadratic frames STATICALLY; a
  * low-cardinality equi-key — the oldest blowup class there is — is
  * invisible in the plan shape (the join LOOKS like any hash join)
  * and only surfaces in runtime cardinalities. So this audit reads
  * them: after a plan executes, every equi-join node's
  * `numOutputRows` is compared against the larger of its inputs, and
  * a fanout `out / max(in)` above the bound with a non-trivial
  * absolute output is flagged.
  *
  * Why output/max(input) and not output/sum or selectivity: a key
  * with k distinct values over sides of size L and R produces ~L·R/k
  * rows — fanout ≈ min(L,R)/k — so the ratio directly measures
  * "rows multiplied per probe row", which is the quantity that grows
  * LINEARLY with scale for a fixed-cardinality key (the hazard) and
  * stays O(1) for PK/FK joins (ratio ≤ 1) and bounded-bucket joins
  * (ratio ≤ bucket cap). The `minRows` floor keeps deliberately tiny
  * high-fanout frames (dim×dim cross products measured in hundreds of
  * rows) out of scope: the hazard class is big AND multiplying.
  *
  * Two consumers:
  *  - [[CardinalityAudit.Listener]] — the session-wide
  *    QueryExecutionListener the bench/verify register (this object
  *    is its join arm), so the audit sees EVERY execution, including
  *    the fuzz harnesses' inner `spark.sql` frames where the fz28
  *    first cut actually lived (a DataFrame-level audit on the gate's
  *    outer frame sees only the collected fingerprint rows).
  *  - [[violations]] — direct post-execution audit of one frame, the
  *    spec-side surface (planted-hazard control + library sweeps).
  *
  * Scope: equi-joins only (`leftKeys.nonEmpty`), as the class
  * demands — broadcast nested-loop / cartesian nodes are either
  * deliberate bounded products (q_j7, q_d2, ANN brute-force) already
  * pinned by PlanAuditSpec, or carry no key to be low-cardinality in.
  * Joins inside uncorrelated subquery plans are not walked (none of
  * the library's subqueries join at scale; the gate corpus runs the
  * main plans). Metrics are read from the AQE-final plan, so the
  * numbers are what actually ran, reused stages included. */
object JoinFanoutAudit {

  /** One executed equi-join's cardinality record. */
  final case class Fanout(node: String, keys: String, joinType: String,
      outputRows: Long, maxInputRows: Long) {
    def ratio: Double = outputRows.toDouble / math.max(1L, maxInputRows).toDouble
    def render: String =
      f"$node($joinType on $keys): out=$outputRows maxIn=$maxInputRows fanout=$ratio%.1f"
  }

  /** Default trip line: fanout > 256 means every probe row matched
    * >256 build rows on average — no library operator does that by
    * design (PK/FK ≤ 1; LSH/shingle buckets are df-capped far below;
    * date spines fan by days-per-key, double digits). The planted
    * fz28 first-cut control sits at ~720 even at sf0.001 and grows
    * linearly with sf, so the bound separates hazard from legit with
    * an order of magnitude on each side. */
  val DefaultRatioBound: Double = 256.0

  /** Ignore joins whose absolute output stays under 100k rows: tiny
    * deliberate products (dim×dim, VALUES-list joins) can have big
    * ratios and zero scale risk — the hazard class is big AND
    * multiplying. At the bench's sf0.1 every real blowup clears this
    * floor by orders of magnitude (the fz28 first cut: ~10⁹). */
  val DefaultMinRows: Long = 100000L

  /** All executed equi-join cardinalities in the frame's final plan. */
  def fanouts(df: DataFrame): Seq[Fanout] = fromExecution(df.queryExecution)

  /** Fanout records above the (bound, floor) — empty means clean. */
  def violations(df: DataFrame, ratioBound: Double = DefaultRatioBound,
      minRows: Long = DefaultMinRows): Seq[Fanout] =
    fanouts(df).filter(f => f.outputRows >= minRows && f.ratio > ratioBound)

  def fromExecution(qe: QueryExecution): Seq[Fanout] =
    PlanMetrics.executedNodes(qe.executedPlan).collect {
      case j: BaseJoinExec if j.leftKeys.nonEmpty => j
    }.flatMap { j =>
      val out = j.metrics.get("numOutputRows").map(_.value)
      val maxIn = j.children.flatMap(PlanMetrics.rowsOut(_)).reduceOption(_ max _)
      (out, maxIn) match {
        case (Some(o), Some(in)) =>
          Some(Fanout(j.nodeName, j.leftKeys.map(_.sql).mkString(", "),
            j.joinType.toString, o, in))
        case _ => None // a side with no readable row metric: skip, don't guess
      }
    }

  // the executed-plan walk and the rows-out reads for join inputs live
  // in PlanMetrics, shared with the other arms; the session-wide listener is
  // CardinalityAudit.Listener, which carries this object as its join arm
}
