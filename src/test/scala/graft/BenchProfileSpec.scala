package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Bench's per-gate profile, built in the shared session (which it
  * must leave open): an iterative gate's checkpoint rounds show up as
  * construct jobs named by their graft call site, a multi-way join's
  * joins show up in the plan shape, and every stage belongs to exactly
  * one gate. */
class BenchProfileSpec extends SparkSpec {

  test("profile: construct jobs, join shape, disjoint stages, valid JSON") {
    val gates = Seq("q_cc4_pagerank", "q_j1_join_multiway")
    val (results, lines) = Bench.timeGates(spark, gates, sf0001, passes = 1)
    assert(results.map(_._1) == gates && results.forall(_._2 >= 0), results)

    val mapper = new ObjectMapper()
    val recs = lines.filter(_.startsWith("{\"kind\":\"profile\""))
      .map(l => mapper.readTree(l)).map(r => r.get("gate").asText -> r).toMap
    assert(recs.keySet == gates.toSet, lines)
    val cc4 = recs("q_cc4_pagerank")
    val j1 = recs("q_j1_join_multiway")

    assert(cc4.get("construct_jobs").asLong > 0, cc4)
    // checkpoint rounds name the graft operator that ran them
    assert(cc4.get("stages").elements.asScala.exists(_.get("site").asText.startsWith("graft.")), cc4)
    val joins = Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
      .map(j1.get("shape").get(_).asInt).sum
    assert(joins >= 2, j1)

    def stageIds(r: JsonNode): Set[Int] =
      r.get("stages").elements.asScala.map(_.get("id").asInt).toSet
    assert(stageIds(cc4).nonEmpty && stageIds(j1).nonEmpty)
    assert((stageIds(cc4) intersect stageIds(j1)).isEmpty)
    assert(!spark.sparkContext.isStopped)
  }
}
