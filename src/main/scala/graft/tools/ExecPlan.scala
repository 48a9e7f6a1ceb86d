package graft.tools

import graft.{GraftSession, SparkEntry}

/** Execute a gate once and print its FINAL adaptive plan (with runtime
  * AQEShuffleRead decisions) plus per-node metrics read back from the
  * SQL status store — the view the Spark UI's SQL tab would give (the
  * sandbox runs UI-less). The store is the only place the EXECUTED
  * plan instance's metric values live; a DataFrame's own
  * queryExecution is a different (never-executed) instantiation whose
  * accumulators stay zero.
  *
  *   sbt "runMain graft.tools.ExecPlan q_dd8_semantic_dedup"
  */
object ExecPlan {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q_dd8_semantic_dedup")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    Thread.sleep(1000) // status-store updates ride the listener bus

    val store = spark.sharedState.statusStore
    // the noop write is the LAST execution; fuzz-style gates run many
    // inner executions first — print them all, biggest first is not
    // meaningful across executions, so keep submission order
    val keep = Set("numOutputRows", "duration", "time in aggregation build",
      "sort time", "shuffle write time", "fetch wait time", "records read",
      "data size", "time to build hash map", "time to broadcast",
      "number of partitions", "spill size")
    for (e <- store.executionsList().takeRight(
        sys.env.getOrElse("SPARK_GRAFT_EXECS", "1").toInt)) {
      println(s"==== execution ${e.executionId} ====")
      val metrics = store.executionMetrics(e.executionId)
      for (node <- store.planGraph(e.executionId).allNodes) {
        val ms = node.metrics
          .filter(m => keep.exists(k => m.name.startsWith(k)))
          .flatMap(m => metrics.get(m.accumulatorId).map(v =>
            s"${m.name}=${v.replace("\n", " ")}"))
        if (ms.nonEmpty)
          println(f"  [${node.id}%3d] ${node.name}%-36s ${ms.mkString(" | ")}")
      }
    }
    spark.stop()
  }
}
