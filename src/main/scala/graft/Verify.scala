package graft

import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // the runtime cardinality audit (join/generate fanout + exchange
    // skew) rides the correctness dump too (same listener the bench
    // registers — it sees the fuzz harnesses' inner executions);
    // violations go to stderr + /tmp, NEVER into outDir, which the
    // driver enumerates as query outputs
    val fanout = new plans.CardinalityAudit.Listener()
    spark.listenerManager.register(fanout)
    // SPARK_GRAFT_ONLY=q_a,q_b narrows the dump for targeted iteration
    // (same contract as Bench); the driver sets nothing and runs all
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      fanout.gate = name
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      spark.catalog.clearCache() // no cached block outlives its query
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop() // drains the listener bus — the snapshot below is complete
    val bad = fanout.snapshot
    if (bad.nonEmpty) {
      bad.foreach { case (g, f) =>
        System.err.println(s"[verify] CARDINALITY VIOLATION ($g) ${f.render}") }
      // one record per line, the shape Bench's self-record carries
      try Files.writeString(Paths.get("/tmp/verify_fanout.jsonl"),
        bad.map { case (g, f) => f.json(g) }.mkString("", "\n", "\n"))
      catch { case _: Exception => () }
    }
  }
}
