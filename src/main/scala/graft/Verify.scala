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
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop() // drains the listener bus — the snapshot below is complete
    val bad = fanout.snapshot
    if (bad.nonEmpty) {
      bad.foreach { case (g, f) =>
        System.err.println(s"[verify] CARDINALITY VIOLATION ($g) ${f.render}") }
      // the same escape q() applies: a gate tag can be null (violation
      // landed outside any gate window) and a rendered detail can carry
      // quotes from a generated expression — both must stay valid JSON
      try Files.writeString(Paths.get("/tmp/verify_fanout.jsonl"),
        bad.map { case (g, f) =>
          s"""{"gate":${q(Option(g).getOrElse(""))},"detail":${q(f.render)}}""" }
          .mkString("", "\n", "\n"))
      catch { case _: Exception => () }
    }
  }
}
