package graft.tools

import graft.{GraftSession, SparkEntry}

/** Dump `.explain("formatted")` for the named gates (or a default
  * heavy-production set) to `<outDir>/<name>_<tag>.txt` — the plan
  * evidence the optimization rounds commit under plans/r15/.
  *
  *   sbt "runMain graft.tools.PlanDump <outDir> <tag> [q_a,q_b,...]"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r15")
    val tag = if (args.length > 1) args(1) else "before"
    val names: Seq[String] =
      if (args.length > 2) args(2).split(",").toSeq
      else Seq(
        "q_llm1_corpus_curation", "q_dd4_ngram_jaccard",
        "q_cc10_communities", "q_dd8_semantic_dedup",
        "q_dd10_dup_clusters", "q_dd14_minhash_audit",
        "q_dd2_minhash_lsh", "q_dd6_multitable_lsh",
        "q_j13_fuzzy_blocked", "q_s9_kcenter_coreset",
        "q_ul2_unigram_em_round", "q_dd12_span_removal",
        "q_llm2_training_export", "q_j1_join_multiway",
        "q_m5_scd2", "q_cc2_components_star")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    for (n <- names) {
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${n}_$tag.txt"),
          plan.getBytes("UTF-8"))
        val ex = "Exchange".r.findAllIn(plan).size
        val smj = "SortMergeJoin".r.findAllIn(plan).size
        val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
        println(f"[plandump] $n%-28s exchanges=$ex%-3d smj=$smj%-2d bhj=$bhj%-2d -> $outDir/${n}_$tag.txt")
      } catch { case e: Exception =>
        println(s"[plandump] $n FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
