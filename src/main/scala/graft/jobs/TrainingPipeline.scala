package graft.jobs

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.core.{TableIO, TrainOnce}
import graft.operators.NgramLm
import graft.sources.StateStore

/** The LLM-side ordered chain under the [[JobRunner]] scheduler shell
  * — [[ImportAndRefresh]]'s twin for the training-data pipeline:
  *
  *   1. **curate** — [[CorpusCuration]]'s stats → gate → dedup funnel
  *      over the raw documents;
  *   2. **tokenizer** — the unigram-LM hard-EM vocabulary trained on
  *      the curated corpus (TrainOnce artifact + published table);
  *   3. **mix** — [[PretrainMix]] over the CURATED survivors
  *      (self-calibrating median DSIR cut, temperature quotas);
  *   4. **export** — [[TrainingExport]]'s split → pack → shard over
  *      the admitted mix.
  *
  * Each stage fingerprints its INPUT directory (evaluated lazily, so
  * an upstream rerun cascades) and skips when nothing changed — the
  * nightly-cron shape: re-invoking the pipeline against an unchanged
  * crawl costs three fingerprint stats and zero Spark jobs.
  *
  * Layout under the root dir: `curated/`, `tokenizer/`, `mix/`,
  * `shards/`, `state/`.
  *
  * Usage: TrainingPipeline --demo <dir> | <docsDir> <dir>
  */
object TrainingPipeline {

  def main(args: Array[String]): Unit = {
    val Array(mode, dir) = args
    val spark = GraftSession.local()
    val docsDir = if (mode == "--demo") "/root/testdata/sf0.001" else mode
    val outcomes = chain(spark, docsDir, dir)
    spark.stop()
    if (outcomes.exists(o => o._2.tag == "failed" || o._2.tag == "blocked"))
      sys.exit(1)
  }

  /** Build and run the four-job chain; returns per-job outcomes. */
  def chain(spark: SparkSession, docsDir: String,
      dir: String): Seq[(String, JobRunner.Outcome)] = {
    val curatedDir = s"$dir/curated"
    val tokenizerDir = s"$dir/tokenizer"
    val mixDir = s"$dir/mix"
    val shardsDir = s"$dir/shards"
    val state = new StateStore(s"$dir/state")

    def curate(): Unit = {
      val (curated, _) = CorpusCuration.run(graft.Tables.documents(spark, docsDir))
      TableIO.writeAtomicSwap(
        curated.select(col("doc_id"), col("source"), col("text")), curatedDir)
    }

    // tokenizer training on the curated corpus: the unigram-LM hard-EM
    // vocab lands in the TrainOnce artifact tier (keyed by curatedDir's
    // content fingerprint) AND is published as a serving table — the
    // per-run skip is the JobRunner fingerprint, the per-JVM skip is
    // the artifact cache; both key on the same source state
    def tokenizer(): Unit = {
      val docs = TableIO.read(spark, curatedDir)
      TableIO.writeAtomicSwap(
        graft.operators.UnigramLm.trainedVocab(spark, docs, curatedDir),
        tokenizerDir)
    }

    def mix(): Unit = {
      val docs = TableIO.read(spark, curatedDir)
      val target = NgramLm.train(docs, "text", col("doc_id") % 11 === 0)
      val raw = NgramLm.train(docs, "text", lit(true))
      val threshold = NgramLm.scoreDsir(docs, "doc_id", "text", target, raw, 0L)
        .agg(expr("CAST(percentile(dsir_score, 0.5) AS BIGINT)")).head().getLong(0)
      val admitted = PretrainMix.run(docs, budget = 60L, target, raw, threshold)
      TableIO.writeAtomicSwap(
        admitted.join(docs.select(col("doc_id"), col("text")), Seq("doc_id")), mixDir)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }

    // the mix is already gated and deduped — the export's internal
    // curation runs PERMISSIVE (quality floor 0, every langId class)
    // so this stage only splits, packs, and shards
    def export(): Unit =
      TrainingExport.writeExport(TableIO.read(spark, mixDir), shardsDir,
        TrainingExport.Config(curation = CorpusCuration.Config(
          minQuality = 0.0, langs = Seq("de", "en", "es", "fr", "zh", "und"))))

    JobRunner.runOrdered(state, Seq(
      JobSpec("curate",
        fingerprint = () => TrainOnce.sourceFingerprint(spark, docsDir),
        run = () => curate()),
      JobSpec("tokenizer",
        fingerprint = () => TrainOnce.sourceFingerprint(spark, curatedDir),
        run = () => tokenizer()),
      JobSpec("mix",
        fingerprint = () => TrainOnce.sourceFingerprint(spark, curatedDir),
        run = () => mix()),
      JobSpec("export",
        fingerprint = () => TrainOnce.sourceFingerprint(spark, mixDir),
        run = () => export())))
  }
}
