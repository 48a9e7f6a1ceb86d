package graft.jobs

import graft.operators.{Sampling, SequencePacking, Sharding, TextQueries}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end training-data EXPORT — the pipeline a training run
  * actually consumes, composed from the gated operators:
  *
  *  1. curate ([[CorpusCuration]]: stats → gates → exact + near dedup)
  *  2. split documents into train/val/test ([[Sampling.assignSplits]])
  *     — BEFORE packing, because packed windows concatenate ACROSS
  *     documents: splitting after packing would put pieces of one
  *     document on both sides of the holdout boundary (the train/test
  *     leak that invalidates an eval). Doc-level split first means
  *     every window is purely one split's text.
  *  3. per split: chunk (tx8 kernel) → concat-and-cut pack into
  *     fixed-token windows (tx9/tx10, two-level prefix sum) →
  *     materialized window rows
  *  4. per split: md5-shuffled round-robin shard write ([[Sharding]])
  *     — `outDir/split=<name>/shard=<k>/`, rows sorted by in-shard
  *     position, ready for sequential streaming by a loader.
  *
  * Everything downstream of curation is deterministic in the id set
  * (hash gates, not rand()), so a re-export over a grown corpus keeps
  * every surviving document's split — holdout integrity survives
  * corpus growth, the property step 2's operator exists for.
  */
object TrainingExport {

  final case class Config(
      window: Int = 64,
      groupDocs: Int = 100,
      nShards: Int = 8,
      fractions: Seq[(String, Double)] = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      curation: CorpusCuration.Config = CorpusCuration.Config(),
      /** Optional per-source epoch weights ([[Sampling.epochMix]]),
        * applied to the FIRST split (train) only — holdouts are never
        * upsampled. Empty = every source exactly once. */
      epochs: Map[String, Double] = Map.empty,
      defaultEpochs: Double = 1.0)

  /** Packed window frames per split: name → (bin_id, n_chunks,
    * n_tokens, bin_text). Caches the curated+split frame once; each
    * split's pack runs over its own filtered slice. */
  def packedSplits(docs: DataFrame, cfg: Config): Seq[(String, DataFrame)] = {
    val (curated, _) = CorpusCuration.run(docs, cfg.curation)
    val split = Sampling.assignSplits(curated, "doc_id", cfg.fractions).cache()
    val trainName = cfg.fractions.head._1
    // step 2.5 (optional): epoch-weighted upsampling of the TRAIN slice
    // — each (doc, rep) becomes its own unit under a collision-free
    // remapped id (rep < k), so packing/sharding treat repeats as
    // independent documents while val/test stay exactly once
    def upsampled(name: String, slice: DataFrame): DataFrame =
      if (cfg.epochs.isEmpty || name != trainName) slice
      else {
        val k = math.ceil((cfg.epochs.values ++ Seq(cfg.defaultEpochs)).max).toLong + 1
        Sampling.epochMix(slice, "source", "doc_id", cfg.epochs, cfg.defaultEpochs)
          .withColumn("doc_id", col("doc_id") * k + col("rep"))
          .drop("rep")
      }
    cfg.fractions.map { case (name, _) =>
      val chunks = TextQueries.chunkFrame(
        upsampled(name, split.filter(col("split") === name)))
        .select(col("doc_id"), col("chunk_idx"), col("chunk_text"), col("n_chunk_tokens"))
      val packed = SequencePacking.pack(chunks, "n_chunk_tokens", cfg.window,
        expr(s"doc_id div ${cfg.groupDocs}"), Seq("doc_id", "chunk_idx"))
      name -> SequencePacking.materializeBins(packed, "chunk_text", "n_chunk_tokens",
        Seq("doc_id", "chunk_idx"))
    }
  }

  /** Materialize the full export under `outDir/split=<name>/shard=<k>/`. */
  def writeExport(docs: DataFrame, outDir: String, cfg: Config = Config()): Unit =
    packedSplits(docs, cfg).foreach { case (name, bins) =>
      Sharding.writeShards(bins, "bin_id", cfg.nShards, s"$outDir/split=$name")
    }

  /** Runnable entry: `--demo <outDir>` exports the sf0.001 documents
    * table; `<docsDir> <outDir>` exports any dir holding
    * `documents.parquet`. */
  def main(args: Array[String]): Unit = {
    val Array(mode, outDir) = args
    val spark = graft.GraftSession.local()
    val docsDir = if (mode == "--demo") "/root/testdata/sf0.001" else mode
    writeExport(graft.Tables.documents(spark, docsDir), outDir)
    val back = spark.read.parquet(outDir)
    val counts = back.groupBy("split").count().collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
    println(s"[training-export] windows per split: $counts")
    spark.stop()
  }
}
