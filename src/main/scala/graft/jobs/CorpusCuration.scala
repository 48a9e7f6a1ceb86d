package graft.jobs

import graft.functions.TextFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** The canonical training-data curation pipeline, composed from the
  * library's gated operators — what a 100 TB corpus run looks like:
  *
  *  1. per-document stats in ONE codegen pass over the scan
  *     (tokens / quality / language — tx1-tx3 kernels, shared split)
  *  2. quality + language gate (pure filter, pushed to the scan's
  *     output; no shuffle)
  *  3. exact dedup: canonical-fingerprint groupBy keeping the lowest
  *     doc id (dd1) — first shuffle, keyed by fingerprint
  *  4. near-dup dedup: MinHash+LSH banding → shuffle candidate join →
  *     Jaccard verify (dd2's scale-safe plan); of each surviving pair
  *     the HIGHER doc id is dropped (union-find-free greedy — at pair
  *     densities past that, connected components over the pair graph
  *     slot in here)
  *  5. curated corpus + a one-row funnel report (retention per stage)
  *
  * Every stage is a DataFrame transform: Catalyst fuses 1+2 into the
  * scan, and stages 3-4 are the only shuffles, each keyed by the thing
  * being deduplicated.
  */
object CorpusCuration {

  /** `clusterDedup`: false = greedy (drop the higher id of every
    * verified pair — what the SQL oracle replicates); true = connected
    * components over the pair graph, keeping exactly one doc per
    * near-dup CLUSTER (correct under non-transitive similarity: pairs
    * (a,c),(b,c) greedily keep both a and b, while the cluster keeps
    * only a). */
  /** Optional stages (default off — the q_llm1 oracle covers the base
    * chain): `maxTopTokenFrac` adds the Gopher repetition gate (tx5
    * kernel — docs whose most frequent token exceeds the fraction are
    * dropped); `benchmark` adds eval-set decontamination (dc1 kernel —
    * docs sharing ≥ `decontamMinHits` word `decontamN`-grams with the
    * benchmark are dropped, benchmark n-grams broadcast);
    * `maxDupSpanFrac` adds the exact substring-span gate (dd9 kernel,
    * Lee et al. — docs whose duplicated-`dupSpanN`-gram coverage
    * exceeds the fraction are dropped; coverage is measured within the
    * gated frame, so earlier-occurring originals always survive);
    * `lmReference` adds the CCNet LM-perplexity gate (lm1 kernel — a
    * hashed bigram LM trains on the reference corpus, which must carry
    * (doc_id, text) columns, and docs scoring below `lmMinScore` mean
    * likelihood are dropped; the ≤ 2·65536-row model broadcasts, so
    * the stage costs one doc-keyed aggregate). A document with fewer
    * than 2 tokens has no bigram to score and is ALWAYS dropped by
    * this stage, whatever `lmMinScore` — by the time the LM gate is
    * worth enabling, sub-2-token docs are noise by definition. */
  final case class Config(
      minQuality: Double = 0.3,
      langs: Seq[String] = Seq("de", "en", "es", "fr"),
      jaccardThreshold: Double = 0.7,
      clusterDedup: Boolean = false,
      maxTopTokenFrac: Option[Double] = None,
      benchmark: Option[DataFrame] = None,
      decontamN: Int = 5,
      decontamMinHits: Long = 1L,
      maxDupSpanFrac: Option[Double] = None,
      dupSpanN: Int = 5,
      lmReference: Option[DataFrame] = None,
      lmMinScore: Long = 1L)

  /** (curated corpus, funnel report). */
  def run(docs: DataFrame, cfg: Config = Config()): (DataFrame, DataFrame) = {
    // 1. stats (single shared split per row)
    val stats = docs
      .withColumn("__toks", split(col("text"), " "))
      .withColumn("quality", qualityScoreFromTokens(col("text"), col("__toks")))
      .withColumn("pred_lang", langIdFromTokens(col("__toks")))
      .withColumn("n_tokens", size(filter(col("__toks"), t => t =!= "")).cast("long"))
      .drop("__toks")

    // 2. gate — ONE predicate value shared by the filter and the
    // report's conditional count so the two can never drift
    val gateCond = col("quality") >= cfg.minQuality &&
      col("pred_lang").isin(cfg.langs: _*)
    val qualGated = stats.filter(gateCond)

    // 2b. optional repetition gate (tx5): top-token fraction ≤ cap.
    // One extra keyed shuffle only when enabled.
    val repGated = cfg.maxTopTokenFrac.fold(qualGated) { cap =>
      val topTok = qualGated
        .select(col("doc_id"), explode(tokens(col("text"))).as("__u"))
        .groupBy(col("doc_id"), col("__u")).agg(count(lit(1)).as("__c"))
        .groupBy(col("doc_id")).agg(max(col("__c")).as("__top"))
      qualGated.join(topTok, Seq("doc_id"), "left")
        .filter(coalesce(col("__top"), lit(0L)).cast("double")
          / greatest(col("n_tokens"), lit(1L)) <= cap)
        .drop("__top")
    }

    // 2c. optional decontamination (dc1): benchmark n-grams broadcast.
    val deconGated = cfg.benchmark.fold(repGated) { bench =>
      graft.operators.Decontamination.decontaminate(
        repGated, bench, "doc_id", "text", cfg.decontamN, cfg.decontamMinHits)
    }

    // 2d. optional substring-span gate (dd9): duplicated-span coverage
    // fraction ≤ cap. One extra gram-keyed shuffle only when enabled.
    val spanGated = cfg.maxDupSpanFrac.fold(deconGated) { cap =>
      val cov = graft.operators.SubstringDedup.spanCoverage(
          deconGated, "doc_id", "text", cfg.dupSpanN)
        .select(col("doc_id"), col("n_tokens").as("__nt"), col("dup_tokens").as("__dt"))
      deconGated.join(cov, Seq("doc_id"), "left")
        .filter(coalesce(col("__dt"), lit(0L)).cast("double")
          / greatest(col("__nt"), lit(1L)) <= cap)
        .drop("__nt", "__dt")
    }

    // 2e. optional LM-perplexity gate (lm1): reference-trained hashed
    // bigram LM, keep docs at or above the mean-likelihood floor. The
    // model broadcasts; one extra doc-keyed aggregate only when enabled.
    val gated = cfg.lmReference.fold(spanGated) { ref =>
      val model = graft.operators.NgramLm.train(ref, "text", lit(true))
      val keep = graft.operators.NgramLm
        .scoreExact(spanGated, "doc_id", "text", model, cfg.lmMinScore)
        .filter(col("ref_like") === 1L)
        .select(col("doc_id"))
      spanGated.join(keep, Seq("doc_id"), "semi")
    }

    // 3. exact dedup — keep the lowest doc_id per fingerprint.
    // `keepers` feeds THREE consumers (the shingle table, the final
    // anti-join, and the funnel report count): cached, so the
    // scan→stats→gate→fingerprint-window chain runs once, not 3×.
    val keepers = gated
      .withColumn("fp", fingerprint(col("text")))
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
          .orderBy(col("doc_id").asc)))
      .filter(col("__rn") === 1).drop("__rn", "fp")
      .cache()

    // 4. near-dup dedup (dd2 plan): banded candidates, Jaccard verify,
    // drop the higher id of each verified pair
    val sh = wordShingles(keepers, "doc_id", "text", 2).cache()
    val sig = minhashSignature(sh, "doc_id", 8)
    val bands = lshBands(sig, "doc_id", 8, 2)
    val a = bands.select(col("doc_id").as("da"), col("band"), col("band_key"))
    val b = bands.select(col("doc_id").as("db"), col("band"), col("band_key"))
    val cand = a.join(b, Seq("band", "band_key")).filter(col("da") < col("db"))
      .select(col("da"), col("db")).distinct()
    val sa = sh.select(col("doc_id").as("da"), col("shingle"))
    val sb = sh.select(col("doc_id").as("db"), col("shingle"))
    val inter = cand.join(sa, "da").join(sb, Seq("db", "shingle"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("ninter"))
    val verifiedPairs = inter
      .join(sig.select(col("doc_id").as("da"), col("n").as("na")), "da")
      .join(sig.select(col("doc_id").as("db"), col("n").as("nb")), "db")
      .filter(col("ninter").cast(DoubleType)
        / (col("na") + col("nb") - col("ninter")) >= cfg.jaccardThreshold)
      .select(col("da"), col("db"))
    val dupIds =
      if (cfg.clusterDedup)
        graft.operators.ConnectedComponents.dropSet(verifiedPairs, "da", "db")
      else verifiedPairs.select(col("db").as("doc_id")).distinct()
    val curated = keepers.join(dupIds, Seq("doc_id"), "left_anti")

    // 5. funnel — one conditional-agg pass over the scan yields both
    // n_input and n_gated (instead of two full chain re-runs); the
    // dedup counts come off the CACHED keepers and the (tiny) dup-id
    // set: n_curated = n_exact_unique − |dupIds| because every dropped
    // id is a keeper id. Net: the corpus is scanned once for the
    // report, not 4×. With optional gate stages on, n_gated must
    // reflect their drops too, so it counts the composed `gated` frame
    // (a second chain run — the price of the optional stages).
    val optionalStagesOn = cfg.maxTopTokenFrac.isDefined ||
      cfg.benchmark.isDefined || cfg.maxDupSpanFrac.isDefined ||
      cfg.lmReference.isDefined
    val inputGated =
      if (optionalStagesOn)
        stats.agg(count(lit(1)).as("n_input"))
          .crossJoin(gated.agg(count(lit(1)).as("n_gated")))
      else stats.agg(
        count(lit(1)).as("n_input"),
        count(when(gateCond, 1)).as("n_gated"))
    val report = inputGated
      .crossJoin(keepers.select(count(lit(1)).as("n_exact_unique")))
      .crossJoin(dupIds.select(count(lit(1)).as("__n_dups")))
      .withColumn("n_curated", col("n_exact_unique") - col("__n_dups"))
      .drop("__n_dups")
    (curated, report)
  }

  /** Runnable entry: `--demo <outDir>` curates the sf0.001 documents
    * table; `<docsDir> <outDir>` curates any dir holding
    * `documents.parquet`. Writes `curated.parquet` + `report.parquet`
    * (atomic swap) and prints the funnel. */
  def main(args: Array[String]): Unit = {
    val Array(mode, outDir) = args
    val spark = graft.GraftSession.local()
    val docsDir = if (mode == "--demo") "/root/testdata/sf0.001" else mode
    val (curated, report) = run(graft.Tables.documents(spark, docsDir))
    graft.core.TableIO.writeAtomicSwap(curated, s"$outDir/curated.parquet")
    graft.core.TableIO.writeAtomicSwap(report, s"$outDir/report.parquet")
    val r = report.head()
    println(s"[curation] input=${r.getAs[Long]("n_input")} gated=${r.getAs[Long]("n_gated")} " +
      s"exact_unique=${r.getAs[Long]("n_exact_unique")} curated=${r.getAs[Long]("n_curated")}")
    spark.stop()
  }
}
