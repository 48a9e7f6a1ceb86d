package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.core.TableIO
import graft.genomics.{Annotations, GeoRules, MutationCaller}
import graft.operators.Upsert
import graft.sources.Sources

/** §3.1 — the GISAID API import pipeline, composed end-to-end
  * (reference `gisaid/GisaidApiImporter.java` + `BatchProcessingWorker`):
  *
  *  1. read the JSON-lines feed with the schema-drift check (S5;
  *     missing required fields abort, like the importer's email+abort)
  *  2. per-record normalize: imprecise dates (D10), age (D10), geo
  *     rules (D5), strain ownership + ethid (D6)
  *  3. change detection vs the existing table (M3): new / changed /
  *     unchanged — only new+changed proceed (UPDATE mode)
  *  4. nucleotide mutation calling (D1) for the processed set
  *  5. deletion set = existing − feed (M4)
  *  6. sequence_identifier null-guarded update (M8 via coalescing upsert)
  *  7. atomic-swap writes (M6)
  *
  * The reference's worker threads/bounded queue disappear: Spark
  * partitions are the batches. Its mafft/nextclade subprocess stages
  * slot in as PipeStage calls between steps 3 and 4 when the binaries
  * exist (stubbed out in --demo).
  */
object GisaidImport {

  val requiredFields = Set("covv_accession_id", "covv_virus_name", "sequence")
  val expectedFields = Set("covv_collection_date", "covv_location",
    "covv_patient_age", "covv_gender", "covv_lineage", "covv_subm_date")

  val demoReference = "ACGTACGTACGTACGTACGTACGTACGTACGT" // 32-mer demo genome

  /** Step-2 normalization as a pure frame transform (shared with the
    * streaming twin, `streaming/GisaidStream` — stream ≡ batch by
    * construction): imprecise dates (D10), age (D10), geo rules (D5),
    * strain ownership + ethid (D6). */
  def normalizeFeed(spark: SparkSession, feed: DataFrame): DataFrame = {
    val geoRules = GeoRules.parseRules(Seq(
      "europe/swizterland/*/*\tEurope/Switzerland/*/*", // typo-fix rule (nextstrain-style)
      "*/ch/*/*\t*/Switzerland/*/*"))
    val resolveGeo = GeoRules.resolveUdf(spark, geoRules)
    // locations vary in depth ("Europe / Switzerland" .. "… / city");
    // get() tolerates short arrays (getItem throws under ANSI)
    val locParts = split(col("covv_location"), " / ")
    feed.select(
        col("covv_accession_id").as("gisaid_epi_isl"),
        col("covv_virus_name").as("strain"),
        Annotations.normalizeImpreciseDate(col("covv_collection_date")).as("date"),
        Annotations.normalizeAge(col("covv_patient_age")).as("age"),
        resolveGeo(coalesce(get(locParts, lit(0)), lit("")), coalesce(get(locParts, lit(1)), lit("")),
          coalesce(get(locParts, lit(2)), lit("")), coalesce(get(locParts, lit(3)), lit(""))).as("geo"),
        col("covv_lineage").as("pango_lineage"),
        upper(col("sequence")).as("seq_aligned"))
      .select(col("gisaid_epi_isl"), col("strain"), col("date"), col("age"),
        col("geo.region").as("region"), col("geo.country").as("country"),
        col("geo.division").as("division"),
        col("pango_lineage"), col("seq_aligned"),
        Annotations.isOurs(col("strain")).as("is_ours"),
        Annotations.parseEthid(col("strain")).as("ethid"))
  }

  /** The reference importer's merged `FinalReport`
    * (`GisaidApiImporter.java:389-410`): per-run entry accounting with
    * the one quantified operational correctness gate the reference
    * has — the run is a success only when failed entries stay under 5%
    * of processed (`GisaidApiImporter.java:392-393`). [[run]] enforces
    * it BEFORE the commit point, so a bad feed aborts with nothing
    * swapped and the chained refresh is Blocked rather than serving
    * from a bad import. */
  final case class ImportReport(processed: Long, failed: Long, deleted: Long) {
    def success: Boolean = failed.toDouble < 0.05 * processed.max(1L)
    override def toString =
      s"processed=$processed failed=$failed deleted=$deleted success=$success"
  }

  def main(args: Array[String]): Unit = {
    val Array(mode, outDir) = args
    val spark = GraftSession.local()
    val (feedPath, existing, identifiers) =
      if (mode == "--demo") demoInputs(spark, outDir) else sys.error("only --demo wired")
    run(spark, feedPath, existing, identifiers, outDir)
    spark.stop()
  }

  /** The import pipeline proper (steps 1–7), callable from the main
    * above or from an ordered job chain ([[ImportAndRefresh]] — the
    * reference's importer chains the matview refresh as its stage 8,
    * `gisaid/GisaidApiImporter.java:384-387`). Composes the output
    * plans ([[plan]]), enforces the success criterion, then commits all
    * three tables through the staged multi-table swap
    * ([[TableIO.writeAtomicSwapAll]] — the reference's one-transaction
    * write discipline, `BatchProcessingWorker.java:443-665`). */
  def run(spark: SparkSession, feedPath: String, existing: DataFrame,
      identifiers: DataFrame, outDir: String): ImportReport = {
    TableIO.recoverSwapAll(s"$outDir/$SwapIntent") // finish any interrupted commit first
    val (outputs, report) = plan(spark, feedPath, existing, identifiers, outDir)
    println(s"[gisaid] final report: $report")
    require(report.success,
      s"import failed: ${report.failed} of ${report.processed} entries failed (>= 5%) — aborting before commit")
    TableIO.writeAtomicSwapAll(outputs.map { case (n, df) => (df, s"$outDir/$n") },
      s"$outDir/$SwapIntent")
    report
  }

  private[jobs] val SwapIntent = "_swap_intent"

  /** Steps 1–6 as pure plan composition + the report counts (three
    * scalar aggregations — no O(table) driver materialization). The
    * returned frames are LAZY and may read the live output tables;
    * [[run]]'s staged commit executes them while those dirs are still
    * untouched. */
  private[graft] def plan(spark: SparkSession, feedPath: String, existing: DataFrame,
      identifiers: DataFrame, outDir: String): (Seq[(String, DataFrame)], ImportReport) = {
    // 1. extract + drift check; an .xz feed (what GISAID actually
    // ships) routes through the chunker so the read is multi-task
    // instead of one unsplittable stream
    val (feed, drift) =
      if (feedPath.endsWith(".xz"))
        graft.sources.XzChunker.readJson(spark, feedPath,
          s"$outDir/_xz_chunks", requiredFields, expectedFields)
      else Sources.readJsonWithDriftCheck(spark, feedPath, requiredFields, expectedFields)
    require(!drift.fatal, s"schema drift: missing required ${drift.missingRequired}")
    if (drift.missingExpected.nonEmpty || drift.unexpected.nonEmpty)
      println(s"[gisaid] drift report: missingExpected=${drift.missingExpected} unexpected=${drift.unexpected}")

    // 2. normalize, then row-level validation: the reference's worker
    // counts an entry as failed when its processing throws
    // (`BatchProcessingWorker.java` try/catch per entry); the frame
    // analog is a record whose REQUIRED values are null/empty after
    // normalization, or whose sequence is not aligned to the reference
    // (mutation calling in step 4 would throw on it). One pass computes
    // both report counts.
    val normalized = normalizeFeed(spark, feed).withColumn("_invalid",
      col("gisaid_epi_isl").isNull || length(trim(col("gisaid_epi_isl"))) === 0 ||
        col("strain").isNull || length(trim(col("strain"))) === 0 ||
        col("seq_aligned").isNull ||
        length(col("seq_aligned")) =!= demoReference.length)
    val countsRow = normalized
      .agg(count(lit(1)).as("processed"),
        count(when(col("_invalid"), 1)).as("failed")).head()
    val (processedCnt, failedCnt) = (countsRow.getLong(0), countsRow.getLong(1))
    val parsed = normalized.filter(!col("_invalid")).drop("_invalid")

    // 3. change detection (M3) — sequences compared by content hash so
    // the 30kb strings stay out of the comparison shuffle
    // cached: consumed twice (the kind-count log line and toProcess) —
    // uncached, the change-detection join would recompute per consumer
    val kinds = Upsert.changeKinds(
      existing.withColumn("seq_hash", md5(col("seq_aligned"))).drop("seq_aligned"),
      parsed.withColumn("seq_hash", md5(col("seq_aligned"))),
      Seq("gisaid_epi_isl"), Seq("strain", "date", "pango_lineage", "seq_hash")).cache()
    val toProcess = kinds.filter(col("change_kind") =!= "unchanged").drop("seq_hash")
    println(s"[gisaid] change kinds: " + kinds.groupBy("change_kind").count()
      .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" "))

    // 4. mutation calling (D1) on the processed set
    val mutations = MutationCaller.callTable(spark, toProcess, "gisaid_epi_isl",
      "seq_aligned", demoReference, maskedSites = Set(5))

    // 5. merged table: upsert processed records, then drop deleted ids
    // (M4); the deletion count joins the report (reference FinalReport
    // carries deleted-entry counts too). Deletion is keyed on ids ABSENT
    // FROM THE FEED, not absent from the valid slice: an entry present in
    // the package with a usable id but invalid fields (e.g. empty
    // sequence) counts as failed, but must NOT delete the previously
    // imported record (GisaidApiImporter.java:374-381 deletes only ids
    // missing from the data package; failed entries are never deleted).
    val feedIds = normalized
      .filter(col("gisaid_epi_isl").isNotNull && length(trim(col("gisaid_epi_isl"))) > 0)
      .select("gisaid_epi_isl")
    val merged = Upsert.upsert(existing, toProcess.drop("change_kind"), Seq("gisaid_epi_isl"))
    val finalTable = Upsert.deleteMissing(merged, feedIds, Seq("gisaid_epi_isl"))
    val deletedCnt = existing.select("gisaid_epi_isl")
      .join(feedIds, Seq("gisaid_epi_isl"), "left_anti").count()

    // 6. identifier update (M8): set gisaid_id where ours and not yet
    // set — null-guarded, an already-recorded id is never overwritten
    val newIds = parsed.filter(col("is_ours") && col("ethid").isNotNull)
      .select(col("ethid"), col("gisaid_epi_isl").as("gisaid_id"))
    val mergedIds = Upsert.upsertKeepExisting(identifiers, newIds, Seq("ethid"))

    // Mutations exist only for the new+changed records just called, but
    // the table must keep serving unchanged records' rows too: merge —
    // drop the reprocessed ids' old rows, union the fresh calls, and
    // semi-join against the final table so deleted records' mutations
    // go with them. A plain overwrite would silently orphan every
    // unchanged sequence from its mutations on the second run.
    val mutPath = s"$outDir/gisaid_api_sequence_mutation"
    val mergedMutations =
      if (TableIO.exists(spark, mutPath)) {
        TableIO.read(spark, mutPath)
          .join(toProcess.select(col("gisaid_epi_isl")), Seq("gisaid_epi_isl"), "left_anti")
          .unionByName(mutations)
          .join(finalTable.select(col("gisaid_epi_isl")), Seq("gisaid_epi_isl"), "left_semi")
      } else mutations

    // 7. the three serving outputs, committed by the caller through the
    // staged multi-table swap: mergedMutations lazily reads the live
    // mutation table and finalTable may read $outDir inputs in non-demo
    // modes — the stage-everything-then-swap protocol executes these
    // plans while every live dir is still the old version, so no
    // materialization (and no executor-pinned blocks) is needed here
    (Seq(
      ("gisaid_api_sequence", finalTable.drop("seq_aligned")),
      ("gisaid_api_sequence_mutation", mergedMutations),
      ("sequence_identifier", mergedIds)),
      ImportReport(processedCnt, failedCnt, deletedCnt))
  }

  /** Demo inputs: a JSON-lines feed (new + changed + unchanged +
    * deleted records) and small existing tables. */
  private def demoInputs(spark: SparkSession, outDir: String): (String, DataFrame, DataFrame) = {
    val (feed, existing) = demoFeedAndExisting(spark,
      java.nio.file.Files.createTempDirectory("gisaid_feed"))
    import spark.implicits._
    val identifiers = Seq((16160L, "EPI_ISL_OLD", "existing"), (16200L, null, "pending"))
      .toDF("ethid", "gisaid_id", "note")
    (feed, existing, identifiers)
  }

  /** Demo feed + existing table with the feed file written under an
    * EXPLICIT dir, only if absent — a stable path with a stable mtime,
    * so a job chain's skip-if-unchanged fingerprint holds across
    * invocations. Identifiers are the caller's (the chain feeds the
    * serving-schema identifier table the views read). */
  private[graft] def demoFeedAndExisting(spark: SparkSession,
      dir: java.nio.file.Path): (String, DataFrame) = {
    import spark.implicits._
    def rec(id: Int, strain: String, date: String, seq: String, lineage: String) =
      s"""{"covv_accession_id":"EPI_ISL_$id","covv_virus_name":"$strain","covv_collection_date":"$date","covv_location":"Europe / ch / Zurich / Zurich","covv_patient_age":"${if (id % 7 == 0) "?" else (id % 90).toString}","covv_gender":"Male","covv_lineage":"$lineage","covv_subm_date":"2021-04-0${id % 9 + 1}","sequence":"$seq"}"""
    val base = demoReference
    val mutated = "T" + base.substring(1, 30) + "AA" // subs at 1, 31, 32
    val lines = (1 to 200).map { i =>
      val seq = if (i % 3 == 0) mutated else base
      val date = if (i % 5 == 0) "2021-03" else if (i % 5 == 1) "2021" else "2021-03-15"
      val strain = if (i % 4 == 0) s"Switzerland/ZH-ETHZ-16$i/2021" else s"Germany/BY-$i/2021"
      rec(i, strain, date, seq, if (i % 2 == 0) "B.1.1.7" else "BA.1")
    }
    val feedFile = dir.resolve("provision.json")
    if (!java.nio.file.Files.exists(feedFile))
      java.nio.file.Files.writeString(feedFile, lines.mkString("\n"))
    // existing: ids 150..250 (so 201..250 get deleted, 1..149 are new),
    // with id%6==0 records carrying a changed lineage
    val existing = (150 to 250).map { i =>
      (s"EPI_ISL_$i", s"Germany/BY-$i/2021", java.sql.Date.valueOf("2021-03-15"),
        if (i % 6 == 0) "OLD.LINEAGE" else (if (i % 2 == 0) "B.1.1.7" else "BA.1"),
        if (i % 3 == 0) mutated else base)
    }.toDF("gisaid_epi_isl", "strain", "date", "pango_lineage", "seq_aligned")
    (feedFile.toString, existing)
  }
}
