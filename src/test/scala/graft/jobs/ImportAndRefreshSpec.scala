package graft.jobs

import graft.SparkSpec
import graft.sources.StateStore
import org.apache.spark.sql.functions._

/** The scheduler shell (JobRunner) and the import→refresh chain it
  * exists for: the reference's importer ends by refreshing the serving
  * matviews (`GisaidApiImporter.java:384-387`); here that ordering,
  * the M9 skip-if-unchanged state, and failure blocking are all
  * pinned. */
class ImportAndRefreshSpec extends SparkSpec {

  private def outcomes(dir: String): Seq[(String, String)] =
    ImportAndRefresh.chain(spark, dir).map { case (n, o) => n -> o.tag }

  // the session's cache entries are cleared first, so any left after
  // `f` were added by it
  private def leavesNothingCached(f: => Unit): Boolean = {
    spark.catalog.clearCache()
    f
    spark.sharedState.cacheManager.isEmpty
  }

  test("import → refresh chain: runs in order, refresh reads the imported table, reruns skip") {
    val dir = java.nio.file.Files.createTempDirectory("chain-spec-").toString

    // first invocation: all run, in order (import → quality gate → refresh)
    assert(outcomes(dir) == Seq("gisaid_import" -> "ran",
      "quality_gate" -> "ran", "spectrum_refresh" -> "ran"))

    // the refresh consumed the IMPORTED gisaid table (not a fixture):
    // the public view's foreign branch must carry exactly the non-ETHZ
    // strains the import wrote
    val imported = spark.read.parquet(s"$dir/tables/gisaid_api_sequence")
    val expectedForeign = imported.filter(!col("strain").like("%-ETHZ-%")).count()
    val meta = spark.read.parquet(s"$dir/views/spectrum_sequence_public_meta")
    assert(meta.filter(col("source_branch") === "gisaid").count() == expectedForeign)
    assert(expectedForeign > 0)

    // the import also merged the identifier table the views join
    // (null-guarded: staged gisaid_ids survive, new ethids appended)
    val ids = spark.read.parquet(s"$dir/tables/sequence_identifier")
    assert(ids.filter(col("sample_name").isNotNull).count() > 0, "staged rows survive")
    assert(ids.filter(col("sample_name").isNull).count() > 0, "imported ethids appended")

    // second invocation: nothing changed → everything skips
    assert(outcomes(dir) == Seq("gisaid_import" -> "skipped",
      "quality_gate" -> "skipped", "spectrum_refresh" -> "skipped"))

    // feed changes → the import runs, and because it rewrites the
    // tables dir the downstream (lazily evaluated) fingerprints change
    // too: the whole chain reruns
    val feed = java.nio.file.Paths.get(dir, "feed", "provision.json")
    java.nio.file.Files.writeString(feed,
      java.nio.file.Files.readString(feed) + "\n")
    assert(outcomes(dir) == Seq("gisaid_import" -> "ran",
      "quality_gate" -> "ran", "spectrum_refresh" -> "ran"))
  }

  test("refresh resolution: unchanged inputs start no inference job, a rewritten one exactly one") {
    val dir = java.nio.file.Files.createTempDirectory("refresh-resolve-").toString
    val demo = SpectrumRefresh.demoTables(spark)
    val inputs = Seq("consensus_sequence", "sequence_identifier", "viollier_test",
      "gisaid_api_sequence", "nuc_mutations", "aa_mutations", "ext_owid_global_cases",
      "spectrum_country", "bag_dashboard_meldeformular", "bag_test_numbers")
    inputs.foreach(n => demo(n).write.parquet(s"$dir/in/$n"))
    def inferenceJobs = jobsStartedBy(SpectrumRefresh.run(spark, s"$dir/in", s"$dir/out"))
      .count(_.isEmpty)
    SpectrumRefresh.tables(spark, s"$dir/in")
    assert(inferenceJobs == 0, "every input unchanged")
    demo("spectrum_country").write.mode("overwrite").parquet(s"$dir/in/spectrum_country")
    assert(inferenceJobs == 1, "one input rewritten")
  }

  test("quality gate: structurally broken serving tables fail the stage loudly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("qgate-").toString
    // duplicate-id sequence table + an orphaned mutation row
    Seq(("EPI_1", "s1"), ("EPI_1", "s1dup"), ("EPI_2", "s2"))
      .toDF("gisaid_epi_isl", "strain")
      .write.parquet(s"$dir/gisaid_api_sequence")
    Seq(("EPI_2", "C10T"), ("EPI_MISSING", "A5G"))
      .toDF("gisaid_epi_isl", "mutation")
      .write.parquet(s"$dir/gisaid_api_sequence_mutation")
    val e = intercept[IllegalArgumentException] {
      ImportAndRefresh.qualityGate(spark, dir)
    }
    assert(e.getMessage.contains("sequence_unique_id=2"), e.getMessage)
    assert(e.getMessage.contains("mutation_fk_sequence=1"), e.getMessage)
  }

  test("import report: demo run counts processed/failed/deleted with the reference's success flag") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("import-report-")
    val (feedPath, existing) = GisaidImport.demoFeedAndExisting(spark, dir)
    val ids = Seq((16160L, "EPI_ISL_OLD", "existing"), (16200L, null, "pending"))
      .toDF("ethid", "gisaid_id", "note")
    var report: GisaidImport.ImportReport = null
    assert(leavesNothingCached {
      report = GisaidImport.run(spark, feedPath, existing, ids, s"$dir/tables")
    }, "a committed import leaves nothing cached")
    // demo feed: 200 records all valid; existing ids 150..250 of which
    // 201..250 are absent from the feed → 50 deletions
    assert(report == GisaidImport.ImportReport(processed = 200, failed = 0, deleted = 50))
    assert(report.success)
  }

  test("failed feed entry with a valid id is NOT deleted; only ids absent from the feed are") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("import-del-")
    // existing: 1..3 already imported
    val existing = (1 to 3).map { i =>
      (s"EPI_ISL_$i", s"Germany/BY-$i/2021", java.sql.Date.valueOf("2021-03-15"),
        "BA.1", GisaidImport.demoReference)
    }.toDF("gisaid_epi_isl", "strain", "date", "pango_lineage", "seq_aligned")
    // feed: 1 valid, 2 present-but-invalid (empty sequence → counted
    // failed), 3 absent, 4..40 valid fillers keeping failed under 5%
    val lines = (Seq(1) ++ Seq(2) ++ (4 to 40)).map { i =>
      val seq = if (i == 2) "" else GisaidImport.demoReference
      s"""{"covv_accession_id":"EPI_ISL_$i","covv_virus_name":"Germany/BY-$i/2021","covv_collection_date":"2021-03-15","covv_location":"Europe / Germany","covv_patient_age":"30","covv_gender":"Male","covv_lineage":"BA.1","covv_subm_date":"2021-04-01","sequence":"$seq"}"""
    }
    val feed = dir.resolve("feed.json")
    java.nio.file.Files.writeString(feed, lines.mkString("\n"))
    val ids = Seq((16160L, "EPI_ISL_OLD", "existing")).toDF("ethid", "gisaid_id", "note")
    val (plan, report, _) =
      GisaidImport.plan(spark, feed.toString, existing, ids, s"$dir/tables")
    val outputs = plan.selfContained
    // the failed entry is accounted (GisaidApiImporter.java counts a
    // throwing entry as failed) but its id was IN the data package, so
    // deletion must not touch it (GisaidApiImporter.java:374-381)
    assert(report.processed == 39 && report.failed == 1 && report.deleted == 1, report)
    val kept = outputs.collectFirst { case ("gisaid_api_sequence", df) => df }.get
      .select("gisaid_epi_isl").as[String].collect().toSet
    assert(kept.contains("EPI_ISL_2"), "failed-but-present entry must keep its old record")
    assert(!kept.contains("EPI_ISL_3"), "absent-from-feed id must be deleted")
    assert((1 to 40).filter(_ != 3).forall(i => kept.contains(s"EPI_ISL_$i")))
  }

  test("injected-failure feed: >=5% failed entries abort before commit; refresh is Blocked") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("import-fail-")
    val tablesDir = s"$dir/tables"
    // 20 records, 2 with an empty sequence (10% — over the reference's
    // 5% FinalReport threshold, GisaidApiImporter.java:392-393). The
    // SCHEMA is intact (field present, value empty) so the S5 drift
    // check passes and the row-level accounting is what must catch it.
    val lines = (1 to 20).map { i =>
      val seq = if (i <= 2) "" else GisaidImport.demoReference
      s"""{"covv_accession_id":"EPI_ISL_$i","covv_virus_name":"Germany/BY-$i/2021","covv_collection_date":"2021-03-15","covv_location":"Europe / Germany","covv_patient_age":"30","covv_gender":"Male","covv_lineage":"BA.1","covv_subm_date":"2021-04-01","sequence":"$seq"}"""
    }
    val feed = dir.resolve("bad_feed.json")
    java.nio.file.Files.writeString(feed, lines.mkString("\n"))
    java.nio.file.Files.createDirectories(dir.resolve("unused-feed"))
    val (_, existing) = GisaidImport.demoFeedAndExisting(spark, dir.resolve("unused-feed"))
    val ids = Seq((16160L, "EPI_ISL_OLD", "existing")).toDF("ethid", "gisaid_id", "note")
    val state = new StateStore(s"$dir/state")
    var outcomes: Seq[(String, String)] = Nil
    assert(leavesNothingCached {
      outcomes = JobRunner.runOrdered(state, Seq(
        JobSpec("gisaid_import", () => "fp-import",
          () => GisaidImport.run(spark, feed.toString, existing, ids, tablesDir)),
        JobSpec("spectrum_refresh", () => "fp-refresh",
          () => fail("refresh must not run after a failed import"))))
        .map { case (n, o) => n -> o.tag }
    }, "an aborted import leaves nothing cached")
    assert(outcomes == Seq("gisaid_import" -> "failed", "spectrum_refresh" -> "blocked"))
    // the abort happened BEFORE the commit point: nothing was swapped
    assert(!graft.core.TableIO.exists(spark, s"$tablesDir/gisaid_api_sequence"),
      "a failed import must not publish any table")
  }

  test("JobRunner: a failed job records nothing, blocks downstream, and retries next run") {
    val state = new StateStore(
      java.nio.file.Files.createTempDirectory("jobrunner-spec-").toString)
    var aRuns = 0; var bRuns = 0; var cRuns = 0; var bFails = true
    def jobs = Seq(
      JobSpec("a", () => "fp-a", () => aRuns += 1),
      JobSpec("b", () => "fp-b", () => {
        bRuns += 1; if (bFails) sys.error("boom")
      }),
      JobSpec("c", () => "fp-c", () => cRuns += 1))

    val first = JobRunner.runOrdered(state, jobs).map { case (n, o) => n -> o.tag }
    assert(first == Seq("a" -> "ran", "b" -> "failed", "c" -> "blocked"))
    assert(aRuns == 1 && bRuns == 1 && cRuns == 0)

    // next invocation: a skips (state recorded), b retries (nothing
    // recorded for a failure), c finally runs
    bFails = false
    val second = JobRunner.runOrdered(state, jobs).map { case (n, o) => n -> o.tag }
    assert(second == Seq("a" -> "skipped", "b" -> "ran", "c" -> "ran"))
    assert(aRuns == 1 && bRuns == 2 && cRuns == 1)

    // invalidate forces a single job
    JobRunner.invalidate(state, "b")
    val third = JobRunner.runOrdered(state, jobs).map { case (n, o) => n -> o.tag }
    assert(third == Seq("a" -> "skipped", "b" -> "ran", "c" -> "skipped"))
  }
}
