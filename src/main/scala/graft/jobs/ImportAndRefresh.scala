package graft.jobs

import org.apache.spark.sql.SparkSession
import graft.GraftSession
import graft.core.{TableIO, TrainOnce}
import graft.sources.StateStore

/** The import→refresh chain the reference hard-codes — GISAID importer
  * stage 8 calls `refresh_all_mv()`
  * (`gisaid/GisaidApiImporter.java:384-387`,
  * `database/sql/spectrum/refreshes.sql:14-36`) — expressed as two
  * [[JobSpec]]s under the [[JobRunner]] scheduler shell: a user who
  * runs the import gets the serving views rebuilt, in order, with M9
  * state making the whole chain skip-if-unchanged (a polling scheduler
  * can invoke it every few minutes for free when nothing moved).
  *
  * Layout under the root dir:
  * {{{
  *   feed/     the JSON-lines provision feed (demo: written once)
  *   tables/   domain tables — staged fixtures + the import's outputs
  *   views/    the refreshed Spectrum views + reports
  *   state/    M9 per-job fingerprints
  * }}}
  *
  * Fingerprints: the import keys on the FEED dir, the refresh on the
  * TABLES dir — evaluated lazily, so when the import runs, the refresh
  * sees the just-written tables as changed and runs too; when the feed
  * is unchanged, both skip.
  *
  * Usage: ImportAndRefresh --demo <dir>
  */
object ImportAndRefresh {

  def main(args: Array[String]): Unit = {
    val Array(mode, dir) = args
    require(mode == "--demo", "only --demo wired")
    val spark = GraftSession.local()
    val outcomes = chain(spark, dir)
    spark.stop()
    if (outcomes.exists(o => o._2.tag == "failed" || o._2.tag == "blocked"))
      sys.exit(1)
  }

  /** Build and run the two-job chain; returns per-job outcomes. */
  def chain(spark: SparkSession, dir: String): Seq[(String, JobRunner.Outcome)] = {
    val feedDir = java.nio.file.Paths.get(dir, "feed")
    val tablesDir = s"$dir/tables"
    val viewsDir = s"$dir/views"
    java.nio.file.Files.createDirectories(feedDir)
    val (feedPath, existing) = GisaidImport.demoFeedAndExisting(spark, feedDir)
    stageFixtures(spark, tablesDir)
    val state = new StateStore(s"$dir/state")
    JobRunner.runOrdered(state, Seq(
      JobSpec("gisaid_import",
        fingerprint = () => TrainOnce.sourceFingerprint(spark, feedDir.toString),
        run = () => GisaidImport.run(spark, feedPath, existing,
          TableIO.read(spark, s"$tablesDir/sequence_identifier"), tablesDir)),
      JobSpec("quality_gate",
        fingerprint = () => TrainOnce.sourceFingerprint(spark, tablesDir),
        run = () => qualityGate(spark, tablesDir)),
      JobSpec("spectrum_refresh",
        fingerprint = () => TrainOnce.sourceFingerprint(spark, tablesDir),
        run = () => SpectrumRefresh.run(spark, tablesDir, viewsDir))))
  }

  /** Expectation suite over the freshly imported serving tables —
    * the structural complement of the import's own failed<5% report:
    * the report gates the FEED's health, this gates the OUTPUT's
    * invariants (key completeness/uniqueness, mutation→sequence
    * referential integrity). A breach fails the stage, so the refresh
    * is Blocked rather than serving from structurally broken tables.
    * The report is O(#checks) rows; the FK parent is the sequence
    * table itself (fact-sized), so the anti-join shuffles instead of
    * broadcasting. */
  private[jobs] def qualityGate(spark: SparkSession, tablesDir: String): Unit = {
    import org.apache.spark.sql.functions._
    val seq = TableIO.read(spark, s"$tablesDir/gisaid_api_sequence")
    val mut = TableIO.read(spark, s"$tablesDir/gisaid_api_sequence_mutation")
    val report = graft.operators.Expectations.suite(Seq(
      graft.operators.Expectations.columnChecks(seq, Seq(
        ("sequence_not_null_id", col("gisaid_epi_isl").isNull),
        ("sequence_not_null_strain", col("strain").isNull))),
      graft.operators.Expectations.uniqueCheck(seq, "sequence_unique_id",
        Seq("gisaid_epi_isl")),
      graft.operators.Expectations.foreignKeyCheck(mut, "gisaid_epi_isl",
        "mutation_fk_sequence", seq, "gisaid_epi_isl", broadcastParent = false)))
    val breached = report.filter(col("violations") > 0).collect() // ≤ #checks rows
    require(breached.isEmpty, "quality gate breached: " +
      breached.map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(", "))
  }

  /** Stage the demo domain tables the import does NOT produce, once
    * (a stable on-disk state is what makes skip-if-unchanged hold
    * across invocations). Only the REQUIRED serving tables: the
    * private-twin extras consume GISAID columns (host, labs) the
    * import feed doesn't carry, so the refresh correctly skips that
    * view — same conditional the reference's refresh cycle applies
    * when an optional source table is absent. `gisaid_api_sequence`
    * is deliberately NOT staged: the import writes it, and the
    * refresh reading it is the point of the chain. */
  private def stageFixtures(spark: SparkSession, tablesDir: String): Unit = {
    val required = Seq("consensus_sequence", "sequence_identifier", "viollier_test",
      "nuc_mutations", "aa_mutations", "ext_owid_global_cases", "spectrum_country",
      "bag_dashboard_meldeformular", "bag_test_numbers")
    val demo = SpectrumRefresh.demoTables(spark)
    required.filterNot(n => TableIO.exists(spark, s"$tablesDir/$n"))
      .foreach(n => demo(n).write.parquet(s"$tablesDir/$n"))
  }
}
