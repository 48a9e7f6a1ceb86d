package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.analytics.{Reports, SpectrumViews}
import graft.core.TableIO

/** Runnable refresh job for the Spectrum matview DAG (§3.3): read the
  * domain tables, build all six views, write each with an atomic swap
  * — the replacement for `refresh_all_mv()`
  * (`spectrum/refreshes.sql:14-36`).
  *
  * Usage: SpectrumRefresh <inDir> <outDir>   (parquet domain tables)
  *        SpectrumRefresh --demo <outDir>    (synthesized demo tables)
  */
object SpectrumRefresh {

  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir) = args
    val spark = GraftSession.local()
    run(spark, inDir, outDir)
    spark.stop()
  }

  /** The refresh cycle proper, callable from the main above or chained
    * after an import ([[ImportAndRefresh]] — the reference's
    * `refresh_all_mv()` runs as the importer's last stage). */
  def run(spark: SparkSession, inDir: String, outDir: String): Unit = {
    TableIO.recoverSwapAll(s"$outDir/_swap_intent") // finish any interrupted commit
    val t = tables(spark, inDir)
    val views = SpectrumViews.buildAll(
      t("consensus_sequence"), t("sequence_identifier"), t("viollier_test"),
      t("gisaid_api_sequence"), t("nuc_mutations"), t("aa_mutations"),
      t("ext_owid_global_cases"), t("spectrum_country"), t("bag_dashboard_meldeformular"),
      startDate = "2021-03-01", endDate = "2021-03-31")
    // usage-statistics view refreshes only when the usage feed exists
    val usageViews: Map[String, DataFrame] =
      if (t.contains("spectrum_usage_os"))
        Map("spectrum_usage_daily_visitors" -> SpectrumViews.usageDailyVisitors(
          t("spectrum_usage_os"), startDate = "2021-09-01", endDate = "2021-10-31"))
      else Map.empty
    // private twin refreshes only when its extra inputs are present
    val privateViews: Map[String, DataFrame] =
      if (Seq("swiss_canton", "bag_meldeformular", "consensus_sequence_nextclade_data")
          .forall(t.contains))
        Map("spectrum_sequence_private_meta" -> SpectrumViews.sequencePrivateMeta(
          t("consensus_sequence"), t("sequence_identifier"), t("viollier_test"),
          t("swiss_canton"), t("bag_meldeformular"),
          t("consensus_sequence_nextclade_data"), t("gisaid_api_sequence"),
          t("spectrum_country")))
      else Map.empty
    // QC/report outputs refresh alongside the matviews, like the
    // reference's refresh cycle feeding its report queries
    val reports = Map(
      "report_batch_qc" -> Reports.batchQc(t("consensus_sequence")),
      "report_fail_reasons" -> Reports.failReasonRollup(t("consensus_sequence")),
      "report_bag_sequences" -> Reports.bagSequenceReport(
        t("consensus_sequence"), t("sequence_identifier"), completenessCol = "number_n"),
      "report_completeness" -> Reports.completenessFunnel(
        t("viollier_test"), t("consensus_sequence"), t("sequence_identifier")),
      "dashboard_main_view" -> Reports.dashboardMainView(
        withArmeeFlag(t("bag_dashboard_meldeformular"))
          .withColumnRenamed("fall_dt", "date").withColumnRenamed("ktn", "canton")
          .withColumnRenamed("altersjahr", "age"),
        t("bag_test_numbers")))
    // ONE commit for the whole view set (the reference refreshes all
    // matviews in a single cycle, refreshes.sql:14-36): stage every
    // view first — plans read inDir, untouched during staging — then
    // swap in a tight rename loop with forward recovery, so readers
    // never keep a mixed-version set of views (the GisaidImport commit
    // discipline applied to the serving side)
    val allViews = (views ++ usageViews ++ privateViews ++ reports).toSeq.sortBy(_._1)
    TableIO.writeAtomicSwapAll(
      allViews.map { case (name, df) => (df, s"$outDir/$name") },
      s"$outDir/_swap_intent")
  }

  /** Armee marker derived from data, never synthesized: the import
    * appends `auftraggeber_armee=TRUE` to the free-text comment
    * (`import_bag_meldeformular.R:179-192`), which downstream views
    * test with LIKE (`bag_sequence_report.sql:14`,
    * `viollier_plate.sql:171`). Inputs without a comment column get
    * no flag → no carve-out. */
  private def withArmeeFlag(bag: DataFrame): DataFrame =
    if (bag.columns.contains("comment"))
      bag.withColumn("is_armee",
        coalesce(col("comment").like("%auftraggeber_armee=TRUE%"), lit(false)))
    else bag

  private def tables(spark: SparkSession, inDir: String): Map[String, DataFrame] =
    if (inDir == "--demo") demoTables(spark)
    else {
      val required = Seq("consensus_sequence", "sequence_identifier", "viollier_test",
        "gisaid_api_sequence", "nuc_mutations", "aa_mutations",
        "ext_owid_global_cases", "spectrum_country", "bag_dashboard_meldeformular",
        "bag_test_numbers")
      val optional = Seq("swiss_canton", "bag_meldeformular",
        "consensus_sequence_nextclade_data", "spectrum_usage_os")
        .filter(n => graft.core.TableIO.exists(spark, s"$inDir/$n"))
      (required ++ optional).map(n => n -> spark.read.parquet(s"$inDir/$n")).toMap
    }

  /** FIXTURES.md-shaped deterministic demo tables (seed-free: derived
    * from modular arithmetic over ids). */
  private[jobs] def demoTables(spark: SparkSession): Map[String, DataFrame] = {
    import spark.implicits._
    import java.sql.Date
    val n = 500
    val consensus = (0 until n).map { i =>
      val ethid = 160000L + i / 2 // every other ethid duplicated
      (s"${ethid}_p${i % 7}_${('A' + i % 8).toChar}${i % 12 + 1}", ethid,
        (i * 37) % 500, if (i % 11 == 0) "degraded" else null,
        Seq("B.1.1.7", "B.1.617.2", "BA.1")(i % 3),
        s"2021020${i % 5}_HWL33DRXX")
    }.toDF("sample_name", "ethid", "number_n", "fail_reason", "pango_lineage", "sequencing_batch")
    val seqId = (0 until n / 4).map { i =>
      val ethid = 160000L + i
      (ethid,
        s"${ethid}_p${(i * 2) % 7}_${('A' + (i * 2) % 8).toChar}${(i * 2) % 12 + 1}",
        s"Switzerland/ZH-ETHZ-$ethid/2021")
    }.toDF("ethid", "sample_name", "gisaid_id")
    val viollier = (0 to n / 2).map(i => // one row per ethid (PK semantics)
      (160000L + i, Date.valueOf(s"2021-03-${i % 28 + 1}"), Seq("ZH", "BE", "VS", "GE")(i % 4),
        Seq("Zurich", "Bern", "Sion", "Geneva")(i % 4), s"${8000 + i % 100}", 5000L + i))
      .toDF("ethid", "order_date", "canton", "city", "zip_code", "sample_number")
    val gisaid = (0 until n).map { i =>
      val ours = i % 10 == 0
      (if (ours) s"Switzerland/ZH-ETHZ-${160000 + i}/2021" else s"Germany/BY-$i/2021",
        if (ours) "Switzerland" else "Germany", "Div", "City",
        Date.valueOf(s"2021-03-${i % 28 + 1}"), Seq("B.1.1.7", "BA.1")(i % 2),
        "Human", (i * 7) % 95, Seq("Male", "Female", "unknown")(i % 3),
        "Lab S", if (i % 17 == 0) "Labor Team W AG" else "Lab O")
    }.toDF("strain", "country", "division", "location", "date", "pango_lineage",
      "host", "age", "sex", "submitting_lab", "originating_lab")
    val nucMut = (0 until n).map(i =>
      (s"Germany/BY-$i/2021", 913 + i % 100, Seq("T", "A", "G")(i % 3)))
      .toDF("strain", "position", "mutation")
    val aaMut = (0 until n).map(i =>
      (s"Germany/BY-$i/2021", Seq("S:N501Y", "S:D614G", "N:R203K")(i % 3)))
      .toDF("strain", "aa_mutation")
    val cases = (1 to 28).flatMap(d => Seq(
      (Date.valueOf(s"2021-03-$d"), "Switzerland", (d * 13L) % 300),
      (Date.valueOf(s"2021-03-$d"), "Germany", (d * 31L) % 900)))
      .toDF("date", "country", "new_cases")
    // iso_code mirrors the country name so the demo gisaid feed (which
    // carries names, not iso codes) joins in the private view too
    val countries = Seq(("Europe", "Switzerland", "Switzerland", "Switzerland"),
      ("Europe", "Germany", "Germany", "Germany"))
      .toDF("region", "country", "iso_code", "name")
    val cantons = Seq(("ZH", "Zurich"), ("BE", "Bern"), ("VS", "Valais"), ("GE", "Geneva"))
      .toDF("canton_code", "english")
    val bagMelde = (0 to n / 2).map(i =>
      (5000L + i, (i * 7) % 95, Seq("Männlich", "Weiblich", "Unbekannt")(i % 3),
        if (i % 9 == 0) "HOSPITALIZED" else "NOT_HOSPITALIZED", i % 23 == 0,
        Seq("Geimpft", "Ungeimpft", null)(i % 3), i % 3,
        if (i % 3 == 0) Date.valueOf(s"2021-01-${i % 28 + 1}") else null,
        if (i % 3 == 0) Date.valueOf(s"2021-02-${i % 28 + 1}") else null))
      .toDF("sample_number", "altersjahr", "sex", "hospitalisation_type", "pttod",
        "impfstatus", "dosen_anzahl", "impfdatum_dose1", "impfdatum_dose2")
    val nextclade = consensus.select(col("sample_name"),
      when(pmod(col("ethid"), lit(7)) === 0, "None").otherwise(col("pango_lineage"))
        .as("pangolin_lineage"))
    val bag = (0 until n).map(i =>
      (Date.valueOf(s"2021-03-${i % 28 + 1}"), Seq("ZH", "BE", "VS")(i % 3), (i * 7) % 95,
        if (i % 13 == 0) "auftraggeber_armee=TRUE" else null))
      .toDF("fall_dt", "ktn", "altersjahr", "comment")
    val bagNeg = (0 until n / 2).map(i => // counts table: one row per (date, canton, age_group)
      (Date.valueOf(s"2021-03-${i % 28 + 1}"), Seq("ZH", "TI", "GR")(i % 3),
        Seq("0 - 9", "10 - 19", "20 - 29", "80+")(i % 4), (i * 3) % 40 + 1))
      .toDF("date", "canton", "age_group", "negative_tests")
    val usageOs = (0 until 61).flatMap { d =>
      val date = Date.valueOf(java.time.LocalDate.parse("2021-09-01").plusDays(d))
      Seq("Windows", "macOS", "Linux").zipWithIndex.map { case (os, i) =>
        (date, os, (d * 13L + i * 7L) % 200 + 1L, (d * 31L + i * 11L) % 900 + 1L)
      }
    }.toDF("date", "os", "visitors", "hits")
    Map("consensus_sequence" -> consensus, "sequence_identifier" -> seqId,
      "viollier_test" -> viollier, "gisaid_api_sequence" -> gisaid,
      "nuc_mutations" -> nucMut, "aa_mutations" -> aaMut,
      "ext_owid_global_cases" -> cases, "spectrum_country" -> countries,
      "bag_dashboard_meldeformular" -> bag, "bag_test_numbers" -> bagNeg,
      "swiss_canton" -> cantons, "bag_meldeformular" -> bagMelde,
      "consensus_sequence_nextclade_data" -> nextclade,
      "spectrum_usage_os" -> usageOs)
  }
}
