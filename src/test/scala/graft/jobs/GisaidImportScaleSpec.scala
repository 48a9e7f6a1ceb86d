package graft.jobs

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** GisaidImport end-to-end at a 10× feed (2,000 entries vs the demo's
  * 200) with planted invalid / changed / deleted / present-but-invalid
  * records — the round-9 delete-semantics fix asserted AT VOLUME:
  * a feed entry with a usable accession id but invalid fields counts
  * as failed yet must never delete the previously imported record. */
class GisaidImportScaleSpec extends SparkSpec {

  private val base = GisaidImport.demoReference
  private val mutated = "T" + base.substring(1, 30) + "AA"

  // feed ids 1..2000; i%33==0 → EMPTY SEQUENCE (invalid, 60 entries =
  // 3% < the 5% abort threshold); existing ids 1500..2500, so
  // 2001..2500 are deleted and 1500..2000 overlap the feed
  private val FeedN = 2000
  private def invalid(i: Int) = i % 33 == 0

  // a sequence not aligned to the reference: one base short or long
  private def misalignedSeq(i: Int) =
    if (i % 2 == 0) base.substring(1) else base + "A"

  private def rec(i: Int, misaligned: Int => Boolean = _ => false): String = {
    val seq = if (invalid(i)) "" else if (misaligned(i)) misalignedSeq(i)
      else if (i % 3 == 0) mutated else base
    val date = if (i % 5 == 0) "2021-03" else if (i % 5 == 1) "2021" else "2021-03-15"
    val strain = if (i % 4 == 0) s"Switzerland/ZH-ETHZ-16$i/2021" else s"Germany/BY-$i/2021"
    val lineage = if (i % 2 == 0) "B.1.1.7" else "BA.1"
    s"""{"covv_accession_id":"EPI_ISL_$i","covv_virus_name":"$strain","covv_collection_date":"$date","covv_location":"Europe / ch / Zurich / Zurich","covv_patient_age":"${(i % 90).toString}","covv_gender":"Male","covv_lineage":"$lineage","covv_subm_date":"2021-04-0${i % 9 + 1}","sequence":"$seq"}"""
  }

  test("10x feed: report counts, delete semantics, and table consistency at volume") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("gisaid-scale-")
    val feedFile = dir.resolve("provision.json")
    java.nio.file.Files.writeString(feedFile,
      (1 to FeedN).map(rec(_)).mkString("\n"))

    val existing = (1500 to 2500).map { i =>
      (s"EPI_ISL_$i", s"Germany/BY-$i/2021", java.sql.Date.valueOf("2021-03-15"),
        if (i % 6 == 0) "OLD.LINEAGE" else (if (i % 2 == 0) "B.1.1.7" else "BA.1"),
        if (i % 3 == 0) mutated else base)
    }.toDF("gisaid_epi_isl", "strain", "date", "pango_lineage", "seq_aligned")
    // one of-ours feed record (i=4 → ethid 164) has a pending id slot
    val identifiers = Seq((164, null.asInstanceOf[String], "pending"),
      (9999, "EPI_ISL_STAGED", "existing"))
      .toDF("ethid", "gisaid_id", "note")

    val outDir = dir.resolve("out").toString
    val report = GisaidImport.run(spark, feedFile.toString, existing, identifiers, outDir)

    // ---- report counts ----
    val failedExpected = (1 to FeedN).count(invalid)       // 60
    assert(report.processed == FeedN)
    assert(report.failed == failedExpected)
    assert(report.deleted == 500, "existing 2001..2500 are absent from the feed")
    assert(report.success)

    // ---- final table ----
    val finalTable = spark.read.parquet(s"$outDir/gisaid_api_sequence")
    val ids = finalTable.select("gisaid_epi_isl").as[String].collect()
      .map(_.stripPrefix("EPI_ISL_").toInt).toSet
    // new valid ids 1..1499, ALL overlap ids 1500..2000 (valid ones
    // updated, present-but-invalid ones retained), none of 2001..2500
    val expectedIds = ((1 to 1499).filterNot(invalid) ++ (1500 to 2000)).toSet
    assert(ids == expectedIds,
      s"missing=${(expectedIds -- ids).take(5)} extra=${(ids -- expectedIds).take(5)}")

    // the round-9 delete-semantics fix AT VOLUME: every existing id
    // whose feed entry is invalid (usable accession, empty sequence)
    // is still served, with its OLD record untouched
    val presentButInvalid = (1500 to 2000).filter(invalid)
    assert(presentButInvalid.nonEmpty)
    val kept = finalTable
      .filter(col("gisaid_epi_isl").isin(presentButInvalid.map(i => s"EPI_ISL_$i"): _*))
      .select("gisaid_epi_isl", "pango_lineage").as[(String, String)].collect().toMap
    for (i <- presentButInvalid) {
      val expectedLineage = if (i % 6 == 0) "OLD.LINEAGE"
        else if (i % 2 == 0) "B.1.1.7" else "BA.1"
      assert(kept(s"EPI_ISL_$i") == expectedLineage,
        s"id $i: invalid feed entry must leave the existing record untouched")
    }
    // while a CHANGED valid entry did update
    val changedValid = (1500 to 2000).find(i => i % 6 == 0 && !invalid(i)).get
    assert(finalTable.filter(col("gisaid_epi_isl") === s"EPI_ISL_$changedValid")
      .select("pango_lineage").as[String].head() != "OLD.LINEAGE")

    // ---- mutations consistent with the final table ----
    val mutations = spark.read.parquet(s"$outDir/gisaid_api_sequence_mutation")
    val mutIds = mutations.select("gisaid_epi_isl").distinct().as[String].collect().toSet
    assert(mutIds.nonEmpty)
    assert(mutIds.subsetOf(finalTable.select("gisaid_epi_isl").as[String].collect().toSet),
      "mutations must only reference served records")

    // ---- identifier update: null-guarded, ours-only ----
    val idTable = spark.read.parquet(s"$outDir/sequence_identifier")
    val updated = idTable.filter(col("ethid") === 164)
      .select("gisaid_id").as[String].head()
    assert(updated == "EPI_ISL_4", s"pending ethid must receive the imported id: $updated")
    assert(idTable.filter(col("ethid") === 9999)
      .select("gisaid_id").as[String].head() == "EPI_ISL_STAGED",
      "already-recorded ids are never overwritten")
  }

  private def writeFeed(dir: java.nio.file.Path, misaligned: Int => Boolean): String = {
    val feedFile = dir.resolve("provision.json")
    java.nio.file.Files.writeString(feedFile,
      (1 to FeedN).map(rec(_, misaligned)).mkString("\n"))
    feedFile.toString
  }

  private def demoTables(): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    val existing = (1500 to 2500).map { i =>
      (s"EPI_ISL_$i", s"Germany/BY-$i/2021", java.sql.Date.valueOf("2021-03-15"),
        if (i % 2 == 0) "B.1.1.7" else "BA.1", base)
    }.toDF("gisaid_epi_isl", "strain", "date", "pango_lineage", "seq_aligned")
    val identifiers = Seq((164, null.asInstanceOf[String], "pending"))
      .toDF("ethid", "gisaid_id", "note")
    (existing, identifiers)
  }

  test("misaligned sequences count as failed; under 5% the import commits without them") {
    import spark.implicits._
    // 19 misaligned (i%100==50, minus 1650 which is already empty) +
    // 60 empty = 79 of 2000 failed: 3.95% < 5%
    def misaligned(i: Int) = i % 100 == 50 && !invalid(i)
    val dir = java.nio.file.Files.createTempDirectory("gisaid-misaligned-")
    val feed = writeFeed(dir, misaligned)
    val (existing, identifiers) = demoTables()
    val outDir = dir.resolve("out").toString
    val report = GisaidImport.run(spark, feed, existing, identifiers, outDir)

    val misalignedIds = (1 to FeedN).filter(misaligned).map(i => s"EPI_ISL_$i")
    assert(misalignedIds.size == 19)
    assert(report.failed == (1 to FeedN).count(invalid) + misalignedIds.size)
    assert(report.success)

    val mutIds = spark.read.parquet(s"$outDir/gisaid_api_sequence_mutation")
      .select("gisaid_epi_isl").distinct().as[String].collect().toSet
    assert(mutIds.nonEmpty)
    assert(mutIds.intersect(misalignedIds.toSet).isEmpty,
      "no mutation rows for misaligned records")
    // a misaligned entry never replaces the served record: new ids are
    // absent, ids already served keep their old record (the feed's
    // entries for them carry date 2021-03, the existing rows 2021-03-15)
    val served = spark.read.parquet(s"$outDir/gisaid_api_sequence")
      .filter(col("gisaid_epi_isl").isin(misalignedIds: _*))
      .select(col("gisaid_epi_isl"), col("date").cast("string"))
      .as[(String, String)].collect()
    assert(served.map(_._1).toSet ==
      misalignedIds.filter(_.stripPrefix("EPI_ISL_").toInt >= 1500).toSet)
    assert(served.forall(_._2 == "2021-03-15"), served.mkString(", "))
  }

  test("misaligned sequences over 5% abort the import before commit") {
    // 200 misaligned (i%10==0, minus the empty ones) + 60 empty: 13%
    def misaligned(i: Int) = i % 10 == 0 && !invalid(i)
    val dir = java.nio.file.Files.createTempDirectory("gisaid-misaligned-abort-")
    val feed = writeFeed(dir, misaligned)
    val (existing, identifiers) = demoTables()
    val outDir = dir.resolve("out").toString
    val e = intercept[IllegalArgumentException] {
      GisaidImport.run(spark, feed, existing, identifiers, outDir)
    }
    assert(e.getMessage.contains("import failed:"), e.getMessage)
    for (t <- Seq("gisaid_api_sequence", "gisaid_api_sequence_mutation",
        "sequence_identifier"))
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(outDir, t)),
        s"$t must not be committed")
  }
}
