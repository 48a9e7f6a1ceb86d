package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.core.TableIO
import graft.operators.Upsert
import graft.sources.{Sources, StateStore}

/** §3.2 — the Viollier metadata receive pipeline, composed end-to-end
  * (reference `viollier/ViollierMetadataReceiver.java:42-500`):
  *
  *  1. state read (M9): already-processed file list
  *  2. per new file: `;`-CSV windows-1252 read + header validation (S2)
  *  3. row normalization: sequencing-center canon, well A01→A1, date
  *     sniffing dd.MM.yyyy vs yyyy-MM-dd, purpose decode
  *     (res→diagnostic / blank→surveillance), required-field check —
  *     invalid rows become a rejected side output instead of a throw
  *  4. plate checks: duplicate (plate, well) rows flagged
  *  5. write: test metadata append-if-absent (M2), atomic swap (M6)
  *  6. per-center routed CSVs with plate + column-major well sort (S11)
  *  7. state update (M9)
  */
object ViollierReceive {

  val requiredCols = Set("Sample number", "Order date", "PlateID",
    "DeepWellLocation", "Sequencing center")
  val toleratedCols = Set("Prescriber city", "Zip code", "Prescriber canton",
    "CT Wert", "60997 wuha20")

  def main(args: Array[String]): Unit = {
    val Array(mode, outDir) = args
    val spark = GraftSession.local()
    val dropDir = if (mode == "--demo") demoDropDir() else mode

    // 1. processed-file state (M9)
    val state = new StateStore(s"$outDir/state")
    var processed = state.get("viollier_receiver").map(_.split("\n").toSet).getOrElse(Set.empty)
    val newFiles = new java.io.File(dropDir).listFiles()
      .filter(f => f.getName.endsWith(".csv") && !processed.contains(f.getName))
      .sortBy(_.getName)
    println(s"[viollier] ${newFiles.length} new files (${processed.size} already processed)")

    newFiles.foreach { file =>
      // 2. read + header validation (S2)
      val (raw, v) = Sources.readValidatedCsv(spark, file.getAbsolutePath, ";",
        "windows-1252", requiredCols, toleratedCols)
      require(v.missingRequired.isEmpty, s"${file.getName}: missing ${v.missingRequired}")
      if (v.unexpected.nonEmpty) println(s"[viollier] ${file.getName}: unexpected cols ${v.unexpected}")

      // 3. normalize + row validation → valid/rejected split.
      // try_cast, not cast: ANSI mode (Spark 4 default) throws on
      // malformed input, which would make the reject side output
      // unreachable and abort the job on the first bad row. Tolerated
      // (optional) columns may legitimately be absent — a validated
      // file without them must not fail the select.
      val centerCanon = when(lower(col("Sequencing center")).isin("gfb", "fgcz", "h2030", "viollier"),
        lower(col("Sequencing center"))).otherwise(lit(null))
      def optional(name: String): org.apache.spark.sql.Column =
        if (raw.columns.contains(name)) col(name) else lit(null).cast("string")
      val normalized = raw.select(
        expr("try_cast(`Sample number` AS BIGINT)").as("sample_number"),
        Sources.sniffDate(col("Order date")).as("order_date"),
        lower(col("PlateID")).as("plate"),
        Sources.normalizeWell(col("DeepWellLocation")).as("well"),
        centerCanon.as("sequencing_center"),
        optional("Zip code").as("zip_code"),
        when(optional("60997 wuha20") === "res", "diagnostic")
          .otherwise("surveillance").as("purpose"))
      val withValidity = normalized.withColumn("reject_reason",
        when(col("sample_number").isNull, "unparseable sample number")
          .when(col("order_date").isNull, "unparseable order date")
          .when(col("sequencing_center").isNull, "unknown sequencing center")
          .when(col("well") === "", "missing well"))
      val valid = withValidity.filter(col("reject_reason").isNull).drop("reject_reason")
      val rejected = withValidity.filter(col("reject_reason").isNotNull)

      // 4. plate-level duplicate-well check
      val dupWells = valid.groupBy(col("plate"), col("well"))
        .count().filter(col("count") > 1)
      val nDup = dupWells.count()
      if (nDup > 0) println(s"[viollier] ${file.getName}: $nDup duplicate (plate,well) cells")

      // 5. append-if-absent into test metadata (M2) + atomic swap (M6)
      val tablePath = s"$outDir/test_metadata"
      val existing =
        if (TableIO.exists(spark, tablePath)) TableIO.read(spark, tablePath)
        else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], valid.schema)
      TableIO.writeAtomicSwap(Upsert.insertIfAbsent(existing, valid, Seq("sample_number")), tablePath)
      if (rejected.count() > 0)
        rejected.write.mode("append").parquet(s"$outDir/rejected_rows")

      // 6. per-center routed CSV, plate then column-major well order (S11)
      valid.select(col("sequencing_center"), col("plate"), col("well"),
          col("sample_number"), col("order_date"))
        .orderBy(col("plate"), Sources.wellSortKey(col("well")))
        .coalesce(1)
        .write.mode("overwrite").option("header", "true")
        .partitionBy("sequencing_center")
        .csv(s"$outDir/routed/${file.getName.stripSuffix(".csv")}")

      // 7. state update (M9) — accumulate across files within this run
      processed = processed + file.getName
      state.set("viollier_receiver", processed.toSeq.sorted.mkString("\n"))
      println(s"[viollier] ${file.getName}: valid=${valid.count()} rejected=${rejected.count()}")
    }
    spark.stop()
  }

  /** Demo drop dir: two windows-1252 `;`-CSVs with mixed date formats,
    * well formats, an unknown center, and an overlapping sample. */
  private def demoDropDir(): String = {
    val dir = java.nio.file.Files.createTempDirectory("viollier_drop")
    val header = "Prescriber city;Zip code;Prescriber canton;Sequencing center;Sample number;Order date;PlateID;CT Wert;DeepWellLocation;60997 wuha20"
    val f1 = (1 to 60).map { i =>
      val date = if (i % 2 == 0) "01.03.2021" else "2021-03-02"
      val well = f"${('A' + i % 8).toChar}${if (i % 3 == 0) f"${i % 12 + 1}%02d" else (i % 12 + 1).toString}"
      val center = if (i == 13) "mystery_lab" else Seq("viollier", "GFB", "fgcz", "h2030")(i % 4)
      s"Zürich;800$i;ZH;$center;${1000 + i};$date;123456eg0${i % 3};$i.5;$well;${if (i % 10 == 0) "res" else ""}"
    }
    val f2 = (55 to 90).map { i => // overlaps 55..60 with f1 (M2 dedup)
      s"Bern;300$i;BE;viollier;${1000 + i};2021-03-03;123456eg99;$i.1;A${i % 12 + 1};"
    }
    java.nio.file.Files.write(dir.resolve("drop1.csv"),
      (header +: f1).mkString("\n").getBytes(java.nio.charset.Charset.forName("windows-1252")))
    java.nio.file.Files.write(dir.resolve("drop2.csv"),
      (header +: f2).mkString("\n").getBytes(java.nio.charset.Charset.forName("windows-1252")))
    dir.toString
  }
}
