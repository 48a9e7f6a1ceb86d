package graft.jobs

import graft.SparkSpec
import graft.core.{DriverPool, TableIO}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The two-wave commit writes the same rows as the self-contained
  * plans, which recompute wave 1 inside wave 2: every `SpectrumRefresh`
  * output on the demo tables, and every `GisaidImport` output over two
  * successive feeds. Rows are compared as bags — EXCEPT ALL in both
  * directions, plus equal counts — on the driver: the outputs hold a
  * few hundred rows, and a Spark `exceptAll` per output costs seconds
  * of planning. A wave 2 that reads its parent's old live dir instead
  * of the staged one must fail the comparison. */
class CommitWavesSpec extends SparkSpec {

  /** Every output's rows, collected concurrently. */
  private def collectAll(outputs: Seq[(String, DataFrame)]): Map[String, Seq[Row]] =
    DriverPool.map(outputs, 4) { case (n, df) => n -> df.collect().toSeq }.toMap

  /** The outputs as committed under `dir`, each read with its planned
    * schema (no schema-inference job). */
  private def committed(dir: String, outputs: Seq[(String, DataFrame)]): Map[String, Seq[Row]] =
    collectAll(outputs.map { case (n, df) => n -> spark.read.schema(df.schema).parquet(s"$dir/$n") })

  /** The rows of `a` EXCEPT ALL `b`: each row as many times as `a`
    * holds it more often than `b`. */
  private def exceptAll(a: Seq[Row], b: Seq[Row]): Int = {
    val inB = b.groupMapReduce(identity)(_ => 1)(_ + _)
    a.groupMapReduce(identity)(_ => 1)(_ + _)
      .map { case (r, n) => (n - inB.getOrElse(r, 0)).max(0) }.sum
  }

  /** One line per output whose committed rows differ from its planned rows. */
  private def diffs(got: Map[String, Seq[Row]], want: Map[String, Seq[Row]]): Seq[String] =
    got.keys.toSeq.sorted.flatMap { name =>
      val (g, w) = (got(name), want(name))
      val (extra, missing) = (exceptAll(g, w), exceptAll(w, g))
      if (extra == 0 && missing == 0 && g.size == w.size) None
      else Some(s"$name: $extra rows only committed, $missing only planned, ${g.size} vs ${w.size} rows")
    }

  test("refresh: every demo output of the wave commit equals its self-contained plan's") {
    val plan = SpectrumRefresh.plan(SpectrumRefresh.tables(spark, "--demo"))
    val outputs = plan.selfContained
    assert(outputs.size == 13)
    // the demo inputs live in memory, so the plans stay valid after commits
    val planned = collectAll(outputs)
    val dir = Files.createTempDirectory("waves-refresh").toString
    plan.commit(dir, s"$dir/_swap_intent")
    val equal = diffs(committed(dir, outputs), planned)
    assert(equal.isEmpty, equal)
    // planted defect: wave 2 reads meta's old live dir, not the staged
    // one. The old meta holds fewer foreign GISAID records, which all
    // four of meta's readers see.
    val metaName = "spectrum_sequence_public_meta"
    TableIO.writeAtomicSwap(plan.wave1.toMap.apply(metaName)
      .filter(col("source_branch") =!= "gisaid" || col("date") < "2021-03-15"), s"$dir/$metaName")
    val metaReaders = plan.wave2(plan.wave1.toMap).map(_._1)
    TableIO.CommitPlan(Nil, _ => plan.wave2(n => spark.read.parquet(s"$dir/$n")))
      .commit(dir, s"$dir/_swap_intent")
    val planted = diffs(committed(dir, outputs.filter(o => metaReaders.contains(o._1))), planned)
    assert(planted.map(_.takeWhile(_ != ':')) == metaReaders, planted)
  }

  test("import: every output of the wave commit equals its self-contained plan's over two feeds") {
    import spark.implicits._
    val root = Files.createTempDirectory("waves-import")
    val dir = s"$root/tables"
    val (feed1, existing) = GisaidImport.demoFeedAndExisting(spark, root)
    // feed 2: feed 1 with every 7th record deleted, every 5th with a
    // new lineage, every 8th with a new sequence, and 20 new records
    val ref = GisaidImport.demoReference
    val Id = "\"EPI_ISL_(\\d+)\"".r.unanchored
    val lines = Files.readAllLines(java.nio.file.Paths.get(feed1)).toArray(Array.empty[String])
    val kept = lines.map(l => (l, l match { case Id(i) => i.toInt })).collect {
      case (l, n) if n % 7 != 0 =>
        val relined = if (n % 5 != 0) l
          else l.replaceAll("\"covv_lineage\":\"[^\"]*\"", "\"covv_lineage\":\"BA.2\"")
        if (n % 8 != 0) relined
        else relined.replaceAll("\"sequence\":\"[^\"]*\"", s"\"sequence\":\"G${ref.substring(1)}\"")
    }
    val added = (201 to 220).map(i => lines(0).replace("EPI_ISL_1\"", s"EPI_ISL_$i\"")
      .replace("BY-1/", s"BY-$i/"))
    val feed2 = root.resolve("feed2.json")
    Files.writeString(feed2, (kept ++ added).mkString("\n"))
    val ids0 = Seq((16160L, "EPI_ISL_OLD", "existing")).toDF("ethid", "gisaid_id", "note")
    for ((feed, round) <- Seq(feed1, feed2.toString).zipWithIndex) {
      val ids = if (round == 0) ids0 else TableIO.read(spark, s"$dir/sequence_identifier")
      val plan = GisaidImport.plan(spark, feed, existing, ids, dir)._1
      // the self-contained plans read the live tables the commit
      // replaces: run them first
      val outputs = plan.selfContained
      assert(outputs.size == 3)
      val planned = collectAll(outputs)
      plan.commit(dir, s"$dir/_swap_intent")
      val equal = diffs(committed(dir, outputs), planned)
      assert(equal.isEmpty, s"feed ${round + 1}: $equal")
      if (round == 0) assert(!TableIO.read(spark, s"$dir/gisaid_api_sequence_mutation")
        .filter(col("gisaid_epi_isl") === "EPI_ISL_21").isEmpty, "premise: 21 has mutations")
    }
    // the second feed merged with a live mutation table: it dropped
    // the mutations of deleted records and kept no orphan
    val mut = TableIO.read(spark, s"$dir/gisaid_api_sequence_mutation")
    val seq = TableIO.read(spark, s"$dir/gisaid_api_sequence")
    assert(mut.filter(col("gisaid_epi_isl") === "EPI_ISL_21").isEmpty)
    assert(mut.join(seq, Seq("gisaid_epi_isl"), "left_anti").isEmpty)
    assert(!mut.isEmpty)
  }
}
