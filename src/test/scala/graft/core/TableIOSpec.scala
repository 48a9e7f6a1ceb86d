package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

class TableIOSpec extends SparkSpec {

  test("M6 atomic swap: readers see old or new, rollback restores") {
    import spark.implicits._
    val dir = Files.createTempDirectory("tableio").toString
    val path = s"$dir/t"
    TableIO.writeAtomicSwap(Seq((1, "v1")).toDF("k", "v"), path)
    assert(TableIO.read(spark, path).collect()(0).getString(1) == "v1")
    TableIO.writeAtomicSwap(Seq((1, "v2")).toDF("k", "v"), path)
    assert(TableIO.read(spark, path).collect()(0).getString(1) == "v2")
    assert(TableIO.rollback(path))
    assert(TableIO.read(spark, path).collect()(0).getString(1) == "v1")
    assert(!TableIO.rollback(path)) // only one level of rollback
  }

  test("exists resolves the filesystem from the path scheme, not java.io.File") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fsexists").toString
    val path = s"$dir/state/sig.parquet"
    Seq((1L, "h")).toDF("doc_id", "h0").write.parquet(path)
    // a scheme-qualified URI: java.io.File answers false for it even
    // though the data exists (the silent-state-rebuild bug class);
    // the Hadoop FileSystem API resolves it correctly
    val uri = s"file://$dir/state/sig.parquet"
    assert(!new java.io.File(uri).exists(), "premise: java.io.File can't see URIs")
    assert(TableIO.exists(spark, uri))
    assert(TableIO.exists(spark, path))
    assert(!TableIO.exists(spark, s"file://$dir/state/nope.parquet"))
    // the dedup state check goes through the same API
    assert(graft.operators.IncrementalDedup.stateExists(spark, s"file://$dir/state"))
    assert(!graft.operators.IncrementalDedup.stateExists(spark, s"file://$dir/other"))
  }

  test("multi-table commit: staging reads OLD live dirs, then all tables swap") {
    import spark.implicits._
    val dir = Files.createTempDirectory("swapall").toString
    val (a, b) = (s"$dir/a", s"$dir/b")
    val intent = s"$dir/_swap_intent"
    TableIO.writeAtomicSwapAll(Seq(
      (Seq((1, "a-v1")).toDF("k", "v"), a),
      (Seq((1, "b-v1")).toDF("k", "v"), b)), intent)
    // v2 commit where table b's PLAN reads table a's live dir — the
    // one-transaction contract: even though a.staging already holds
    // a-v2 when b stages, b must see the OLD live a (a-v1), exactly as
    // the import's mutation merge reads the live mutation table
    TableIO.writeAtomicSwapAll(Seq(
      (Seq((1, "a-v2")).toDF("k", "v"), a),
      (TableIO.read(spark, a).withColumn("v", concat(col("v"), lit("+seen-by-b"))), b)),
      intent)
    assert(TableIO.read(spark, a).collect()(0).getString(1) == "a-v2")
    assert(TableIO.read(spark, b).collect()(0).getString(1) == "a-v1+seen-by-b")
    // previous versions kept for rollback; intent consumed
    assert(TableIO.read(spark, s"$a.prev").collect()(0).getString(1) == "a-v1")
    assert(TableIO.read(spark, s"$b.prev").collect()(0).getString(1) == "b-v1")
    assert(!Files.exists(java.nio.file.Paths.get(intent)))
  }

  test("concurrent commit: a failing stage surfaces its own error and swaps nothing") {
    import spark.implicits._
    val dir = Files.createTempDirectory("swapfail").toString
    val paths = Seq("a", "b", "c").map(n => s"$dir/$n")
    val intent = s"$dir/_swap_intent"
    TableIO.writeAtomicSwapAll(paths.map(p => (Seq((1, s"$p-v1")).toDF("k", "v"), p)), intent)
    val planted = "planted stage failure"
    val boom = udf((k: Long) => { if (k >= 0) throw new IllegalStateException(planted); k })
    val e = intercept[Exception] {
      TableIO.writeAtomicSwapAll(Seq(
        (Seq((1, "a-v2")).toDF("k", "v"), paths(0)),
        (spark.range(1).select(boom(col("id")).as("k"), lit("b-v2").as("v")), paths(1)),
        (Seq((1, "c-v2")).toDF("k", "v"), paths(2))), intent)
    }
    assert(!e.isInstanceOf[java.util.concurrent.ExecutionException], e)
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains(planted)), e)
    assert(!Files.exists(java.nio.file.Paths.get(intent)), "no swap intent after a failed stage")
    for (p <- paths) assert(TableIO.read(spark, p).collect()(0).getString(1) == s"$p-v1")
    // the pool's threads exit once it terminates; a leaked pool never would
    def poolThreads = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .filter(t => t.isAlive && t.getName.startsWith("graft-driver-pool-"))
    val deadline = System.nanoTime() + 10_000_000_000L
    while (poolThreads.nonEmpty && System.nanoTime() < deadline) Thread.sleep(10)
    assert(poolThreads.isEmpty, poolThreads.map(_.getName).mkString(", "))
  }

  test("crash between swaps: recoverSwapAll rolls the commit forward to a consistent set") {
    import spark.implicits._
    val dir = Files.createTempDirectory("swapcrash").toString
    val (a, b) = (s"$dir/a", s"$dir/b")
    val intent = s"$dir/_swap_intent"
    Seq((1, "a-v1")).toDF("k", "v").write.parquet(a)
    Seq((1, "b-v1")).toDF("k", "v").write.parquet(b)
    // simulate a crash mid-commit: both tables fully staged, intent
    // recorded, but only table a swapped before the JVM died
    Seq((1, "a-v2")).toDF("k", "v").write.parquet(s"$a.staging")
    Seq((1, "b-v2")).toDF("k", "v").write.parquet(s"$b.staging")
    Files.writeString(java.nio.file.Paths.get(intent), s"$a\n$b")
    TableIO.swapStaged(a)
    // serving set is mixed-version right now (a=v2, b=v1) — recovery
    // completes the remaining swaps forward
    assert(TableIO.recoverSwapAll(intent))
    assert(TableIO.read(spark, a).collect()(0).getString(1) == "a-v2")
    assert(TableIO.read(spark, b).collect()(0).getString(1) == "b-v2")
    assert(!Files.exists(java.nio.file.Paths.get(intent)))
    assert(!TableIO.recoverSwapAll(intent), "recovery is idempotent / no-op without intent")
  }

  test("bucketed tables join with zero shuffle (the SCALING.md co-location contract)") {
    import spark.implicits._
    val left = (0 until 10000).map(i => (160000L + i % 500, s"seq$i", i % 97))
      .toDF("ethid", "sample_name", "number_n")
    val right = (0 until 500).map(i => (160000L + i, s"2021-03-${i % 28 + 1}"))
      .toDF("ethid", "order_date")
    TableIO.writeBucketed(left, "b_consensus", Seq("ethid"), 8)
    TableIO.writeBucketed(right, "b_viollier", Seq("ethid"), 8)
    try {
      // disable auto-broadcast so a shuffle would be visible if bucketing failed
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val joined = TableIO.readTable(spark, "b_consensus")
          .join(TableIO.readTable(spark, "b_viollier"), Seq("ethid"))
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"),
          s"bucketed equi-join must not shuffle either side:\n$plan")
        assert(joined.count() == 10000)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_consensus")
      spark.sql("DROP TABLE IF EXISTS b_viollier")
    }
  }
}
