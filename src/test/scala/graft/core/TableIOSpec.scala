package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

class TableIOSpec extends SparkSpec {

  private def value(path: String): String = TableIO.read(spark, path).collect()(0).getString(1)

  // the pool's threads exit once it terminates; a leaked pool never would
  private def assertNoPoolThreads(): Unit = {
    def poolThreads = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .filter(t => t.isAlive && t.getName.startsWith("graft-driver-pool-"))
    val deadline = System.nanoTime() + 10_000_000_000L
    while (poolThreads.nonEmpty && System.nanoTime() < deadline) Thread.sleep(10)
    assert(poolThreads.isEmpty, poolThreads.map(_.getName).mkString(", "))
  }

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
    assertNoPoolThreads()
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

  test("waves: a wave-2 output reads its parent's staged rows, a wave-1 output the old live dir") {
    import spark.implicits._
    val dir = Files.createTempDirectory("swapwaves").toString
    val (a, b, c) = (s"$dir/a", s"$dir/b", s"$dir/c")
    val intent = s"$dir/_swap_intent"
    TableIO.writeAtomicSwapAll(Seq(
      (Seq((1, "a-v1")).toDF("k", "v"), a),
      (Seq((1, "b-v1")).toDF("k", "v"), b)), intent)
    TableIO.writeAtomicSwapAll(Seq(
        (Seq((1, "a-v2")).toDF("k", "v"), a),
        (TableIO.read(spark, a).withColumn("v", concat(col("v"), lit("+seen-by-b"))), b)),
      intent,
      staged => Seq((staged(a).withColumn("v", concat(col("v"), lit("+seen-by-c"))), c)))
    assert(value(a) == "a-v2")
    assert(value(b) == "a-v1+seen-by-b", "wave 1 reads the live dir, untouched while staging")
    assert(value(c) == "a-v2+seen-by-c", "wave 2 reads the rows wave 1 staged")
    assert(!Files.exists(java.nio.file.Paths.get(intent)))
    assert(Seq(a, b, c).forall(p => !Files.exists(java.nio.file.Paths.get(s"$p.staging"))))
    // a wave-2 frame may only read wave-1 outputs
    val e = intercept[IllegalArgumentException] {
      TableIO.writeAtomicSwapAll(Seq((Seq((1, "a-v3")).toDF("k", "v"), a)), intent,
        staged => Seq((staged(b), c)))
    }
    assert(e.getMessage.contains("not a wave-1 output"), e)
    assert(!Files.exists(java.nio.file.Paths.get(intent)))
    assert(value(a) == "a-v2" && value(c) == "a-v2+seen-by-c")
  }

  test("waves: a failed parent stage builds no wave-2 plan, writes no intent, swaps nothing") {
    import spark.implicits._
    val dir = Files.createTempDirectory("swapwavefail").toString
    val paths @ Seq(a, b, c) = Seq("a", "b", "c").map(n => s"$dir/$n")
    val intent = s"$dir/_swap_intent"
    TableIO.writeAtomicSwapAll(paths.map(p => (Seq((1, s"$p-v1")).toDF("k", "v"), p)), intent)
    val planted = "planted parent failure"
    val boom = udf((k: Long) => { if (k >= 0) throw new IllegalStateException(planted); k })
    var built = false
    val e = intercept[Exception] {
      TableIO.writeAtomicSwapAll(Seq(
          (spark.range(1).select(boom(col("id")).as("k"), lit("a-v2").as("v")), a),
          (Seq((1, "b-v2")).toDF("k", "v"), b)),
        intent,
        staged => { built = true; Seq((staged(a), c)) })
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains(planted)), e)
    assert(!built, "no wave-2 plan is built after a failed wave-1 stage")
    assert(!Files.exists(java.nio.file.Paths.get(intent)), "no swap intent after a failed stage")
    for (p <- paths) assert(value(p) == s"$p-v1")
    assertNoPoolThreads()
  }

  test("waves: a crash after the intent is written rolls wave-2 tables forward") {
    import spark.implicits._
    val dir = Files.createTempDirectory("swapwavecrash").toString
    val (a, c) = (s"$dir/a", s"$dir/c")
    val intent = s"$dir/_swap_intent"
    Seq((1, "a-v1")).toDF("k", "v").write.parquet(a)
    Seq((1, "c-v1")).toDF("k", "v").write.parquet(c)
    // writeAtomicSwapAll's steps up to the crash: both waves staged,
    // the intent recorded, the first swap done, then the JVM dies
    val paths = TableIO.stageWaves(Seq((Seq((1, "a-v2")).toDF("k", "v"), a)),
      staged => Seq((staged(a).withColumn("v", concat(col("v"), lit("+c"))), c)))
    assert(paths == Seq(a, c))
    TableIO.writeIntent(paths, intent)
    TableIO.swapStaged(a)
    assert(value(c) == "c-v1", "premise: a mixed-version set until recovery")
    assert(TableIO.recoverSwapAll(intent))
    assert(value(a) == "a-v2")
    assert(value(c) == "a-v2+c")
    assert(!Files.exists(java.nio.file.Paths.get(intent)))
  }

  test("waves: building the wave-2 plans starts no Spark job") {
    import spark.implicits._
    val dir = Files.createTempDirectory("swapwavejobs").toString
    val (a, b, c) = (s"$dir/a", s"$dir/b", s"$dir/c")
    var built: Seq[Option[String]] = null
    TableIO.writeAtomicSwapAll(Seq(
        (Seq((1, "x"), (2, "y")).toDF("k", "v"), a),
        (Seq((1, 10L), (3, 30L)).toDF("k", "n"), b)),
      s"$dir/_swap_intent",
      staged => {
        var plans: Seq[(org.apache.spark.sql.DataFrame, String)] = Nil
        built = jobsStartedBy {
          plans = Seq((staged(a).join(staged(b), Seq("k"), "left")
            .groupBy(col("v")).agg(sum(coalesce(col("n"), lit(0L))).as("n")), c))
        }
        plans
      })
    assert(built.isEmpty, s"jobs started while building wave 2: $built")
    assert(TableIO.read(spark, c).as[(String, Long)].collect().toSet == Set(("x", 10L), ("y", 0L)))
  }

  test("fingerprint: sub-ms and nested rewrites, swapped same-named files, file: URIs, absent") {
    import java.nio.file.attribute.FileTime
    import java.util.concurrent.TimeUnit.NANOSECONDS
    val root = Files.createTempDirectory("fingerprint")
    def fp = TableIO.fingerprint(spark, root.toString)
    def put(rel: String, body: String, mtimeNs: Long): Unit = {
      val f = root.resolve(rel)
      Files.createDirectories(f.getParent)
      Files.writeString(f, body)
      Files.setLastModifiedTime(f, FileTime.from(mtimeNs, NANOSECONDS))
    }
    val t0 = 1_700_000_000_000_000_000L
    put("top.parquet", "aaaa", t0)
    put("x/part-0.parquet", "abc", t0)
    put("y/part-0.parquet", "abcde", t0)
    put("d1/d2/part-0.parquet", "deep", t0)
    val before = fp
    // a same-size rewrite 500 ns later: the same millisecond
    put("top.parquet", "bbbb", t0 + 500)
    assert(Files.getLastModifiedTime(root.resolve("top.parquet")).to(NANOSECONDS) == t0 + 500,
      "premise: the filesystem keeps ns mtimes")
    val subMs = fp
    assert(subMs != before, "a same-size rewrite within one ms")
    // a rewrite two directory levels down
    put("d1/d2/part-0.parquet", "deeper", t0)
    val nested = fp
    assert(nested != subMs, "a nested rewrite")
    // same-named files in sibling dirs swap contents of different sizes
    put("x/part-0.parquet", "abcde", t0)
    put("y/part-0.parquet", "abc", t0)
    assert(fp != nested, "swapped same-named files")
    // a file: URI fingerprints like its bare path
    assert(TableIO.fingerprint(spark, s"file://$root") == fp)
    assert(TableIO.fingerprint(spark, s"$root/nope") == "absent")
  }

  test("read: one plan per unchanged path, on a file: URI too; rewrites and session switches re-resolve") {
    import spark.implicits._
    val path = s"${Files.createTempDirectory("readmemo")}/t"
    Seq((1, "v1")).toDF("k", "v").write.parquet(path)
    val paths = Seq(path, s"file://$path")
    val first = paths.map(p => TableIO.read(spark, p))
    for ((p, df) <- paths.zip(first)) {
      var again: org.apache.spark.sql.DataFrame = null
      val jobs = jobsStartedBy { again = TableIO.read(spark, p) }
      assert(again eq df, s"$p: a second read of an unchanged path is the memoized plan")
      assert(jobs.isEmpty, s"$p: a memo hit starts no job: $jobs")
    }
    TableIO.writeAtomicSwap(Seq((1, "v2")).toDF("k", "v"), path)
    for ((p, df) <- paths.zip(first)) {
      val fresh = TableIO.read(spark, p)
      assert(!(fresh eq df), s"$p: a rewrite re-resolves")
      assert(fresh.collect()(0).getString(1) == "v2")
    }
    val current = TableIO.read(spark, path)
    val other = spark.newSession()
    val switched = TableIO.read(other, path)
    assert(switched.sparkSession eq other, "a session is served its own plan")
    assert(!(TableIO.read(spark, path) eq current), "a switch drops the old session's plans")
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
