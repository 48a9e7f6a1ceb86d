package graft

import graft.plans.CardinalityAudit
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The two round-15 audit arms under the planted-hazard discipline
  * (the join arm's controls live in JoinFanoutAuditSpec):
  *
  *  - generate: the control that MUST trip is the reference's
  *    char-histogram shape at its PRODUCTION sequence length — a
  *    ~30 kb string split to characters (`gisaid.sql:160-166` fans
  *    every row ×30,000), while the corpus's own exploders (char
  *    histograms over ~306-char synth docs, shingling, date spines)
  *    must measure clean at a reduced floor.
  *  - skew: a 90%-one-key window partition MUST trip (one reduce
  *    partition carries the hot key's whole volume), while the
  *    salting gates q_sk1/q_sk2 — the operators that exist to FIX
  *    this class — must measure clean. */
class CardinalityAuditSpec extends SparkSpec {

  private def orders = spark.read.parquet(s"$sf0001/orders.parquet")

  private def materialize(df: DataFrame): DataFrame = {
    // toRdd executes the exact plan instance the audit then reads
    // (a noop write or count() would plan a new QueryExecution)
    df.queryExecution.toRdd.count()
    df
  }

  test("a finding's JSON line escapes quotes, backslashes and control chars") {
    // a generate finding's detail is generator.sql, whose string
    // literals keep raw tabs and newlines
    val detail = "split(\"a\\b\", '\t')\nx"
    val line = CardinalityAudit.Finding("generate", "Generate", detail, 5L, 1L).json("q_x")
    assert(!line.contains("\n") && !line.contains("\t"), line)
    val rec = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(rec.get("detail").asText == detail)
    assert(rec.get("gate").asText == "q_x" && rec.get("out").asLong == 5L)
  }

  test("plan shape counts the stages an empty-result collapse hides") {
    // at sf0.001 every customer has an order, so AQE replaces q_j6's
    // anti join with an EmptyRelation after its stages ran; q_llm3
    // collapses in more than one round, and the stages that ran sit
    // under the earlier round's EmptyRelation
    val expected = Seq[(String, Map[String, Int] => Boolean)](
      "q_j6_anti_join" -> (s => s("BroadcastHashJoin") == 1 && s("Exchange") >= 2),
      "q_llm3_mix_pipeline" -> (s => s("Exchange") >= 4 && s("InMemoryTableScan") >= 1))
    for ((gate, holds) <- expected) {
      val qe = materialize(SparkEntry.queries(gate)(spark, sf0001)).queryExecution
      assert(qe.executedPlan.toString.contains("EmptyRelation"), s"$gate ${qe.executedPlan}")
      val shape = CardinalityAudit.planShape(qe)
      assert(holds(shape), s"$gate $shape")
    }
  }

  test("planted 30kb char-split explode trips the generate arm at default bounds") {
    val df = materialize(orders.limit(10)
      .select(explode(split(repeat(lit("ACGT"), 7500), "")).as("ch")))
    val bad = CardinalityAudit.violations(df)
    assert(bad.exists(_.kind == "generate"),
      s"the production-length char split must trip: " +
        s"${CardinalityAudit.measurements(df.queryExecution).map(_.render).mkString("; ")}")
    val f = bad.filter(_.kind == "generate").head
    // 10 rows × 30,000 chars: the exact planted cardinality
    assert(f.out == 300000L && f.base == 10L, f.render)
    assert(f.ratio > CardinalityAudit.GenerateRatioBound, f.render)
  }

  test("the corpus's legitimate exploders measure clean at a reduced floor") {
    // the biggest legitimate generate multipliers measured corpus-wide
    // (round-15 sweep): the char histograms at ~306× (synth doc
    // length), shingling/tokenization at ~56× (tokens per doc), the
    // date spine at days-per-key — all an order of magnitude under
    // the 4096 bound
    val cfg = CardinalityAudit.Config(generateMinRows = 1000L)
    for (name <- Seq("q_a11_char_histogram", "q_a12_cube", "q_g3_date_spine",
        "q_dd4_ngram_jaccard", "q_sp7_heavy_hitters")
        .filter(SparkEntry.queries.contains)) {
      val df = materialize(SparkEntry.queries(name)(spark, sf0001))
      val bad = CardinalityAudit.violations(df.queryExecution, cfg)
        .filter(_.kind == "generate")
      assert(bad.isEmpty, s"$name: ${bad.map(_.render).mkString("; ")}")
    }
  }

  test("a generator child reading 0 rows is skipped, not reported as infinite fanout") {
    // measured live on q_ul1's lattice explode: a cached/reused
    // fragment kept a fresh child metric (0 rows) against 27,988
    // output rows — physically impossible for a generator, so the
    // audit must skip the record rather than flag a phantom 27,988×
    val name = "q_ul1_unigram_viterbi"
    assert(SparkEntry.queries.contains(name))
    val df = materialize(SparkEntry.queries(name)(spark, sf0001))
    val phantom = CardinalityAudit.measurements(df.queryExecution)
      .filter(f => f.kind == "generate" && f.base == 0L && f.out > 0L)
    assert(phantom.isEmpty, phantom.map(_.render).mkString("; "))
  }

  test("generate traversal reads exact cardinalities through whole-stage codegen") {
    val df = materialize(
      spark.range(0, 100).selectExpr("id", "explode(sequence(1, 50)) AS e"))
    val fs = CardinalityAudit.measurements(df.queryExecution)
      .filter(_.kind == "generate")
    assert(fs.size == 1, fs.map(_.render).mkString("; "))
    assert(fs.head.out == 5000L && fs.head.base == 100L, fs.head.render)
  }

  test("planted 95%-one-key window partition trips the skew arm") {
    import spark.implicits._
    // 95% of rows share one partition key; the rest spread over ~97
    // keys. At the test session's FOUR shuffle partitions the cold
    // keys dilute into the hot partition too, so a 90% control reads
    // only ~16× — 95% keeps the planted ratio ~4× above the bound.
    val df = materialize(orders
      .select(
        when($"o_orderkey" % 20 < 19, lit("hot"))
          .otherwise(concat(lit("k"), ($"o_orderkey" % 97).cast("string"))).as("k"),
        concat($"o_orderstatus", lit("-pad-pad-pad-pad-pad-pad-pad-pad"))
          .as("payload"),
        $"o_orderkey")
      .withColumn("rn", row_number().over(
        Window.partitionBy($"k").orderBy($"o_orderkey")))
      .filter($"rn" % 100 === 0))
    val cfg = CardinalityAudit.Config(skewMinBytes = 10000L)
    val bad = CardinalityAudit.violations(df.queryExecution, cfg)
      .filter(_.kind == "skew")
    assert(bad.nonEmpty, "the planted hot key must trip: " +
      CardinalityAudit.measurements(df.queryExecution)
        .filter(_.kind == "skew").map(_.render).mkString("; "))
    assert(bad.head.ratio > CardinalityAudit.SkewRatioBound, bad.head.render)
  }

  test("the salting gates (the fix for the skew class) measure clean at a reduced floor") {
    val cfg = CardinalityAudit.Config(skewMinBytes = 10000L)
    for (name <- Seq("q_sk1_salted_agg", "q_sk2_salted_join")
        .filter(SparkEntry.queries.contains)) {
      val df = materialize(SparkEntry.queries(name)(spark, sf0001))
      val bad = CardinalityAudit.violations(df.queryExecution, cfg)
        .filter(_.kind == "skew")
      assert(bad.isEmpty, s"$name: ${bad.map(_.render).mkString("; ")}")
    }
  }

  test("skew stats skip exchanges with fewer than 4 non-empty partitions") {
    import spark.implicits._
    // a single-key global aggregate cannot express imbalance — the
    // arm must not divide by a 1-partition median
    val df = materialize(orders.groupBy(lit(1).as("k"))
      .agg(sum($"o_totalprice").as("s")))
    val stats = CardinalityAudit.measurements(df.queryExecution)
      .filter(_.kind == "skew")
    assert(stats.isEmpty,
      s"1-key exchange should produce no skew stat: ${stats.map(_.render)}")
  }
}
