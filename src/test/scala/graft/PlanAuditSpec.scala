package graft

/** Physical-plan audits — the 100 TB guards. A query can be correct at
  * sf0.01 and catastrophic at scale if a dim join stops broadcasting,
  * a filter stops reaching the parquet scan, or a projection reads the
  * whole row. These assertions pin the plan shapes we designed for.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString

  test("q_j1: dimension joins broadcast; no dim-side shuffle exchange") {
    val p = plan("q_j1_join_multiway")
    assert(p.contains("BroadcastHashJoin"), "nation/region must broadcast")
  }

  test("q_a1: shipdate filter is pushed to the parquet scan") {
    val p = plan("q_a1_agg_pricing")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter must reach the scan:\n$p")
  }

  test("q_a1: scan reads only referenced columns (no full-row read)") {
    val p = plan("q_a1_agg_pricing")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"),
      s"column pruning failed: $readSchema")
  }

  test("q_a1: aggregation is two-phase (partial before shuffle)") {
    val p = plan("q_a1_agg_pricing")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "expect partial+final HashAggregate")
  }

  test("q_ann1: query side broadcasts; corpus is not shuffled for the join") {
    val p = plan("q_ann1_bruteforce_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"queries must broadcast against the corpus scan:\n$p")
  }

  test("q_j6_best_per_group: single window pass, no self-join") {
    val p = plan("q_j6_best_per_group")
    assert(p.contains("Window") || p.contains("WindowGroupLimit"))
    assert(!p.contains("SortMergeJoin"), "the anti-join rewrite must not reappear")
  }

  test("q_j6_best_per_group: rank filter pushes a group-limit below the shuffle") {
    // Spark 4's WindowGroupLimit turns rn=1 into a per-partition top-1
    // before the exchange — the thing that makes this beat the
    // reference's correlated NOT EXISTS at scale.
    val p = plan("q_j6_best_per_group")
    assert(p.contains("WindowGroupLimit"), s"expected WindowGroupLimit:\n$p")
  }

  test("q_tx2: text scan prunes to doc_id+text") {
    val p = plan("q_tx2_quality_score")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      s"should not read unused columns: $readSchema")
  }

  test("q_tx12: map-side signals — scan prunes to doc_id+text, no join/agg shuffle") {
    val p = plan("q_tx12_gopher_rules")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      s"should not read unused columns: $readSchema")
    // the only exchange is the presentation sort's range partitioning
    assert(!p.contains("HashAggregate") && !p.contains("Join"),
      s"per-doc signals must stay map-side:\n$p")
  }

  test("dedup family: no broadcast hints on O(corpus) frames") {
    // dd2's band table, dd4's shingle index, and dd5's bucketed corpus
    // all scale with N — a plan-level broadcast hint on any of them is
    // a driver OOM at 1 B docs. AQE may still broadcast at runtime when
    // a frame is actually small; that's a size decision, not a hint.
    for (n <- Seq("q_dd2_minhash_lsh", "q_dd5_embedding_dup")) {
      val qe = SparkEntry.queries(n)(spark, sf0001).queryExecution
      assert(!qe.analyzed.toString.contains("ResolvedHint"),
        s"$n must not carry a broadcast hint")
    }
    // dd4 hints exactly one frame: the over-cap (hot) shingle key set,
    // which is the Zipf head (stopword bigrams) — bounded, not
    // O(corpus). It appears twice in the analyzed tree because the
    // DF-capped `rare` frame feeds both sides of the candidate
    // self-join; both occurrences must sit directly on the df-filter
    // aggregate, never on a corpus-sized frame.
    val dd4 = SparkEntry.queries("q_dd4_ngram_jaccard")(spark, sf0001)
      .queryExecution.analyzed
    val hints = dd4.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.size == 2, s"expected the hot-set hint on both self-join sides:\n$dd4")
    assert(hints.forall(_.child.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
    }.exists(_.condition.toString.contains("df"))),
      s"every dd4 hint must be the df-capped hot-shingle set:\n$dd4")
  }

  test("q_dd4: DF computed by two-phase aggregate, not a whole-partition window") {
    // A window over (lang, source, shingle) has no partial aggregation:
    // every occurrence of the hottest shingle lands on one task BEFORE
    // the df<=cap filter runs — a straggler/OOM at 100 TB on exactly
    // the key the cap exists to neutralize. groupBy's map-side combine
    // absorbs the skew; this pins the aggregate form.
    val df = SparkEntry.queries("q_dd4_ngram_jaccard")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"dd4 DF must not use a window:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"dd4 DF must be a partial+final aggregate:\n$p")
  }

  test("q_dd7: candidate generation broadcasts the batch bands into the corpus scan") {
    // incremental dedup's contract: the corpus side is never shuffled
    // for candidate generation — the batch band table broadcasts
    val df = SparkEntry.queries("q_dd7_incremental_lsh")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"batch bands must broadcast:\n$p")
  }

  test("q_dc1: benchmark n-gram set broadcasts; corpus text is never shuffled") {
    val df = SparkEntry.queries("q_dc1_decontaminate")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"decontamination must broadcast-semi-join the eval grams:\n$p")
  }

  test("q_tx7: tf and df aggregations are both two-phase") {
    val p = plan("q_tx7_tfidf_keywords")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"tf and df must each be partial+final aggregates:\n$p")
  }

  test("q_rj1: range join runs as a bucket equi-join, never a cartesian") {
    val p = plan("q_rj1_range_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"range join must bucketize, not nested-loop:\n$p")
  }

  test("q_dd5: bucket equi-join — no cartesian over the corpus") {
    val p = plan("q_dd5_embedding_dup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"embedding near-dup must join on the LSH bucket key:\n$p")
  }

  test("q_mm5: perceptual dedup joins on the band key — no cartesian over the image set") {
    val p = plan("q_mm5_perceptual_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"perceptual near-dup must equi-join on the dHash band, not all-pairs:\n$p")
  }

  test("q_mm5b: both blocking configs and the anti-join stay equi-keyed — no cartesian") {
    val p = plan("q_mm5b_wide_recall")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the traded-recall difference must stay equi-join throughout:\n$p")
  }

  test("q_sp12: register window is PARTITIONED by shard — no single-partition corpus sort") {
    val p = plan("q_sp12_quantile_registers")
    // the construction window must carry the shard in its partition
    // spec; a global window here would funnel the corpus through one
    // task (the WindowExec warning class)
    assert(p.contains("Window"), p)
    assert(p.toLowerCase.contains("windowspecdefinition(shard"),
      s"shard must partition the register window: ${p.take(2000)}")
  }

  test("q_sp15: per-group registers never cartesian; windows keyed by (grp, shard)") {
    val p = plan("q_sp15_grouped_quantiles")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.toLowerCase.contains("grp"), s"group key must reach the window spec:\n$p")
  }

  test("q_a14: grouping sets run as Expand + two-phase aggregate") {
    val p = plan("q_a14_grouping_sets")
    assert(p.contains("Expand"), s"grouping sets must use the Expand operator: ${p.take(2000)}")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expect partial+final HashAggregate: ${p.take(2000)}")
  }

  test("q_cc10: LPA round joins stay keyed — no cartesian in the community plan") {
    val p = plan("q_cc10_communities")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"LPA rounds must join on vertex keys: ${p.take(2000)}")
  }

  test("q_ann1: cosine's three vec_dots codegen in one projection (no janino fallback)") {
    // cosine() expands to 3 VecDot calls in a single project; with a
    // non-fresh accumulator name the generated code fails to compile
    // and Spark silently interprets the stage — this pins the fix
    val df = SparkEntry.queries("q_ann1_bruteforce_topk")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), s"ANN scan stage must stay in whole-stage codegen:\n$p")
  }

  test("q_dd8: pair search joins on the cell key — no cartesian, no O(corpus) hint") {
    val qe = SparkEntry.queries("q_dd8_semantic_dedup")(spark, sf0001).queryExecution
    val p = qe.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      s"SemDeDup pairs must equi-join on the cluster cell:\n$p")
    // the only broadcast hints allowed are the trained centroids
    // (driver-created k-row frames) — never a corpus parquet scan
    val hints = qe.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.forall(_.child.collectFirst {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }.isEmpty), s"broadcast hints must only cover centroid frames:\n${qe.analyzed}")
    // (the constant-grp centroid join may compile to a nested loop over
    // the BROADCAST 16-row centroid frame — fine, same as q_ann1; the
    // CartesianProduct check above is what guards the corpus side)
  }

  test("q_dd9: the gram stream aggregates two-phase; the rank window sees only dup grams") {
    val p = plan("q_dd9_substring_spans")
    // duplicated-gram key set via partial+final aggregate (map-side
    // combine absorbs the Zipf head before any shuffle)
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"dup-gram DF must be a two-phase aggregate:\n$p")
    // exactly one rank window, above the semi-join (optimized-plan
    // structure pinned in SubstringDedupSpec; here: no second window)
    assert("Window".r.findAllIn(p).size <= 2, s"unexpected extra windows:\n$p")
  }

  test("q_s2/q_s3: sampling family stays off the corpus-wide single-task window") {
    // s2's only unpartitioned window runs over the 256-row group seam
    val s2 = SparkEntry.queries("q_s2_shuffle_shard")(spark, sf0001)
    val windows = s2.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    val global = windows.filter(_.partitionSpec.isEmpty)
    assert(global.size == 1 && global.head.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.nonEmpty, "s2's global window must sit on the per-group aggregate")
    // s3 is a pure projection: no exchange at all
    val s3 = SparkEntry.queries("q_s3_train_val_test")(spark, sf0001)
    val exchanges = s3.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty, "split assignment must be map-side only")
  }

  test("q_llm2: composed export keeps every corpus-wide window on a bounded group seam") {
    // split (map-side CASE) → pack (two-level prefix sum) → shard
    // (two-level rank): the only unpartitioned windows allowed in the
    // whole chain are the ones over per-group AGGREGATE seams (256-row
    // frames), never over corpus-sized rows
    val df = SparkEntry.queries("q_llm2_training_export")(spark, sf0001)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    val global = windows.filter(_.partitionSpec.isEmpty)
    assert(global.nonEmpty, "expected the prefix-sum group seams")
    global.foreach { w =>
      assert(w.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.nonEmpty, s"corpus-wide window without an aggregate seam beneath:\n$w")
    }
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"export chain must stay keyed:\n$p")
  }

  test("q_lm1: LM model joins broadcast; scoring stays map-side to one doc-keyed agg") {
    val p = plan("q_lm1_bigram_lm_score")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"unigram and bigram model tables must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"a 100 TB corpus must never shuffle for the model lookup:\n$p")
  }

  test("q_lm2: budget cumsum's only corpus-wide window sits on the per-band aggregate seam") {
    val df = SparkEntry.queries("q_lm2_budget_select")(spark, sf0001)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    val global = windows.filter(_.partitionSpec.isEmpty)
    assert(global.nonEmpty, "expected the band-offset seam window")
    global.foreach { w =>
      assert(w.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.nonEmpty, s"corpus-wide window without an aggregate seam beneath:\n$w")
    }
  }

  test("q_tx11: rare-token re-join is keyed by token and restricted to the rare tail") {
    val p = plan("q_tx11_rare_tokens")
    assert(p.contains("LeftSemi"), s"occurrences must semi-join the rare set:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"rarity join must stay keyed:\n$p")
  }

  test("q_s4: epoch upsampling is map-side only (CASE + bounded explode, no shuffle)") {
    val s4 = SparkEntry.queries("q_s4_epoch_mix")(spark, sf0001)
    val exchanges = s4.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // the gate's final orderBy adds a range exchange; nothing else may shuffle
    assert(exchanges.size <= 1, s"upsampling must not shuffle:\n${exchanges.mkString}")
  }

  test("q_ann11: float re-rank join is keyed on the broadcast shortlist — no corpus scan join") {
    // the shortlist is localCheckpointed, so this plan is EXACTLY the
    // serving query: both its joins (shortlist→floats, →queries) must
    // be broadcast — any SortMergeJoin here would be a corpus shuffle
    // of the float table, the exact regression this audit guards
    val df = SparkEntry.queries("q_ann11_ivfpq_rerank")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"shortlist must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the float fetch must not shuffle the vector store:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"re-rank must never cross-join the corpus:\n$p")
  }

  test("q_dd11: batch buckets broadcast into the corpus scan; no corpus self-join") {
    // incremental embedding dedup's contract (same as dd7's): the
    // corpus is never shuffled for candidate generation — the batch
    // bucket tables carry the broadcast
    val df = SparkEntry.queries("q_dd11_incremental_embedding")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"batch buckets must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"neither candidate generation nor verify may shuffle the corpus:\n$p")
    assert(!p.contains("CartesianProduct"), s"no corpus cartesian:\n$p")
  }

  test("q_sk1: salted aggregation runs as two two-phase aggregates") {
    // stage 1 groups by (key, salt) — a hot key spreads across `salts`
    // tasks; stage 2 re-aggregates ≤ salts rows per key. Each stage is
    // itself partial+final, so the plan carries 4 HashAggregates.
    val p = plan("q_sk1_salted_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"expected two two-phase aggregates:\n$p")
  }

  test("q_bpe3: vocabulary segmentation broadcasts into the corpus scan") {
    // training ran eagerly (localCheckpoint), so this plan is ONLY the
    // application query: one scan + explode + a single broadcast join
    // of the vocab map — no shuffle join anywhere
    val df = SparkEntry.queries("q_bpe3_corpus_tokens")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"vocab map must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the corpus must never shuffle on the word key:\n$p")
  }

  test("q_sp1: KMV sketch aggregates two-phase (partial sketches combine map-side)") {
    val df = SparkEntry.queries("q_sp1_kmv_distinct")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"KMV must partial-aggregate before the shuffle:\n$p")
  }

  test("q_sp2: CMS probe joins broadcast the fixed-size cell table") {
    // the sketch is d·w rows regardless of corpus size — every probe
    // join must be a broadcast; a SortMergeJoin would shuffle the
    // probe stream on sketch buckets for no reason
    val df = SparkEntry.queries("q_sp2_cms_wordfreq")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"cells must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"no probe-side shuffle joins:\n$p")
  }

  test("q_s5: weighted sample runs as TakeOrdered top-k, not a global sort") {
    val df = SparkEntry.queries("q_s5_weighted_sample")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must not globally sort the corpus:\n$p")
  }

  test("q_sp8: bloom probe is broadcast-only with a single probe-side scan") {
    val df = SparkEntry.queries("q_sp8_bloom_semi")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"bloom lookups and the truth flag must broadcast:\n$p")
    // one flagged pass: lineitem appears once in the plan
    assert("lineitem".r.findAllIn(p).size <= 2, // scan node + its stats line
      s"the probe funnel must scan lineitem once:\n$p")
  }

  test("q_dc3: benchmark grams broadcast; the cut adds no rank window") {
    val df = SparkEntry.queries("q_dc3_contamination_cut")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"bench grams must broadcast:\n$p")
    assert(!p.contains("Window"), // flagging is a semi-join, not a ranking
      s"benchmark flagging needs no window:\n$p")
  }

  test("q_lm4: KN model lookups broadcast; no corpus shuffle for scoring") {
    val p = plan("q_lm4_kneser_ney")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"context/bigram/continuation model tables must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"a 100 TB corpus must never shuffle for the model lookup:\n$p")
  }

  test("q_ann13: queries broadcast against one projected-corpus scan; no SMJ") {
    val p = plan("q_ann13_jl_projection")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the 8-query probe set must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus must not shuffle for the shortlist:\n$p")
  }

  test("q_ann14: SQ8 codes are a literal-array projection; queries broadcast, no SMJ") {
    val p = plan("q_ann14_sq8")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the 8-query probe set must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus must not shuffle for the code-space shortlist:\n$p")
  }

  test("q_bpe5: fertility vocab map broadcasts into the corpus scan") {
    val p = plan("q_bpe5_fertility")
    assert(p.contains("BroadcastHashJoin"), s"vocab must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus word stream must never shuffle for the vocab join:\n$p")
  }

  test("q_dd13/q_dd15: bag dedup stays one keyed shuffle — no joins") {
    for (n <- Seq("q_dd13_bag_dedup", "q_dd15_best_keeper")) {
      val p = plan(n)
      assert(!p.contains("Join"), s"$n must not join:\n$p")
    }
    // dd15's rank-1 pushes a per-partition group limit below the shuffle
    assert(plan("q_dd15_best_keeper").contains("WindowGroupLimit"))
  }

  test("q_tx13: novelty re-join is keyed, never cartesian or broadcast-hinted") {
    val qe = SparkEntry.queries("q_tx13_novelty")(spark, sf0001).queryExecution
    assert(!qe.analyzed.toString.contains("ResolvedHint"),
      "the gram frame is O(corpus) — no broadcast hint")
    assert(!qe.executedPlan.toString.contains("CartesianProduct"))
  }

  test("q_sp9: sliding windows via bounded explode — no range join, no BNL") {
    val p = plan("q_sp9_kmv_sliding")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the trailing-window merge must be the equi-aggregation rewrite:\n$p")
  }

  test("q_s7/q_s8: per-group ranks run banded — no unpartitioned corpus window") {
    for (n <- Seq("q_s7_temperature_mix", "q_s8_curriculum")) {
      val windows = SparkEntry.queries(n)(spark, sf0001)
        .queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
        }
      val global = windows.filter(_.partitionSpec.isEmpty)
      // only the band-aggregate seams may be unpartitioned, and each
      // sits on an Aggregate (reduced frame), never the corpus scan
      global.foreach { w =>
        assert(w.collectFirst {
          case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
        }.nonEmpty, s"$n: global window must sit on the reduced band frame")
      }
    }
  }

  test("q_llm3: DSIR models broadcast inside the composed chain; no cartesian") {
    val p = plan("q_llm3_mix_pipeline")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"target/raw model lookups must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_z2: Hilbert key is computed on the scan — no join, no aggregate before the sort") {
    val p = plan("q_z2_hilbert_key")
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      s"the key must be a pure projection chain:\n$p")
  }

  test("q_lm7: both DSIR model lookups broadcast; no corpus shuffle for scoring") {
    val p = plan("q_lm7_dsir")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"target and raw bigram models must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"a 100 TB corpus must never shuffle for the model lookup:\n$p")
  }

  test("q_lm6: all five trigram-KN model lookups broadcast; no corpus shuffle") {
    val p = plan("q_lm6_trigram_kneser_ney")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 5,
      s"context/trigram/pair/middle/last model tables must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"a 100 TB corpus must never shuffle for the model lookup:\n$p")
  }

  test("q_j13: fuzzy blocking is an equi-join on the variant key, never a cartesian") {
    val p = plan("q_j13_fuzzy_blocked")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"wildcard blocking must candidate via equi-join:\n$p")
  }

  test("q_ev7: every islands window is user-partitioned, never a corpus-wide single task") {
    val df = SparkEntry.queries("q_ev7_islands")(spark, sf0001)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty)
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "lag/running-sum must co-partition on user_id")
  }

  test("q_cc9: co-occurrence build is order-keyed, never a cartesian") {
    val p = plan("q_cc9_cooccurrence")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"basket pairs must come from the orderkey equi-join:\n$p")
  }

  test("q_dc4: eval-set candidate generation broadcasts; no corpus-corpus join") {
    val p = plan("q_dc4_semantic_decontamination")
    assert(p.contains("BroadcastHashJoin"),
      s"the (small) eval bucket tables must broadcast into the corpus scan:\n$p")
    assert(!p.contains("CartesianProduct"), s"no all-pairs compare:\n$p")
  }

  test("no gate materializes an O(corpus) frame: every LogicalRDD leaf is a bounded artifact") {
    // localCheckpoint / collected-and-reparallelized frames appear as
    // LogicalRDD leaves: pinned executor blocks with TRUNCATED lineage
    // (an executor loss mid-run kills the job instead of recomputing)
    // that survive catalog.clearCache(). That is only acceptable for
    // BOUNDED artifacts — trained models, codebooks, vocab tables,
    // per-group seams — never for corpus-sized data (q_lm3 once
    // checkpointed every scored document; it persists DISK_ONLY now).
    // Iterative graph gates are exempt: per-round lineage truncation is
    // the standard design there (recompute would be exponential in
    // rounds) and their state is the derived edge set, not the corpus.
    val exempt = Set("q_cc1_components", "q_cc2_components_star",
      "q_cc3_triangles", "q_cc4_pagerank", "q_cc5_kcore",
      "q_cc6_coreness", "q_cc7_bfs_hops", "q_cc8_trustrank",
      "q_cc10_communities", "q_dd10_dup_clusters",
      // q_o6's LogicalRDD is Ids.globalRowNumber's zipWithIndex hop —
      // lazy lineage (range exchange → in-partition sort → offset map)
      // that RECOMPUTES on re-execution; nothing is pinned or
      // checkpointed. The RDD hop is the documented carve-out that
      // welds the offset job and the result job to one partition
      // assignment (Ids.scala scaladoc).
      "q_o6_global_ids_partitioned")
    val bounded: Set[Set[String]] = Set(
      Set("bucket", "kind", "cnt"),               // hashed LM models, ≤ 4·B+1 rows
      Set("bucket", "cnt_t", "cnt_b"),            // quality-classifier model, ≤ B rows
      Set("grp", "cent_id", "cvec"),              // k-means codebooks, groups·k rows
      Set("query_id", "vec_id"),                  // ANN re-rank shortlist, O(queries·R)
      Set("word", "rem", "pos", "bl"),            // MaxMatch vocab table, O(|vocab|)
      Set("source", "n_docs", "n_tokens", "__s", "mean_score", "__w"), // lm5 domains, O(#sources)
      Set("mg", "__n"),                           // Misra–Gries summary, ≤ k rows
      Set("vec_id", "embedding", "sel_rank"),     // k-center chosen set, ≤ k rows
      Set("shard", "rn", "q", "w"))               // quantile registers, ≤ shards·K rows
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(exempt)
      .flatMap { n =>
        SparkEntry.queries(n)(spark, sf0001).queryExecution.analyzed.collect {
          case r: org.apache.spark.sql.execution.LogicalRDD => r.schema.fieldNames.toSet
        }.distinct
          // q_sp5's one-row profile leaf carries table-specific column
          // names (<col>__n/__nulls/__sk/__min/__max) — match by shape
          .filterNot(s => s.nonEmpty && s.forall(f => f.contains("__")))
          .filterNot(bounded)
          .map(s => s"$n :: ${s.toSeq.sorted.mkString(",")}")
      }
    assert(offenders.isEmpty,
      s"unexpected materialized leaves (corpus-sized checkpoint?):\n${offenders.mkString("\n")}")
  }

  test("the import commit path materializes nothing: no LogicalRDD leaf in any output plan") {
    // the r7 weak item: GisaidImport localCheckpointed all three outputs
    // at the commit point (O(table) executor-pinned blocks, double
    // write). The staged multi-table swap makes that unnecessary — the
    // output plans must now be pure lazy compositions over the inputs.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("import-plan-")
    val (feedPath, existing) = graft.jobs.GisaidImport.demoFeedAndExisting(spark, dir)
    val ids = Seq((16160L, "EPI_ISL_OLD", "existing")).toDF("ethid", "gisaid_id", "note")
    // a first commit, so the plan below merges with a live mutation
    // table instead of writing the fresh calls alone
    graft.jobs.GisaidImport.run(spark, feedPath, existing, ids, s"$dir/tables")
    val (plan, report, _) =
      graft.jobs.GisaidImport.plan(spark, feedPath, existing, ids, s"$dir/tables")
    assert(report.processed > 0)
    // wave 2, the mutation merge, both self-contained and as the commit
    // builds it: over a parquet read of the sequence table
    val outputs = plan.selfContained ++
      plan.wave2(n => graft.core.TableIO.read(spark, s"$dir/tables/$n"))
    assert(outputs.map(_._1).toSet == Set("gisaid_api_sequence",
      "gisaid_api_sequence_mutation", "sequence_identifier"))
    outputs.foreach { case (name, df) =>
      val leaves = df.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.schema.fieldNames.toSeq.sorted
      }
      assert(leaves.isEmpty,
        s"import output $name carries materialized leaves: ${leaves.mkString("; ")}")
    }
  }

  test("whole-stage codegen covers the scalar pipeline queries") {
    // AQE prints codegen spans only in the finalized plan — collect()
    // executes this exact queryExecution (write/count would clone it)
    val df = SparkEntry.queries("q_p2_case_when_buckets")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // codegen'd stages print as "*(n)" prefixes in the final plan
    assert(p.contains("*(1)"), s"scalar pipeline must stay in codegen:\n$p")
  }

  test("no gate plans a quadratic tail frame: bounded-lower + UNBOUNDED FOLLOWING survives nowhere unexempted") {
    // Spark's UnboundedFollowingWindowFunctionFrame recomputes per row
    // — O(n²) per window partition, the cliff TailFrameRewrite exists
    // to remove (SCALING.md: 96.7 s vs 0.47 s on one sf0.1 shape). A
    // full-partition frame (UNBOUNDED..UNBOUNDED) is computed once and
    // is FINE, so this inspects Window nodes structurally instead of
    // string-matching the plan. Any gate whose OPTIMIZED plan still
    // carries the hazard shape is either a bug (a population generated
    // the shape the rewrite can't fix and nobody noticed) or a
    // documented exemption.
    import org.apache.spark.sql.catalyst.expressions.{Alias, SpecifiedWindowFrame, UnboundedFollowing, UnboundedPreceding, WindowExpression, WindowSpecDefinition}
    import org.apache.spark.sql.catalyst.plans.logical
    // q_fz19 is the error-agreement population: its Long-child tail
    // arms are EXEMPT BY DESIGN — under ANSI the rewrite must refuse
    // them (error suppression, the round-11 weak mark), and each is
    // either a 3-row VALUES fixture or an overflow arm that raises
    // within its first few accumulated rows.
    val exempt = Set("q_fz19_error_fuzz")
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(exempt)
      .flatMap { n =>
        SparkEntry.queries(n)(spark, sf0001).queryExecution.optimizedPlan.collect {
          case w: logical.Window =>
            w.windowExpressions.collect {
              case Alias(WindowExpression(fn, WindowSpecDefinition(_, _,
                  SpecifiedWindowFrame(_, lower, UnboundedFollowing))), _)
                  if lower != UnboundedPreceding =>
                s"$n :: $fn OVER (… $lower AND UNBOUNDED FOLLOWING)"
            }
        }.flatten
      }
    assert(offenders.isEmpty,
      s"quadratic tail frames in gate plans:\n${offenders.mkString("\n")}")

    // would-catch control: the same collector MUST flag a planted
    // hazard (a Long-sum tail frame the ANSI guard correctly refuses
    // to rewrite) — proving the audit has teeth, not a vacuous match
    import org.apache.spark.sql.functions._
    val planted = spark.read.parquet(s"$sf0001/orders.parquet")
      .select(col("o_orderkey"),
        sum(col("o_custkey")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_orderstatus")).orderBy(col("o_orderkey"))
          .rowsBetween(-3, org.apache.spark.sql.expressions.Window.unboundedFollowing))
          .as("s"))
    val caught = planted.queryExecution.optimizedPlan.collect {
      case w: logical.Window =>
        w.windowExpressions.collect {
          case Alias(WindowExpression(_, WindowSpecDefinition(_, _,
              SpecifiedWindowFrame(_, lower, UnboundedFollowing))), _)
              if lower != UnboundedPreceding => 1
        }
    }.flatten
    assert(caught.nonEmpty, "the audit collector failed to flag a planted hazard frame")
  }
}
