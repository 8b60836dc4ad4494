package graft

import org.scalatest.funsuite.AnyFunSuite

/** Regression tests for the plans themselves — the 100 TB invariants the
  * repo's design rests on. A refactor that silently turns a broadcast
  * join into a shuffle join, or a top-k into a global sort, would pass
  * every correctness test and still be wrong at scale; these assertions
  * pin the plan shapes. */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** AQE only materializes its final plan (incl. codegen stages) after an
    * action, so execute first, then read the same QueryExecution back. */
  private def finalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort") {
    assert(plan("q_topk").contains("TakeOrderedAndProject"))
  }

  test("per-group top-k uses WindowGroupLimit pruning") {
    assert(plan("q_cosine_topk").contains("WindowGroupLimit"))
  }

  test("rrf fusion: both arms reduce via TakeOrderedAndProject before " +
      "any global window ranks the 100-row lists") {
    val p = plan("q_rrf")
    // each arm's corpus-wide reduction is a distributed heap-k; the
    // single-partition Window (row_number) must sit ABOVE a limit, so
    // it only ever sees RrfDepth rows regardless of corpus size
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 2,
      s"an rrf arm global-sorts the corpus:\n${p.take(600)}")
  }

  test("dimension joins broadcast (no shuffle on the small side)") {
    assert(plan("q_left_join").contains("BroadcastHashJoin"))
    assert(plan("q_band_join").contains("BroadcastNestedLoopJoin")) // non-equi
  }

  test("centroid similarity: partial aggregation before the (source, " +
      "dim) exchange; the pairwise join is broadcast, not shuffled") {
    val p = finalPlan("q_centroid_sim")
    // the corpus-wide reduction must combine map-side — the exchange
    // carries |sources| x dims partial sums, never exploded rows
    assert(p.contains("partial_sum"), s"no map-side combine:\n${p.take(600)}")
    // |sources|-row centroid table pairs via broadcast (non-equi a<b)
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"centroid pair join shuffles:\n${p.take(600)}")
  }

  test("filters reach the parquet scan as pushed filters") {
    val p = plan("q_agg_pricing")
    assert(p.contains("PushedFilters: [IsNotNull"), p.linesIterator
      .filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("events time-range predicates push bounds on ts to the scan") {
    // Without bounds on the bare column the date filter compares a
    // computed expression and pushes nothing, i.e. a day-slice query
    // becomes a full-table scan at 100 TB. Nanos-generation data gets
    // inclusive bounds from NanosRangePushdown; native-timestamp data
    // gets Spark's own exclusive rewrite — either way both ends must
    // reach PushedFilters.
    val pushed = plan("q_filter_range").linesIterator
      .filter(_.contains("PushedFilters")).mkString("\n")
    assert(pushed.contains("GreaterThanOrEqual(ts,"), pushed)
    assert(pushed.contains("LessThanOrEqual(ts,") ||
      pushed.contains("LessThan(ts,"), pushed)
  }

  test("column pruning: projection-only query reads only selected columns") {
    val p = plan("q_project")
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(readSchema.contains("l_orderkey"))
    assert(!readSchema.contains("l_extendedprice"),
      s"unused column not pruned: $readSchema")
  }

  test("whole-stage codegen covers the scan->filter->project pipeline") {
    // codegen'd operators carry the `*(stageId)` marker in the final plan
    assert(finalPlan("q_filter_isin").contains("*(1)"))
  }

  test("ks-drift: ONE documents scan — the global grid derives from " +
      "the per-source histogram, not a second corpus read") {
    // r11 flagged mild drift on q_ks_drift; the attribution was a
    // second full corpus scan feeding the global length histogram.
    // The histogram now folds out of the (source, n_chars) aggregate,
    // so at 100 TB the query reads the corpus exactly once.
    // AQE's executedPlan string appends an "== Initial Plan ==" section
    // that duplicates every node — count only the final plan
    val p = finalPlan("q_ks_drift").split("== Initial Plan ==").head
    val scans = "FileScan parquet".r.findAllIn(p).length
    val reused = "ReusedExchange".r.findAllIn(p).length
    assert(scans == 1, s"q_ks_drift scans documents $scans times:\n" +
      p.linesIterator.filter(_.contains("FileScan parquet")).mkString("\n"))
    assert(reused >= 1, "srcHist exchange not reused across consumers")
  }

  test("ks-drift: documents.source is non-null at every oracle tier, " +
      "so the global grid's isNotNull rewrite is provably a no-op") {
    // ADVICE r12: the r12 ks-drift rewrite derives the global length
    // grid from the per-source histogram, which excludes NULL-source
    // rows — and the DuckDB oracle was changed in lockstep, so the
    // parity gate could not catch a semantic change if source were
    // ever null. Pin the data contract the rewrite rests on.
    for (tier <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val nulls = spark.read
        .parquet(s"/root/testdata/$tier/documents.parquet")
        .filter(org.apache.spark.sql.functions.col("source").isNull)
        .count()
      assert(nulls == 0L,
        s"$tier/documents has $nulls null-source rows; q_ks_drift's " +
          "histogram-derived global grid silently drops them — " +
          "revisit CorpusStatsQueries' grid derivation AND its oracle")
    }
  }

  test("dedup family: no cartesian product anywhere in the LSH topology") {
    // every pairwise step must join on a bucket key (shingle, band+sig,
    // label, cell) — a CartesianProduct would mean an all-pairs blow-up
    // BroadcastNestedLoopJoin is the same O(n*m) comparison with a
    // broadcast coat — reject both (a non-equi-keyed refactor plans BNLJ
    // when one side fits the broadcast threshold)
    for (q <- Seq("q_dedup_minhash", "q_dedup_ngram",
        "q_ann_bucket", "q_minhash_est")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q went all-pairs:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q pairs without an equi key:\n$p")
    }
    // q_dedup_embed blocks on (label, IVF cell): its only unkeyed join
    // is the k-row broadcast centroid assignment (the IVF contract,
    // same as q_ivf_probe2); the corpus-sized pair join must stay keyed
    val pe = plan("q_dedup_embed")
    assert(!pe.contains("CartesianProduct"), s"q_dedup_embed went all-pairs:\n$pe")
    assert(pe.contains("BroadcastHashJoin") || pe.contains("SortMergeJoin") ||
      pe.contains("ShuffledHashJoin"), s"pair join lost its equi key:\n$pe")
  }

  test("no forced broadcast hints on corpus-proportional sides") {
    // A broadcast() hint on a side that grows with the corpus (dedup
    // victims, LSH candidate pairs, dup members, the LM model tables)
    // forces a driver collect that dies on maxResultSize/OOM at 100 TB.
    // These four queries must carry NO join hint at all — the optimized
    // logical plan decides from statistics (and AQE re-decides at
    // runtime), so a genuinely small side still broadcasts at sf0.1
    // while the same plan degrades gracefully to a shuffle join at scale.
    // q_left_join/q_inner_join/q_join_topn: customer is sf-proportional
    // (15k rows at sf0.1 -> 1.5M at 10x) — same rule applies to the
    // TPC-H core joins, with AQE still free to broadcast at test scale
    // (asserted above in "dimension joins broadcast").
    for (q <- Seq("q_dedup_keep", "q_minhash_est", "q_dup_rate_source",
        "q_left_join", "q_join_topn")) {
      val lp = SparkEntry.queries(q)(spark, sf)
        .queryExecution.optimizedPlan.toString
      assert(!lp.toLowerCase.contains("hint"),
        s"$q still carries a forced join hint:\n$lp")
    }
    // q_lm_score (r17): its two model joins are SIZE-GATED, not
    // blanket — broadcast() is applied iff the materialized model's
    // MEASURED row count is under the documented threshold
    // (TrainingQueries.ModelBroadcastMaxRows), so at real-corpus vocab
    // the hints are absent by construction and the plan degrades to
    // the shuffle join this audit protects. At test scale the model is
    // ~1k rows, so exactly the two model-side hints must appear — as
    // the optimized Join's `strategy=broadcast` hint, not any "hint"
    // substring of the plan text.
    val lm = SparkEntry.queries("q_lm_score")(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert("strategy=broadcast".r.findAllIn(lm).length == 2,
      s"q_lm_score must broadcast exactly its two size-gated model " +
        s"sides at test scale:\n$lm")
    // q_inner_join keeps exactly one hint — the fixed 25-row nation
    // table (scale-invariant, safe); the customer side must be unhinted.
    val ij = SparkEntry.queries("q_inner_join")(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert("hint".r.findAllIn(ij.toLowerCase).length <= 1,
      s"q_inner_join hints more than the nation side:\n$ij")
  }

  test("novelty: keyed shuffles only — no pair join, no window, no cartesian") {
    // novelty needs each shingle's document frequency, never who shares
    // it: a refactor through the pair table would turn the linear pass
    // into O(candidates)
    val p = plan("q_novelty")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("nearest-dup: top-1 is WindowGroupLimit-pruned over the candidate stream") {
    val p = plan("q_nearest_dup")
    assert(p.contains("WindowGroupLimit"), s"argmax not pruned:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ivf recall audit: no cartesian; both top-5 sides window-pruned") {
    // the only unkeyed joins are the |Q|-row broadcast query set and
    // the k-row centroid table (the IVF contract); candidates join on
    // cell, and both rankings prune through WindowGroupLimit
    val p = plan("q_ivf_recall")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("WindowGroupLimit"), s"top-5 not pruned:\n$p")
  }

  test("entropy is two keyed shuffles, no window, no cartesian") {
    // (doc_id, word) counts then doc_id totals — both map-side
    // combinable HashAggregates; a window or cartesian here would make
    // the linear pass super-linear at scale
    val p = finalPlan("q_entropy")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("round-8 wave: top-k/limit shapes, single-pass windows, no hints") {
    // PMI: limit-20 compiles to TakeOrderedAndProject, and no join hint
    // is forced anywhere (the unigram sides are vocab-proportional — AQE
    // decides broadcast vs shuffle per scale)
    val pmi = plan("q_pmi")
    assert(pmi.contains("TakeOrderedAndProject"), pmi.take(400))
    val pmiLogical = SparkEntry.queries("q_pmi")(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(!pmiLogical.toLowerCase.contains("hint"), pmiLogical.take(400))
    // EWMA: the 16-term lag ladder fuses into ONE Window operator (one
    // shuffle + one sort over the daily aggregate, not sixteen)
    val ewma = plan("q_ewma")
    assert("Window \\[".r.findAllIn(ewma).length == 1, ewma.take(400))
    // dim-energy: label aggregate is map-side combinable
    assert(plan("q_dim_energy").contains("partial_"),
      "per-label energy aggregate lost its partial (map-side) phase")
  }

  test("exact-percentile family runs on histograms — no value-buffer " +
      "aggregate anywhere") {
    // Spark's exact `percentile` holds a value→count map per group in
    // ONE aggregation buffer — O(distinct values) executor heap on a
    // continuous domain at 100 TB. These queries must compute their
    // percentiles from the (group, value, count) histogram
    // (ExactPercentile): the plan carries Window + aggregates, and the
    // Percentile aggregate function appears NOWHERE.
    // q_approx_percentile's EXACT comparator side also rides the
    // histogram (its GK sketch prints as percentile_approx — the
    // "percentile(" literal below does not match it)
    Seq("q_percentile", "q_median_group", "q_len_trim", "q_mad_outlier",
      "q_daily_p95", "q_approx_percentile")
      .foreach { q =>
        val lp = SparkEntry.queries(q)(spark, sf)
          .queryExecution.optimizedPlan.toString
        assert(!lp.contains("percentile("),
          s"$q regressed to the exact-percentile value-buffer aggregate")
        assert(lp.contains("Window") || lp.contains("window"),
          s"$q lost its histogram cumsum window")
      }
  }

  test("pii scrub: row-local map pass behind the fan-out, map-side combine") {
    // r16: the regex battery fans the narrow one-row-group scan out to
    // core width first (fanoutIfNarrow — hash on doc_id, no-op on wide
    // scans), then stays a map pass: exactly THREE Exchanges total —
    // the fan-out, the per-source hash agg (with a partial phase ahead
    // of it), and the final presentation sort. A fourth exchange means
    // the scrub left its stage.
    // <= 3, not == 3 (ADVICE r16 #4): on a multi-row-group fixture or
    // a narrower box the fan-out is a designed NO-OP and the plan has
    // one exchange fewer — a range keeps the audit about the scrub
    // staying a map pass, not about the fixture's file layout
    val p = plan("q_pii_scrub")
    val nEx = "Exchange".r.findAllIn(p).length
    assert(nEx >= 2 && nEx <= 3, s"expected 2-3 exchanges, got $nEx: " +
      p.take(600))
    assert(p.contains("partial_"),
      "per-source scrub aggregate lost its partial (map-side) phase")
  }

  test("fuzzy verify: equi-keyed joins only, no hint, no cartesian") {
    // candidates come from the df-capped shingle equi-join; the two
    // prefix lookups join on doc_id. Any cartesian or forced hint means
    // the verify stage stopped being O(candidates).
    val p = finalPlan("q_fuzzy_verify")
    assert(!p.contains("CartesianProduct"), p)
    val lp = SparkEntry.queries("q_fuzzy_verify")(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(!lp.toLowerCase.contains("hint"), lp)
  }

  test("multi-probe IVF: candidates join on cell (keyed), top-k window-pruned") {
    val p = plan("q_ivf_probe2")
    // the only unkeyed joins are against the k-row centroid table
    // (broadcast, k << N — the IVF contract); the corpus-sized candidate
    // join must be hash-keyed on cell, and no CartesianProduct anywhere
    assert(!p.contains("CartesianProduct"), s"q_ivf_probe2 went all-pairs:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("SortMergeJoin"), s"candidate join lost its equi key:\n$p")
    assert(p.contains("WindowGroupLimit"), s"top-k not window-pruned:\n$p")
  }

  test("tfidf broadcasts the scalar doc count, not the term table") {
    val p = plan("q_tfidf")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"scalar N should broadcast:\n$p")
  }

  test("chunking is row-local: no hash exchange before the output sort") {
    // split + sequence + explode never shuffles; the only exchange is the
    // deterministic output orderBy (rangepartitioning, oracle contract)
    val p = plan("q_chunk")
    assert(!p.contains("Exchange hashpartitioning"),
      s"chunking should not shuffle data:\n$p")
  }

  test("bigram/cooccur top-k: TakeOrderedAndProject with partial counts") {
    for (q <- Seq("q_bigram", "q_cooccur")) {
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q global-sorts:\n$p")
      assert(p.contains("partial_count") || p.contains("HashAggregate"),
        s"$q lost map-side partial aggregation:\n$p")
    }
  }

  test("zscore plans ONE data shuffle shared by all three moment windows") {
    val p = plan("q_zscore")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx:\n$p")
  }

  test("srp bucketing is row-local: one hash exchange (the bucket groupBy)") {
    val p = plan("q_srp_bucket")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx:\n$p")
    assert(!p.contains("CartesianProduct"), s"plane join went cartesian:\n$p")
  }

  test("srp ANN: candidates join on (table, bucket), top-k window-pruned") {
    val p = plan("q_srp_ann")
    assert(!p.contains("CartesianProduct"), s"q_srp_ann went all-pairs:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"q_srp_ann pairs without an equi key:\n$p")
    assert(p.contains("WindowGroupLimit"), s"top-k not window-pruned:\n$p")
  }

  test("span-clean: every join equi-keyed (hash / doc+position), no cartesian") {
    val p = plan("q_span_clean")
    assert(!p.contains("CartesianProduct"), s"q_span_clean went all-pairs:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"q_span_clean joins without an equi key:\n$p")
  }

  test("funnel stages join keyed on user_id (no cartesian, no event-list collect)") {
    val p = plan("q_funnel")
    assert(!p.contains("CartesianProduct"), s"funnel went all-pairs:\n$p")
    assert(p.contains("Join") && p.contains("user_id"),
      s"stage joins lost their user_id key:\n$p")
    assert(!p.contains("collect_list"), s"funnel collects event lists:\n$p")
    // each stage's event_type filter must reach the parquet scan — a
    // funnel that scans all events per stage reads the table 3x harder
    assert(p.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,"),
      p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("rebalance broadcasts the rate table; acceptance is per-row") {
    val p = plan("q_rebalance")
    assert(p.contains("BroadcastHashJoin"), s"rate join should broadcast:\n$p")
  }

  test("ntile profile: no per-row global sort; single-partition exchanges only above aggregates") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    val df = SparkEntry.queries("q_ntile")(spark, sf)
    // sparkPlan predates EnsureRequirements (no exchanges yet); unwrap the
    // AQE node to see the physical plan with exchanges inserted
    val p = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val ps = p.toString
    // the decile profile must come from the length histogram, never a
    // per-row ntile window (= one task sorting the whole corpus)
    assert(!ps.contains("ntile("), s"per-row ntile window remains:\n$ps")
    val singles = p.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
    }
    assert(singles.nonEmpty, "expected the histogram cumulative window")
    singles.foreach { e =>
      assert(e.child.collectFirst { case a: BaseAggregateExec => a }.isDefined,
        s"single-partition exchange over unaggregated (corpus-sized) data:\n$ps")
    }
  }

  test("drift monitors: windows over aggregates only; ks grid side " +
      "broadcasts") {
    // q_cusum's two stacked windows run over the per-(type, day)
    // aggregate; q_ks_drift's grid x sources expansion must broadcast
    // the bounded dimension sides and keep every single-partition
    // window above the histogram aggregate — never over corpus rows
    singlePartitionsOnlyAboveAggregates("q_cusum")
    singlePartitionsOnlyAboveAggregates("q_ks_drift")
    singlePartitionsOnlyAboveAggregates("q_budget_fill")
    val ks = plan("q_ks_drift")
    assert(ks.contains("BroadcastHashJoin") ||
      ks.contains("BroadcastNestedLoopJoin"),
      s"ks grid/source/totals sides lost their broadcast:\n${ks.take(600)}")
    assert(!ks.contains("CartesianProduct"), "ks went all-pairs")
  }

  test("bm25: dimension sides broadcast, no cartesian on data") {
    // df (3 rows) and the corpus totals (1 row) must broadcast; the
    // only nested-loop joins allowed are those 1-3-row scalar sides
    val p = plan("q_bm25")
    assert(!p.contains("CartesianProduct"), "bm25 went all-pairs")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"bm25 lost its broadcasts:\n${p.take(600)}")
    singlePartitionsOnlyAboveAggregates("q_bm25")
  }

  test("silhouette: scoring pass broadcasts the k centroids; top-2 is " +
      "window-group-limited") {
    val p = plan("q_silhouette")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"centroid side lost its broadcast:\n${p.take(600)}")
    assert(p.contains("WindowGroupLimit"),
      "per-vector top-2 lost its WindowGroupLimit pruning")
  }

  test("gopher filter is row-local behind the fan-out: one hash exchange") {
    // every flag derives from the split-token array in place; r16 fans
    // the narrow one-row-group scan out to core width first
    // (fanoutIfNarrow on doc_id — no-op on wide scans), so the plan is
    // exactly ONE hash exchange (the fan-out) + the output orderBy
    // (rangepartitioning); a second hash exchange means a rule stopped
    // being row-local
    // <= 1, not == 1 (ADVICE r16 #4): the fan-out is a designed no-op
    // on wide scans, so a regenerated multi-row-group fixture would
    // legitimately plan ZERO hash exchanges here
    val p = plan("q_gopher")
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 1,
      s"gopher rules should not shuffle data beyond the fan-out:\n$p")
    assert(!p.contains("Generate"), s"gopher should not explode tokens:\n$p")
  }

  /** The q_ntile invariant: any single-partition exchange must sit above
    * an aggregate (bounded rows), never above corpus-sized data. */
  private def singlePartitionsOnlyAboveAggregates(name: String): Unit = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    val df = SparkEntry.queries(name)(spark, sf)
    val p = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    p.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
    }.foreach { e =>
      assert(e.child.collectFirst { case a: BaseAggregateExec => a }.isDefined,
        s"$name: single-partition exchange over unaggregated data:\n$p")
    }
  }

  test("mix weights: one corpus scan, one keyed shuffle; normalizer windows the aggregate") {
    // token counting is row-local, ONE groupBy(source) shuffle; the
    // normalizing totals come from a global window over the ~|sources|
    // AGGREGATE (the q_ntile pattern) — a cross-joined one-row aggregate
    // would duplicate the subtree and scan the corpus twice
    val p = plan("q_mix_weights")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx:\n$p")
    assert("FileScan parquet".r.findAllIn(p).length == 1,
      s"corpus scanned more than once:\n$p")
    singlePartitionsOnlyAboveAggregates("q_mix_weights")
  }

  test("dsir: keyed shuffles only; model joins on bucket; no cartesian; one token scan per side") {
    // the model is O(buckets) rows — its join to the doc-bucket counts
    // must stay equi-keyed on b; totals window the 256-row model table
    val p = plan("q_dsir")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"model join lost its equi key:\n$p")
    singlePartitionsOnlyAboveAggregates("q_dsir")
  }

  test("mad outlier: every join equi-keyed on event_type; no cartesian") {
    val p = plan("q_mad_outlier")
    assert(!p.contains("CartesianProduct"), s"mad outlier went all-pairs:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"stat joins lost their event_type key:\n$p")
  }

  test("semdedup pair join stays blocked on the IVF cell key") {
    // the only unkeyed join is the k-row broadcast centroid table (the
    // IVF contract); the corpus-sized pair join must be equi-keyed on
    // cell — a cartesian here is the all-pairs blow-up SemDeDup's
    // clustering exists to avoid
    val p = plan("q_semdedup")
    assert(!p.contains("CartesianProduct"), s"semdedup went all-pairs:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"pair join lost its cell key:\n$p")
  }

  test("sessionize plans ONE data shuffle shared by both windows and the agg") {
    val p = plan("q_sessionize")
    // one hashpartitioning(user_id) feeds lag-window, sum-window AND the
    // session groupBy; the only other exchange is the deterministic
    // output orderBy (rangepartitioning), which is oracle-contract cost
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx:\n$p")
  }

  test("ttr is row-local behind the fan-out: one hash exchange, no explode") {
    // distinct-token counting runs on the split array in place
    // (array_distinct); r16 fans the narrow scan out to core width
    // first, so exactly ONE hash exchange (the fan-out) precedes the
    // output orderBy
    // <= 1 (ADVICE r16 #4): zero on a wide fixture where the fan-out
    // no-ops
    val p = plan("q_ttr")
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 1,
      s"ttr should not shuffle data beyond the fan-out:\n$p")
    assert(!p.contains("Generate"), s"ttr should not explode tokens:\n$p")
  }

  test("oov rate: fixed-K vocab broadcasts; doc counts aggregated once") {
    // the vocab side is LIMITed to a constant K before the join — a
    // fixed-size broadcast at any corpus scale (the q_topk_semi shape);
    // the per-doc side must join it broadcast, never shuffle on w twice
    val p = finalPlan("q_oov_rate")
    assert(p.contains("BroadcastHashJoin"), s"vocab join lost broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("zipf: keyed shuffles only; fit windows the per-source vocab aggregate") {
    // rank + least-squares both run over the (source, token) AGGREGATE
    // (sub-linear in corpus size); no single-partition exchange may sit
    // over unaggregated rows, and nothing goes all-pairs
    val p = plan("q_zipf")
    assert(!p.contains("CartesianProduct"), p)
    singlePartitionsOnlyAboveAggregates("q_zipf")
  }

  test("pq encode: codebook joins broadcast; nothing goes cartesian") {
    // the only unkeyed joins are the SubK-row broadcast codebooks (the
    // quantizer contract, same as the IVF centroid family); the
    // reconstruction join is equi-keyed on vec_id
    val p = plan("q_pq_encode")
    assert(!p.contains("CartesianProduct"), s"pq encode went all-pairs:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"vec_id join lost its key:\n$p")
  }

  test("pq ann: candidates join the LUTs on their CODE; top-k window-pruned") {
    // the ADC shape: per-candidate cost is the two broadcast-hash LUT
    // lookups (Q x SubK rows), never a raw-vector scan or cross join
    val p = finalPlan("q_pq_ann")
    assert(!p.contains("CartesianProduct"), s"pq ann went all-pairs:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"LUT join lost its code key:\n$p")
    assert(p.contains("WindowGroupLimit"), s"top-k not window-pruned:\n$p")
  }

  test("hamming pairs: candidate join keyed on (band, byte); no cartesian") {
    // banded simhash: losing the bucket key turns the capped candidate
    // join into all-pairs — the exact blow-up the banding exists to avoid
    val p = plan("q_hamming_pairs")
    assert(!p.contains("CartesianProduct"), s"hamming pairs went all-pairs:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"pair join lost its (band, bv) key:\n$p")
  }

  test("len trim: band table broadcasts back; no cartesian") {
    // the |langs|-row percentile table must join the corpus broadcast,
    // never shuffle the corpus on lang twice
    val p = finalPlan("q_len_trim")
    assert(p.contains("BroadcastHashJoin"), s"band join lost broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("source overlap: pair join stays equi-keyed on the token") {
    // per-token fan-out is bounded by |sources|^2 (a bounded dimension);
    // losing the w key would cross-join source vocabularies
    val p = plan("q_source_overlap")
    assert(!p.contains("CartesianProduct"), s"source overlap went all-pairs:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"pair join lost its token key:\n$p")
  }

  test("blocklist / url audit: row-local screens, no corpus self-join") {
    // both audits are one map pass + keyed aggregates; a refactor that
    // joins the corpus against itself (or explodes a join) would still
    // be correct and 100x the shuffle at scale
    val pb = plan("q_blocklist")
    assert(!pb.contains("Join"), s"blocklist grew a join:\n$pb")
    val pu = plan("q_url_audit")
    assert(!pu.contains("CartesianProduct"), s"url audit went all-pairs:\n$pu")
  }

  test("js divergence: per-source totals broadcast; token join stays keyed") {
    // |sources|-row and 1-row totals must broadcast (the q_kl_source
    // contract); the (source,w)x(w) join must keep its token equi key —
    // the absent-mass term exists precisely so nothing materializes
    // |sources| x |vocab|
    val p = plan("q_js_div")
    assert(p.contains("BroadcastHashJoin"), s"totals lost broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"js_div went all-pairs:\n$p")
  }

  test("boilerplate: keyed df join over the CACHED (doc,tri) aggregate") {
    // a count-over-partition window would funnel a universal trigram's
    // doc frequency into one task; the chosen form is a map-side-
    // combinable groupBy plus a tri-keyed join, with the explode
    // evaluated once through the memoized cache (both consumers must
    // read InMemoryTableScan, and the join must stay equi-keyed)
    val p = plan("q_boilerplate")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"boilerplate df join lost its trigram key:\n$p")
    assert(p.contains("Join"), s"df join gone (window regression?):\n$p")
    val scans = p.linesIterator.count(_.contains("InMemoryTableScan"))
    assert(scans >= 2,
      s"trigram aggregate not cached for both consumers ($scans):\n$p")
    assert(!p.contains("Generate explode") || scans >= 2,
      s"explode re-evaluated instead of riding the cache:\n$p")
  }

  test("sbo score: model joins keyed over aggregates; only the 1-row " +
    "total broadcasts unkeyed") {
    // the three model joins (bigram, head, unigram) must stay equi-keyed
    // over pre-aggregated inputs; the only unkeyed join allowed is the
    // 1-row N scalar broadcast (the q_tfidf shape) — a cartesian
    // anywhere else would cross the eval stream with the model
    val p = plan("q_sbo_score")
    assert(!p.contains("CartesianProduct"), s"sbo went all-pairs:\n$p")
    val bnlj = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"more than the scalar broadcast is unkeyed:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"bottom-k became a sort:\n$p")
  }

  test("weighted sample: row-local keys + TakeOrderedAndProject, no shuffle") {
    // the A-Res key is computed per row and selection is a top-k: the
    // plan must be per-partition heaps merged at the driver — a global
    // sort or any Exchange before the top-k would shuffle the corpus
    // to sample 20 rows from it
    val p = plan("q_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), s"top-k became a sort:\n$p")
    assert(!p.contains("Exchange"), s"sampling shuffles the corpus:\n$p")
    assert(!p.contains("Join"), s"sampling grew a join:\n$p")
  }

  test("stratified sample: WindowGroupLimit prunes each source to k rows") {
    // per-source top-k must prune partitions pre-sort (the
    // q_sample_group contract) — losing the limit pushdown sorts every
    // source's full doc list to keep 5 rows
    val p = plan("q_weighted_strata")
    assert(p.contains("WindowGroupLimit"), s"group limit not pushed:\n$p")
    assert(!p.contains("Join"), s"sampling grew a join:\n$p")
  }

  test("bpe apply: one corpus scan joined keyed against the vocab") {
    // application is explode + ONE word-keyed join against the
    // checkpointed vocab — a lost key would cross corpus x vocab, and a
    // second parquet scan would re-tokenize the corpus
    val p = plan("q_bpe_apply")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"vocab join lost its key:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"vocab side does not read the checkpoint:\n$p")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected one corpus scan, got $scans:\n$p")
  }

  test("cms audit: corpus scanned once via the cached aggregate; " +
    "sketch side broadcast") {
    // the sketch and the probe set must both ride the memoized word
    // counts (two InMemoryTableScans), and the probe->sketch lookup
    // must broadcast the 1024-row sketch — a shuffle join there, or a
    // second corpus tokenization, would be corpus-proportional work
    // for a bounded-size audit
    val p = plan("q_cms_err")
    val scans = p.linesIterator.count(_.contains("InMemoryTableScan"))
    assert(scans >= 2, s"word counts not shared via the cache ($scans):\n$p")
    assert(p.contains("BroadcastHashJoin"), s"sketch lookup lost broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"bounded lookup shuffles:\n$p")
  }

  test("bpe family: merges stay driver-local; vocab rollups read the " +
    "checkpoint join-free") {
    // the merge table is one collected row per round (bounded by the
    // round count) — it must compile to a LocalTableScan, never a
    // distributed plan; the vocab/compress rollups must read the
    // checkpointed vocab (Scan ExistingRDD) with no join — a refactor
    // that re-derives the vocab from the corpus per query, or joins
    // corpus rows against the merge table, would re-pay the corpus
    // scan (or worse) at every query
    val pm = plan("q_bpe_merges")
    assert(pm.contains("LocalTableScan"), s"merge table went distributed:\n$pm")
    assert(!pm.contains("Scan parquet"),
      s"merge table re-derives from the corpus:\n$pm")
    for (name <- Seq("q_bpe_vocab", "q_bpe_compress")) {
      val p = plan(name)
      assert(p.contains("Scan ExistingRDD"),
        s"$name does not read the checkpointed vocab:\n$p")
      assert(!p.contains("Join"), s"$name grew a join:\n$p")
      assert(!p.contains("Scan parquet"),
        s"$name re-scans the corpus instead of the vocab:\n$p")
    }
  }

  test("calibration pair: row-local scoring, join-free 10-bin aggregate") {
    // q_calibration/q_ece are one map pass + a groupBy over <= 10 bins
    // (map-side combinable, output bounded at any corpus size); a
    // refactor that joins the corpus against a score table or ranks raw
    // docs through a window would shuffle row-proportional state
    for (name <- Seq("q_calibration", "q_ece")) {
      val p = plan(name)
      assert(!p.contains("Join"), s"$name grew a join:\n$p")
      assert(!p.contains("Window ["), s"$name ranks raw rows:\n$p")
      assert(p.contains("HashAggregate"), s"$name lost its bin aggregate:\n$p")
    }
  }

  test("embed contamination: eval x train pair join blocked on the cell") {
    // the q_dedup_embed contract: the only unkeyed join allowed is the
    // k-row broadcast centroid assignment; the eval x train pair join
    // must keep its cell equi key or contamination goes all-pairs
    val p = plan("q_embed_contam")
    assert(!p.contains("CartesianProduct"), s"contam went all-pairs:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"pair join lost its cell key:\n$p")
  }

  test("spearman: rank windows run over value-distinct aggregates") {
    // ranks must come from the (source, value, count) aggregate — a
    // rank window over raw documents would sort a per-source partition
    // that grows with the corpus. Every Window's input must pass
    // through a HashAggregate below it, and the doc-side joins stay
    // equi-keyed.
    val p = plan("q_spearman")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"rank join lost its key:\n$p")
    val lines = p.linesIterator.toVector
    val winIdx = lines.zipWithIndex
      .filter(_._1.contains("Window [")).map(_._2)
    assert(winIdx.nonEmpty, s"no rank window found:\n$p")
    winIdx.foreach { i =>
      val below = lines.drop(i + 1)
        .takeWhile(l => !l.contains("Scan parquet"))
      assert(below.exists(_.contains("HashAggregate")),
        s"window at line $i consumes raw rows, not the aggregate:\n$p")
    }
  }

  test("winnow pairs: candidate join keyed on the fingerprint hash") {
    // the MOSS pair join must keep its content-hash equi key and never
    // go cartesian — the df cap bounds volume only if the join blocks
    // on the fingerprint. The pair table is memoized+cached (r14), so
    // the invariant is pinned on the BUILDER plan (the plan that fills
    // the cache), not on the consumer's InMemoryTableScan read.
    val df = graft.queries.AuditQueries.winnowPairs(spark, sf)
    val qe = df.queryExecution
    val p = qe.withCachedData.collectFirst {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        r.cachedPlan.toString
    }.getOrElse(qe.executedPlan.toString)
    assert(p.contains("Join"), s"pair self-join missing from builder:\n$p")
    assert(!p.contains("CartesianProduct"), s"winnow pairs went all-pairs:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"pair join lost its fingerprint key:\n$p")
  }

  test("cdc chunking: row-local boundaries; only the doc->source attach joins") {
    // boundaries, spans, and chunk texts are all computed inside array
    // lambdas over the one tokenized row (the r13 rewrite of the 2 s
    // head): the ONLY explode is per chunk and there is NO per-doc
    // window — a refactor that reintroduces a token-level explode, a
    // cumsum window, or a boundary-table join would shuffle the whole
    // token stream (twice) at 100 TB
    val p = plan("q_cdc_chunk")
    assert(!p.contains("CartesianProduct"), s"cdc chunking went all-pairs:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"unkeyed join:\n$p")
    assert(!p.contains("Window ["), s"cdc chunking regrew a window shuffle:\n$p")
    val gens = p.linesIterator.count(_.contains("Generate "))
    assert(gens == 1,
      s"cdc chunking should explode exactly once (per chunk), found $gens:\n$p")
  }

  test("winnow: one per-doc window pass, no join, no cartesian") {
    // selection must stay a single window partitioned by the document —
    // a join-based rightmost-min (positions x window starts) would be
    // O(w x tokens) and shuffle twice
    // the query reads the memoized grams cache, so the selection
    // invariant is pinned on the ENGINE plan (Winnow.fingerprints —
    // the join in fingerprintGrams is the deliberate gram attach)
    val p = plan("q_winnow")
    assert(!p.contains("CartesianProduct"), s"winnow went all-pairs:\n$p")
    val ep = graft.engine.Winnow.fingerprints(
        graft.engine.Tables.documents(spark, sf), "doc_id", "text", 4, 5)
      .queryExecution.executedPlan.toString
    assert(!ep.contains("Join"), s"winnow selection grew a join:\n$ep")
    val wins = ep.linesIterator.count(_.contains("Window ["))
    assert(wins >= 1 && wins <= 2,
      s"selection should need the min-key (+count) windows, found $wins:\n$ep")
  }

  test("graph family: every pairwise/iteration step stays vertex-keyed") {
    // PageRank: rounds are materialized (Pregel-style), so the query
    // plan reads a cached table — pin the ROUND plan on the engine
    // directly (the winnow pattern): one vertex-keyed edge join +
    // groupBy(v) + left join back, no cartesian, no unkeyed broadcast
    // (the node-count scalar is baked in as a literal, not joined).
    // Triangles / assortativity: same edge table, equi-joined on
    // vertices — a CartesianProduct or BNLJ would mean an all-pairs
    // enumeration.
    for (q <- Seq("q_pagerank", "q_triangles", "q_assortativity")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q went all-pairs:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q pairs without an equi key:\n$p")
    }
    import spark.implicits._
    val prevR = Seq((1L, 500L), (2L, 500L)).toDF("u", "r")
    val nodeInfo = Seq((1L, 2L, 100L), (2L, 1L, 100L))
      .toDF("u", "deg", "base")
    val e2 = Seq((1L, 2L), (2L, 1L)).toDF("u", "v")
    val rp = graft.engine.GraphMetrics.prRound(prevR, nodeInfo, e2, 85, 100)
      .queryExecution.executedPlan.toString
    assert(!rp.contains("CartesianProduct"), s"pagerank round went all-pairs:\n$rp")
    assert(!rp.contains("BroadcastNestedLoopJoin"),
      s"pagerank round pairs without an equi key:\n$rp")
    assert(rp.contains("HashAggregate") || rp.contains("SortAggregate"),
      s"pagerank round lost its map-side-combinable groupBy:\n$rp")
  }

  test("bitext family pairs only inside an IVF cell (keyed join, no all-pairs)") {
    for (q <- Seq("q_mutual_nn", "q_margin_nn")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q went all-pairs:\n$p")
      // the k-row broadcast centroid assignment is the one tolerated
      // unkeyed join (the IVF contract, same as q_ivf_probe2); the
      // src x tgt pair join must be hash/merge-keyed on cell
      assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
        p.contains("ShuffledHashJoin"), s"$q pair join lost its cell key:\n$p")
    }
  }

  test("core-width rebalance is conditional on observed scan width " +
      "(r13 #2): narrow scan shuffles to cores, wide scan does not") {
    // Narrow case first (the shipped sf fixture is one row group per
    // table): the compute-bound stages MUST fan out to core width —
    // a one-split scan would hash every gram / score every vector on
    // a single task (the r13 100x probe measured 268 s vs ~9 s).
    for (q <- Seq("q_cdc_chunk", "q_silhouette")) {
      val np = plan(q)
      assert(np.contains("RoundRobinPartitioning"),
        s"$q lost its narrow-scan rebalance:\n$np")
    }
    // Wide case: the same queries against the SAME data written as
    // >= cores parquet files (the production thousands-of-splits
    // shape) must skip the rebalance — it would be a pointless extra
    // full pass over corpus bytes at scale. Touching the wide dir
    // evicts the session's sf-dir memo entries ("one dir per session"),
    // so the finally re-invokes the sf-dir plans to restore them
    // (ADVICE r14 #4) — the test no longer depends on running last in
    // the suite, and a later-added test sees warm caches either way.
    val wide = TestSpark.tmpDir("widesf")
    val cores = spark.sparkContext.defaultParallelism
    for (t <- Seq("documents", "embeddings"))
      spark.read.parquet(s"$sf/$t.parquet").repartition(2 * cores)
        .write.mode("overwrite").parquet(s"$wide/$t.parquet")
    try {
      for (q <- Seq("q_cdc_chunk", "q_silhouette")) {
        val wp = SparkEntry.queries(q)(spark, wide)
          .queryExecution.executedPlan.toString
        assert(!wp.contains("RoundRobinPartitioning"),
          s"$q still rebalances an already-wide scan:\n$wp")
      }
    } finally {
      // planning against sf re-runs the memoized builders, evicting the
      // wide-dir entries and re-registering the sf-dir cached tables
      for (q <- Seq("q_cdc_chunk", "q_silhouette")) plan(q)
    }
  }

  test("fanoutIfNarrow (r16): hash fan-out on a narrow scan, no-op on a " +
      "wide one, loud rejection of non-scan inputs") {
    import org.apache.spark.sql.functions._
    val cores = spark.sparkContext.defaultParallelism
    // narrow (one-row-group fixture): fans out via HASH partitioning on
    // the given key — never round-robin, which would pay the
    // sort-before-repartition pass on the single scan task
    val narrow = graft.queries.Helpers.fanoutIfNarrow(
      spark.read.parquet(s"$sf/documents.parquet"), col("doc_id"))
    val np = narrow.queryExecution.executedPlan.toString
    assert(np.contains("hashpartitioning(doc_id"),
      s"fan-out lost its hash key:\n$np")
    assert(!np.contains("RoundRobinPartitioning"),
      s"fan-out regressed to round-robin:\n$np")
    assert(narrow.rdd.getNumPartitions == cores)
    // wide input: identity — at production scan widths the helper adds
    // nothing
    val wideDf = spark.range(0, 1000, 1, 2 * cores)
      .select(col("id").as("doc_id"))
    val wide = graft.queries.Helpers.fanoutIfNarrow(wideDf, col("doc_id"))
    assert(wide.queryExecution.optimizedPlan ==
      wideDf.queryExecution.optimizedPlan,
      "wide scan must pass through untouched")
    // same guard as rebalanceIfNarrow: an exchange below the width
    // probe would materialize query stages under AQE
    val agg = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy("source").count()
    val e = intercept[IllegalArgumentException] {
      graft.queries.Helpers.fanoutIfNarrow(agg, col("source"))
    }
    assert(e.getMessage.contains("Aggregate"), e.getMessage)
  }

  test("rebalanceIfNarrow rejects non-scan inputs loudly (ADVICE r14 #3): " +
      "an exchange below the width probe would materialize query stages") {
    import org.apache.spark.sql.functions._
    // scan + filter + project (the whitelisted shape) passes
    val ok = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("n_chars") > 0).select("doc_id", "text")
    graft.queries.Helpers.rebalanceIfNarrow(ok) // must not throw
    // an aggregate below the probe point must fail at CALL time — under
    // AQE, reading its physical width would run the shuffle stages
    val agg = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy("source").count()
    val e = intercept[IllegalArgumentException] {
      graft.queries.Helpers.rebalanceIfNarrow(agg)
    }
    assert(e.getMessage.contains("Aggregate"), e.getMessage)
  }
}
