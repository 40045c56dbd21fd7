package graft.plans

import graft.{QueriesCore, QueriesScale, SparkSpec, SparkEntry}
import org.apache.spark.metrics.source.CodegenMetrics

/** Plan-shape regression tests: lock in the physical-plan properties the
  * 100 TB design depends on — filters pushed to the parquet scan, dimension
  * joins broadcast, no quadratic join anywhere outside the documented
  * constant-size or exact-baseline ops, and single-evaluation of expensive
  * regex projections. A future edit that silently un-pushes a filter or
  * reintroduces a cross join fails here, not in a production plan review.
  */
class PlansSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q6: all range filters reach the parquet scan (PushedFilters)") {
    val plan = planOf("q6_revenue_delta")
    assert(plan.contains("PushedFilters: ["), plan.take(2000))
    assert(!plan.contains("PushedFilters: []"), "scan lost its pushdown")
    // the plan string truncates long pushed-filter lists — match a prefix
    assert(plan.contains("GreaterThanOrEqual(l_shipda"),
      "l_shipdate range must be pushed")
  }

  test("q3: the filtered customer dimension joins as a broadcast") {
    assert(planOf("q3_shipping_priority").contains("BroadcastHashJoin"))
  }

  test("q5: all dimension joins broadcast (no shuffled fact-side join)") {
    val plan = planOf("q5_region_volume")
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"),
      "dim chain must not shuffle the fact table")
  }

  test("q4: the existential late-shipment check plans as a LEFT SEMI join") {
    val plan = planOf("q4_order_priority")
    assert(plan.contains("LeftSemi"), plan.take(2000))
  }

  test("j10: bucketed tables join with no shuffle exchange below the join") {
    // at the test SF the orders side fits the broadcast threshold, so the
    // planner (correctly) picks a BroadcastHashJoin and never consults the
    // bucketing; disable auto-broadcast to surface the layout this entry
    // exists to prove — at fact×fact scale neither side broadcasts and the
    // bucketed SortMergeJoin with no input exchange IS the production plan
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val plan =
      try SparkEntry.queries("j10_bucketed_join")(spark, sf)
        .queryExecution.executedPlan.toString
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert(plan.contains("SortMergeJoin"), plan.take(2000))
    assert(plan.contains("SelectedBucketsCount"),
      s"scan must be bucket-aware: ${plan.take(2000)}")
    // the only exchange allowed is the post-join groupBy — the join
    // itself must consume the bucketed layout directly
    val joinIdx = plan.indexOf("SortMergeJoin")
    val belowJoin = plan.substring(joinIdx)
    assert(!belowJoin.contains("Exchange"),
      s"bucketed join must not re-shuffle its inputs: ${plan.take(3000)}")
  }

  test("j11: a runtime bloom filter from the selective dim reaches the " +
      "fact scan side") {
    // the entry runs in its own child session (thresholds tuned to fire at
    // test scale; broadcast disabled to model the big-dim regime), so the
    // plan must carry the bloom build (ObjectHashAggregate over
    // bloom_filter_agg) and the probe-side might_contain test
    val plan = SparkEntry.queries("j11_bloom_filter_join")(spark, sf)
      .queryExecution.executedPlan.toString
    val lower = plan.toLowerCase
    assert(lower.contains("bloom_filter_agg") ||
        lower.contains("bloomfilter"),
      s"no bloom filter build in plan: ${plan.take(3000)}")
    assert(lower.contains("might_contain"),
      s"probe side not bloom-filtered: ${plan.take(3000)}")
  }

  test("j11 run again from a fresh caller session compiles no class") {
    def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def run(): Unit = SparkEntry.queries("j11_bloom_filter_join")(
      spark.newSession(), sf).collect()
    run()
    val before = compiled
    run()
    assert(compiled - before == 0)
  }

  test("entries with conf overrides leave a fresh caller's conf as it was") {
    for (name <- Seq("e1_movie_pipeline", "j11_bloom_filter_join",
        "st2b_stream_batch_equiv", "st4b_interval_join_stream_equiv",
        "st6_stream_dedup", "st7_per_source_quota", "st8_chunked_load",
        "st9_stream_static_enrich", "st14_stream_sketch",
        "f1_key_existence")) {
      val caller = spark.newSession()
      val before = caller.conf.getAll
      SparkEntry.queries(name)(caller, sf).collect()
      assert(caller.conf.getAll == before, name)
    }
  }

  test("stream entries leave a fresh caller's temp views as they were") {
    for (name <- Seq("st2b_stream_batch_equiv",
        "st4b_interval_join_stream_equiv", "st6_stream_dedup",
        "st7_per_source_quota", "st9_stream_static_enrich",
        "st10_stream_decontam", "st14_stream_sketch")) {
      val caller = spark.newSession()
      def views = caller.catalog.listTables().collect()
        .filter(_.isTemporary).map(_.name).toSet
      val before = views
      SparkEntry.queries(name)(caller, sf).collect()
      assert(views == before, name)
    }
  }

  /** Every node of `name`'s executed plan, cached plans included. */
  private def nodesOf(name: String)
  : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case i: InMemoryTableScanExec => flatten(i.relation.cachedPlan)
      case other => other.children.flatMap(flatten)
    })
    flatten(SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan)
  }

  test("ts7: repetition counts run as one kernel, no interpreted lambda") {
    import org.apache.spark.sql.catalyst.expressions.{
      ArrayAggregate, LambdaFunction}
    val exprs = nodesOf("ts7_repetition").flatMap(_.expressions)
      .flatMap(_.collect { case e => e })
    assert(!exprs.exists(e => e.isInstanceOf[LambdaFunction] ||
      e.isInstanceOf[ArrayAggregate]), exprs.mkString("\n").take(3000))
    assert(exprs.exists(_.nodeName == "RepetitionCounts"))
  }

  test("dd8/ts13: lines come from the WordChunks kernel, not a " +
      "transform over chunk indices") {
    import org.apache.spark.sql.catalyst.expressions.{
      ArrayTransform, Sequence}
    for (name <- Seq("dd8_line_dedup", "ts13_c4_clean")) {
      val exprs = nodesOf(name).flatMap(_.expressions)
        .flatMap(_.collect { case e => e })
      assert(!exprs.exists {
        case t: ArrayTransform => t.argument.isInstanceOf[Sequence]
        case _ => false
      }, name)
      assert(exprs.exists(_.nodeName == "WordChunks"), name)
    }
  }

  test("q17: the correlated avg-quantity subquery decorrelates to an " +
      "aggregate join") {
    val opt = SparkEntry.queries("q17_small_qty_revenue")(spark, sf)
      .queryExecution.optimizedPlan.toString
    // decorrelation must have rewritten the per-row subquery into a
    // per-part Aggregate joined back — no correlated subquery survives
    assert(!opt.contains("scalar-subquery"),
      s"correlated subquery not decorrelated: ${opt.take(2000)}")
    val exec = SparkEntry.queries("q17_small_qty_revenue")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct") &&
      !exec.contains("BroadcastNestedLoopJoin"),
      s"decorrelated plan must stay hash-joined: ${exec.take(2000)}")
  }

  test("q22: NOT EXISTS plans as a left anti hash join") {
    val plan = planOf("q22_idle_rich_customers")
    assert(plan.contains("LeftAnti"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("q2: the correlated min-cost subquery decorrelates to an " +
      "aggregate join") {
    val opt = SparkEntry.queries("q2_min_cost_supplier")(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(!opt.contains("scalar-subquery"),
      s"correlated subquery not decorrelated: ${opt.take(2000)}")
    val exec = planOf("q2_min_cost_supplier")
    assert(!exec.contains("CartesianProduct") &&
      !exec.contains("BroadcastNestedLoopJoin"),
      s"decorrelated plan must stay hash-joined: ${exec.take(2000)}")
  }

  test("q20: nested IN + correlated-sum subqueries decorrelate to semi " +
      "and aggregate joins") {
    val opt = SparkEntry.queries("q20_potential_promotion")(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(!opt.contains("scalar-subquery") && !opt.contains("list#"),
      s"subqueries not decorrelated: ${opt.take(2000)}")
    val exec = planOf("q20_potential_promotion")
    assert(exec.contains("LeftSemi"), exec.take(2000))
    assert(!exec.contains("CartesianProduct") &&
      !exec.contains("BroadcastNestedLoopJoin"),
      s"decorrelated plan must stay hash-joined: ${exec.take(2000)}")
  }

  test("q16: the non-null NOT-IN exclusion plans as a hash anti join, " +
      "never the null-aware nested loop") {
    val plan = planOf("q16_supplier_relationship")
    assert(plan.contains("LeftAnti"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("q11: the global-threshold pass reads the cached per-part " +
      "aggregate instead of re-scanning the fact table") {
    val plan = planOf("q11_important_stock")
    // both the threshold side and the filter side must come off the
    // persisted vals relation — the fact scan happens inside the cached
    // subtree, so the outer plan carries in-memory relations, not a
    // second lineitem scan
    // (the plan printer repeats the cached subtree under every
    // InMemoryTableScan reference, so counting "Scan parquet" occurrences
    // would double-count — the cache reference itself is the property)
    assert(plan.contains("InMemoryTableScan") ||
      plan.contains("TableCacheQueryStage"), plan.take(3000))
  }

  test("q19: the branch disjunction pushes per-side filters to both scans") {
    val plan = planOf("q19_disjunctive_revenue")
    // the OR of (brand ∧ size ∧ qty) branches must project into per-side
    // disjunctions reaching BOTH parquet scans (brand/size on part,
    // quantity ranges on lineitem), not a post-join residual filter
    assert(plan.contains("Or(Or(And(EqualTo(p_brand"), plan.take(3000))
    assert(plan.contains("Or(Or(And(GreaterThanOrEqual(l_quantity"),
      plan.take(3000))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("q18: the quantity rollup aggregates lineitem before any join") {
    // the optimized plan must place the Aggregate under the Join, so only
    // the ~1% HAVING survivors participate in the orders/customer joins
    val plan = SparkEntry.queries("q18_large_orders")(spark, sf)
      .queryExecution.optimizedPlan.toString
    val joinIdx = plan.indexOf("Join")
    val aggIdx = plan.lastIndexOf("Aggregate")
    assert(joinIdx >= 0 && aggIdx > joinIdx,
      s"aggregate must sit below the joins: ${plan.take(2000)}")
  }

  // 1-row × 1-row aggregate combinations (constant cost: a8, dd3, o2b,
  // e1, and ts6's broadcast corpus-size row) and documented broadcast
  // nested-loop ops: sim1 (exact brute-force baseline: corpus × broadcast
  // query set), sim3 (query × broadcast centroids probe), j6 (non-equi
  // band join against a broadcast 3-row dim).
  private val allowedQuadratic = Set(
    "a8_counts", "a17_hll_set_ops", "dd3_lsh_stats", "o2b_sample_seeded",
    "e1_movie_pipeline",
    // 1-row broadcast total + missing-heavy verdict scalars per summary row
    "a4b_heavy_hitters",
    // 1-row × 1-row accounting combinations + enforced verdict scalars
    "dd15_minhash_dedup",
    "ts6_tfidf", "tp2_corpus_report", "sim1_cosine_topk", "sim3_ivf_topk",
    // brute-force neighbor baseline (corpus × broadcast query set), the
    // documented exact path under the majority-vote classifier
    "sim11_knn_classify",
    // 1-row broadcast LM totals (T, V) attached to every token
    "lm1_lm_score",
    // 1-row broadcast vocabulary-size scalar attached to every bigram
    "ts17_bigram_lm",
    // 1-row broadcast (raw_total, v, tgt_total) smoothing scalars
    "tp9_dsir_weights",
    // 1-row broadcast LM totals inside the lmScore stage
    "tp10_ppl_buckets",
    // 1-row broadcast NB model totals attached to every token
    "ts10_nb_quality", "tp8_quality_ensemble",
    // 1-row broadcast min group size attached to every row
    "tp3_domain_rebalance", "tp4_temperature_mix",
    // 1-row broadcast global value threshold attached to every part
    "q11_important_stock",
    // 1-row broadcast quartile-cut and max-date rows attached per user
    "ev6_rfm_segments",
    // 1-row broadcast reference-instant scalar attached per event
    "ev8_decay_score",
    // 1-row broadcast grand-total attached to the 9-digit census
    "a16_benford_audit",
    // 1-row broadcast no-missed-injected-pair verdict attached per pair
    "dd7_simhash_neardup",
    // 5-row broadcast threshold relation × census-sized pair relation
    "dd26_threshold_curve",
    // inherits tfidf's 1-row broadcast corpus-size row
    "ts20_keywords",
    // 1-row broadcast (total, n_groups) budget scalars attached per row
    "tp6_token_budget_mix", "tp15_epoch_schedule",
    "j6_range_join",
    // in-entry brute-force recall baseline × broadcast IVF/PQ probes
    "sim6_kmeans_ivf", "sim7_pq_topk", "sim8_ivfpq_topk",
    "sim9_persisted_ann", "sim10_filtered_ann",
    // ADC brute-force scan + exact baseline, both × broadcast queries
    "sim14_sq_adc",
    // brute-force truth + per-nprobe centroid probes × broadcast queries
    "sim15_nprobe_curve",
    // corpus × broadcast anchor sample (the documented brute-force side)
    "sim16_contrastive_pairs",
    // 1-row broadcast recall-verdict scalars attached per mined pair +
    // the fixed-25-anchor brute-force probe (corpus × broadcast probes)
    "sim16b_ann_contrastive",
    // train corpus × broadcast eval suite — eval benchmarks are bounded
    // (~10k rows) so the scan is linear in train with a constant factor
    "tc6_semantic_decontam",
    // 1-row broadcast bigram-type-count scalar attached per scored bigram
    "lm2_kneser_ney",
    // 1-row × 1-row corpus-sketch comparison + exact-baseline combine
    "dd30_corpus_overlap",
    // per-file zone-map stats × broadcast 16-row probe relation —
    // metadata-scale by construction (one stats row per file)
    "tp20_skipping_report",
    // 1-row × 1-row accounting combinations over streamed-vs-batch counts
    "st2b_stream_batch_equiv", "st4b_interval_join_stream_equiv",
    "st9_stream_static_enrich", "st10_stream_decontam",
    "st6_stream_dedup", "st7_per_source_quota", "st8_chunked_load",
    "st14_stream_sketch")

  test("no cartesian/nested-loop join outside documented ops") {
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val plan = planOf(name)
      val quadratic = plan.contains("CartesianProduct") ||
        plan.contains("BroadcastNestedLoopJoin")
      if (quadratic && !allowedQuadratic(name)) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"quadratic join introduced in: ${offenders.mkString(", ")}")
  }

  test("s5: lake read-back scan prunes partitions (PartitionFilters)") {
    val plan = planOf("s5_lake_roundtrip")
    assert(plan.contains("PartitionFilters: [isnotnull(date"),
      plan.take(2000))
    // no data filter should remain — pruning is purely directory-level
    assert(plan.contains("(date"), plan.take(2000))
  }

  test("j9: join on the partition column triggers dynamic pruning") {
    val plan = planOf("j9_partition_pruned_join")
    assert(plan.toLowerCase.contains("dynamicpruning"), plan.take(3000))
  }

  test("tp17: the training-order preview plans as TakeOrderedAndProject") {
    val plan = planOf("tp17_train_order")
    assert(plan.contains("TakeOrderedAndProject"),
      s"bounded order-by must not be a global sort: ${plan.take(2000)}")
  }

  test("tp18: id-assignment windows are partition-local (range layout)") {
    val plan = planOf("tp18_assign_ids")
    // the corpus-sized row_number must run per range-partition (pid), and
    // the data path must be range-partitioned — the only single-task
    // window allowed is the #partitions-row offset relation
    assert(plan.contains("windowspecdefinition(pid"), plan.take(3000))
    assert(plan.contains("rangepartitioning"), plan.take(3000))
  }

  test("ts14: vocabulary top-K plans as distributed TakeOrderedAndProject") {
    val plan = planOf("ts14_zipf_fit")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-K cut must not be a global sort: ${plan.take(2000)}")
  }

  test("tp12: the rank window is per-partition, never one global task") {
    val plan = planOf("tp12_shard_balance")
    // the data-relation window must carry the __pid partition spec; the
    // only permissible single-partition window is the #partitions-row
    // offsets relation
    assert(plan.contains("[__pid"), plan.take(3000))
  }

  test("ts2: each text regex evaluated once (two-stage projection held)") {
    val plan = SparkEntry.queries("ts2_quality")(spark, sf)
      .queryExecution.optimizedPlan.toString
    def occurrences(needle: String): Int =
      plan.sliding(needle.length).count(_ == needle)
    // stopword markers + punctuation = the two regex passes (Catalyst
    // renders regexp_count as size(regexp_extract_all)); whitespace
    // tokenization = the one split
    assert(occurrences("regexp_extract_all(") == 2, plan.take(2000))
    assert(occurrences("split(") == 1, plan.take(2000))
  }

  test("q1: aggregation pushes partials below the exchange") {
    val plan = planOf("q1_pricing_summary")
    assert(plan.contains("HashAggregate"),
      "expected hash aggregation with map-side partials")
  }

  test("tp5: rank quota runs as WindowGroupLimit (partial top-k below " +
      "the shuffle)") {
    val plan = planOf("tp5_source_topk")
    assert(plan.contains("WindowGroupLimit"), plan.take(3000))
  }

  test("ts20: per-doc keyword top-k runs as WindowGroupLimit") {
    val plan = planOf("ts20_keywords")
    assert(plan.contains("WindowGroupLimit"), plan.take(3000))
  }

  test("tp7: the packing window partitions by shard (no global sort)") {
    val plan = planOf("tp7_sequence_packing")
    assert(plan.contains("windowspecdefinition(shard"), plan.take(3000))
  }

  test("ts10: the token-model join broadcasts (no shuffled fact join)") {
    val plan = planOf("ts10_nb_quality")
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("dd11: bloom pre-filter is row-local, one anti join on the residue") {
    val plan = planOf("dd11_incremental")
    // the definitely-new branch carries the might_contain filter with no
    // join; exactly one anti join resolves the residue
    assert(plan.contains("might_contain"), plan.take(3000))
    def occurrences(needle: String): Int =
      plan.sliding(needle.length).count(_ == needle)
    assert(occurrences("LeftAnti") == 1, plan.take(3000))
  }

  test("dd24: pageRank returns a bounded checkpointed plan, not " +
      "O(iters) nested exchanges") {
    // each iteration lazily localCheckpoints, so the plan the caller
    // composes on is a leaf scan over the materialized ranks — a
    // 50-iteration production run plans in O(1), not O(iters) exchanges
    val plan = planOf("dd24_pagerank")
    assert(plan.contains("Scan ExistingRDD"), plan.take(3000))
    def occurrences(needle: String): Int =
      plan.sliding(needle.length).count(_ == needle)
    assert(occurrences("Exchange") <= 2,
      s"expected the checkpointed leaf, got: ${plan.take(3000)}")
  }

  test("ts13: heuristic cleaning is row-local (no exchange in the op plan)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = graft.ops.TextOps.heuristicClean(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(3000))
  }

  test("tp10: bucketing is a percentile aggregate + join-back, not a " +
      "per-lang ntile window") {
    val plan = planOf("tp10_ppl_buckets")
    assert(!plan.contains("windowspecdefinition"), plan.take(3000))
    assert(plan.contains("percentile"), plan.take(3000))
  }

  test("tp9: one tokenize pass — the tf relation is cached and reused") {
    val plan = planOf("tp9_dsir_weights")
    assert(plan.contains("InMemoryTableScan") ||
      plan.contains("InMemoryRelation"), plan.take(3000))
  }

  test("dd18: three pinned expansion exchanges, reused, at the user count") {
    // the dd18 10x rehearsal bug: the expansion joins EXPLODE (a few-MB
    // id/string input emits tens of millions of pair rows), and AQE's
    // partition coalescing sizes stages on shuffle INPUT bytes — it
    // folded the same-string self-join to ~1 partition and ran the whole
    // emission single-threaded. The fix pins `repartition(parallelism,
    // ...)` exchanges, whose REPARTITION_BY_NUM origin is exempt from
    // AQE coalescing. Lock the exchange count, the surviving user
    // partition width, and the consumer-side reuse in the FINAL adaptive
    // plan: a regression to repartition(col) (coalescable
    // REPARTITION_BY_COL) or to per-consumer exchanges fails here, not
    // in a 10x rehearsal. Round 13's salted expansion brought the count
    // to THREE pinned exchanges (byS on s feeding
    // the group-count window twice and the two fan-out probes, plus one
    // per salted-join side on (s, lo, hi) — disjoint row sets, so no
    // duplicated shuffle volume), byS reused by its other consumers.
    val df = SparkEntry.queries("dd18_fuzzy_pairs")(spark, sf)
    df.collect()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{
      ReusedExchangeExec, ShuffleExchangeExec, REPARTITION_BY_NUM}
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case _: ReusedExchangeExec => Nil
      case other => other.children.flatMap(flatten)
    })
    val nodes = flatten(df.queryExecution.executedPlan)
    val pinned = nodes.collect {
      case s: ShuffleExchangeExec if s.shuffleOrigin == REPARTITION_BY_NUM
        => s
    }
    def render = nodes.map(_.nodeName).mkString(", ")
    // three hash exchanges (byS + the two salted-join sides) at the
    // user count, plus the output range sort at its estimate-scaled
    // width — which FLOORS at the user count on this tiny sf (the
    // estimate rule only widens past ~1.4M pairs), so all four sit at
    // `par` here; the range origin distinguishes the sort exchange
    assert(pinned.size == 4,
      s"expected exactly four materialized pinned exchanges " +
        s"(byS + two salted-join sides + output range sort): $render")
    val par = spark.sparkContext.defaultParallelism
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    val (range, hash) = pinned.partition(
      _.outputPartitioning.isInstanceOf[RangePartitioning])
    assert(hash.size == 3 &&
        hash.forall(_.outputPartitioning.numPartitions == par),
      s"three expansion exchanges must survive AQE at the user count: " +
        pinned.map(_.outputPartitioning.numPartitions).mkString(","))
    assert(range.size == 1 &&
        range.head.outputPartitioning.numPartitions >= par,
      s"the output range sort must keep its estimate-scaled width: " +
        pinned.map(_.outputPartitioning.numPartitions).mkString(","))
    assert(nodes.count(_.isInstanceOf[ReusedExchangeExec]) >= 2,
      s"both salted-join sides and the fan-out probes must reuse the " +
        s"pinned exchanges: $render")
    // the Ed-Join prefix rank (rn <= pfxLen, a CONSTANT bound) must plan
    // as WindowGroupLimit: with no explicit repartition in that subtree
    // the partial top-k lands below the EnsureRequirements exchange and
    // only ~pfxLen gram rows per string ride the rank shuffle
    assert(nodes.exists(_.nodeName.contains("WindowGroupLimit")),
      s"the q-gram prefix rank must plan as WindowGroupLimit: $render")
  }

  test("AQE twin: width-pinned exchanges survive adaptive re-planning " +
      "(dd25's gate-on gram machinery + sim17's slot machinery)") {
    // The dd18-at-10x incident: AQE sizes stages on their shuffle INPUT
    // bytes, so an exploding stage behind a small input gets coalesced to
    // ~1 partition and runs single-threaded — only REPARTITION_BY_NUM
    // (user-count) exchanges are exempt. PLANS.md audits the STATIC plan,
    // which cannot see that rewrite; this is the runtime twin: execute
    // the two ops whose scale posture depends on pinned widths and assert
    // on the FINAL adaptive plans that (a) the pinned exchanges are still
    // there at their computed width and (b) AQE planted no shuffle read
    // (coalesce or skew rewrite) over any of them. Both ops materialize
    // through Scratch, so the interesting QueryExecutions happen INSIDE
    // the call — captured via a QueryExecutionListener rather than read
    // off the returned (scan-only) plan.
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec,
      ShuffleQueryStageExec}
    import org.apache.spark.sql.execution.exchange.{
      ReusedExchangeExec, ShuffleExchangeExec, REPARTITION_BY_NUM}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.util.QueryExecutionListener
    // descend into CACHED plans too (unlike the other flattens here):
    // both ops persist their multi-consumer relations, so the width-
    // pinned gram/band exchanges live inside InMemoryRelation.cachedPlan,
    // invisible from the outer write plan
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case i: InMemoryTableScanExec => flatten(i.relation.cachedPlan)
      case _: ReusedExchangeExec => Nil
      case other => other.children.flatMap(flatten)
    })
    // several captured QueryExecutions (sizing agg, cache builds, the
    // write) and repeated cache scans show the same exchange more than
    // once — dedup by reference identity before counting
    def pinnedOf(nodes: Seq[SparkPlan]): Seq[ShuffleExchangeExec] =
      nodes.collect {
        case s: ShuffleExchangeExec
          if s.shuffleOrigin == REPARTITION_BY_NUM => s
      }.groupBy(System.identityHashCode(_)).values.map(_.head).toSeq
    def coalescedOverPinned(nodes: Seq[SparkPlan]): Seq[SparkPlan] =
      nodes.collect {
        case r: AQEShuffleReadExec if (r.child match {
          case q: ShuffleQueryStageExec => q.shuffle match {
            case s: ShuffleExchangeExec =>
              s.shuffleOrigin == REPARTITION_BY_NUM
            case _ => false
          }
          case _ => false
        }) => r
      }
    val captured = scala.collection.mutable.ArrayBuffer[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        captured.synchronized { captured += qe; () }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    // listener events arrive async on the (private) listener bus — poll
    // until the captured plans contain at least `want` pinned exchanges
    // MATCHING `mine` or a deadline passes (assertions below then report
    // what arrived). `mine` scopes each half of the test to its own op's
    // exchanges BY PARTITIONING COLUMNS: clearing the shared buffer
    // between halves is not enough, because a dd25 write event still
    // in flight on the bus can land after the clear and its (pinned,
    // wide) exchanges would satisfy the sim17 assertions even if sim17
    // itself regressed to a coalescable repartition(col).
    def keyCols(s: ShuffleExchangeExec): Set[String] = {
      import org.apache.spark.sql.catalyst.plans.physical.{
        HashPartitioning, RangePartitioning}
      s.outputPartitioning match {
        case h: HashPartitioning =>
          h.expressions.flatMap(_.references.map(_.name)).toSet
        case r: RangePartitioning =>
          r.ordering.flatMap(_.references.map(_.name)).toSet
        case _ => Set.empty
      }
    }
    def awaitPinned(want: Int,
        mine: ShuffleExchangeExec => Boolean): Seq[SparkPlan] = {
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      var nodes = Seq.empty[SparkPlan]
      while ({
        nodes = captured.synchronized(captured.toVector)
          .flatMap(qe => flatten(qe.executedPlan))
        pinnedOf(nodes).count(mine) < want && System.nanoTime() < deadline
      }) Thread.sleep(50)
      nodes
    }
    val par = spark.sparkContext.defaultParallelism
    spark.listenerManager.register(listener)
    try {
      // --- dd25/dd26's gram machinery, GATE ON. The harness sf never
      // trips the width gate (the entries run wide=false there), so the
      // gate-on branch is exercised synthetically: enough shingles that
      // nTok * 80 B exceeds parallelism x 32 MB, texts duplicated in
      // PAIRS so the candidate/verify exchanges carry rows too (all-
      // unique grams would let AQE's empty-relation propagation remove
      // them — correctly, but then there'd be nothing to lock).
      // corpus sized for a COMFORTABLE gate margin (ADVICE r14): 202
      // words → 200 distinct 3-shingles per doc → nTok = 4.2M, putting
      // the computed gramParts ~2.5× past local[4]'s crossover instead
      // of the old one-partition squeak (21000×100 shingles → 5 vs 4).
      // The assert below replays the sizing rule up front so any drift
      // in the 80 B/row constant, the corpus shape, or the test master
      // fails HERE with the cause, not downstream in the plan asserts.
      val nDocs = 21000L
      val shinglesPerDoc = 200L
      val docs = spark.range(nDocs).selectExpr("id AS doc_id",
        s"array_join(transform(sequence(1, ${shinglesPerDoc + 2}), " +
          "j -> concat('w', id div 2, '_', j)), ' ') AS text")
      val nTok = nDocs * shinglesPerDoc
      val gramParts = math.max(par.toLong,
        math.min(2048L, nTok * 80 / (32L << 20)))
      assert(gramParts >= 2L * par,
        s"synthetic corpus no longer trips the width gate with margin: " +
          s"computed gramParts $gramParts vs parallelism $par — re-size " +
          s"the corpus against Dedup.prefixFilteredPairs' sizing rule " +
          s"(nTok × 80 B / 32 MB, floored at parallelism)")
      val n = graft.ops.Dedup
        .prefixFilteredPairs(docs, "doc_id", "text", 0.8).count()
      assert(n == 10500L, s"each duplicated text pair must match: $n")
      // cpk = the packed (doc_a, doc_b) candidate key — dd25's own name
      // for it, distinct from sim17's pk so the two halves stay scoped
      val ddCols = Set("tok", "doc_id", "doc_a", "doc_b", "cpk")
      def isDd(s: ShuffleExchangeExec) = keyCols(s).subsetOf(ddCols)
      val ddNodes = awaitPinned(4, isDd)
      val ddPinned = pinnedOf(ddNodes).filter(isDd)
      // gram side (tok, doc, tok) + candidate dedup + the two verify
      // probes = 6 widened exchanges; ReusedExchange may dedup some
      assert(ddPinned.size >= 4,
        s"gate-on run must pin the gram AND candidate exchanges: " +
          ddNodes.map(_.nodeName).mkString(", "))
      assert(ddPinned.forall(_.outputPartitioning.numPartitions > par),
        s"every pinned exchange must carry the WIDENED count (> $par): " +
          ddPinned.map(_.outputPartitioning.numPartitions).mkString(","))
      assert(coalescedOverPinned(ddNodes).isEmpty,
        "AQE planted a shuffle read over a width-pinned exchange")
      // the r14 kCap conjunct: the per-doc prefix bound is non-constant,
      // so only the conjoined corpus-wide cap lets the df-rank filter
      // plan as WindowGroupLimit — pruning the window's input between
      // the (width-bounded) sort and the window evaluation. The deeper
      // map-side partial variant is unreachable here BY CHOICE: it needs
      // the doc exchange to be EnsureRequirements-inserted (between
      // partial and final), which would put its width back on the static
      // shuffle-partitions conf — the exact 18 GB sort-spill shape the
      // pinned width exists to prevent.
      assert(ddNodes.exists(_.nodeName.contains("WindowGroupLimit")),
        s"the kCap rank filter must plan as WindowGroupLimit: " +
          ddNodes.map(_.nodeName).distinct.mkString(", "))
      // --- sim17's slot machinery at the harness sf: the small corpus
      // floors the width rule at the user parallelism, which is exactly
      // the regression surface — a drift to repartition(col)
      // (REPARTITION_BY_COL) would let AQE coalesce the tiny band/dedup
      // shuffles to 1 partition here and the 100x slot stage to a
      // spilling handful in production.
      captured.synchronized(captured.clear())
      SparkEntry.queries("sim17_srp_lsh")(spark, sf).count(): Unit
      // scope to sim17's OWN keys (band/packed-pair/id columns): a late
      // dd25 event landing after the clear must not satisfy these
      val simCols =
        Set("band_idx", "band_val", "pk", "id_a", "id_b", "id")
      def isSim(s: ShuffleExchangeExec) =
        keyCols(s).nonEmpty && keyCols(s).subsetOf(simCols)
      val simNodes = awaitPinned(2, isSim)
      val simPinned = pinnedOf(simNodes).filter(isSim)
      assert(simPinned.size >= 2,
        s"band + candidate-dedup exchanges must stay pinned: " +
          simNodes.map(_.nodeName).mkString(", "))
      assert(simPinned.forall(_.outputPartitioning.numPartitions >= par),
        s"pinned widths must not drop below the user count $par: " +
          simPinned.map(_.outputPartitioning.numPartitions).mkString(","))
      assert(coalescedOverPinned(simNodes).isEmpty,
        "AQE planted a shuffle read over a width-pinned exchange")
    } finally spark.listenerManager.unregister(listener)
  }

  test("dd10/dd12: each doc's gram array is built once, above fanOut's " +
      "RoundRobin exchange") {
    // a plain explode lets Spark infer size(GramHashes(..)) > 0 on the
    // generator's input and push it below the RoundRobin exchange, so the
    // single scan task built every doc's grams once more. The gram plans
    // run inside the entries' connected-components pass (its edge
    // checkpoint), not in the returned plan — capture every executed
    // QueryExecution and judge the gram-building nodes across all of them.
    // Judge the uncached production shape: a documents relation cached by
    // an earlier test hides the exchange inside its InMemoryRelation and
    // defeats exchange reuse (see the ts21 test below, which also clears
    // the shared cache and runs after this one).
    spark.sharedState.cacheManager.clearCache()
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{
      ReusedExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case i: InMemoryTableScanExec => flatten(i.relation.cachedPlan)
      case _: ReusedExchangeExec => Nil
      case other => other.children.flatMap(flatten)
    })
    def buildsGrams(p: SparkPlan): Boolean = p.expressions.exists(
      _.exists(_.isInstanceOf[graft.functions.GramHashes]))
    val captured = scala.collection.mutable.ArrayBuffer[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        captured.synchronized { captured += qe; () }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try Seq("dd10_dup_clusters", "dd12_neardup_dedup").foreach { name =>
      captured.synchronized(captured.clear())
      SparkEntry.queries(name)(spark, sf).collect(): Unit
      // events arrive in order on the async listener bus: once this
      // marker query has arrived, every event of the entry has too
      spark.range(1).selectExpr("id AS gram_plan_marker").collect(): Unit
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      def arrived = captured.synchronized(captured.exists(
        _.analyzed.output.exists(_.name == "gram_plan_marker")))
      while (!arrived && System.nanoTime() < deadline) Thread.sleep(50)
      assert(arrived, s"$name: listener events did not arrive")
      val grams = captured.synchronized(captured.toVector)
        .flatMap(qe => flatten(qe.executedPlan)).filter(buildsGrams)
        .distinctBy(System.identityHashCode) // a cached plan read twice
      assert(grams.size == 1,
        s"$name: expected one GramHashes node: ${grams.mkString("\n")}")
      assert(flatten(grams.head).exists {
        case s: ShuffleExchangeExec =>
          s.outputPartitioning.isInstanceOf[RoundRobinPartitioning]
        case _ => false
      }, s"$name: GramHashes must sit above the RoundRobin exchange: " +
        grams.head)
    } finally spark.listenerManager.unregister(listener)
  }

  test("ts21: one gram exchange serves both consumers (ReusedExchange)") {
    // scale bug 7: with the gram relation feeding two consumers
    // (min-aggregate + join probe), AQE's re-planner forwent the static
    // exchange reuse — the shingle fan-out computed and shuffled twice
    // (439 vs 84 MB peak at 30x). The explicit repartition(g1, g2) makes
    // the reuse planner-independent; this locks it in the AQE FINAL plan
    // (executed first — adaptive reuse only materializes at runtime).
    // a cached docs relation left by an earlier test breaks the lock for
    // a reason that is NOT the production shape: cache substitution
    // re-aliases the InMemoryTableScan's pushed predicates with fresh
    // lambda-variable ids per consumer, the two gram subtrees stop being
    // canonically equal, and AQE (correctly, by its rules) declines the
    // reuse. Bench/Verify sessions never cache the scan — judge the
    // uncached plan. The cache manager lives in SharedState (one per
    // context), so there is no session-scoped way to isolate this purge;
    // this test is therefore deliberately LAST in the suite, where no
    // later test can observe the cleared cache.
    spark.sharedState.cacheManager.clearCache()
    val df = SparkEntry.queries("ts21_ngram_novelty")(spark, sf)
    // collect() (not a noop write — that plans a SEPARATE QueryExecution)
    // so THIS df's adaptive plan finalizes
    df.collect()
    // judge the FINAL adaptive plan as a typed node tree, not toString
    // markers (rendering details drift across Spark versions): unwrap
    // AdaptiveSparkPlanExec/QueryStageExec, do NOT descend into a
    // ReusedExchangeExec (its child IS the referenced exchange — it would
    // double-count), then count materialized REPARTITION_BY_COL shuffles
    // and reuses structurally.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{
      ReusedExchangeExec, ShuffleExchangeExec, REPARTITION_BY_COL}
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case _: ReusedExchangeExec => Nil
      case other => other.children.flatMap(flatten)
    })
    val nodes = flatten(df.queryExecution.executedPlan)
    val materialized = nodes.collect {
      case s: ShuffleExchangeExec if s.shuffleOrigin == REPARTITION_BY_COL
        => s
    }
    val reused = nodes.collect { case r: ReusedExchangeExec => r }
    def render = nodes.map(_.nodeName).mkString(", ")
    assert(materialized.size == 1,
      s"expected exactly one materialized gram exchange: $render")
    assert(reused.size == 1,
      s"the second consumer must reuse it: $render")
  }
}
