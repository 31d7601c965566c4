package graft

/** Physical-plan regression guards: these encode the scale properties
  * the operators were designed around — if an optimizer interaction
  * (or a refactor) re-introduces a pathology, these fail before any
  * benchmark notices.
  */
class PlanAssertSpec extends SparkSpec {

  private def plan(name: String): String =
    (SparkEntry.queries ++ SparkEntry.retiredQueries)(name)(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)

  test("q6: predicate and projection reach the parquet scan") {
    val p = plan("q6_selective_filter")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    // column pruning: the scan must not read the unused wide columns
    assert(!p.contains("l_comment"), p)
  }

  test("q2: all dimension joins broadcast; no dim-side shuffle join") {
    val p = plan("q2_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("d2: shingling runs once — no re-inlined filter below the repartition") {
    // the InferFiltersFromGenerate regression planted a Filter whose
    // condition contained the whole shingling expression (visible as
    // regexp_replace in a Filter node) below the round-robin exchange
    val p = plan("d2_minhash_lsh")
    val filterNodes = p.linesIterator.filter(_.trim.startsWith("+- Filter")).toSeq ++
      p.linesIterator.filter(_.trim.startsWith("Filter")).toSeq
    assert(!filterNodes.exists(_.contains("regexp_replace")),
      s"shingling expression re-inlined into a Filter:\n${filterNodes.mkString("\n")}")
  }

  test("d2: band keys materialize once — the self-join reads a checkpointed leaf") {
    val p = plan("d2_minhash_lsh")
    // the band keys are localCheckpointed before the a/b self-join, so
    // the visible plan joins two scans of the SAME materialized
    // relation; the scan → shingle → signature pipeline (regex + md5 +
    // conv) must not appear in the join plan at all — previously it
    // was inlined (and computed) once per side
    assert(p.contains("ExistingRDD"), p)
    assert(!p.toLowerCase.contains("regexp_replace"), p)
  }

  test("d5: exact embedding pairs use the block-matrix equi-join, not a cross join") {
    val p = plan("d5_embedding_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("s3: IVF assignment is map-only — no Window, no SortAggregate on the corpus path") {
    val p = plan("s3_knn_ivf")
    assert(!p.contains("Window"), p)
    // nearest-centroid assignment is the native graft_nearest argmax
    // over the packed broadcast centroid array: struct-ordered
    // max_by/min_by plan as SortAggregate (hash-ineligible buffers)
    // and would per-partition-sort the corpus every Lloyd round
    assert(!p.contains("SortAggregate"), p)
    assert(p.contains("graft_nearest"), p)
  }

  test("s7: IVF+PQ keeps the map-only assignment and bounded-heap cuts") {
    val p = plan("s7_knn_ivfpq")
    assert(!p.contains("Window"), p)
    assert(!p.contains("SortAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("graft_topk"), p)
  }

  test("d12: the gram first-occurrence aggregate hash-aggregates (packed key)") {
    val p = plan("d12_span_dedup")
    // min(struct(doc_id, pos)) would silently plan the corpus-wide
    // gram aggregate as SortAggregate; the packed-long key keeps it
    // in HashAggregate (the struct path survives only for ids past
    // 2^31, spec-pinned to identical output)
    assert(!p.contains("SortAggregate"), p)
  }

  test("d12: gram pass materializes once — no tokenization in the join plan") {
    val p = plan("d12_span_dedup")
    // both sides of the repeated-gram join must read the checkpointed
    // occurrence relation; the tokenize/slice pipeline (regexp_replace)
    // must not be re-inlined anywhere in the visible plan
    assert(p.contains("ExistingRDD"), p)
    assert(!p.toLowerCase.contains("regexp_replace"), p)
  }

  test("q31: per-part min is one pre-agg + one window; dims broadcast") {
    val p = plan("q31_min_cost_supplier")
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // decorrelated: exactly one Window pass over the pre-aggregate
    assert(p.linesIterator.count(_.contains("+- Window")) === 1, p)
    // pre-agg combines map-side before its shuffle
    assert(p.contains("partial_min"), p)
  }

  test("s4: PQ scoring aggregates with bounded heaps — no Window, map-side topk") {
    val p = plan("s4_knn_pq")
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_graft_topk"), p)
  }

  test("r1: the payload is decoded at exactly one site") {
    val p = plan("r1_cwl_parse")
    // one CwlEvents generator gunzips, parses, filters and explodes; a
    // second occurrence means the decode was duplicated. r1 reads only
    // timestamp_ms and fields, so the generator fills only those
    assert("graft_cwl_events".r.findAllIn(p).length === 1, p.take(4000))
    assert(p.contains("keep=[timestamp_ms,fields]"), p.take(4000))
  }

  test("r8: payloads, then the one classifier, then one aggregate") {
    val p = plan("r8_ingest_report")
    // each payload is classified once by the decode readLogs runs; no
    // second gunzip or JSON parse of its own
    assert("graft_cwl_fate".r.findAllIn(p).length === 1, p.take(6000))
    assert(!p.contains("from_json") && !p.contains("graft_try_gunzip"), p.take(6000))
    // the report is one aggregate (partial and final) over the classified payloads
    val tree = p.linesIterator.takeWhile(l => !l.startsWith("(1)")).mkString("\n")
    assert("(?<!Object)HashAggregate \\(".r.findAllIn(tree).length === 2, tree)
  }

  test("s1: top-k uses the bounded-heap aggregate, not a global sort of scores") {
    val p = plan("s1_knn_brute")
    assert(p.contains("graft_topk") || p.contains("TopKByScore"), p)
  }

  test("d6: benchmark shingle set broadcasts; corpus side stays unshuffled until the agg") {
    val p = plan("d6_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("d9: bloom prefilter sits between the corpus explode and the verify join") {
    val p = plan("d9_decontaminate_bloom")
    assert(p.contains("might_contain"), p.take(3000))
    // node order in the tree text (parents print before children):
    // the verify join, then its bloom-Filter left child, then the
    // shingle Generate under it — i.e. the join's stream side is
    // already bloom-pruned before any shuffle or broadcast probe
    val tree = p.linesIterator.takeWhile(l => !l.startsWith("(1)")).toSeq
    val iJoin = tree.indexWhere(_.contains("Join Inner"))
    val iFilter = tree.indexWhere(l => l.contains("Filter"), iJoin + 1)
    val iGenerate = tree.indexWhere(_.contains("Generate"), iFilter + 1)
    assert(iJoin > 0 && iFilter > iJoin && iGenerate > iFilter,
      tree.mkString("\n"))
  }

  test("q34: EXISTS = broadcast of the date-filtered orders slice; map-side predicate") {
    val p = plan("q34_order_priority")
    // the windowed orders slice broadcasts into the fact scan — no
    // fact-side shuffle before the EXISTS dedup
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    // the quarter filter is pushed into the orders parquet scan
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p.take(3000))
    // no correlated re-probe: lineitem is scanned exactly once, and
    // only its two needed columns
    assert("lineitem\\.parquet".r.findAllIn(p).length === 1, p.take(3000))
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_shipdate:timestamp_ntz>"), p.take(3000))
  }

  test("q36: the top-20 cut runs before the customer/nation dim joins") {
    val p = plan("q36_returned_items")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    // tree text prints parents first: the dim joins must appear ABOVE
    // (= earlier than) the TakeOrdered node they consume
    val tree = p.linesIterator.takeWhile(l => !l.startsWith("(1)")).toSeq
    val iJoin = tree.indexWhere(_.contains("BroadcastHashJoin"))
    val iTop = tree.indexWhere(_.contains("TakeOrderedAndProject"))
    assert(iJoin >= 0 && iTop > iJoin, tree.mkString("\n"))
  }

  test("t17: the rule suite is pure per-doc aggregation — no joins anywhere") {
    val p = plan("t17_gopher_rules")
    assert(!p.contains("Join"), p.take(3000))
  }

  test("t18: the λ table broadcasts into the scoring pass; dict reads a checkpointed leaf") {
    val p = plan("t18_dsir_sample")
    // corpus tokens join the 128-row λ relation via broadcast, never a shuffle join
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    // the bucket dictionary materializes once (feeds totals + λ)
    assert(p.contains("ExistingRDD"), p.take(3000))
  }

  test("s5: range search is one map-side broadcast pass — no cartesian, one exchange") {
    val p = plan("s5_range_search")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    // the only Exchange is the final (tiny) result sort
    val tree = p.linesIterator.takeWhile(l => !l.startsWith("(1)")).toSeq
    assert(tree.count(_.contains("- Exchange")) === 1, tree.mkString("\n"))
  }

  test("q39: the five-way join tree is all broadcasts off one fact scan") {
    val p = plan("q39_product_profit")
    val tree = p.linesIterator.takeWhile(l => !l.startsWith("(1)")).toSeq
    assert(tree.count(_.contains("BroadcastHashJoin")) === 4, tree.mkString("\n"))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert("lineitem\\.parquet".r.findAllIn(p).length === 1, p.take(3000))
  }

  test("t19: the global rank is bucket-partitioned — no single-partition window over the data") {
    val p = plan("t19_global_shuffle")
    // the per-row row_number window must carry the bkt partition spec;
    // only the 256-row offsets window is allowed to be global
    assert(p.contains("row_number() windowspecdefinition(bkt"), p.take(4000))
    val tree = p.linesIterator.takeWhile(l => !l.startsWith("(1)")).toSeq
    assert(tree.count(_.contains("Window")) === 2, tree.mkString("\n"))
  }

  test("s6: kNN join reads one checkpointed bucket relation; bounded-heap top-k; no cartesian") {
    val p = plan("s6_knn_join")
    // bucket signatures are computed once — both join sides read the
    // same materialized leaf
    assert(p.contains("ExistingRDD"), p.take(3000))
    assert(p.contains("partial_graft_topk"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("d13: one-call dedup tail joins only labels — no text machinery in the visible plan") {
    // the candidate/verify/CC stages run behind materialization
    // boundaries (d2's checkpoint, CC's per-round checkpoints; at
    // test SF the labels collapse to CC's bounded driver fast path →
    // LocalTableScan, at scale an ExistingRDD leaf like d7): the
    // returned plan must be just docs ⋈ labels, with no shingling
    // expression anywhere
    val p = plan("d13_dedup_corpus")
    assert(!p.toLowerCase.contains("regexp_replace"), p.take(3000))
    assert(p.contains("LocalTableScan") || p.contains("ExistingRDD"), p.take(3000))
    assert(p.contains("BroadcastHashJoin LeftOuter") || p.contains("SortMergeJoin LeftOuter"), p.take(3000))
  }

  test("q26: the cohort scan reads only (ts, user_id); no wide columns") {
    val p = plan("q26_retention_cohorts")
    // ts's physical type depends on the driver's generator (int64
    // nanos in older drops, timestamp[us] now) — either way only the
    // two needed columns may reach the scan
    assert("ReadSchema: struct<ts:(bigint|timestamp_ntz|timestamp),user_id:bigint>".r
      .findFirstIn(p).nonEmpty, p.take(3000))
    assert(!p.contains("props"), p.take(3000))
  }

  test("q41: date filter reaches the fact scan; both join inputs are narrow projections") {
    val p = plan("q41_shipmode_priority")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p.take(3000))
    // the shuffle/broadcast carries two columns per side, never full rows
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linestatus:string"), p.take(3000))
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_orderpriority:string>"), p.take(3000))
  }

  test("q42: the checkpointed slice feeds both sides of the self-join; no cartesian") {
    val p = plan("q42_small_qty_revenue")
    // the brand-broadcast + filter materializes ONCE (the d2 lesson):
    // the per-part mean and the probe both read the SAME checkpointed
    // leaf — two ExistingRDD scans, zero re-derivations of the join
    assert("Scan ExistingRDD".r.findAllIn(p).size >= 2, p.take(3000))
    // the threshold is part of the equi-join on l_partkey, not a
    // cartesian residual
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("a6: the top-10 token cut is TakeOrderedAndProject — no Window over the token relation") {
    import org.apache.spark.sql.functions.{col, explode}
    import graft.functions.{TextFunctions => T}
    val toks = graft.queries.table(spark, sf, "documents")
      .select(explode(T.tokens(col("text"))).as("token"))
    val p = graft.queries.AnalyticsQueries.a6TopCut(toks).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    // an unpartitioned row_number window here would single-task-sort
    // the full vocabulary-sized distinct-token relation
    assert(!p.contains("Window"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q53: all three EWMA windows share ONE user_id exchange") {
    val p = SparkEntry.queries("q53_ewma_activity")(spark, sf).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    // partition-min, running sum, and last-row rank are all keyed on
    // user_id — a plan that re-shuffled between them would pay the
    // fact exchange three times
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size === 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("a9: KMV reduces via the bounded-heap aggregate — no Window, no sort of the hash relation") {
    val p = SparkEntry.queries("a9_kmv_distinct")(spark, sf).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    // the k-th smallest must come from the O(k) graft_topk heap with
    // map-side partial combine, not a per-group sort/rank of the
    // domain-sized distinct-hash relation
    assert(p.contains("graft_topk"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    // shuffles carry (group, 52-bit hash) pairs only — the token/user
    // text never leaves the scan stage
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, p)
  }

  test("q43: one fact scan — the semi-join chain is a broadcast flag + conditional agg") {
    val p = plan("q43_promo_suppliers")
    val factScans = "ReadSchema: struct<l_partkey".r.findAllIn(p).size +
      "ReadSchema: struct<l_suppkey".r.findAllIn(p).size
    assert(factScans === 1, p.take(3000))
    assert(p.contains("BroadcastHashJoin LeftOuter"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("q47: the group-sized median/MAD relations broadcast back; no shuffle join, no cartesian") {
    val p = plan("q47_mad_outliers")
    // Percentiles.exact's internal offset join plus the two join-backs
    // are all broadcast-class — a SortMergeJoin anywhere means a
    // fact-sized shuffle snuck into the robust-stats pass
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("d19: incremental exact dedup reads only (doc_id, text); no cartesian; equi-joins on fingerprint") {
    val p = plan("d19_incremental_exact")
    // both scans prune to the two referenced columns
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    // text never crosses a shuffle: no Exchange carries the text column
    val exchanges = exchangeSections(p)
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("text#")), exchanges.mkString("\n---\n"))
  }

  /** FormattedMode node sections for shuffle Exchanges: "(k) Exchange"
    * through the next node header — the Input line lists the carried
    * columns.
    */
  private def exchangeSections(p: String): Seq[String] =
    p.split("\n\\(").toSeq
      .filter(s => s.matches("(?s)\\d+\\) Exchange\\n.*") &&
        s.contains("hashpartitioning"))

  test("t26: bigram relation materializes once — no tokenization in the visible plan; no cartesian join") {
    val p = plan("t26_bigram_lm")
    // the checkpointed bigram leaf replaces every re-explode: the
    // tokenize pipeline (regexp_replace) must not appear anywhere
    assert(p.contains("ExistingRDD"), p.take(2000))
    assert(!p.toLowerCase.contains("regexp_replace"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("u2: domain rollup shuffles at key grain only — no text bytes on any exchange, no cartesian") {
    val p = plan("u2_domain_rollup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p.take(3000))
    // the two shuffles carry (fingerprint) / (domain) keys + counters;
    // the document text itself must never cross an exchange
    val exchanges = exchangeSections(p)
    assert(exchanges.nonEmpty, p.take(2000))
    assert(!exchanges.exists(_.contains("text#")), exchanges.mkString("\n---\n"))
    // the canonicalization runs as the native expression (codegen'd —
    // UrlSpec executes it; AQE FormattedMode shows no codegen spans
    // pre-execution, so only the expression site is asserted here)
    assert(p.contains("graft_registrable_domain"), p.take(3000))
  }

  test("u4: robots gate is one broadcast-join map pass — the corpus never hash-shuffles") {
    val p = plan("u4_robots_filter")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p.take(3000))
    // the only hashpartitioning exchange is the 12-row rules
    // aggregate; corpus rows (url/path) must never cross one
    val ex = exchangeSections(p)
    assert(!ex.exists(s => s.contains("url#") || s.contains("path#")),
      ex.mkString("\n---\n"))
  }

  test("u5: the budget allocation ranks the host-grain aggregate, never the corpus") {
    val p = plan("u5_crawl_budget")
    assert(p.contains("Window"), p.take(3000))
    // corpus contributes ONE count aggregate; doc-grain bytes (url,
    // text) never reach an exchange — only host-grain counters do
    val ex = exchangeSections(p)
    assert(ex.nonEmpty, p.take(2000))
    assert(!ex.exists(s => s.contains("url#") || s.contains("text#")),
      ex.mkString("\n---\n"))
  }

  test("u1: canonicalization is one map-only codegen'd pass — no exchange at all before the sort") {
    val p = plan("u1_url_canon")
    assert(p.contains("graft_url_canon"), p.take(3000))
    // map-only: the single Exchange in the plan is the final
    // rangepartitioning for orderBy, never a hashpartitioning shuffle
    assert(!p.contains("hashpartitioning"), p.take(3000))
  }

  test("s10: the pair histogram is the d5 block join feeding a tiny aggregate — no cartesian, no window") {
    val p = plan("s10_sim_histogram")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
    // the histogram aggregate partial-combines map-side
    assert(p.contains("partial_count"), p.take(3000))
  }

  test("t29: the priority-sample cut is TakeOrderedAndProject — no corpus-wide single-partition sort") {
    val p = plan("t29_priority_sample")
    // the n-row cut partial-combines map-side: each partition
    // surrenders ≤ n rows, the full corpus never moves or sorts
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
  }

  test("q51: island windows are partitioned by the user key — no unpartitioned window, one fact shuffle") {
    val p = plan("q51_interval_union")
    // every Window node must carry the user_id partition spec: an
    // unpartitioned windowspec would serialize the whole events
    // relation through one task (the a6 pathology)
    val winArgs = p.linesIterator
      .filter(l => l.contains("windowspecdefinition")).toSeq
    assert(winArgs.nonEmpty, p.take(3000))
    assert(winArgs.forall(_.contains("user_id")), winArgs.mkString("\n"))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("s14: classify joins the query-sized kNN result by broadcast — no extra fact shuffle, no window") {
    val p = plan("s14_knn_classify")
    assert(!p.contains("Window"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // the label attach is a BroadcastHashJoin (Q·k build side)
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("m8: chunk near-dup pairs shuffle fingerprints only — payload bytes never cross an exchange") {
    val p = plan("m8_cdc_neardup")
    val exchanges = exchangeSections(p)
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("payload#")), exchanges.mkString("\n---\n"))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q58: top-N-per-key is a bounded-heap aggregate — no Window, no sort of the fact per key") {
    val p = plan("q58_topk_per_group")
    assert(p.contains("ObjectHashAggregate"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("a13: the day-pair join is a hash join over the calendar-sized sketch relation — no nested loop") {
    val p = plan("a13_theta_diff")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // the per-day sketch relation materializes once and feeds both sides
    assert(p.contains("ExistingRDD"), p.take(3000))
  }

  test("q15: Percentiles' range shuffle materializes ONCE — the count pass reads a ReusedExchange") {
    // Percentiles.exact relies on exchange reuse (not a checkpoint) to
    // pin spark_partition_id between its rank and count passes: both
    // consumers must read the SAME materialized range shuffle. If an
    // optimizer change ever breaks reuse here, pids stay correct only
    // by the accident of deterministic range-bound sampling — and the
    // relation computes twice. Assert on the FINAL adaptive plan.
    val df = SparkEntry.queries("q15_percentiles")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"),
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("Percentiles.exact stays exact when spark.sql.exchange.reuse is OFF (checkpoint fallback)") {
    // With reuse disabled the rank and count passes would materialize
    // two INDEPENDENT range shuffles whose RangePartitioner sample
    // seeds differ (seed derives from rdd.id): partition bounds can
    // disagree and global ranks go silently wrong. Percentiles.exact
    // guards on the conf and pins the partitioning with a lazy
    // localCheckpoint in that regime — this asserts the fallback's
    // VALUES bit-identical to the default-config operator (same
    // interpolation arithmetic, both exact; Spark's built-in
    // percentile aggregate differs by 1 ULP on this data, so it is
    // the wrong expected side for an equality check).
    val events = graft.queries.events(spark, sf).select("event_type", "value")
    def run(): Map[String, (Double, Double)] =
      graft.operators.Percentiles.exact(
        events, "value", Seq("event_type"), Seq(0.5, 0.9))
        .collect()
        .map(r => r.getAs[String]("event_type") ->
          (r.getAs[Double]("p50"), r.getAs[Double]("p90"))).toMap
    val expected = run()
    val prev = spark.conf.get("spark.sql.exchange.reuse", "true")
    val got =
      try {
        spark.conf.set("spark.sql.exchange.reuse", "false")
        run()
      } finally spark.conf.set("spark.sql.exchange.reuse", prev)
    assert(got.keySet === expected.keySet)
    got.foreach { case (et, (g50, g90)) =>
      val (e50, e90) = expected(et)
      assert(g50 === e50, s"$et p50")
      assert(g90 === e90, s"$et p90")
    }
  }

  test("q45: prefixSum's range shuffle materializes ONCE — the offsets pass reads a ReusedExchange") {
    // ScalableWindow.prefixSum pins spark_partition_id between its
    // local-cumsum and offsets passes the same way Percentiles.exact
    // does: both consumers read the SAME materialized range shuffle
    // (exchange reuse), not a block-manager checkpoint — the r14
    // profiling found the lazy localCheckpoint's SizeEstimator walk
    // dominated the operator at local[32] (re-measured r18: q45/q46
    // task CPU halves when the checkpoint goes). Assert on the FINAL
    // adaptive plan.
    val df = SparkEntry.queries("q45_running_revenue")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the reused exchange must be the RANGE one (a ReusedExchange
    // line names its target): reusing some other upstream exchange
    // while the range shuffle materializes twice would mean two
    // independently-sampled partition boundaries — silently wrong
    // offsets (see prefixSum's fast-path comment)
    assert(p.linesIterator.exists(l =>
      l.contains("ReusedExchange") && l.contains("rangepartitioning")),
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(!p.contains("Checkpoint"), p.take(3000))
  }

  test("prefixSum stays exact when spark.sql.exchange.reuse is OFF (checkpoint fallback)") {
    // Without reuse the two passes would materialize independent range
    // shuffles whose RangePartitioner seeds differ (seed derives from
    // rdd.id) — bounds and pids could disagree and offsets silently
    // misalign. prefixSum guards on the conf and falls back to the
    // lazy localCheckpoint; the fallback must produce bit-identical
    // running totals.
    val events = graft.queries.events(spark, sf)
      .select(org.apache.spark.sql.functions.col("event_id"),
        org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.col("value"))
    def run(): Map[Long, Double] =
      graft.operators.ScalableWindow.prefixSum(
        events, Seq("user_id"),
        Seq(org.apache.spark.sql.functions.col("event_id")),
        org.apache.spark.sql.functions.col("value"), "cum")
        .collect()
        .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("cum")).toMap
    val expected = run()
    val prev = spark.conf.get("spark.sql.exchange.reuse", "true")
    val got =
      try {
        spark.conf.set("spark.sql.exchange.reuse", "false")
        run()
      } finally spark.conf.set("spark.sql.exchange.reuse", prev)
    assert(got.size === expected.size)
    assert(got === expected)
  }

  test("s19: Hamming scan broadcasts the queries and cuts with the bounded heap — no Window, no score sort") {
    val p = plan("s19_knn_hamming")
    // brute scan shape: corpus never shuffles before the kernel — the
    // tiny query side broadcasts into a nested-loop pass (s1's shape)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("graft_topk"), p)
    assert(!p.contains("Window"), p)
    // NATIVE kernels: the sign packer and the xor+popcount distance
    // must be the codegen'd expressions — a revert to the when-chain
    // packer or the zip_with+aggregate Hamming (both HOF compositions
    // that fall out of whole-stage codegen on the N·|Q| hot path)
    // changes nothing functionally and everything at scale
    assert(p.contains("graft_signpack"), p)
    assert(p.contains("graft_hamming"), p)
    assert(!p.contains("zip_with"), p)
  }

  test("s20: MIH candidates come from a broadcast HASH join on band keys — never a cartesian/BNLJ") {
    val p = plan("s20_knn_mih")
    // the whole point of the band index: candidate generation is an
    // EQUALITY join the planner can hash — if the band keys ever fall
    // out of the join condition this degrades to a nested loop scan
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("graft_topk"), p)
    assert(!p.contains("Window"), p)
    // native sign-bit kernels pinned (see s19's assert for why)
    assert(p.contains("graft_signpack"), p)
    assert(p.contains("graft_hamming"), p)
    assert(!p.contains("zip_with"), p)
  }

  test("s21: sweep candidates hash-join on band keys; truth semi-join broadcasts; no Window, no sort-merge") {
    // the packed signature / truth relations are localCheckpointed
    // (packed once, re-sliced per config), so the native kernels are
    // behind LogicalRDD leaves here — they're pinned by the s19/s20
    // asserts; what THIS plan must show is the join shape
    val p = plan("s21_mih_band_sweep")
    // each config's candidate generation is an equality HASH join on
    // (band, bv); the BNLJ crosses are the one-row scalar aggregates
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    // the ≤|Q|·k truth side broadcasts into the semi-join — the
    // corpus-scale candidate relation must never sort for it
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("s22: radius candidates hash-join on band keys; no heap, no window, no cartesian") {
    val p = plan("s22_hamming_radius")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // radius search has no ranking state at all — the exact distance
    // filter is the only work past the dedup
    assert(!p.contains("Window"), p)
    assert(!p.contains("graft_topk"), p)
    assert(p.contains("graft_hamming"), p)
  }

  private def tree(p: String): Seq[String] =
    p.linesIterator.takeWhile(l => !l.startsWith("(1)")).toSeq

  test("s2: LSH probes broadcast into one bucket hash join; bounded-heap top-k; no Window") {
    val p = plan("s2_knn_lsh")
    val t = tree(p)
    assert(t.count(_.contains("BroadcastHashJoin")) === 1, t.mkString("\n"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("partial_graft_topk"), p)
    assert(!p.contains("Window"), p)
  }

  test("s9: the approx leg broadcasts its probes; the truth leg is a checkpointed leaf; no Window") {
    val p = plan("s9_ann_recall")
    val t = tree(p)
    // the LSH leg's multiprobe rows broadcast into the bucket join
    assert(t.count(_.contains("BroadcastHashJoin")) === 1, t.mkString("\n"))
    assert(t.exists(_.contains("Scan ExistingRDD")), t.mkString("\n"))
    assert(p.contains("partial_graft_topk"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("s9: the query count is the sampled set's known size — no count aggregate, no nested-loop join") {
    val p = plan("s9_ann_recall")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  /** RDD ids of the checkpointed (id, s) shingle leaves a plan reads. */
  private def shingleLeaves(p: String): Seq[String] =
    """Arguments: \[id#\d+L, s#\d+\], MapPartitionsRDD\[(\d+)\] at localCheckpoint""".r
      .findAllMatchIn(p).map(_.group(1)).toSeq

  test("d4: one checkpointed shingle leaf feeds the signatures and the verify gather") {
    val p = plan("d4_ngram_jaccard")
    val leaves = shingleLeaves(p)
    assert(leaves.size >= 2 && leaves.distinct.size === 1, p)
    assert(!p.contains("graft_shingles"), p)
  }

  test("d16: one checkpointed shingle leaf feeds the truth and candidate legs") {
    val p = plan("d16_lsh_recall_eval")
    val leaves = shingleLeaves(p)
    assert(leaves.size >= 2 && leaves.distinct.size === 1, p)
    assert(!p.contains("graft_shingles"), p)
  }

  test("d20: containment candidates come from the inverted-index equi-join — no cartesian") {
    val p = plan("d20_containment")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(shingleLeaves(p).distinct.size === 1, p)
  }

  test("d24: the signature leg re-shingles raw text outside any checkpoint") {
    // the r18 A/B: on the capped set re-shingling is cheaper than a
    // second read of the truth leg's checkpointed shingle arrays
    val p = plan("d24_jaccard_calibration")
    assert(p.contains("explode(graft_shingles(graft_tokenize(text"), p)
    assert(shingleLeaves(p).distinct.size === 1, p)
  }

  test("s13: SQ8 scoring broadcasts the queries; shortlist and rerank cut with bounded heaps; no Window") {
    val p = plan("s13_knn_sq8")
    assert(tree(p).exists(_.contains("BroadcastNestedLoopJoin")), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
    assert("partial_graft_topk".r.findAllIn(p).length === 2, p)
    assert(!p.contains("Window"), p)
  }

  test("s17: every sweep point reads one scoring pass — one corpus scan, one broadcast probe join") {
    val p = plan("s17_nprobe_sweep")
    val t = tree(p)
    // the full-cover truth top-k folds into the same pass, so the
    // corpus is scanned and scored once for the whole sweep
    assert(t.count(_.contains("Scan parquet")) === 1, t.mkString("\n"))
    assert(t.count(_.contains("BroadcastHashJoin")) === 1, t.mkString("\n"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("partial_graft_topk"), p)
    assert(!p.contains("Window"), p)
  }

  test("a14: exact distinct is the two-level aggregate — no count-distinct Expand") {
    // the row exists to drive a8's exact leg through the oracle; its
    // scale property is the plan shape: a map-side (event_type,
    // user_id) dedup then a group count — never the Expand node a
    // count(DISTINCT) would plant (row multiplication on the corpus)
    val p = plan("a14_exact_distinct")
    assert(!p.contains("Expand"), p)
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("Window"), p)
  }
}
