package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.SkewJoin

/** Plan-shape assertions for the 100 TB posture: bucketed co-located
  * joins eliminate the shuffle, salted joins spread hot keys, and the
  * big aggregates keep partial/final structure.
  */
class ScaleShapeSpec extends AnyFunSuite {
  import SharedSpark._

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // force AQE final plan
    df.queryExecution.executedPlan.toString
  }

  /** The registry-wide fences: every shared-registry query except the
    * named exemptions, counted, so sharing the plans cannot quietly
    * shrink what a fence covers. Returns the checked queries that
    * `offends`. */
  private def sweep(exempt: Set[String])(
      offends: org.apache.spark.sql.DataFrame => Boolean): Seq[String] = {
    val checked = registry.keys.toSeq.sorted.filterNot(exempt)
    assert(checked.size == SparkEntry.queries.size - exempt.size,
      s"checked ${checked.size} of ${SparkEntry.queries.size} queries " +
        s"with ${exempt.size} exemptions")
    info(s"checked ${checked.size} queries (${exempt.size} exempt)")
    checked.filter(name => offends(registered(name)))
  }

  test("bucketed tables join without a shuffle exchange") {
    import spark.implicits._
    // external tables (explicit path), so the static warehouse dir is moot
    val wh = java.nio.file.Files.createTempDirectory("graft_wh").toString
    val facts = (1L to 1000L).map(i => (i % 50, s"f$i")).toDF("k", "v")
    val dims = (0L until 50L).map(i => (i, s"d$i")).toDF("k", "d")
    facts.write.mode("overwrite").bucketBy(8, "k").sortBy("k")
      .option("path", s"$wh/facts_b").saveAsTable("facts_b")
    dims.write.mode("overwrite").bucketBy(8, "k").sortBy("k")
      .option("path", s"$wh/dims_b").saveAsTable("dims_b")
    // disable broadcast so the join would otherwise shuffle both sides
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("facts_b").join(spark.table("dims_b"), "k")
      val plan = executedPlan(joined)
      assert(joined.count() == 1000)
      assert(plan.contains("SortMergeJoin"))
      // bucket co-location: no shuffle exchange anywhere in the join plan
      assert(!plan.contains("Exchange hashpartitioning"),
        s"unexpected shuffle in bucketed join plan:\n$plan")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS facts_b")
      spark.sql("DROP TABLE IF EXISTS dims_b")
    }
  }

  test("salted join matches the plain join and spreads the hot key") {
    import spark.implicits._
    // 90% of left rows share one hot key
    val left = (1L to 2000L).map(i => (if (i % 10 == 0) i % 7 else 999L, i))
      .toDF("k", "payload")
    val right = Seq((999L, "hot"), (0L, "a"), (1L, "b"), (2L, "c"),
      (3L, "d"), (4L, "e"), (5L, "f"), (6L, "g")).toDF("k", "d")
    val plain = left.join(right, "k")
    val salted = SkewJoin.saltedInnerJoin(left, right, "k", col("payload"), 8)
    assert(salted.count() == plain.count())
    assert(salted.select("k", "payload", "d").except(plain.select("k", "payload", "d")).isEmpty)
    assert(plain.select("k", "payload", "d").except(salted.select("k", "payload", "d")).isEmpty)
    // the hot key's rows really do land in multiple salt buckets
    val spread = left.filter($"k" === 999L)
      .select(pmod(xxhash64($"payload"), lit(8)).as("salt"))
      .distinct().count()
    assert(spread > 4)
  }

  test("AQE skew-join: a planted hot key triggers the automatic skew split") {
    // j11_salted_skew_join proves the MANUAL remedy; this proves the
    // automatic path a 100 TB cluster relies on FIRST — AQE's
    // OptimizeSkewedJoin splitting the oversized shuffle partition at
    // runtime. Thresholds are lowered so local[32] data sizes qualify;
    // the detection logic (partition bytes > max(threshold,
    // factor × median)) is the same one production sizes hit.
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor"
    ).map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      // 90% of fact rows share key 0; the rest spread over 97 keys
      val fact = spark.range(0, 200000).select(
        when(pmod(col("id"), lit(10)) < 9, lit(0L))
          .otherwise(pmod(col("id"), lit(97)) + 1).as("k"),
        col("id").as("v"))
      val dim = spark.range(0, 98).select(col("id").as("k"),
        (col("id") * 2).as("w"))
      val j = fact.join(dim, "k")
      val plan = executedPlan(j) // collect() forces the AQE final plan
      assert(j.count() == 200000L)
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skewed sort-merge join:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("partition-pruned scan reads only the matching partition") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    (1 to 1000).map(i => (i.toLong, s"2024-0${i % 3 + 1}", i * 1.0))
      .toDF("id", "month", "v")
      .write.partitionBy("month").mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir).filter($"month" === "2024-02").agg(sum($"v"))
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(month"),
      s"partition filter not pushed:\n$scan")
    assert(q.head().getDouble(0) > 0)
  }

  test("flagship aggregate keeps partial/final structure with pushed filter") {
    val df = SparkEntry.queries("a4_hash_agg_q1")(spark, sf)
    val plan = executedPlan(df)
    assert(plan.contains("partial_sum") || plan.contains("HashAggregate"))
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"))
  }

  test("tpch q7/q8/q14: dims broadcast, selective predicates reach the scans") {
    // q7: the nation-pair pruning must ride a BROADCAST into the fact
    // pipeline (supplier side), and the shipdate range must reach the
    // lineitem parquet scan — at 100 TB this is the difference between
    // scanning 2 years of 2 nations and scanning everything
    val q7 = executedPlan(SparkEntry.queries("tpch_q7")(spark, sf))
    assert(q7.contains("BroadcastHashJoin"), s"q7 dims not broadcast:\n$q7")
    assert(q7.contains("GreaterThanOrEqual(l_shipdate") &&
      q7.contains("LessThan(l_shipdate"), s"q7 date range not pushed:\n$q7")
    // q8: the part-type filter is pushed to the part scan so the fact's
    // first shuffle already carries only ECONOMY lineitems
    val q8 = executedPlan(SparkEntry.queries("tpch_q8")(spark, sf))
    assert(q8.contains("EqualTo(p_type,ECONOMY)"), s"q8 p_type not pushed:\n$q8")
    assert(q8.contains("BroadcastHashJoin"), s"q8 dims not broadcast:\n$q8")
    // q14: single-month range on the fact scan; part carries only two cols
    val q14 = executedPlan(SparkEntry.queries("tpch_q14")(spark, sf))
    assert(q14.contains("GreaterThanOrEqual(l_shipdate") &&
      q14.contains("LessThan(l_shipdate"), s"q14 month not pushed:\n$q14")
    assert(q14.contains("ReadSchema: struct<p_partkey:bigint,p_type:string>"),
      s"q14 part scan not pruned to 2 columns:\n$q14")
  }

  test("bloom probe joins the words table as a broadcast: incoming never shuffles") {
    import spark.implicits._
    val corpus = (1 to 500).map(i => s"seen $i").toDF("k")
    val incoming = (1 to 800).map(i => s"probe $i").toDF("k")
    val bloom = graft.dedup.Dedup.bloomWords(corpus, "k", words = 32, numHashes = 3)
    val probe = graft.dedup.Dedup.bloomProbe(incoming, "k", bloom,
      words = 32, numHashes = 3)
    val plan = executedPlan(probe)
    // the ~32-row filter is the BUILD side; the incoming batch must never
    // sort-merge against it — that would shuffle what the op exists to
    // keep local
    assert(plan.contains("BroadcastHashJoin"), s"bloom words not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"probe shuffled:\n$plan")
  }

  test("s4 CSV dim joins as a broadcast, never shuffling the fact side") {
    val df = SparkEntry.queries("s4_csv_source")(spark, sf)
    val plan = executedPlan(df)
    assert(plan.contains("BroadcastHashJoin"), s"CSV dim not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"))
  }

  test("stratified sample is a per-row predicate: no shuffle before the final aggregate") {
    val df = SparkEntry.queries("d11_stratified_sample")(spark, sf)
    val plan = executedPlan(df)
    assert(plan.contains("BroadcastHashJoin"), s"rates dim not broadcast:\n$plan")
    // exactly the aggregate's own exchange — sampling itself shuffles
    // nothing (AQE's toString repeats the plan under "== Initial Plan ==";
    // count only the final one)
    val finalPlan = plan.split("== Initial Plan ==").head
    val exchanges = "Exchange hashpartitioning".r.findAllIn(finalPlan).length
    assert(exchanges <= 1, s"sampling should add no shuffle beyond the final agg:\n$plan")
  }

  test("epoch shuffle is join-free: one hash exchange (the shard partitioning) plus the oracle sort") {
    val df = SparkEntry.queries("d11_epoch_shuffle")(spark, sf)
    val plan = executedPlan(df)
    assert(!plan.contains("Join"), s"unexpected join in epoch shuffle plan:\n$plan")
    // the window's hashpartitioning on the shard key IS the training
    // job's repartition — the only data-dependent exchange; the global
    // range sort exists solely for the deterministic oracle dump
    assert(plan.contains("hashpartitioning"),
      s"shard window lost its hash partitioning:\n$plan")
  }

  test("no accidental cartesians: nested-loop joins only where fenced") {
    // BroadcastNestedLoopJoin / CartesianProduct are O(n*m) — acceptable
    // only in queries that deliberately fence a small cross product.
    // Everything else must plan hash/sort-merge/broadcast-hash joins.
    val fenced = Set(
      "j6_cross", // the cross-join operator itself
      "j7_theta_range", // non-equi theta join (small sides)
      "d5_embedding_neardup", // exact all-pairs oracle baseline, documented
      "d6_pairwise_label_sim", // deliberate sampled all-pairs diagnostic
      "j9_interval_overlap", // range-overlap theta join (small sides)
      // deliberate broadcast-scalar / broadcast-tiny cross joins (the
      // build side is 1 row of corpus stats, k centroids, or the query
      // set — a BNLJ over a broadcast of constant size, not O(n*m)):
      "d3_search_tfidf", "d3_search_bm25", // 1-row n_docs / avgdl stats
      "d3_search_bm25_persisted", // the same 1-row (n, avgdl) stats
      // broadcast, read from the persisted index's stats parquet
      "d7_quantile_norm", // 1-row corpus-total scalar (pooled lookup is an equi-join)
      "d7_pmi_assoc", // 1-row pair-total scalar (marginal joins are equi)
      "g2_triangles", // three 1-row scalar aggregates (triple join is equi)
      "a6_heavy_hitters_stream", // 1-row token-total scalar broadcast
      // (candidate recount join is equi on term)
      "d11_cluster_split", // 1-row max-splits audit scalar broadcast
      // (cluster assignment + split tagging are equi/window only)
      "d2_keywords_tfidf", // 1-row n_docs scalar broadcast into the
      // term-type idf relation (postings joins are equi on term/doc)
      "t16_psi_drift", // two 1-row scalar broadcasts (min/max/midpoint
      // stats; smoothed totals) onto the 10-row bucket relation
      "a6_hll_intersect", // two 1-row sketch/audit aggregates
      "d6_cosine_topk", // small query set x corpus, reranked top-k
      "d6_ivf_assign", "d6_ivf_search", // k-row centroid cross joins
      "d6_ann_filtered", // the same k-row centroid cross joins (assignment
      // + probe selection); the label filter rides the candidate equi-join
      "d6_recall_curve", // the fenced brute-force oracle leg (broadcast
      // 20-query set x corpus) + the same k-row centroid cross joins +
      // per-probe 1-row aggregate cross joins
      // over the frozen fixture
      "d6_ivfpq_search", // IVF-PQ composite: the only nested loops are
      // the same k-row centroid cross joins (assignment + probe
      // selection); candidate scoring itself is equi-joins on
      // (cluster) and (q_id, sub, code)
      "d6_ivfpq_persisted", // the index twin: probe selection still
      // cross-joins the k-row codebook broadcast (query side only —
      // the corpus-side assignment/encoding cross joins are GONE,
      // paid at ingest by AnnIndex.writeIndex; the ANN plan pin below
      // proves it); ADC + rerank are equi-joins
      "d3_bm25_index_incremental", // same 1-row (n, avgdl) stats
      // broadcast as d3_search_bm25_persisted, read from the MERGED
      // index's stats parquet
      "d6_ivfpq_index_incremental", // the merge demo re-encodes the
      // held-out BATCH inside the query (batch x k-row codebook cross
      // joins — the same fenced shape as d6_ivfpq_search, riding batch
      // size at ingest), then searches from the merged index where the
      // only remaining cross join is the query-side probe selection
      "d6_sq_rerank", // stage-1 shortlist: broadcast query set x corpus
      // over int8 vectors (4x lighter than the float equivalent above)
      "d11_mixture_planner", // 1-row grand-totals scalar broadcast onto
      // the source-TYPE relation — constant-size build side
      "d11_temperature_mix", // 1-row total-weight scalar broadcast onto
      // the 8-row per-source quota relation — constant-size build side
      "tpch_q22", // 1-row positive-balance (sum, count) scalar broadcast
      // gating the customer filter — constant-size build side
      "tpch_q11", // 1-row value-total scalar broadcast (HAVING fraction)
      "tpch_q15", // 1-row max-revenue scalar broadcast (top supplier)
      "d7_lm_score", // 1-row vocab-size scalar broadcast (LM smoothing)
      "d7_source_kl", // 1-row corpus-token-total scalar broadcast
      "d11_dsir_select", // 1-row corpus-totals scalar broadcast into the
      // 256-row importance table; the corpus side is pure equi-joins
      "d7_zipf_fit", // two 1-row stats broadcasts (Σx/Σy centering, final
      // slope assembly) onto the vocab-bounded rank relation
      "s12_histogram", // 1-row min/max scalar broadcast into bucket assign
      "s12_equidepth", // 1-row (n, band-edges) sketch stats broadcast onto
      // the refine scan and the 8-row edge relation — constant build sides
      "d3_hybrid_rrf", // 1-row BM25 stats + 1-row query vector broadcasts;
      // the fusion itself is a full-outer equi-join of two 50-row sides
      "d3_prf_expand", // the same 1-row BM25 stats broadcast, both passes
      "a6_cms_estimate", // 4-row seed relation broadcast onto the vocab
      // (sketch build) and the 20-row probe side — constant build sides
      "d2_bpe_merges", // 1-row argmax merge broadcast per round
      "j15_rel_division", // 1-row universe-size scalar broadcast
      "d6_diverse_topk", // k-row centroid + 5-row query-set broadcasts
      // (the same fixture cross joins as d6_ivf_assign); the candidate
      // scoring joins assignment by vec_id — an equi-join
      "t17_ks_drift", // 1-row epoch-midpoint scalar broadcast onto the
      // event scan — constant-size build side (the t16_psi_drift shape)
      "d6_hard_negatives", // broadcast anchor SAMPLE x corpus: the mining
      // oracle; the scale path reranks an IVF/PQ shortlist instead
      "d3_search_ql", // 3-row query-term relation + 1-row collection-total
      // scalar broadcasts (the d7_lm_score smoothing shape)
      "s18_join_size_estimate", // 4-row seed relation broadcast onto the
      // per-key count relation (sketch build) — constant build side; the
      // sketch dot products and the exact pass are equi-joins
      "s19_bloom_file_skip", // 5-row probe relation broadcast onto the
      // file manifest (the plan grid); manifest build + truth join are
      // equi on (file_id, word)/(file_id, key)
      "d9_data_card", // 1-row totals/entropy/top/median scalars cross-
      // joined into the single datasheet row — all constant build sides
      "w12_ratio_to_report", // 1-row grand-total scalar broadcast onto the
      // per-customer relation — constant-size build side
      "w13_lorenz", // 1-row gini/grand-total scalar broadcast onto the
      // 10-row decile relation — constant-size build side
      "d5_tfidf_cosine_pairs", // 1-row corpus-size scalar broadcast into
      // the idf weight; the pair mining itself is a df-capped posting
      // equi-join
      "d6_kmeans_lloyd", // k-row centroid broadcast cross joins (the
      // d6_ivf_assign shape), one per Lloyd iteration
      "d6_kmeans_converge", // same k-row codebook cross join per round +
      // two 1-row aggregate cross joins (stats × movement count)
      "t23_rfm_segmentation", // 1-row corpus-max-timestamp scalar
      // broadcast onto the per-user purchase aggregate
      "d11_curriculum", // 1-row corpus-token-total scalar broadcast onto
      // the 4-row phase relation
      "a11_assoc_rules", // 1-row order-count scalar broadcast onto the
      // rule relation (pair + marginal joins are equi on order/brand)
      "t25_gap_fill", // 1-row day-bounds scalar broadcast generating the
      // resample grid; the daily join is equi on (user, day)
      "t26_cusum", // 1-row (total, day-count) scalar broadcast onto the
      // bounded day relation
      "sc_benford", // 1-row total scalar broadcast onto the 9-row digit
      // relation
      "s16_ri_audit", // per-edge (1-row count × 1-row orphan-count)
      // scalar cross joins; the orphan scans are left-anti equi-joins
      "t28_hysteresis", // 1-row (total, day-count) scalar broadcast onto
      // the bounded day relation (the t26 shape)
      "d2_vocab_coverage", // 4-row k-grid and 1-row total broadcasts onto
      // the vocab-bounded ranked term relation
      "t30_autocorrelation", // 1-row totals/denominator broadcasts + a
      // 10-row lag grid onto the bounded day relation (lag pairing is
      // an equi-join on day+k)
      "t31_binseg", // 1-row totals + 1-row level-1-peak broadcasts onto
      // the bounded day relation
      "d6_cluster_quality", // the same k-row centroid broadcast cross join
      // as d6_ivf_assign; the next-best and rollup joins are equi on
      // vec_id/cluster
      "a14_chi2_independence", // 1-row dof/total scalar cross joins; the
      // cell-margin joins are equi on lang/source
      "s20_ndv_estimate", // 1-row true-NDV calibration scalar broadcast
      // onto the 1-row sample-stats fold
      "d3_bm25f", // the d3_search_bm25 1-row (n_docs, avgdl) stats
      // broadcast; postings/df/dl joins are equi on term/doc_id
      "a15_theil_decomposition", // 1-row grand-totals scalar broadcast
      // onto the k-row source relation; the ln fold joins equi on source
      "a18_poisson_bootstrap", // 1-row full-sample stats x 1-row CI fold;
      // the replicate build is a per-row Generate, never a join
      "t38_did" // 1-row day-bounds scalar broadcast onto the bounded
      // (type, day) relation — the t26/t28 midpoint shape
    )
    val offenders = sweep(fenced) { df =>
      val plan = df.queryExecution.executedPlan.toString
      plan.contains("BroadcastNestedLoopJoin") || plan.contains("CartesianProduct")
    }
    assert(offenders.isEmpty, s"unfenced nested-loop joins in: $offenders")
  }

  test("bucketed interval join: hash equi-join on cells, no nested loop") {
    // j9's theta join plans as a nested loop (fenced, small sides); the
    // j17 scale path must plan the cell fan-out + a hash/merge equi-join
    val plan = executedPlan(SparkEntry.queries("j17_interval_bucket_join")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"interval bucket join regressed to a nested loop:\n$plan")
    assert(plan.contains("Generate"), s"missing the cell fan-out:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"),
      s"no hash/merge join on the cell key:\n$plan")
  }

  test("j14 bucketed co-located join: SMJ with no exchange on either join side") {
    // the registry query writes both sides bucketed on the join key; the
    // join itself must be satisfied by bucket metadata — the only
    // hash exchange allowed in the plan is the post-join segment aggregate.
    // Read from the shared registry: rebuilding would rewrite the bucketed
    // files under the shared plan
    val plan = executedPlan(registered("j14_bucketed_colocated"))
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning(o_custkey") &&
      !plan.contains("Exchange hashpartitioning(c_custkey"),
      s"bucketed join sides must not shuffle:\n$plan")
  }

  test("j19 spatial grid join: cell fan-out + hash equi-join, never a cartesian") {
    // the 3x3 neighborhood explode must turn the radius predicate into a
    // residual on a cell equi-join; a regression to the theta join would
    // plan a nested loop over |A|x|B|
    val plan = executedPlan(SparkEntry.queries("j19_grid_spatial_join")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"spatial join regressed to a nested loop:\n$plan")
    assert(plan.contains("Generate"), s"missing the 3x3 cell fan-out:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"),
      s"no hash/merge join on the cell key:\n$plan")
  }

  test("SpatialJoinRewrite: naive radius theta join becomes a grid equi-join") {
    // the naive (x1-x2)²+(y1-y2)² <= r² formulation must be rewritten by
    // the injected optimizer rule into the 3x3 cell fan-out + hash join
    val plan = executedPlan(SparkEntry.queries("j19_grid_auto")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"SpatialJoinRewrite did not fire — nested loop survives:\n$plan")
    assert(plan.contains("Generate"), s"missing the 3x3 cell fan-out:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"),
      s"no hash/merge join on the cell key:\n$plan")
  }

  test("yield curve is explode-based: no nested loop, grid joins only the aggregate") {
    // the threshold sweep must ride ONE narrow pass over the pair
    // relation (explode to qualifying t10 rows), never a theta join that
    // broadcasts the unbounded pair relation into a BroadcastNestedLoop
    val plan = executedPlan(SparkEntry.queries("d5_dedup_yield_curve")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"yield curve regressed to a nested-loop theta join:\n$plan")
    assert(plan.contains("Generate"),
      s"missing the per-pair threshold explode:\n$plan")
  }

  test("BandJoinRewrite: naive abs-band join becomes a hash equi-join with fan-out") {
    val plan = executedPlan(SparkEntry.queries("j16_band_join_auto")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"optimizer rule did not remove the nested loop:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"),
      s"no hash/merge join after the band rewrite:\n$plan")
    assert(plan.contains("Generate") || plan.contains("explode"),
      s"missing the +/-2 bucket fan-out:\n$plan")
  }

  test("BandJoinRewrite: a join that already has an equality key is untouched") {
    // same band predicate PLUS a cross-side equality: the rule must not
    // add fan-out when a hash key already exists
    val ev = graft.sources.Tables(spark, sf).events
      .select(col("event_id"), col("user_id"), col("value"))
    val a = ev.select(col("event_id").as("ida"), col("user_id").as("ua"), col("value").as("va"))
    val b = ev.select(col("event_id").as("idb"), col("user_id").as("ub"), col("value").as("vb"))
    val joined = a.join(b, col("ua") === col("ub") &&
      abs(col("va") - col("vb")) <= 0.05 && col("ida") =!= col("idb"))
    val plan = executedPlan(joined)
    assert(!plan.contains("Generate"),
      s"rule fired despite an existing equality key:\n$plan")
  }

  test("t9 interval join is an equi-join on user_id, never a nested loop") {
    val plan = executedPlan(SparkEntry.queries("t9_interval_attrib")(spark, sf))
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"no hash/merge join in t9 plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"interval join degenerated to a nested loop:\n$plan")
  }

  test("shard packing: grouped prefix-sum shape, no nested loop, bucket-partitioned window") {
    // round 14: the per-source cumsum rides PrefixSum.cumOverDistinctBy,
    // so the plan gains the driver-grid offset BROADCAST join (a
    // |sources|x32-row LocalRelation build side) — but never a nested
    // loop, and the cumulative window must be partitioned by MORE than
    // the literal source domain (the (source, bucket) slice)
    val df = SparkEntry.queries("d10_pack_shards")(spark, sf)
    val plan = executedPlan(df)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"nested loop in packing plan:\n$plan")
    assert("\\bWindow\\b".r.findAllIn(plan).length >= 1)
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val sourceOnly = df.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.nonEmpty &&
        w.partitionSpec.flatMap(_.references.toSeq.map(_.name.toLowerCase))
          .toSet == Set("source") => w
    }
    assert(sourceOnly.isEmpty,
      "packing cumsum regressed to a source-only window (corpus/20 per sort task)")
  }

  test("train/val/test split is a pure projection before its aggregate") {
    val plan = executedPlan(SparkEntry.queries("d11_train_val_test")(spark, sf))
    assert(!plan.contains("Join"), s"unexpected join in split plan:\n$plan")
    assert(!plan.contains("Window"), s"unexpected window in split plan:\n$plan")
  }

  test("chunking is scan -> explode -> project with no join or aggregate") {
    val df = SparkEntry.queries("d10_chunking")(spark, sf)
    val plan = executedPlan(df)
    assert(plan.contains("Generate explode"), s"no generator in chunking plan:\n$plan")
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
    assert(!plan.contains("HashAggregate"), s"unexpected aggregate:\n$plan")
  }

  test("production embedding near-dup is bucketed equi-joins, never a cartesian") {
    // d5_embedding_neardup_lsh is the scale-safe twin of the fenced exact
    // all-pairs baseline: LSH bucket self-join (ids + keys only) → id
    // re-fetch rerank. The plan must contain only equi-joins.
    val plan = executedPlan(SparkEntry.queries("d5_embedding_neardup_lsh")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"cartesian in the production near-dup plan:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"no equi-join in the production near-dup plan:\n$plan")
  }

  test("SemDeDup pair relation is a cluster-local equi-join, never a cartesian") {
    // the centroid assignment (k-row broadcast cross join) is fenced
    // behind an eager localCheckpoint; the plan that scales with the
    // corpus — the within-cluster pair join + keep-flag left join —
    // must be pure equi-joins on the cluster / vec_id keys.
    val plan = executedPlan(SparkEntry.queries("d5_semdedup")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"cartesian in the SemDeDup plan:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"no equi-join in the SemDeDup plan:\n$plan")
  }

  // AQE plans print a "== Initial Plan ==" copy below the final plan;
  // exchange counts must only see the final one
  private def finalPlan(plan: String): String =
    plan.split("== Initial Plan ==")(0)

  test("CDC chunking is narrow per-row compute until the dup-count window") {
    val plan = finalPlan(executedPlan(SparkEntry.queries("d10_cdc_chunking")(spark, sf)))
    assert(!plan.contains("Join"), s"unexpected join in CDC chunking plan:\n$plan")
    assert(plan.contains("Generate posexplode"), s"no generator:\n$plan")
    // exactly one DEMANDED hash exchange (ENSURE_REQUIREMENTS): the
    // chunk_md5 dup-count window — boundary derivation itself must not
    // shuffle. The conditional Scans.widen guard may add REPARTITION-
    // tagged exchanges (it fires at spec SF, where the scan is one
    // unsplittable row group; a no-op on well-split inputs) — those are
    // scan-parallelism, not data movement the algorithm demands.
    val demanded = "Exchange hashpartitioning[^\\n]*ENSURE_REQUIREMENTS".r
      .findAllIn(plan).length
    assert(demanded == 1,
      s"boundary derivation must not shuffle:\n$plan")
  }

  test("snapshot diff full-outer join reuses the snapshot windows' partitioning") {
    val plan = finalPlan(executedPlan(SparkEntry.queries("d8_snapshot_diff")(spark, sf)))
    assert(plan.contains("FullOuter"), s"no full-outer join:\n$plan")
    // two snapshot windows hash on filename; the join must add no third
    // hash exchange on top of them
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 2,
      s"diff join re-partitioned its inputs:\n$plan")
  }

  test("JW blocked ER join is an equi-join on the block key, never a cartesian") {
    val plan = executedPlan(SparkEntry.queries("j13_jw_blocked_er")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"cartesian in the blocked ER plan:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), s"no equi-join:\n$plan")
  }

  test("SketchCbo: the sketch decision, not Spark's size estimate, plants the broadcast") {
    // with autoBroadcast off, a plain join would SMJ; the BroadcastHashJoin
    // in the executed plan can only come from SketchCbo's hint
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val bcast = SparkEntry.queries("s18_cbo_broadcast")(spark, sf)
      val bplan = executedPlan(bcast)
      assert(bplan.contains("BroadcastHashJoin"),
        s"sketch-decided broadcast hint did not fire:\n$bplan")
      val shuf = SparkEntry.queries("s18_cbo_shuffle")(spark, sf)
      val splan = executedPlan(shuf)
      assert(!splan.contains("BroadcastHashJoin"),
        s"shuffle leg should not broadcast:\n$splan")
      assert(splan.contains("SortMergeJoin") || splan.contains("ShuffledHashJoin"),
        s"shuffle leg lost its equi-join:\n$splan")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("SketchCbo: planted hot key flips the decision to salt, rows identical") {
    import spark.implicits._
    // 95% of fact rows share key 7; dims too big for the row budget
    val fact = (1L to 4000L).map(i => (if (i % 20 == 0) i % 7 else 7L, i))
      .toDF("k", "payload")
    val dim = (0L until 40L).flatMap(k => (0 until 50).map(r => (k, s"d${k}_$r")))
      .toDF("k", "d")
    val planned = graft.plans.SketchCbo.plan(fact, dim, "k",
      broadcastRowLimit = 10, saltFanout = 4.0, saltBuckets = 8,
      leftSaltSource = Some(col("payload")))
    assert(planned.est.strategy == "salt", s"expected salt: ${planned.est}")
    // CMS estimate is one-sided: est >= exact output
    val plain = fact.join(dim, "k")
    val exact = plain.count()
    assert(planned.est.estOutput >= BigInt(exact),
      s"CMS lost one-sidedness: est ${planned.est.estOutput} < exact $exact")
    // the strategy may never change rows
    assert(planned.df.count() == exact)
    assert(planned.df.select("k", "payload", "d")
      .except(plain.select("k", "payload", "d")).isEmpty)
    assert(plain.select("k", "payload", "d")
      .except(planned.df.select("k", "payload", "d")).isEmpty)
    // and the hot key genuinely spreads over several salt buckets
    val spread = fact.filter($"k" === 7L)
      .select(pmod(xxhash64($"payload"), lit(8)).as("s"))
      .distinct().count()
    assert(spread >= 6, s"hot key landed in only $spread salt buckets")
  }

  test("SketchCbo: swapped salt side (right bigger) ignores leftSaltSource, rows identical") {
    import spark.implicits._
    // the SAME planted skew as above but with the sides flipped: now the
    // BIGGER side is `right`, so SkewJoin salts `right` — and the caller's
    // `leftSaltSource` (a column of `left` that does NOT exist on the
    // right) must be ignored, not resolved against the wrong relation.
    // Before the round-10 fix this path threw AnalysisException at plan
    // time (or worse: silently salted by an unrelated same-named column).
    val fact = (1L to 4000L).map(i => (if (i % 20 == 0) i % 7 else 7L, i))
      .toDF("k", "payload")
    val dim = (0L until 40L).flatMap(k => (0 until 50).map(r => (k, s"d${k}_$r")))
      .toDF("k", "d")
    val planned = graft.plans.SketchCbo.plan(dim, fact, "k",
      broadcastRowLimit = 10, saltFanout = 4.0, saltBuckets = 8,
      leftSaltSource = Some(col("d"))) // a dim column; fact has no "d"
    assert(planned.est.strategy == "salt", s"expected salt: ${planned.est}")
    val plain = dim.join(fact, "k")
    assert(planned.df.count() == plain.count())
    assert(planned.df.select("k", "payload", "d")
      .except(plain.select("k", "payload", "d")).isEmpty)
    assert(plain.select("k", "payload", "d")
      .except(planned.df.select("k", "payload", "d")).isEmpty)
  }

  test("SketchCbo: persisted sketch cells equal the live pass, decision identical") {
    import graft.plans.SketchCbo
    val t = graft.sources.Tables(spark, sf)
    val fact = t.lineitem.withColumnRenamed("l_partkey", "partkey")
    val dim = t.part.withColumnRenamed("p_partkey", "partkey")
    val skDir = java.nio.file.Files.createTempDirectory("graft-sk-spec-").toString
    SketchCbo.writeSketch(fact, col("partkey"), s"$skDir/f")
    SketchCbo.writeSketch(dim, col("partkey"), s"$skDir/d")
    // the persisted cells ARE the live cells — parquet round-trip loses
    // nothing, so the ingest-time sketch carries the full decision signal
    val liveF = SketchCbo.toCells(SketchCbo.sketchTable(fact, col("partkey")))
    val liveD = SketchCbo.toCells(SketchCbo.sketchTable(dim, col("partkey")))
    val persF = SketchCbo.toCells(spark.read.parquet(s"$skDir/f"))
    val persD = SketchCbo.toCells(spark.read.parquet(s"$skDir/d"))
    assert(liveF.flatten.toSeq == persF.flatten.toSeq, "fact cells drifted through parquet")
    assert(liveD.flatten.toSeq == persD.flatten.toSeq, "dim cells drifted through parquet")
    // and the two planning paths make the same call with the same numbers
    val live = SketchCbo.plan(fact, dim, "partkey")
    val pers = SketchCbo.planFromSketches(fact, dim, "partkey",
      spark.read.parquet(s"$skDir/f"), spark.read.parquet(s"$skDir/d"))
    assert(live.est == pers.est,
      s"persisted-plan estimate diverged: live ${live.est} vs persisted ${pers.est}")
    assert(pers.est.strategy == "broadcast")
  }

  test("SketchCbo salt vs AQE skew split: the salt valve pre-empts, AQE stays quiet") {
    import spark.implicits._
    // Planted skew heavy enough that AQE's own skew handling WOULD fire
    // on the plain join under these (test-sized) skew thresholds. The
    // precedence contract this test pins: when the sketch CBO salts, the
    // hot key is spread BEFORE the shuffle, so AQE sees balanced
    // partitions and its skew split must NOT also fire — the two valves
    // never pay double mitigation. (Deployment guidance in BASELINE.md:
    // prefer AQE's split when skew is unknown at plan time; prefer the
    // sketch salt when the sketch already proves it — AQE then stays a
    // no-op backstop either way.)
    val fact = (1L to 60000L).map(i => (if (i % 100 == 0) i % 7 else 7L, i))
      .toDF("k", "payload")
    val dim = (0L until 40L).flatMap(k => (0 until 50).map(r => (k, s"d${k}_$r")))
      .toDF("k", "d")
    val conf = Seq(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // 1. plain shuffle join on the planted skew: AQE's split DOES fire
      val plain = fact.join(dim.hint("shuffle_merge"), "k")
      plain.collect()
      val plainPlan = plain.queryExecution.executedPlan.toString
      assert(plainPlan.contains("skew=true"),
        s"planted skew too weak — AQE did not split the plain join:\n$plainPlan")
      // 2. sketch-CBO salt on the same inputs: pre-spread, AQE stays quiet
      val planned = graft.plans.SketchCbo.plan(fact, dim, "k",
        broadcastRowLimit = 10, saltFanout = 4.0, saltBuckets = 8,
        leftSaltSource = Some($"payload"))
      assert(planned.est.strategy == "salt", s"expected salt: ${planned.est}")
      planned.df.collect()
      val saltPlan = planned.df.queryExecution.executedPlan.toString
      assert(!saltPlan.contains("skew=true"),
        s"double mitigation: AQE skew split fired on the salted join:\n$saltPlan")
      // and the valve changed the plan, not the rows
      assert(planned.df.count() == plain.count())
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("t23 RFM: no window exec in the final plan, buckets == ntile(5)") {
    // the quintile scores come from GK-band boundary keys applied as a
    // per-row scalar — the FINAL plan (what runs over the billion-user
    // relation at scale) must contain no WindowExec at all and no join
    // beyond the checkpointed base; the single-task global-sort ntile
    // windows this replaced would show up as "Window [ntile..." here
    val df = SparkEntry.queries("t23_rfm_segmentation")(spark, sf)
    val plan = executedPlan(df)
    assert(!plan.contains("Window"), s"window exec in the t23 final plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"nested loop in the t23 final plan:\n$plan")
    // bit-parity with the ntile spelling (fine on test-sized data)
    import org.apache.spark.sql.expressions.Window
    val got = df.select("user_id", "r", "f", "m")
    val base = df.select("user_id", "recency_days", "freq", "monetary")
    val want = base
      .withColumn("r", ntile(5).over(Window.orderBy(col("recency_days").desc, col("user_id"))))
      .withColumn("f", ntile(5).over(Window.orderBy(col("freq").asc, col("user_id"))))
      .withColumn("m", ntile(5).over(Window.orderBy(col("monetary").asc, col("user_id"))))
      .select("user_id", "r", "f", "m")
    assert(got.except(want).isEmpty && want.except(got).isEmpty,
      "GK-boundary buckets diverge from ntile(5)")
  }

  // ---- shared fence vocabulary (ROUND-14: TYPE- AND PROBE-DRIVEN) ----
  //
  // An Aggregate only bounds its output when the grouping keys are a
  // DOMAIN-bounded grid (term/day/flag/type/decile — cardinality set by
  // the vocabulary, calendar or a literal code set, not by corpus row
  // count). Grouping on an ENTITY key (customer, user, document,
  // vector, order, event) or on a CONTINUOUS measure (a17's
  // groupBy(value): the "reduction" can be ~1×) yields a
  // corpus-entity-sized relation — w13_lorenz's groupBy(o_custkey) sat
  // under a "reduced" ntile exactly this way for two rounds.
  //
  // Round-13's tightening was enumerative and lost the race within one
  // round: d7_quantile_norm's `score` was missing from the
  // continuous-measure name list and `source` from lowCardCols, so
  // both of its corpus-scale windows passed silently (VERDICT r13).
  // Round 14 detects structurally instead:
  //   - continuous measures BY TYPE: a grouping key of Double/Float/
  //     Decimal type is continuous no matter what it is named;
  //   - illusory reductions BY MEASUREMENT: an Aggregate whose keys
  //     pass the name/type screens is probed — its output/input row
  //     ratio at fence SF must show a real reduction (grouping 500
  //     docs by length(text) keeps 313 rows — 0.63, corpus-sized;
  //     grouping the token stream by term keeps vocab/tokens ≈ 0.001);
  //   - low-cardinality literal domains BY A DISTINCT-COUNT PROBE of
  //     the testdata schema (≤ 64 distinct values at fence SF = a
  //     literal code domain), unioned with the derived-column names
  //     queries alias such domains to.
  private val entityKeys = Set(
    // entity identifiers across every table in TESTDATA.md
    "o_custkey", "c_custkey", "user_id", "doc_id", "vec_id", "q_id",
    "event_id", "o_orderkey", "l_orderkey", "p_partkey", "ps_partkey",
    "s_suppkey", "chunk_id", "session_id", "url", "id",
    // continuous measures kept as a belt (the TYPE rule is the real
    // detector now; these cost nothing and keep old red cases red)
    "value", "s", "sd", "pd", "price", "monetary", "freq", "score",
    "pscore")

  // tiny literal code domains: a window PARTITIONed solely on these
  // over a corpus-sized child is as single-task as no partitioning.
  // Hand-named DERIVED columns (query aliases) union with the probed
  // testdata columns below — the probe owns every physical column.
  private val lowCardCols: Set[String] = Set(
    "variant", "flag", "which", "side", "status") ++ probedLowCard

  /** Every PHYSICAL testdata column with ≤ 64 distinct values at BOTH
    * probe SFs — the literal code domains (source, lang, flags,
    * statuses, region/nation keys...) measured from the data instead
    * of hand-listed (round-13's list lacked `source`; ADVICE r13).
    * TWO SFs because a single-SF count cannot tell a literal domain
    * from an entity key that is merely small at toy scale: user_id is
    * 15 distinct at sf0.001 but 150 at sf0.01 — it GROWS with the
    * corpus, so a window partitioned by it gets finer with the data
    * (fine at 100 TB); `source` stays 20 at every SF, so the same
    * window stays corpus/20 per task (the a9_trimmed_mean hazard). */
  private lazy val probedLowCard: Set[String] = {
    def lowCardAt(dir: String): Set[String] = {
      val t = graft.sources.Tables(spark, dir)
      Seq(t.region, t.nation, t.customer, t.supplier, t.part,
        t.orders, t.lineitem, t.documents, t.embeddings, t.events)
        .flatMap { df =>
          val atomic = df.schema.fields.filter { f =>
            import org.apache.spark.sql.types._
            f.dataType match {
              case StringType | BooleanType | ByteType | ShortType |
                   IntegerType | LongType | FloatType | DoubleType |
                   DateType | TimestampType => true
              case _: DecimalType => true
              case _ => false
            }
          }
          if (atomic.isEmpty) Seq.empty
          else {
            val row = df.select(atomic.map(f =>
              countDistinct(col(f.name)).as(f.name)).toSeq: _*).collect()(0)
            atomic.indices.collect {
              case i if row.getLong(i) <= 64 => atomic(i).name.toLowerCase
            }
          }
        }.toSet
    }
    (lowCardAt(sf) intersect lowCardAt("/root/testdata/sf0.01")) -- entityKeys
  }

  private def continuousType(
      dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.DoubleType |
         org.apache.spark.sql.types.FloatType => true
    case _: org.apache.spark.sql.types.DecimalType => true
    case _ => false
  }

  // reduction-ratio probe, cached by canonicalized plan (the same
  // Aggregate reappears across many queries' windows): a grouping that
  // keeps more than 20% of its input rows at fence SF is corpus-sized
  // masquerading as a domain grid. 0.2 sits an order of magnitude from
  // both sides measured on the testdata (distinct-length 0.63 vs
  // vocabulary 0.001, calendar days ≤0.01).
  private val reductionCache =
    scala.collection.mutable.Map.empty[String, Boolean]
  private def aggregateReduces(
      a: org.apache.spark.sql.catalyst.plans.logical.Aggregate): Boolean =
    reductionCache.getOrElseUpdate(a.canonicalized.toString, {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      try {
        val out = ColumnBridge.ofRows(spark, a).count()
        val in = ColumnBridge.ofRows(spark, a.child).count()
        in == 0L || out.toDouble / in <= 0.2
      } catch { case _: Throwable => false } // unprobeable → not bounded
    })

  private def boundedPlan(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{
      EqualTo, GreaterThan, GreaterThanOrEqual, In, InSet, LessThan,
      LessThanOrEqual, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, Filter, GlobalLimit, LocalLimit, LocalRelation,
      WindowGroupLimit}
    p match {
      case a: Aggregate =>
        val refs = a.groupingExpressions
          .flatMap(_.references.toSeq.map(_.name.toLowerCase))
        val nameEntity = refs.exists(entityKeys.contains)
        // a Double/Float/Decimal grouping key is continuous BY TYPE —
        // unless it is itself a probed literal domain (l_quantity is
        // DECIMAL but 50 distinct values at every SF: a TPC-H grid
        // column, not a measure)
        val typeContinuous = a.groupingExpressions.exists { e =>
          continuousType(e.dataType) && {
            val ers = e.references.toSeq.map(_.name.toLowerCase)
            ers.isEmpty || !ers.forall(probedLowCard.contains)
          }
        }
        // empty grouping = 1-row global fold; entity/continuous keys
        // bound nothing — but a Limit below still would; everything
        // else must PROVE its reduction to the probe
        if (a.groupingExpressions.isEmpty) true
        else if (nameEntity || typeContinuous) a.children.forall(boundedPlan)
        else if (aggregateReduces(a)) true
        else a.children.forall(boundedPlan)
      case f: Filter =>
        // a literal UPPER bound / equality / IN on an entity key (the
        // W-demo prefilters: o_custkey < 50) selects O(k) entities —
        // bounded. Direction matters (ADVICE r13): `vec_id >= 20` or
        // `id =!= 0` selects ~everything; only key < lit, key <= lit,
        // key = lit, key IN (lits) — and their mirrored spellings —
        // count as bounding.
        val refs = f.condition.references.toSeq.map(_.name.toLowerCase)
        val literalEntityBound = refs.nonEmpty &&
          refs.forall(entityKeys.contains) &&
          f.condition.collectFirst {
            case LessThan(_, Literal(_, _))            => ()
            case LessThanOrEqual(_, Literal(_, _))     => ()
            case EqualTo(_, Literal(_, _))             => ()
            case EqualTo(Literal(_, _), _)             => ()
            case GreaterThan(Literal(_, _), _)         => ()
            case GreaterThanOrEqual(Literal(_, _), _)  => ()
            case i: In if i.list.forall(_.isInstanceOf[Literal]) => ()
            case _: InSet                              => ()
          }.nonEmpty
        literalEntityBound || f.children.forall(boundedPlan)
      case _: WindowGroupLimit => true // rank/row_number pushdown: each
      // map task pre-prunes to the top slice before the shuffle
      case _: GlobalLimit => true
      case _: LocalLimit => true
      case _: LocalRelation => true // driver-held, constant-bounded
      case leaf if leaf.children.isEmpty => false
      case other => other.children.forall(boundedPlan)
    }
  }

  import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}

  /** The two offender shapes, factored so the red-team test below can
    * point them at a KNOWN-BAD plan and prove the fence bites. */
  private def emptySpecOffenders(
      lp: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
    lp.collect {
      case w: LWindow if w.partitionSpec.isEmpty && !boundedPlan(w.child) => w
    }
  private def lowCardOnlyOffenders(
      lp: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
    lp.collect {
      case w: LWindow if w.partitionSpec.nonEmpty && {
        val refs = w.partitionSpec
          .flatMap(_.references.toSeq.map(_.name.toLowerCase))
        refs.nonEmpty && refs.forall(lowCardCols.contains) &&
          !boundedPlan(w.child)
      } => w
    }

  test("fence red-team: the retired d7_quantile_norm spelling fails both fence tests") {
    // the exact round-13 blind spot, rebuilt inline: if either leg
    // stops being flagged, the fence has regressed to name-list blindness
    import org.apache.spark.sql.expressions.Window
    val s = graft.sources.Tables(spark, sf).documents
      .select(col("doc_id"), col("source"), length(col("text")).as("score"))
    // leg (a): per-source rank windows — partitioned ONLY by a probed
    // literal domain (20 sources) over the unreduced corpus
    val legA = s
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("score"), col("doc_id"))))
      .withColumn("ns", count(lit(1)).over(Window.partitionBy(col("source"))))
    assert(lowCardOnlyOffenders(legA.queryExecution.optimizedPlan).nonEmpty,
      "fence regression: the per-source corpus window passed (probedLowCard lost `source`?)")
    // leg (b): unpartitioned cumulative window over groupBy(score) —
    // an INTEGER-typed continuous measure only the reduction probe sees
    val legB = s.groupBy(col("score").as("pscore"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(Window.orderBy(col("pscore"))))
    assert(emptySpecOffenders(legB.queryExecution.optimizedPlan).nonEmpty,
      "fence regression: the distinct-score CDF window passed (reduction probe broken?)")
    // and the ADVICE r13 Filter escape hatch: a lower-bound literal
    // filter must NOT bound an empty-partition window's child
    val legC = s.filter(col("doc_id") >= 20)
      .withColumn("rk", row_number().over(Window.orderBy(col("score"), col("doc_id"))))
    assert(emptySpecOffenders(legC.queryExecution.optimizedPlan).nonEmpty,
      "fence regression: `doc_id >= 20` counted as a bounding filter")
  }

  test("no corpus-sized window with an empty partition spec, anywhere") {
    // the single-partition global-window hazard class (t23 round-10,
    // d11_curriculum / d9_data_card round-11, w13_lorenz / a17 /
    // a9_trimmed_mean round-12→13) fenced permanently: an
    // ntile/row_number over the WHOLE corpus with no PARTITION BY is a
    // one-task sort at 100 TB. A window with an empty partition spec is
    // acceptable only when its input has been BOUNDED first — see
    // boundedPlan for what now counts (round-13 tightening: an
    // Aggregate on entity keys or continuous measures no longer does).
    // Queries whose defining semantic IS a (pre-filtered) total order
    // are named below with the reduction that bounds them.
    val fenced = Set(
      "w2_ntile", // the DEMO SPELLING ONLY (round 15 — the r11 'watch'
      // note resolved): w2_ntile_bucketed computes bit-identical
      // quartile/decile buckets through ExactNtile's bounded GK-band
      // passes with NO global window and hash-checks against the SAME
      // oracle text, so the scale path exists and is proven; this demo
      // keeps its unpartitioned ntile because the total order IS the
      // operator being demonstrated
      "o4_skyline" // the global frontier-merge pass: its child is the
      // per-bucket LOCAL frontier (lossless Pareto pruning — the
      // skyline analogue of a partial aggregate), so the global window
      // sees |buckets| × |local frontier| points, not the corpus; the
      // fence cannot see a data-dependent reduction, so the exemption
      // is named here with its justification
    )
    // stale exemptions are themselves a hazard (a future query reusing
    // the name would be silently exempt) — ADVICE r12
    assert(fenced.subsetOf(SparkEntry.queries.keySet),
      s"fence exemptions name unregistered queries: " +
        s"${fenced -- SparkEntry.queries.keySet}")
    val offenders = sweep(fenced) { df =>
      emptySpecOffenders(df.queryExecution.optimizedPlan).nonEmpty
    }
    assert(offenders.isEmpty,
      s"corpus-sized empty-partition windows in: $offenders")
  }

  test("no corpus-sized window partitioned only by a literal-domain key") {
    // the a9_trimmed_mean shape (round-12 audit finding #2): a window
    // PARTITIONed solely on a tiny literal code domain (return flag,
    // line status, event type, source) over a non-reduced child still
    // pushes corpus/|domain| rows through each sort task — 3 partitions
    // is as single-task as 1 at 100 TB. Partitioning must include at
    // least one entity-keyed or range-bucketed column, or the child
    // must be domain-bounded first.
    val fenced = Set(
      "s14_compaction_plan", // greedy sequential file packing: the
      // running sum is inherently order-dependent per source, but its
      // INPUT is the file inventory — a metadata relation (one row per
      // parquet FILE, not per document), orders of magnitude below the
      // corpus; acceptable with this scale note (VERDICT r13 'watch')
      "w2_ranking" // the W2 operator demonstration itself (the
      // literal-domain sibling of the empty-spec test's w2_ntile
      // exemption): rank/dense_rank/ntile per nation over ALL
      // customers — the per-literal-domain total order IS the
      // semantic being demonstrated, and its SCALE-SAFE TWIN
      // w2_ranking_bucketed (grouped prefix-sum position + integer
      // NTILE law, hash-checked against the SAME oracle) passes this
      // fence unfenced — the exemption covers the demo spelling only.
      // Production per-group rankings partition by entity keys
      // (w1, w3-w9: user_id/doc_id — fine-grained at any scale) or
      // ride rank pushdown under a literal cap (d11_temperature_mix)
      // / the grouped prefix sum (d10_pack_shards, the w2 twin).
    )
    assert(fenced.subsetOf(SparkEntry.queries.keySet),
      s"fence exemptions name unregistered queries: " +
        s"${fenced -- SparkEntry.queries.keySet}")
    val offenders = sweep(fenced) { df =>
      lowCardOnlyOffenders(df.queryExecution.optimizedPlan).nonEmpty
    }
    assert(offenders.isEmpty,
      s"literal-domain-partitioned corpus windows in: $offenders")
  }

  test("no corpus-to-corpus join keyed solely on a literal domain") {
    // the JOIN-side analogue of the literal-domain window hazard: an
    // equi-join whose every key is a probed literal domain (source,
    // lang, event_type...) with BOTH sides unbounded produces
    // corpus²/|domain| rows through each hash bucket — a skew
    // catastrophe at 100 TB that no partitioning dial fixes. One side
    // bounded (a per-source quota, a broadcast stats row) is the
    // normal and fine shape; the fence only fires when neither is.
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    import org.apache.spark.sql.catalyst.expressions.EqualTo
    // a side whose every leaf is a NON-SCALING relation (the TPC-H
    // region/nation dimensions, the committed fixture files) is as
    // bounded as a literal: its size IS the literal domain — that is
    // precisely why joining THROUGH it on n_nationkey/n_regionkey is
    // the classic broadcast-dim shape, not the hazard
    def dimSide(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : Boolean = {
      import org.apache.spark.sql.execution.datasources.{
        HadoopFsRelation, LogicalRelation}
      val leaves = p.collectLeaves()
      leaves.nonEmpty && leaves.forall {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation =>
            val paths = fs.location.rootPaths.mkString(",").toLowerCase
            paths.contains("region.parquet") ||
              paths.contains("nation.parquet") ||
              paths.contains("/fixtures/") ||
              paths.contains("s4_region") // the 5-row committed fixtures
          case _ => false
        }
        case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
          true // driver-held, constant-bounded
        case _ => false
      }
    }
    val offenders = sweep(Set.empty) { df =>
      df.queryExecution.optimizedPlan.collect {
        case j: LJoin if {
          val eqKeys = j.condition.toSeq.flatMap(_.collect {
            case EqualTo(l, r) => Seq(l, r)
          }).flatten
          val refs = eqKeys.flatMap(_.references.toSeq.map(_.name.toLowerCase))
          refs.nonEmpty && refs.forall(lowCardCols.contains) &&
            !(boundedPlan(j.left) || dimSide(j.left)) &&
            !(boundedPlan(j.right) || dimSide(j.right))
        } => j
      }.nonEmpty
    }
    assert(offenders.isEmpty,
      s"literal-domain-keyed corpus joins in: $offenders")
    // and the fence itself bites: a synthetic corpus x corpus join on
    // `source` must be flagged
    val docs = graft.sources.Tables(spark, sf).documents
    val synth = docs.select(col("doc_id"), col("source"))
      .join(docs.select(col("source"), col("text")), "source")
    val synthBad = synth.queryExecution.optimizedPlan.collect {
      case j: LJoin if {
        val refs = j.condition.toSeq.flatMap(_.collect {
          case EqualTo(l, r) => Seq(l, r)
        }).flatten.flatMap(_.references.toSeq.map(_.name.toLowerCase))
        refs.nonEmpty && refs.forall(lowCardCols.contains) &&
          !(boundedPlan(j.left) || dimSide(j.left)) &&
          !(boundedPlan(j.right) || dimSide(j.right))
      } => j
    }
    assert(synthBad.nonEmpty,
      "join fence regression: a corpus x corpus join on `source` passed")
  }

  test("persisted LSH index: the band query plans from parquet, never the corpus") {
    // DEPLOY.md §3 bullet 2, proven at the plan level (the d5 twin of
    // the s18_cbo_persisted discipline): after Dedup.writeIndex, the
    // near-dup query's plan is a parquet scan of the signature index +
    // the band join — zero md5/tokenize work, i.e. query time never
    // re-scans corpus text. Rows are bit-identical to the live leg, so
    // persistence is transparent (d5_lsh_persisted hash-checks this
    // against the shared DuckDB oracle too).
    val docs = graft.sources.Tables(spark, sf).documents
      .select(col("doc_id"), col("text"))
    val idx = java.nio.file.Files.createTempDirectory("graft_lsh_idx_spec")
      .resolve("signatures").toString
    graft.dedup.Dedup.writeIndex(docs, idx, shingleWidth = 3, numHashes = 8)
    val fromIdx = graft.dedup.Dedup.minhashPairsFromSignatures(
      spark.read.parquet(idx), numHashes = 8, rowsPerBand = 2,
      minEstJaccard = 0.5)
    val fromIdxRows = fromIdx.collect().map(_.toString).sorted.toSeq
    val plan = fromIdx.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("parquet"),
      s"index leg does not scan the persisted index:\n$plan")
    assert(!plan.toLowerCase.contains("md5"),
      "index leg re-derives signatures at query time")
    val live = graft.dedup.Dedup
      .minhashPairs(docs, shingleWidth = 3, numHashes = 8, rowsPerBand = 2,
        minEstJaccard = 0.5)
      .collect().map(_.toString).sorted.toSeq
    assert(fromIdxRows == live, "persisted index diverged from the live leg")
  }

  test("persisted text index: BM25 plans from parquet with pushed term filters, never the corpus") {
    // the d3 sibling of the LSH pin above — the third ingest-time
    // artifact family: after TextIndex.writeIndex, the BM25 query's
    // plan is term-filtered parquet scans of the index (postings + df,
    // with In(term, ...) pushed to the scan) — the documents relation
    // and its tokenize pass never appear at query time. Rows are
    // bit-identical to the live leg (d3_search_bm25_persisted also
    // hash-checks this against the shared DuckDB oracle).
    val idx = java.nio.file.Files.createTempDirectory("graft_text_idx_spec")
      .toString
    graft.functions.TextIndex.writeIndex(
      graft.sources.Tables(spark, sf).documents
        .select(col("doc_id"), col("text")), idx)
    val terms = Seq("spark", "window", "shuffle")
    val fromIdx = graft.functions.TextIndex.bm25(spark, idx, terms)
    val idxRows = fromIdx.collect().map(_.toString).toSeq
    val plan = fromIdx.queryExecution.executedPlan.toString
    assert(plan.contains(idx), s"BM25 leg does not scan the persisted index:\n$plan")
    assert(!plan.contains("documents"),
      "BM25 index leg re-reads the corpus at query time")
    assert(plan.contains("PushedFilters: [In(term"),
      s"query-term filter not pushed to the index scan:\n$plan")
    val live = SparkEntry.queries("d3_search_bm25")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(idxRows == live, "persisted text index diverged from the live leg")
  }

  test("persisted ANN index: IVF-PQ plans from parquet, floats only for probe + rerank") {
    // the d6 twin of the two pins above — the FOURTH ingest-time
    // artifact family: after AnnIndex.writeIndex, the IVF-PQ search's
    // plan reads codebooks/inverted-file/codes from the index; the
    // embeddings parquet appears EXACTLY twice (the query side and the
    // shortlist exact rerank) — the corpus assignment and PQ encoding
    // passes (each a full embeddings scan through the argmax
    // aggregates) never run at query time. Rows are bit-identical to
    // the live composite (d6_ivfpq_persisted also hash-checks this
    // against the shared DuckDB oracle).
    val t = graft.sources.Tables(spark, sf)
    val e = t.embeddings
    val corpus = e.filter(col("vec_id") >= 20)
    val queries = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val idx = java.nio.file.Files.createTempDirectory("graft_ann_idx_spec")
      .toString
    graft.functions.AnnIndex.writeIndex(corpus,
      spark.read.parquet(Repo.fixture("ivf_centroids.parquet")),
      spark.read.parquet(Repo.fixture("pq_centroids.parquet")), idx)
    val fromIdx = graft.functions.AnnIndex
      .ivfpqSearch(spark, idx, queries, corpus)
    fromIdx.collect() // force AQE final plan
    val plan = fromIdx.queryExecution.executedPlan.toString
    assert(plan.contains(s"$idx/ivf") && plan.contains(s"$idx/codes"),
      s"search leg does not scan the persisted index:\n$plan")
    val embScans = plan.linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("embeddings"))
    assert(embScans <= 2,
      s"index leg re-encodes the corpus at query time ($embScans embeddings scans):\n$plan")
    val live = SparkEntry.queries("d6_ivfpq_search")(spark, sf)
      .select(col("q_id"), col("rn"), col("vec_id"), col("l2"))
      .collect().map(_.toString).sorted.toSeq
    val idxCanon = fromIdx
      .select(col("q_id"), col("rn"), col("vec_id"), round(col("l2"), 4).as("l2"))
      .collect().map(_.toString).sorted.toSeq
    assert(idxCanon == live, "persisted ANN index diverged from the live leg")
  }
}
