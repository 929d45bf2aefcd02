package graft

import org.apache.spark.sql.functions._

/** Physical-plan regression tests: the scale properties README promises
  * (pushdown, pruning, broadcast, take-ordered, bucketed co-location)
  * asserted against the actual executed plans so refactors can't
  * silently regress them. */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("plan sweep: no CartesianProduct in ANY registered query") {
    // the blanket scale-killer guard across the whole surface; the
    // 1-row broadcast cross joins in the similarity family plan as
    // BroadcastNestedLoopJoin (bounded by the broadcast side = 1 row),
    // never as a CartesianProduct
    SparkEntry.queries.foreach { case (name, fn) =>
      val p = fn(spark, sf).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$name plans a CartesianProduct:\n$p")
    }
  }

  test("p3: equality predicate reaches the parquet scan") {
    val p = plan("p3_eq_filter")
    assert(p.contains("PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)]"), p)
  }

  test("q3: broadcast joins, pruned scans, TakeOrderedAndProject (no global sort)") {
    val p = plan("q3_top_revenue")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("GlobalSort"), p)
    // lineitem scan reads only the three needed columns
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>"), p)
  }

  test("flagship: single-stage narrow pipeline until the final take") {
    val p = plan("flagship_policy_db")
    // the only exchanges allowed are the broadcast of the dimension and
    // the final take's singlePartition gather
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles == 0, s"unexpected hash-shuffle in flagship plan:\n$p")
  }

  test("j1: both dimension joins execute as broadcast-hash") {
    val p = plan("j1_lookup_join")
    assert("BroadcastHashJoin".r.findAllIn(p).length == 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("j2: theta-join over the constant lexicon plans as a narrow stage — no join operator at all") {
    // regression guard for the r1 scale-killer: the BroadcastNestedLoopJoin
    // form evaluated an interpreted regex per (row × lexicon-row)
    // ("Join" alone would match the lexicon literal "Relational Join")
    val p = plan("j2_keyword_theta_join")
    assert(!p.contains("NestedLoopJoin") && !p.contains("HashJoin")
      && !p.contains("SortMergeJoin"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("j6: as-of join plans as union + window — no nested loop, one shuffle on the key") {
    val p = plan("j6_asof_join")
    assert(!p.contains("NestedLoop"), p)
    assert(p.contains("Window"), p)
  }

  test("j7: range join plans as equi-join on the grain cell — no nested loop") {
    val p = plan("j7_range_join")
    assert(!p.contains("NestedLoop"), p)
  }

  test("j8: the bloom reduction filters the fact side below the join (might_contain in the scan stage)") {
    val p = plan("j8_bloom_join")
    // the codegen'd might_contain predicate is present...
    assert(p.contains("might_contain"), p)
    // ...and sits in the lineitem subtree, i.e. BEFORE the join operator
    // in bottom-up order: the last join occurrence must come before the
    // last might_contain occurrence in the printed (top-down) plan
    val joinPos = math.max(p.lastIndexOf("HashJoin"), p.lastIndexOf("SortMergeJoin"))
    assert(joinPos >= 0 && p.lastIndexOf("might_contain") > joinPos, p)
  }

  test("u10: the aggregate navigates to the registered summary — the fact table is never scanned") {
    val p = plan("u10_matview_rewrite")
    assert(!p.contains("lineitem.parquet"),
      s"rewrite did not fire — plan still scans the fact table:\n$p")
    assert(p.contains("matview_li"), p)
  }

  test("matview rule is conservative: non-key filters and distinct aggregates stay on the fact table") {
    import org.apache.spark.sql.graft.MatViewRewrite
    val tmp = java.nio.file.Files.createTempDirectory("graft-mv").toString
    // a (wrong-on-purpose) summary: the rule must never consult it for
    // the non-rewritable shapes below, so its values don't matter
    spark.range(1).selectExpr("'N' AS l_returnflag", "'O' AS l_linestatus",
      "123L AS cnt", "1.0D AS s_qty").write.mode("overwrite").parquet(tmp)
    if (!spark.experimental.extraOptimizations.contains(MatViewRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ MatViewRewrite
    MatViewRewrite.register("planspec-neg", MatViewRewrite.MatView(
      basePathMarker = "lineitem.parquet",
      keys = Set("l_returnflag", "l_linestatus"),
      sumCols = Map("l_quantity" -> "s_qty"), countCol = "cnt",
      view = () => spark.read.parquet(tmp).queryExecution.analyzed))
    try {
      val li = Tables.lineitem(spark, sf)
      // control: an answerable aggregate DOES navigate
      val yes = li.groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
        .queryExecution.executedPlan.toString
      assert(!yes.contains("lineitem.parquet"), yes)
      // non-key filter: not answerable post-grouping → untouched
      val f = li.filter(col("l_quantity") > 10)
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
        .queryExecution.executedPlan.toString
      assert(f.contains("lineitem.parquet"), f)
      // distinct aggregate: not derivable from a sum-rollup → untouched
      val d = li.groupBy(col("l_returnflag"))
        .agg(count_distinct(col("l_linestatus")).as("n"))
        .queryExecution.executedPlan.toString
      assert(d.contains("lineitem.parquet"), d)
      // aggregate over a non-covered column → untouched
      val nc = li.groupBy(col("l_returnflag")).agg(sum(col("l_tax")).as("n"))
        .queryExecution.executedPlan.toString
      assert(nc.contains("lineitem.parquet"), nc)
    } finally MatViewRewrite.unregister("planspec-neg")
  }

  test("x_overlap_sketch: the sketch path is two aggregates, no join of the element universes") {
    // the production path (overlapSketch alone) must be join-free —
    // the exact twin inside the registered query has joins, so pin the
    // CORE, not the composite
    val sh = graft.operators.Dedup.shingleHashesOf(Tables.documents(spark, sf))
    val p = graft.operators.Quality.overlapSketch(
      sh.filter(col("doc_id") % 2 === 0).select(col("h")),
      sh.filter(col("doc_id") % 2 === 1).select(col("h")), "h")
      .queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    assert(p.contains("hll_sketch_agg") || p.contains("HllSketchAgg"), p)
  }

  test("s_ann_lsh: probe scan prunes to the probe-bucket partitions (no full-corpus scan)") {
    val q = SparkEntry.queries("s_ann_lsh")(spark, sf)
    val p = q.queryExecution.executedPlan.toString
    // literal probe-bucket IN filter lands in the index scan's
    // PartitionFilters — the scan reads ≤9 of the bucket partitions
    assert(p.contains("PartitionFilters: [bucket"), p)
    assert(p.contains(" IN ("), p)
    // and no post-hoc Hamming filter over a full scan remains
    assert(!p.contains("bit_count"), p)
  }

  test("s_ann_lsh_batch: index scan reads ONLY the probe buckets' partition dirs (no full-index listing)") {
    val q = SparkEntry.queries("s_ann_lsh_batch")(spark, sf)
    val p = q.queryExecution.executedPlan.toString
    // r12: the batch's bucket union is collected driver-side and the
    // scan is constructed FROM those partition dirs (basePath read) —
    // partition DISCOVERY cost tracks the probe ball, not the bucket
    // count (a full-root read pays a distributed listing job at a
    // 1024-dir index before pruning a row). The location itself names
    // a bucket dir; the probe join still fans candidates per query.
    assert(p.contains("/bucket="), p)
    assert(p.contains("BroadcastHashJoin [bucket"), p)
    // and no post-hoc Hamming filter over a full scan remains
    assert(!p.contains("bit_count"), p)
  }

  test("t_bm25_indexed: postings scan prunes to the query terms' bucket partitions") {
    val q = SparkEntry.queries("t_bm25_indexed")(spark, sf)
    val p = q.queryExecution.executedPlan.toString
    // driver-computed term buckets land as literal IN PartitionFilters
    // on the postings (and df) scans — the corpus itself is untouched
    assert(p.contains("PartitionFilters: [bucket"), p)
    assert(p.contains(" IN ("), p)
    assert(!p.toLowerCase.contains("documents.parquet"), p)
  }

  test("q6: the whole predicate reaches the lineitem scan; no join operator at all") {
    val p = SparkEntry.queries("q6_forecast_revenue")(spark, sf)
      .queryExecution.executedPlan.toString
    // the PushedFilters list is truncated in toString — assert its
    // head plus the full predicate at the post-scan Filter (expr ids
    // vary, hence the regexes)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
    assert("l_discount#\\d+ >= 0\\.05".r.findFirstIn(p).isDefined, p)
    assert("l_quantity#\\d+ < 24\\.0".r.findFirstIn(p).isDefined, p)
    assert(!p.contains("Join"), p)
  }

  test("q8: the five-table market-share tree plans as broadcast joins only") {
    val p = SparkEntry.queries("q8_market_share")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("t_bm25_batch: postings partitions pruned DYNAMICALLY by the query-frame join") {
    val q = SparkEntry.queries("t_bm25_batch")(spark, sf)
    val p = q.queryExecution.executedPlan.toString
    // the (query_id, term, bucket) probe frame is broadcast and the
    // postings scan's PartitionFilters carry a dynamic-pruning
    // subquery on the bucket partition column — pruning comes from
    // the JOIN, the s_ann_lsh_batch shape for text
    assert(p.contains("dynamicpruningexpression"), p)
    assert(p.contains("PartitionFilters: [isnotnull(bucket"), p)
    // served from the index: the corpus itself is never read
    assert(!p.toLowerCase.contains("documents.parquet"), p)
  }

  test("profile: BOTH variants plan without a multi-distinct Expand") {
    val o = Tables.orders(spark, sf)
    val approx = operators.Quality.profile(o, exact = false)
      .queryExecution.executedPlan.toString
    assert(!approx.contains("Expand"), approx)
    // r14: the exact profile is one union branch per column, each a
    // SINGLE-distinct aggregate — plans as plain two-phase aggs, no
    // k-fold Expand (the old wide multi-distinct form's price); each
    // branch's scan prunes to its own column
    val exact = operators.Quality.profile(o, exact = true)
      .queryExecution.executedPlan.toString
    assert(!exact.contains("Expand"), exact)
    assert(exact.contains("Union"), exact)
  }

  test("s_ivf_ann_indexed: data scan prunes to the NProbe cell partitions") {
    val q = SparkEntry.queries("s_ivf_ann_indexed")(spark, sf)
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [cell"), p)
    assert(p.contains(" IN ("), p)
  }

  test("s_ivfpq_indexed: ADC scans stored codes, both index scans prune to probed cells") {
    val q = SparkEntry.queries("s_ivfpq_indexed")(spark, sf)
    val p = q.queryExecution.executedPlan.toString
    // codes scan (ADC stage) AND data scan (re-rank stage) each prune
    // to the NProbe cell partitions
    assert("PartitionFilters: \\[cell".r.findAllIn(p).length >= 2, p)
    // the ADC stage reads the stored M-int codes, never raw embeddings
    assert(p.contains("codes:array<int>"), p)
  }

  test("s_ivfpq_batch: codes partitions pruned DYNAMICALLY by the probe-cell join") {
    val q = SparkEntry.queries("s_ivfpq_batch")(spark, sf)
    val p = q.queryExecution.executedPlan.toString
    // per-query probe cells are a broadcast COLUMN (no driver collect
    // selects cells) and the codes scan's PartitionFilters carry a
    // dynamic-pruning subquery on the cell partition column — pruning
    // comes from the JOIN, the s_ann_lsh_batch shape for IVF-PQ
    assert(p.contains("dynamicpruningexpression"), p)
    assert(p.contains("PartitionFilters: [isnotnull(cell"), p)
    // the ADC stage reads the stored M-int codes, never raw embeddings
    assert(p.contains("codes:array<int>"), p)
  }

  test("s_centroids: exactly one hash-shuffle (partial agg carries (sum,count) pairs)") {
    val p = plan("s_centroids")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("t_mixture_weights: ONE corpus scan (totals from a post-agg window, not a re-derived aggregate)") {
    val p = plan("t_mixture_weights")
    assert("Scan parquet".r.findAllIn(p).length == 1, p)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("u8_scd2 / p10_quota_sample: one key-shuffle each (window over the partition key)") {
    val scd2 = plan("u8_scd2")
    assert("Exchange hashpartitioning".r.findAllIn(scd2).length == 1, scd2)
    val quota = plan("p10_quota_sample")
    assert("Exchange hashpartitioning".r.findAllIn(quota).length == 1, quota)
  }

  test("ts_interpolate: ONE scan, TWO exchanges, no join — segments explode the grid") {
    val p = plan("ts_interpolate")
    // r12 shape: hourly agg exchange + one key-window exchange; the
    // r11 grid-join (2nd events scan + SMJ) is gone, and every window
    // (bounds, anchors, lead) shares the single key sort
    assert("Scan parquet".r.findAllIn(p).length == 1, p)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 2, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
    assert("(?m)^\\s*\\+- Sort ".r.findAllIn(p).length == 1, p)
  }

  test("p16: TWO corpus scans (weights agg + prefix window), budgets broadcast") {
    val p = plan("p16_temperature_sample")
    assert("Scan parquet".r.findAllIn(p).length == 2, p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("s5_crawl_schedule: per-domain window only — no global sort") {
    val p = plan("s5_crawl_schedule")
    assert(!p.contains("Exchange rangepartitioning"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2, p)
  }

  test("sql surface: predicates written in SQL still reach the parquet scan") {
    val p = plan("sql_q6_forecast")
    assert(p.contains("LessThan(l_quantity,24.0)"), p)
  }

  test("d_incremental: no cartesian product anywhere in the batch-vs-corpus plan") {
    val p = plan("d_incremental")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t_token_count: narrow projection — no exchange at all") {
    val p = plan("t_token_count")
    assert(!p.contains("Exchange"), p)
  }

  test("bucketed tables co-locate the join: no shuffle exchange") {
    val wh = java.nio.file.Files.createTempDirectory("graft-warehouse").toString
    val db = "graft_bucketed"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$wh'")
    try {
      Tables.orders(spark, sf).write
        .bucketBy(4, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable(s"$db.orders_b")
      Tables.lineitem(spark, sf).write
        .bucketBy(4, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable(s"$db.lineitem_b")
      val joined = spark.table(s"$db.lineitem_b")
        .join(spark.table(s"$db.orders_b"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).count()
      // matching bucketing on both sides: the join itself needs no
      // Exchange (only the final aggregation shuffles)
      val p = joined.queryExecution.executedPlan.toString
      val joinSection = p.substring(p.indexOf("Join"))
      assert(!joinSection.contains("Exchange hashpartitioning(l_orderkey"), p)
      assert(!joinSection.contains("Exchange hashpartitioning(o_orderkey"), p)
      assert(joined.count() > 0)
    } finally {
      spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    }
  }

  test("PolyHashRewrite rule lowers the HOF polyhash pattern to the native expression") {
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    if (!spark.experimental.extraOptimizations.contains(
        org.apache.spark.sql.graft.PolyHashRewrite)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ org.apache.spark.sql.graft.PolyHashRewrite
    }
    val df = Tables.documents(spark, sf)
      .select(col("doc_id"), expr(functions.PortableHash.polyHashHofSql("text")).as("h"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("graft_polyhash"), optimized)
    assert(!optimized.contains("aggregate("), optimized)
    // and the rewritten plan computes the same values as the native call
    val native = Tables.documents(spark, sf)
      .select(col("doc_id"), expr("graft_polyhash(text)").as("h"))
    assert(df.orderBy("doc_id").collect().toSeq == native.orderBy("doc_id").collect().toSeq)
  }

  test("hive-style partitioned write prunes partitions at scan time") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    Tables.lineitem(spark, sf)
      .write.partitionBy("l_returnflag").mode("overwrite").parquet(s"$dir/l")
    val q = spark.read.parquet(s"$dir/l").filter(col("l_returnflag") === "R")
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(l_returnflag"), p)
    // pruned scan reads only the R partition
    val all = Tables.lineitem(spark, sf).filter(col("l_returnflag") === "R").count()
    assert(q.count() == all)
  }

  test("a12: window moments + final groupBy share ONE event_type shuffle (exchange reuse)") {
    val p = plan("a12_anomaly")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("runtime bloom-filter pruning: a selective dim filter reaches the fact scan at runtime") {
    // The 100 TB shuffle-join companion to static pushdown: when the
    // dimension side of a shuffle join carries a selective filter,
    // Spark's InjectRuntimeFilter builds a bloom filter from it and
    // applies might_contain on the fact side BEFORE the shuffle —
    // shuffled fact bytes shrink by the dim selectivity. Local fixture
    // sizes sit below the production thresholds, so the test lowers
    // them; a real deployment keeps the defaults.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val o = Tables.orders(spark, sf).filter(col("o_orderpriority") === "1-URGENT")
      val l = Tables.lineitem(spark, sf)
      val q = l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(sum(col("l_quantity")).as("qty"))
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("might_contain"), s"no runtime bloom filter injected:\n$p")
      assert(q.count() == 1)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("r6 narrow ops plan with zero shuffles: split, bits, dim-reduce, patches") {
    for (q <- Seq("p11_split", "f_bits", "s_dim_reduce", "m_patches")) {
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning"), s"$q shuffles:\n$p")
    }
  }

  test("r7 plans: p12 one stratum shuffle, gopher narrow, semdedup equi-joined cells") {
    // token-budget sampler = window over the stratum key: exactly one
    // hash shuffle, like the quota sampler it generalizes
    val p12 = plan("p12_token_budget")
    assert("Exchange hashpartitioning".r.findAllIn(p12).length == 1, p12)
    // the rule battery is pure per-row projection — no exchange at all
    val pg = plan("t_gopher_rules")
    assert(!pg.contains("Exchange hashpartitioning"), pg)
    // SemDeDup's in-cell candidate join is keyed on the cell id — a
    // hash/merge equi-join, never a loop over the corpus (the only
    // nested-loop nodes are the k-row broadcast model joins)
    val psd = plan("d_semdedup")
    assert(psd.contains("SortMergeJoin") || psd.contains("ShuffledHashJoin")
      || psd.contains("BroadcastHashJoin"), psd)
    assert(!psd.contains("CartesianProduct"), psd)
  }

  test("t_line_dedup: the df aggregate shuffles the 8-byte segment hash, not segment text") {
    val p = plan("t_line_dedup")
    // the first aggregation keys on the hash column h (count distinct
    // doc_id per h) — a shuffle keyed on seg text would appear as
    // hashpartitioning(seg...)
    assert(p.contains("Exchange hashpartitioning(h#"), p)
    assert(!p.contains("Exchange hashpartitioning(seg#"), p)
  }

  test("j9: bucketed join + aggregate + top-k plan with ZERO exchanges") {
    val p = plan("j9_bucketed_join")
    // both sides pre-bucketed on the join key: the SMJ's distribution
    // is satisfied by the scans, the aggregate's by the join (its
    // grouping keys contain the bucket key), and the final ordering is
    // a TakeOrderedAndProject — no Exchange of ANY kind (hash, range,
    // single-partition, broadcast) anywhere in the plan
    assert(p.contains("SortMergeJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange"), p)
    // the scans report the bucket layout (SelectedBucketsCount)
    assert(p.contains("SelectedBucketsCount"), p)
  }

  test("u9: incremental merge keeps exact decimal until the final double cast") {
    val p = plan("u9_incremental_agg")
    // both partial aggregates sum DECIMAL; one exchange per side plus
    // the full-outer join's — never more than 3 hash shuffles
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 3, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("r8 plans: hard-negatives one k-bounded shuffle, affinity/pq broadcast-only joins") {
    // s_hard_negatives: the n·|anchors| pair space collapses map-side
    // through graft_topk — exactly ONE hash shuffle (the aggregate's),
    // carrying k-bounded buffers; anchors and the winner panel both
    // broadcast, so no shuffle join anywhere
    val hn = plan("s_hard_negatives")
    assert("Exchange hashpartitioning".r.findAllIn(hn).length == 1, hn)
    assert(!hn.contains("SortMergeJoin"), hn)
    // t_domain_affinity: every model-side join is broadcast (the
    // feature tables are ≤ B rows); the corpus never shuffles as text —
    // the exchanges carry (doc_id, f, c) rows and B-row aggregates
    val da = plan("t_domain_affinity")
    assert(!da.contains("SortMergeJoin"), da)
    // s_pq_adc: codebooks are driver-local literals, the encode join
    // and the ADC table join both broadcast
    val pq = plan("s_pq_adc")
    assert(!pq.contains("SortMergeJoin"), pq)
  }

  test("AQE skew join splits the hot partition at runtime") {
    // the runtime complement to j4_salted_join's MANUAL salting demo:
    // with adaptive skew-join on, a sort-merge join against a key whose
    // rows dwarf the median partition is re-planned mid-query — the
    // executed SMJ node carries skew=true and the hot partition is
    // split without any key rewrite. At 100 TB this is the armor for
    // skew you did NOT predict (salting covers the skew you did).
    import spark.implicits._
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      // shrink the detection thresholds so fixture-scale bytes qualify
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val pad = "x" * 64
      val left = ((1 to 30000).map(i => (0L, s"hot-$i-$pad")) ++
        (1 to 300).map(i => (i.toLong, "cold"))).toDF("k", "v")
      val right = (0 to 300).map(i => (i.toLong, s"r$i")).toDF("k", "r")
      val joined = left.join(right, "k")
      // collect() drives joined's OWN queryExecution (count() would
      // execute a separate aggregate plan and leave this one unrun)
      assert(joined.collect().length == 30000 + 300)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"), s"AQE did not mark the skewed join:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("column lineage: windows, explodes, and positional unions resolve to scan leaves") {
    import graft.plans.Lineage
    def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(String, String, String)] =
      Lineage.columnLineage(df).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    // window: the rank derives from BOTH the partition and order keys
    val w = Tables.orders(spark, sf)
      .withColumn("rk", row_number().over(org.apache.spark.sql.expressions
        .Window.partitionBy("o_custkey").orderBy("o_orderdate")))
      .select("o_orderkey", "rk")
    assert(pairsOf(w) == Set(
      ("o_orderkey", "orders", "o_orderkey"),
      ("rk", "orders", "o_custkey"),
      ("rk", "orders", "o_orderdate")))
    // generator: exploded tokens derive from the exploded column
    val e = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("tok"))
    assert(pairsOf(e) == Set(("tok", "documents", "text")))
    // union: output column i derives from BOTH children's column i
    val u = Tables.orders(spark, sf).select(col("o_totalprice").as("v"))
      .unionByName(Tables.lineitem(spark, sf).select(col("l_extendedprice").as("v")))
    assert(pairsOf(u) == Set(
      ("v", "orders", "o_totalprice"),
      ("v", "lineitem", "l_extendedprice")))
  }

  test("plan lint: flags cross joins, single-partition windows, udfs, global sorts; clean plans stay clean") {
    import graft.plans.PlanLint
    import spark.implicits._
    def findings(df: org.apache.spark.sql.DataFrame): Set[String] =
      PlanLint.lint(df).collect().map(_.getString(1)).toSet
    val a = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    // cross join of two UNBOUNDED (file-backed) sides flags; never run
    val ord = Tables.orders(spark, sf)
    val li = Tables.lineitem(spark, sf)
    assert(findings(ord.crossJoin(li)).contains("cross_join"))
    // …but the library's bounded idioms don't: a provably-1-row side
    // (ungrouped agg — Catalyst maxRows), or an explicit broadcast()
    // attestation on a key-filtered side
    assert(!findings(li.crossJoin(ord.agg(max(col("o_totalprice")).as("mx"))))
      .contains("cross_join"))
    assert(!findings(li.crossJoin(broadcast(ord.filter(col("o_orderkey") === 1L))))
      .contains("cross_join"))
    assert(findings(li.withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("l_orderkey"))))
      .contains("single_partition_window"))
    val f = org.apache.spark.sql.functions.udf((s: String) => s.length)
    assert(findings(a.select(f(col("v")).as("n"))).contains("scala_udf"))
    // full-volume global sort flags; sort AFTER aggregation (report
    // ordering, group-cardinality volume) doesn't
    assert(findings(li.orderBy("l_orderkey")).contains("global_sort"))
    assert(!findings(li.groupBy("l_returnflag").count().orderBy("l_returnflag"))
      .contains("global_sort"))
    // the registered flagship stays clean of errors
    val flagship = SparkEntry.queries("q3_top_revenue")(spark, sf)
    assert(!PlanLint.lint(flagship).collect()
      .exists(_.getString(0) == "error"))
  }

  test("plan lint self-gate: every registered query lints clean outside the named exemptions") {
    import graft.plans.PlanLint
    // the repo's own scale-killer lint turned on the repo's own suite:
    // any new query that plans a cartesian product, a full-volume
    // global sort, a ScalaUDF, or an unjustified single-partition
    // window fails HERE, not on a 1000-executor cluster. Exemptions
    // are the documented bounded-by-construction windows:
    //  - p14_priority_sample: one global prefix window over the
    //    PRIORITY-AGGREGATED frame (rows = distinct priorities × keys,
    //    bounded by the sampler's contract, see Sampling.scala)
    //  - t_mixture_weights: corpus totals window over the per-language
    //    aggregate (rows = language count, see TextAnalysis.scala)
    val exempt: Map[String, Set[String]] = Map(
      "p14_priority_sample" -> Set("single_partition_window"),
      "t_mixture_weights" -> Set("single_partition_window"))
    val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      PlanLint.lint(fn(spark, sf)).collect()
        .map(r => (r.getString(0), r.getString(1)))
        .filterNot { case (_, finding) => exempt.getOrElse(name, Set.empty)(finding) }
        .map { case (sev, finding) => s"$name: $sev/$finding" }
    }
    assert(bad.isEmpty, s"lint findings outside exemptions:\n${bad.mkString("\n")}")
  }

  test("plan lint: unbounded driver collects — predicate unit cases, and the whole suite's builder collects gate clean outside exemptions") {
    import graft.plans.PlanLint
    // unit cases: a bare full-scan collect flags; a limit, an
    // aggregate, or a local relation does not
    val li = Tables.lineitem(spark, sf)
    assert(PlanLint.unboundedCollect(li.queryExecution.optimizedPlan))
    assert(!PlanLint.unboundedCollect(li.limit(5).queryExecution.optimizedPlan))
    assert(!PlanLint.unboundedCollect(
      li.groupBy("l_returnflag").count().queryExecution.optimizedPlan))
    assert(!PlanLint.unboundedCollect(
      li.select(org.apache.spark.sql.functions.max("l_quantity"))
        .queryExecution.optimizedPlan))
    // a window/filter chain with no bound still flags (the shape that
    // needs an explicit exemption when its size is bounded only by
    // construction)
    assert(PlanLint.unboundedCollect(
      li.filter(col("l_quantity") > 0).queryExecution.optimizedPlan))

    // suite gate: run every registered BUILDER (their internal
    // collects — probe plans, quantizer training, manifest pruning —
    // execute during construction) under a QueryExecutionListener that
    // applies the predicate to each collect's optimized plan.
    // Exemptions are the named sites whose collected sets are bounded
    // by CONSTRUCTION (not provable from the plan):
    //  - s_ann_lsh_batch / s_ann_recall_panel: the budget-bounded
    //    multi-probe plan — ≤ (bits+1)·|panel| rows by the fixed-panel
    //    + occupancy-budget discipline (Similarity.budgetProbesOf);
    //    the panel filter bounds it semantically, not statically
    val exempt = Set("s_ann_lsh_batch", "s_ann_recall_panel")
    val flagged = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var current = ""
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        if (funcName == "collect" && PlanLint.unboundedCollect(qe.optimizedPlan)) {
          flagged.add(current); ()
        }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    // QueryExecutionListener events ride the shared listener bus
    // asynchronously; drain it per query so flags attribute correctly
    val bus = spark.sparkContext.getClass.getMethod("listenerBus")
      .invoke(spark.sparkContext)
    val drain = bus.getClass.getMethods
      .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0).get
    spark.listenerManager.register(listener)
    try {
      for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
        current = name
        fn(spark, sf)
        drain.invoke(bus)
      }
      // planted violation: the gate actually fires through the listener
      current = "__planted__"
      Tables.lineitem(spark, sf).collect()
      drain.invoke(bus)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val hits = flagged.asScala.toSet
    assert(hits("__planted__"), "planted full-scan collect did not flag")
    val bad = (hits - "__planted__") -- exempt
    assert(bad.isEmpty, s"unbounded collects outside exemptions: ${bad.mkString(", ")}")
  }

  test("index probes build their plans without Spark jobs: text 0, ann the probe-cell collect plus one schema read per data generation") {
    import spark.implicits._
    // 600 distinct words: every generation's bucket dirs cover the 64
    val docs = (0L until 300L).map(i => i ->
        ("vector hash " + (0 until 20).map(j => s"w${(i * 7 + j) % 600}").mkString(" ")))
      .toDF("doc_id", "text")
    val textRoot = java.nio.file.Files.createTempDirectory("graft-plan-jobs-text").toString
    operators.TextIndex.build(docs.filter(col("doc_id") % 3 === 0), textRoot)
    operators.TextIndex.upsert(docs.filter(col("doc_id") % 3 === 1), textRoot)
    operators.TextIndex.upsert(docs.filter(col("doc_id") % 3 === 2), textRoot)
    // every generation holds more than 32 bucket dirs, the size at which
    // a whole-dir read lists its partitions with a distributed job
    for (g <- 0 to 2; part <- Seq("postings", "df"))
      assert(new java.io.File(s"$textRoot/gen-$g/$part").list()
        .count(_.startsWith("bucket=")) > 32, s"gen-$g/$part")
    val v = Tables.embeddings(spark, sf)
    val annRoot = java.nio.file.Files.createTempDirectory("graft-plan-jobs-ann").toString
    Graft.ann.build(v.filter(col("vec_id") <= 200), "vec_id", "embedding", "label", annRoot)
    Graft.ann.upsert(v.filter(col("vec_id") > 200 && col("vec_id") <= 320),
      "vec_id", "embedding", "label", annRoot)
    Graft.ann.upsert(v.filter(col("vec_id") > 320), "vec_id", "embedding", "label", annRoot)
    val dataGens = 3
    val q = v.filter(col("vec_id") === 5L).select("embedding")
      .collect()(0).getSeq[Float](0).toArray

    // jobs started from this thread while `build` constructs a
    // DataFrame (nothing collects it), counted through the listener bus
    // as (SQL executions — a collect, whose AQE stages are jobs of
    // their own — and jobs outside any: listing and schema inference)
    val bus = spark.sparkContext.getClass.getMethod("listenerBus")
      .invoke(spark.sparkContext)
    val drain = bus.getClass.getMethods
      .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0).get
    def jobsWhile(build: => org.apache.spark.sql.DataFrame): (Int, Int) = {
      val group = s"plan-jobs-${System.nanoTime()}"
      val execs = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
            execs.add(Option(j.properties.getProperty("spark.sql.execution.id"))); ()
          }
      }
      spark.sparkContext.addSparkListener(listener)
      spark.sparkContext.setJobGroup(group, "plan-build job count")
      try { build; drain.invoke(bus) }
      finally {
        spark.sparkContext.clearJobGroup()
        spark.sparkContext.removeSparkListener(listener)
      }
      import scala.jdk.CollectionConverters._
      val all = execs.asScala.toSeq
      (all.flatten.distinct.size, all.count(_.isEmpty))
    }
    assert(jobsWhile(Graft.text.bm25TopkAt(spark, textRoot, Seq("vector", "hash"), 10)) == (0, 0))
    assert(jobsWhile(Graft.text.bm25fTopkAt(spark, textRoot, Seq("vector", "hash"), 10)) == (0, 0))
    assert(jobsWhile(Graft.text.phraseBm25At(spark, textRoot,
      operators.TextAnalysis.Bm25Phrase, 10)) == (0, 0))
    // the probe-cell collect, plus at most one footer read per data
    // generation (`data-N` payload types are the caller's)
    for ((name, probe) <- Seq(
        "probe" -> (() => Graft.ann.probe(spark, annRoot, q, k = 10)),
        "probeAdc" -> (() => Graft.ann.probeAdc(spark, annRoot, q, k = 10)))) {
      val (collects, planJobs) = jobsWhile(probe())
      assert(collects == 1 && planJobs <= dataGens, s"$name: $collects collects, $planJobs jobs")
    }
  }

}
