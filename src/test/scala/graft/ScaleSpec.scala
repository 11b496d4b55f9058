package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.Cols.dsum

/** Executable demonstrations of the 100 TB techniques PLANS.md narrates:
  * bucketed co-located joins (no join-side shuffle), salted two-phase
  * aggregation for skewed keys, and partition pruning on the sink's
  * `ledger=` layout.
  */
class ScaleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // materialize so AQE finalizes
    df.queryExecution.executedPlan.toString
  }

  test("bucketed tables co-locate the join: no shuffle before SortMergeJoin") {
    val d = "/root/testdata/sf0.001"
    Tables.lineitem(spark, d).write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("li_bucketed")
    Tables.orders(spark, d).write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("o_bucketed")

    // keep the planner honest: disable auto-broadcast so the join takes
    // the sort-merge path where bucketing can remove both exchanges
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val li = spark.table("li_bucketed")
      val o = spark.table("o_bucketed")
      val joined = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select("l_orderkey", "l_quantity", "o_totalprice")

      val plan = executedPlan(joined)
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() === Tables.lineitem(spark, d).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("salted two-phase aggregation equals direct aggregation on skewed keys") {
    import spark.implicits._
    // 100k rows, 95% on one hot key — the classic skew shape
    val skewed = spark.range(100000)
      .select(
        when(col("id") % 100 < 95, "hot").otherwise(concat(lit("k"), col("id") % 100)).as("key"),
        (col("id") % 997).cast("double").as("v"))

    val direct = skewed.groupBy("key").agg(dsum(col("v")).as("s"), count(lit(1)).as("n"))

    val Salts = 16
    val salted = skewed
      .withColumn("salt", pmod(hash(col("v")), lit(Salts)))
      .groupBy("key", "salt")                      // phase 1: spreads the hot key
      .agg(sum(col("v").cast(Cols.Dec)).as("ps"), count(lit(1)).as("pn"))
      .groupBy("key")                              // phase 2: tiny re-agg
      .agg(sum(col("ps")).cast("double").as("s"), sum(col("pn")).as("n"))

    val a = direct.orderBy("key").collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    val b = salted.orderBy("key").collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    assert(a.toSeq === b.toSeq) // decimal sums are association-free → exactly equal
  }

  test("AQE splits a skewed sort-merge join at runtime") {
    import spark.implicits._
    val prev = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
        spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    try {
      // 500k fact rows, 90% on one key; tiny dim with matching keys
      val fact = spark.range(500000)
        .select(when(col("id") % 10 < 9, 0L).otherwise(col("id") % 50).as("k"),
          col("id").as("payload"))
      val dim = spark.range(50).select(col("id").as("k"), (col("id") * 10).as("attr"))
      val joined = fact.join(dim.hint("merge"), "k")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"expected AQE skew handling in:\n$plan")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("n2 ANN serves from the materialized store with partition pruning") {
    val d = "/root/testdata/sf0.001"
    val n2 = SparkEntry.queries("n2_ann_lsh")(spark, d)
    val plan = n2.queryExecution.executedPlan.toString
    // the corpus scan must be pruned to the query's bucket directory and
    // carry the pushed vec_id predicate — no signature recompute inline
    assert(plan.contains("PartitionFilters: [isnotnull(bucket"), plan)
    assert(plan.contains("PushedFilters: [IsNotNull(vec_id)"), plan)
    assert(!plan.toLowerCase.contains("crossjoin") || !plan.contains("md5"),
      s"n2 must not rebuild signatures inline:\n$plan")
  }

  test("n14 filtered ANN pushes the label predicate into the pruned scan") {
    val d = "/root/testdata/sf0.001"
    val n14 = SparkEntry.queries("n14_ann_filtered")(spark, d)
    val plan = n14.queryExecution.executedPlan.toString
    // the metadata filter must compose with bucket pruning AT THE SCAN:
    // bucket prunes directories, label pushes down to the parquet reader
    // — no post-scan-only filtering of an unpruned candidate set
    assert(plan.contains("PartitionFilters: [bucket"), plan)
    assert(plan.contains("EqualTo(label"), s"label must push to the scan:\n$plan")
  }

  test("n15 IVF-PQ scans only the probed cell directories of the codes store") {
    val d = "/root/testdata/sf0.001"
    val n15 = SparkEntry.queries("n15_ann_ivfpq")(spark, d)
    val plan = n15.queryExecution.executedPlan.toString
    // the refine plan itself is an R-row pushed-filter point read; the
    // cell pruning happened in the already-executed shortlist job, so
    // assert it directly on the pruned codes relation
    assert(plan.contains("PushedFilters: [In(vec_id"), s"refine must be a point read:\n$plan")
    val codesPlan = graft.operators.Pq.prunedCodesPlan(spark, d)
    assert(codesPlan.contains("PartitionFilters: [cell"),
      s"codes scan must prune to the probe cells:\n$codesPlan")
  }

  test("n4 IVF probes the materialized cell store with partition pruning") {
    val d = "/root/testdata/sf0.001"
    val n4 = SparkEntry.queries("n4_ann_ivf")(spark, d)
    val plan = n4.queryExecution.executedPlan.toString
    // the vector scan must be pruned to the nprobe `cell=` directories and
    // must not rebuild the coarse quantizer inline (no posexplode/groupBy
    // over the corpus in the probe plan)
    assert(plan.contains("PartitionFilters: [cell"), plan)
    assert(!plan.contains("Generate"), s"n4 must not recompute centroids inline:\n$plan")
  }

  test("n6 k-means IVF probes its trained cell store with partition pruning") {
    val d = "/root/testdata/sf0.001"
    val n6 = SparkEntry.queries("n6_ann_kmeans")(spark, d)
    val plan = n6.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"), plan)
    assert(!plan.contains("Generate"), s"n6 must not re-train inline:\n$plan")
  }

  test("d2 candidate plan reads the materialized store with no repartition exchange") {
    val d = "/root/testdata/sf0.001"
    val d2 = SparkEntry.queries("d2_minhash_lsh")(spark, d)
    d2.collect()
    val plan = d2.queryExecution.executedPlan.toString
    // no minhash_sigs/word_shingles recompute and no full-corpus
    // repartition in the recurring path — signatures come from parquet
    assert(!plan.contains("minhash_sigs") && !plan.contains("word_shingles"),
      s"d2 must read precomputed signatures:\n$plan")
    assert(!plan.contains("REPARTITION_BY_COL"), s"no recurring repartition:\n$plan")
  }

  test("files.maxPartitionBytes controls scan split granularity") {
    val d = "/root/testdata/sf0.01"
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      // small splits → more input partitions (how executor-memory fit is
      // tuned at the design point); large splits → fewer
      spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
      val many = Tables.lineitem(spark, d).rdd.getNumPartitions
      spark.conf.set("spark.sql.files.maxPartitionBytes", "134217728")
      val few = Tables.lineitem(spark, d).rdd.getNumPartitions
      assert(many > few, s"64KB splits gave $many partitions vs 128MB's $few")
      assert(few >= 1)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("runtime bloom filter from a selective dim prunes the fact side") {
    val d = "/root/testdata/sf0.001"
    val prev = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.optimizer.runtime.bloomFilter.enabled" ->
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled"),
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" ->
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"))
    // disable broadcast so the join is SMJ (where a runtime filter pays),
    // and drop the application-side size threshold (default 10GB) so the
    // optimizer injects the filter at test scale
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    try {
      val o = Tables.orders(spark, d).filter(col("o_orderpriority") === "1-URGENT")
      val li = Tables.lineitem(spark, d)
      val joined = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select("l_orderkey", "l_quantity", "o_orderpriority")
      val plan = joined.queryExecution.executedPlan.toString
      // the selective dim side builds a bloom filter that is pushed into
      // the fact scan — at 100 TB this skips most of the fact read for
      // selective dims too big to broadcast
      assert(plan.contains("might_contain"), s"expected runtime bloom filter in:\n$plan")
      assert(joined.count() > 0)
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("x12 PII scrub is map-only: no join, no aggregate, one presentation sort") {
    val d = "/root/testdata/sf0.001"
    val plan = SparkEntry.queries("x12_pii_scrub")(spark, d)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("HashAggregate"),
      s"x12 must stay narrow:\n$plan")
    // exactly one exchange — the final ORDER BY's range partitioning;
    // the scrub itself must not shuffle
    assert(plan.split("Exchange").length - 1 === 1, s"x12 extra shuffles:\n$plan")
  }

  test("d10 substring dedup joins on gram keys, never a nested-loop product") {
    val d = "/root/testdata/sf0.001"
    val plan = SparkEntry.queries("d10_substring_dedup")(spark, d)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"d10 must stay keyed (O(positions), not O(docs²)):\n$plan")
  }

  test("n10 fusion ranks only bounded top-k lists; dense leg is bucket-pruned") {
    val d = "/root/testdata/sf0.001"
    val df = SparkEntry.queries("n10_hybrid_rrf")(spark, d)
    // AQE's toString carries final + initial sections; count the final only
    val plan = executedPlan(df).split("== Initial Plan ==").head
    // both rank windows must sit above a TakeOrderedAndProject (limit 20),
    // never over the full corpus — the global-window anti-pattern
    val windows = "Window \\[".r.findAllIn(plan).length
    val topks = "TakeOrderedAndProject".r.findAllIn(plan).length
    assert(windows === 2 && topks >= 3, // 2 per-side limits + final limit
      s"n10 expected bounded windows over TakeOrderedAndProject:\n$plan")
    // the dense leg must serve from the materialized signature store with
    // the probe set pushed as a partition filter — never a full-corpus
    // brute-force scan
    assert(plan.contains("PartitionFilters: [bucket"),
      s"n10 dense leg must prune to the probe buckets:\n$plan")
  }

  test("w10 retention cohorts: combinable aggs, keyed joins, no stream-wide window") {
    val d = "/root/testdata/sf0.001"
    val df = SparkEntry.queries("w10_retention_cohorts")(spark, d)
    val plan = executedPlan(df).split("== Initial Plan ==").head
    // the rollup must be aggregation-shaped: no window over the event
    // stream, no event×event product — both corpus passes are two-level
    // HashAggregates and every join is keyed
    assert(!plan.contains("Window ["), s"no stream-wide window expected:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"no event self-product expected:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"cohort sizes must broadcast:\n$plan")
  }

  test("d13 incremental dedup probes the store batch-vs-existing, no self-product") {
    val d = "/root/testdata/sf0.001"
    val plan = SparkEntry.queries("d13_incremental_dedup")(spark, d)
      .queryExecution.executedPlan.toString
    // the arriving batch joins the existing bands on (band_id, bh) —
    // keyed, capped, and asymmetric; never an all-pairs product, and the
    // skew cap rides a broadcast anti-join (no extra band shuffle)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"d13 probe must stay band-keyed:\n$plan")
    assert(plan.contains("LeftAnti"), s"existing-bucket cap must be an anti-join:\n$plan")
  }

  test("d11 semantic dedup pairs only within cells: keyed join, no product") {
    val d = "/root/testdata/sf0.001"
    val plan = SparkEntry.queries("d11_semantic_dedup")(spark, d)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"d11 pairwise must stay cell-keyed (corpus/k-bounded), never corpus²:\n$plan")
  }

  test("x15 selection rank window is sharded (lang, hshard), never lang alone") {
    val d = "/root/testdata/sf0.001"
    val df = SparkEntry.queries("x15_domain_mix")(spark, d)
    val plan = df.queryExecution.optimizedPlan.toString
    // the row_number rank window must carry the md5-prefix shard key so
    // per-language ranking fans out 16-way instead of serializing; the
    // only lang-alone window allowed is the 16-row-per-lang offset
    // prefix sum (input already aggregated)
    val anyRank = "row_number\\(\\) windowspecdefinition\\(lang#\\d+"
      .r.findAllIn(plan).length
    val shardedRank = "row_number\\(\\) windowspecdefinition\\(lang#\\d+, hshard#\\d+"
      .r.findAllIn(plan).length
    assert(anyRank === 1 && shardedRank === 1,
      s"x15 rank window must be (lang, hshard)-keyed and unique:\n$plan")
  }

  test("x49 contribution-cap window is user-keyed; the public grid never products") {
    val d = "/root/testdata/sf0.001"
    val df = SparkEntry.queries("x49_dp_user_count")(spark, d)
    val plan = df.queryExecution.optimizedPlan.toString
    // the cap is the ONLY window and it must rank per user — a
    // global (empty-partition) window here would serialize the whole
    // corpus through one task at 100 TB
    val wins = "windowspecdefinition\\(".r.findAllIn(plan).length
    val userWins = "windowspecdefinition\\(user_id#\\d+".r.findAllIn(plan).length
    assert(wins > 0 && wins === userWins,
      s"x49's cap window must be user-keyed (got $userWins/$wins):\n$plan")
    // grid × vocabulary rides a broadcast (public-config-sized sides);
    // an unbroadcast cross would plan as CartesianProduct
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct"),
      s"x49 public-grid joins must broadcast, never product:\n$exec")
  }

  test("x50 Gaussian release: one corpus exchange plus the presentation sort, grid never products") {
    val d = "/root/testdata/sf0.001"
    val df = SparkEntry.queries("x50_dp_gaussian")(spark, d)
    val exec = df.queryExecution.executedPlan.toString
    // noise is a pure map over the dense cells: the only SHUFFLES are
    // the (event_type, day) count agg, the corpus-vocabulary distinct
    // (absent when `vocabulary` arrives as public config — the
    // production spelling), and the final ORDER BY; broadcasts are the
    // grid/vocab sides and must stay broadcasts
    assert(!exec.contains("CartesianProduct"),
      s"x50 public-grid joins must broadcast, never product:\n$exec")
    val shuffles = "Exchange (hash|range|Single)".r.findAllIn(
      exec.split("== Initial Plan ==").head).length
    assert(shuffles <= 3,
      s"x50 must shuffle only for agg + vocab distinct + sort, saw $shuffles:\n$exec")
  }

  test("x52 user-sum cap window is user-keyed; the public grid never products") {
    val d = "/root/testdata/sf0.001"
    val df = SparkEntry.queries("x52_dp_user_sum")(spark, d)
    val plan = df.queryExecution.optimizedPlan.toString
    // the x49 posture carried to sums: the breadth cap is the ONLY
    // window and must rank per user — a global window would serialize
    // the corpus through one task at 100 TB
    val wins = "windowspecdefinition\\(".r.findAllIn(plan).length
    val userWins = "windowspecdefinition\\(user_id#\\d+".r.findAllIn(plan).length
    assert(wins > 0 && wins === userWins,
      s"x52's cap window must be user-keyed (got $userWins/$wins):\n$plan")
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct"),
      s"x52 public-grid joins must broadcast, never product:\n$exec")
  }

  test("x55 user-histogram cap window is user-keyed; no grid side, map-only tail") {
    val d = "/root/testdata/sf0.001"
    val df = SparkEntry.queries("x55_dp_user_histogram")(spark, d)
    val plan = df.queryExecution.optimizedPlan.toString
    val wins = "windowspecdefinition\\(".r.findAllIn(plan).length
    val userWins = "windowspecdefinition\\(user_id#\\d+".r.findAllIn(plan).length
    assert(wins > 0 && wins === userWins,
      s"x55's cap window must be user-keyed (got $userWins/$wins):\n$plan")
    // unknown domain = no grid/vocab join at all: the only join-free
    // tail is noise+threshold+clamp over the cell counts
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct") &&
      !exec.split("== Initial Plan ==").head.contains("Join"),
      s"x55 must carry no grid join — the unknown domain is the point:\n$exec")
  }

  test("x56 subsampled release: the Bernoulli filter is map-side, x40's exchange count holds") {
    val d = "/root/testdata/sf0.001"
    val df = SparkEntry.queries("x56_dp_subsampled")(spark, d)
    val exec = df.queryExecution.executedPlan.toString
    // the subsample must not add plan machinery: the md5 keep-filter is
    // a pure map ahead of the one combinable (event_type, day) groupBy,
    // so the only shuffles are the agg, the full-corpus vocabulary
    // distinct (absent under a public `vocabulary` — the production
    // spelling), and the presentation sort — x50's budget exactly
    assert(!exec.contains("CartesianProduct"),
      s"x56 public-grid joins must broadcast, never product:\n$exec")
    val shuffles = "Exchange (hash|range|Single)".r.findAllIn(
      exec.split("== Initial Plan ==").head).length
    assert(shuffles <= 3,
      s"x56 must shuffle only for agg + vocab distinct + sort, saw $shuffles:\n$exec")
    // and no Scala UDF anywhere — the Bernoulli is codegen'd md5/conv
    assert(!exec.contains("BatchEvalPython") && !exec.contains("ScalaUDF"),
      s"the keep filter must stay native:\n$exec")
  }

  test("x60 subsampled gaussian: x56's exchange budget holds — the sample and the noise are both map-side") {
    val d = "/root/testdata/sf0.001"
    val df = SparkEntry.queries("x60_dp_subsampled_gaussian")(spark, d)
    val exec = df.queryExecution.executedPlan.toString
    // same budget as x56/x50: the md5 keep-filter and the Box–Muller
    // tail are pure maps; shuffles are the one combinable groupBy, the
    // full-corpus vocabulary distinct (absent under a public
    // `vocabulary`), and the presentation sort
    assert(!exec.contains("CartesianProduct"),
      s"x60 public-grid joins must broadcast, never product:\n$exec")
    val shuffles = "Exchange (hash|range|Single)".r.findAllIn(
      exec.split("== Initial Plan ==").head).length
    assert(shuffles <= 3,
      s"x60 must shuffle only for agg + vocab distinct + sort, saw $shuffles:\n$exec")
    assert(!exec.contains("BatchEvalPython") && !exec.contains("ScalaUDF"),
      s"the keep filter and noise must stay native:\n$exec")
  }

  test("x57/x58 serve from the materialized unigram store: no training in the gate plans") {
    val d = "/root/testdata/sf0.001"
    graft.operators.Unigram.ensureTrained(spark, d) // train once, off the timed path
    // x57 reads the refit store and maps log-probs over it — no
    // substring explode, no composition join, no Viterbi window
    val p57 = SparkEntry.queries("x57_unigram_train")(spark, d)
      .queryExecution.executedPlan.toString
    assert(p57.contains("unigram-model"),
      s"x57 must read the materialized model store:\n$p57")
    assert(!p57.contains("Generate") && !p57.contains("windowspecdefinition"),
      s"x57 must not re-run training machinery:\n$p57")
    // x58's corpus-shaped work is ONE broadcast join + one combinable
    // per-doc count over the exploded stream (the x21 shape)
    val p58 = SparkEntry.queries("x58_unigram_encode")(spark, d)
      .queryExecution.executedPlan.toString
    assert(p58.contains("unigram-enc") && p58.contains("BroadcastHashJoin"),
      s"x58 must broadcast the materialized encode table:\n$p58")
    assert(!p58.contains("SortMergeJoin") && !p58.contains("windowspecdefinition"),
      s"x58's encode must stay broadcast + combinable count:\n$p58")
  }

  test("stability-twin releases read key-sized store partials, never a corpus-shaped side") {
    import spark.implicits._
    // the x54/x55 twins' release-time cost contract: one re-aggregation
    // over (key, n) partials — cell-count-sized state — plus the
    // map-only noise/threshold tail; no window for x54, a user-keyed
    // cap window only for x55, no cartesian anywhere
    val root = java.nio.file.Files.createTempDirectory("graft-twin-plan").toString
    val cfg = graft.streaming.LiveRelease.Config(root)
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
    graft.streaming.LiveRelease.cells.step(ev, 0L, cfg.root)
    graft.streaming.LiveRelease.userCells.step(ev, 0L, cfg.root)
    val p54 = graft.streaming.LiveRelease.stableHistogram(spark, cfg, seeded = true)
      .queryExecution.executedPlan.toString
    assert(!p54.contains("CartesianProduct") &&
      !p54.contains("windowspecdefinition"),
      s"the x54 twin is agg + pure-map tail over the cell store:\n$p54")
    val q55 = graft.streaming.LiveRelease.userHistogram(spark, cfg, seeded = true)
    val o55 = q55.queryExecution.optimizedPlan.toString
    val wins = "windowspecdefinition\\(".r.findAllIn(o55).length
    val userWins = "windowspecdefinition\\(user_id#\\d+".r.findAllIn(o55).length
    assert(wins > 0 && wins === userWins,
      s"the x55 twin's only window is the user-keyed cap (got $userWins/$wins):\n$o55")
    assert(!q55.queryExecution.executedPlan.toString.contains("CartesianProduct"))
  }

  test("x53 sparse SVT: one corpus day-agg, episode frames stay public-window-sized broadcasts") {
    val d = "/root/testdata/sf0.001"
    val df = SparkEntry.queries("x53_dp_sparse")(spark, d)
    val exec = df.queryExecution.executedPlan.toString
    // the episode boundary (1-row min) and grid joins must broadcast —
    // an unbroadcast boundary would plan the 64-row × 1-row composition
    // as CartesianProduct, which at 100 TB would still be window-sized
    // but signals the wrong default for anyone widening the frame
    assert(!exec.contains("CartesianProduct"),
      s"x53 episode/grid joins must broadcast, never product:\n$exec")
    // the corpus appears in exactly ONE job — the dailies collect at
    // construction; the released frame itself chains c episodes over
    // the materialized 64-row LocalRelation and must contain NO
    // corpus scan at all (a lazy spelling would re-derive the day agg
    // once per episode REFERENCE — up to 6 corpus scans at c = 2)
    assert(!exec.contains("Scan parquet"),
      s"x53's episode chain must run on the materialized dailies, not rescan the corpus:\n$exec")
  }

  test("x62 local DP: the coin is a pure map, the only corpus exchange is one <= k-key combinable count") {
    val d = "/root/testdata/sf0.001"
    val df = SparkEntry.queries("x62_local_rr_freq")(spark, d)
    val exec = df.queryExecution.executedPlan.toString
    // the randomization must be a per-record map (that IS the local
    // model: no record's report consults any other record) — a join or
    // window on the randomize path would be a design break, not just a
    // perf smell. The k-row vocabulary and 1-row total join back as
    // broadcasts; nothing corpus-shaped meets anything corpus-shaped.
    assert(!exec.contains("SortMergeJoin"),
      s"all joins are k-row/1-row broadcasts:\n$exec")
    assert(!exec.contains("CartesianProduct"),
      s"the total join must broadcast, never product:\n$exec")
    assert("partial_sum|partial_count|partial\\(".r.findFirstIn(exec).isDefined,
      s"the report count must combine map-side before its exchange:\n$exec")
  }

  test("x63 range tree: one corpus day-agg; tree, covers, and answers are broadcast public-window math") {
    val d = "/root/testdata/sf0.001"
    val df = SparkEntry.queries("x63_dp_range_tree")(spark, d)
    val exec = df.queryExecution.executedPlan.toString
    // the corpus appears in exactly ONE scan (the day groupBy — the
    // x47 exchange); the 127-node tree, the 349-row cover frame, and
    // the 94 answers are public-window-sized and join as broadcasts
    assert("Scan parquet".r.findAllIn(exec).length === 1,
      s"exactly one corpus scan (the day agg):\n$exec")
    assert(!exec.contains("SortMergeJoin"),
      s"cover/node joins are broadcasts, never corpus SMJs:\n$exec")
    assert("partial_count|partial\\(".r.findFirstIn(exec).isDefined,
      s"the day count must combine map-side:\n$exec")
  }

  test("x61 RDP accounting is pure driver math: a 63-row LocalRelation, zero corpus scans, zero shuffles") {
    val d = "/root/testdata/sf0.001"
    val df = SparkEntry.queries("x61_rdp_account")(spark, d)
    val exec = df.queryExecution.executedPlan.toString
    // accounting is serialized, release-schedule-sized state by design
    // (the DpLedger rationale) — at 100 TB the order grid is still 63
    // rows; a corpus scan or an exchange here would mean the curve was
    // being derived FROM data, which it must never be
    assert(!exec.contains("Scan parquet"),
      s"the Renyi curve is schedule math, never a corpus read:\n$exec")
    assert(exec.contains("LocalTableScan"),
      s"the order grid ships as a driver-built LocalRelation:\n$exec")
    // the presentation sort is the only exchange license; anything more
    // would mean the curve grew a data dependency
    assert("Exchange".r.findAllIn(exec).length <= 1,
      s"at most the presentation sort's exchange:\n$exec")
  }

  test("x16 quality rules are map-only: no join, no aggregate") {
    val d = "/root/testdata/sf0.001"
    val plan = SparkEntry.queries("x16_quality_rules")(spark, d)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("HashAggregate"),
      s"x16 must stay narrow (pure admission map):\n$plan")
    // one exchange — the presentation ORDER BY; the rules themselves
    // must not shuffle
    assert(plan.split("Exchange").length - 1 === 1, s"x16 extra shuffles:\n$plan")
  }

  test("x17 bigram LM broadcasts vocabulary-sized model tables to the pair stream") {
    val d = "/root/testdata/sf0.001"
    val df = SparkEntry.queries("x17_bigram_lm")(spark, d)
    val plan = executedPlan(df).split("== Initial Plan ==").head
    assert(!plan.contains("CartesianProduct"),
      s"x17 must never cross-join corpus-shaped sides:\n$plan")
    // the corpus-shaped pair stream joins the (vocab²-bounded) lp model
    // table via broadcast — no corpus-side shuffle for the score join
    assert(plan.contains("BroadcastHashJoin"),
      s"x17 score join must broadcast the model table:\n$plan")
  }

  test("x18 textrank iterations run over vocabulary-sized tables, no products") {
    val d = "/root/testdata/sf0.001"
    val df = SparkEntry.queries("x18_textrank")(spark, d)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "x18 must stay keyed")
    // ranks come from DISTRIBUTED rounds over the checkpointed edge
    // RDD — a LocalTableScan here would mean the corpus-shaped edge
    // list was collected to the driver (the round-8 spelling, a
    // driver-OOM at web-corpus scale where distinct bigrams → vocab²)
    assert(!plan.contains("LocalTableScan"),
      s"x18 ranks must not come from a driver-side collect:\n$plan")
    assert(plan.contains("ExistingRDD"),
      s"x18 ranks must read the checkpointed distributed state:\n$plan")
    // the rank table is vocabulary-sized: one row per distinct word
    val vocab = Tables.documents(spark, d)
      .select(explode(split(col("text"), " ")).as("w")).distinct().count()
    assert(df.count() === vocab)
  }

  test("j15 big orders: the HAVING-filtered key set broadcasts into orders") {
    val d = "/root/testdata/sf0.001"
    val plan = executedPlan(SparkEntry.queries("j15_big_orders")(spark, d))
      .split("== Initial Plan ==").head
    // both joins (orders×big, ×customer) ride the tiny filtered set /
    // dim broadcast — the fact side shuffles once, for its own aggregate
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"j15 must not shuffle-join the fact table:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).length === 2,
      s"j15: both post-HAVING joins must broadcast:\n$plan")
  }

  test("u4 merge upsert is one keyed window, no join anywhere") {
    val d = "/root/testdata/sf0.001"
    val plan = executedPlan(SparkEntry.queries("u4_merge_upsert")(spark, d))
    // latest-wins is union + row_number on the key: a MERGE without the
    // outer join a naive plan pays between two fact-sized inputs
    assert(!plan.contains("Join"), s"u4 must not plan any join:\n$plan")
    assert(plan.contains("Window"), s"u4 resolves versions via window:\n$plan")
  }

  test("u5 table diff full-outer joins ONLY on the key, never unkeyed") {
    val d = "/root/testdata/sf0.001"
    val plan = executedPlan(SparkEntry.queries("u5_table_diff")(spark, d))
    assert(plan.contains("FullOuter"), s"u5 is a keyed full outer join:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"u5 must stay keyed:\n$plan")
  }

  test("a15 histogram is one combinable agg: no join, map-side partials") {
    val d = "/root/testdata/sf0.001"
    val plan = executedPlan(SparkEntry.queries("a15_histogram")(spark, d))
    assert(!plan.contains("Join"), s"a15 needs no join:\n$plan")
    assert(plan.contains("partial_"), s"a15 must combine map-side:\n$plan")
  }

  test("w13 transitions: one stream window, agg output is types² rows") {
    val d = "/root/testdata/sf0.001"
    val plan = executedPlan(SparkEntry.queries("w13_event_transitions")(spark, d))
    assert(!plan.contains("Join"), s"w13 needs no join:\n$plan")
    assert(plan.contains("partial_"), s"w13 count must combine map-side:\n$plan")
  }

  test("x26 phrase index: one bounded-state aggregation, no join, no second corpus chain") {
    val d = "/root/testdata/sf0.001"
    val plan = executedPlan(SparkEntry.queries("x26_inverted_index")(spark, d))
    // r19: df + postings + hot-gram exclusion all ride ONE capped-set
    // aggregation (CappedDistinctLongs) — no distinct pass, no df-count
    // pass, no anti-join, and exactly one corpus explode in the plan
    assert(!plan.contains("Join"), s"x26 must not plan any join:\n$plan")
    assert(plan.contains("ObjectHashAggregate"),
      s"x26 postings must build in the capped typed aggregate:\n$plan")
    // the adaptive plan string prints Final + Initial sections — count
    // the corpus explode in the executed (final) section only
    assert("Generate".r.findAllIn(plan.split("== Initial Plan ==").head).size == 1,
      s"x26 must explode the corpus exactly once:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"x26 must stay keyed:\n$plan")
  }

  test("w14 z-score: one keyed window, no join, no corpus self-join") {
    val d = "/root/testdata/sf0.001"
    val plan = executedPlan(SparkEntry.queries("w14_anomaly_zscore")(spark, d))
    assert(!plan.contains("Join"), s"w14 must not plan any join:\n$plan")
    assert(plan.contains("Window"), s"w14 scores via a window frame:\n$plan")
  }

  test("a16 regression is one combinable agg: map-side partials, no join") {
    val d = "/root/testdata/sf0.001"
    val plan = executedPlan(SparkEntry.queries("a16_regression")(spark, d))
    assert(!plan.contains("Join"), s"a16 needs no join:\n$plan")
    assert(plan.contains("partial_"), s"a16 moment sums must combine map-side:\n$plan")
  }

  test("x27 PMI: unigram tables broadcast into the bigram stream, top-k not global sort") {
    val d = "/root/testdata/sf0.001"
    val plan = executedPlan(SparkEntry.queries("x27_pmi_collocations")(spark, d))
    assert(plan.contains("BroadcastHashJoin"),
      s"x27 unigram join must broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"x27 top-100 must plan as distributed top-k, not a global sort:\n$plan")
  }

  test("d15 containment: pairs ride df-capped posting lists, no self-join, no products") {
    val d = "/root/testdata/sf0.001"
    val plan = executedPlan(SparkEntry.queries("d15_containment")(spark, d))
    // r20: the df cap and the pair universe both come from ONE capped-set
    // aggregation (CappedDistinctLongs, bounded per-group state) whose
    // sorted lists expand to i<j pairs — no shingle self-join, no
    // anti-join, and df=1 shingles exit before the pair exchange
    assert(plan.contains("ObjectHashAggregate"),
      s"d15 posting lists must build in the capped typed aggregate:\n$plan")
    // executed (final) section: ONE corpus shingle explode + ONE bounded
    // pair expansion — a reappearing shingle self-join would add a third
    // Generate-feeding chain (and its sh-keyed exchanges)
    assert("Generate".r.findAllIn(plan.split("== Initial Plan ==").head).size == 2,
      s"d15 must explode the corpus once and expand pairs once:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"d15 pair generation must stay keyed:\n$plan")
  }

  test("d16 recall eval: truth enumeration df-capped, pairing keyed, no products") {
    val d = "/root/testdata/sf0.001"
    val plan = executedPlan(SparkEntry.queries("d16_dedup_recall")(spark, d))
    // r20: the df cap rides the capped-set posting-list aggregation
    // (the d15 spelling) — bounded per-group state, no anti-join
    assert(plan.contains("ObjectHashAggregate"),
      s"d16 truth must df-cap via the capped typed aggregate:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"d16 must never enumerate unkeyed pairs (count-only cross joins of 1-row aggs are fine):\n$plan")
  }

  test("d14 fuzzy dedup pairs only within blocks, never unkeyed") {
    val d = "/root/testdata/sf0.001"
    val plan = SparkEntry.queries("d14_fuzzy_dedup")(spark, d)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"d14 pair generation must stay block-keyed:\n$plan")
    // the lev filter must stay ABOVE the join: pushed into the join
    // condition Catalyst runs the DP per candidate (twice) — 6× slower
    assert(!plan.linesIterator.exists(l => l.contains("Join") && l.contains("levenshtein")),
      s"d14 levenshtein must not be evaluated inside the join:\n$plan")
  }

  test("x24 NB classifier: model broadcasts to the token stream, no products") {
    val d = "/root/testdata/sf0.001"
    val plan = executedPlan(SparkEntry.queries("x24_nb_classifier")(spark, d))
      .split("== Initial Plan ==").head
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
      s"x24 scoring must never shuffle-join the corpus-shaped token stream:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"x24 must broadcast the vocab-sized log-odds model:\n$plan")
  }

  test("x25 DSIR selection is a distributed top-k; rank window sees only k rows") {
    val d = "/root/testdata/sf0.001"
    val df = SparkEntry.queries("x25_dsir_selection")(spark, d)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"x25 draw must be a distributed top-k, not a global sort:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
      s"x25 weight join must broadcast the 256-row ratio table:\n$plan")
    // the empty-frame row_number window is fed by the top-k, so its
    // single-partition exchange carries k rows, not the corpus
    val weights = "TakeOrderedAndProject".r.findAllIn(plan).length
    assert(weights === 1, s"exactly one top-k operator:\n$plan")
  }

  test("n12 range search serves from the bucket-pruned signature store") {
    val d = "/root/testdata/sf0.001"
    val plan = SparkEntry.queries("n12_range_search")(spark, d)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [bucket"),
      s"n12 must prune to the 9 probe buckets, not scan the corpus:\n$plan")
  }

  test("o4 z-order stats aggregate without joins, bounded shuffles") {
    val d = "/root/testdata/sf0.001"
    val plan = SparkEntry.queries("o4_zorder")(spark, d)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"o4 is scan+agg only:\n$plan")
    // two exchanges: the partial->final agg on zbucket and the final sort
    assert(plan.split("Exchange").length - 1 <= 2, s"o4 extra shuffles:\n$plan")
  }

  test("o4 z-order clustered WRITE: per-file stats prune BOTH dimensions") {
    // Execute the PLANS.md layout recipe — repartitionByRange(zval) +
    // sortWithinPartitions(zval) — and assert the resulting files carry
    // min/max stats narrow enough that a rectangle predicate on the TWO
    // underlying keys skips most files, which a one-dimensional sort
    // cannot do (its files each span the full other dimension).
    import graft.operators.Curation
    val d = "/root/testdata/sf0.001"
    val src = Tables.events(spark, d).select(
      pmod(col("user_id"), lit(1024L)).cast("long").as("zx"),
      (hour(col("ts")).cast("long") * lit(60L) + minute(col("ts")).cast("long")).as("zy"))
    val nFiles = 16
    val zdir = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    src.withColumn("zval", Curation.zvalue(col("zx"), col("zy")))
      .repartitionByRange(nFiles, col("zval"))
      .sortWithinPartitions("zval")
      .write.mode("overwrite").parquet(zdir)
    val ldir = java.nio.file.Files.createTempDirectory("graft-linear").toString
    src.repartitionByRange(nFiles, col("zx"))
      .sortWithinPartitions("zx")
      .write.mode("overwrite").parquet(ldir)
    // per-file bounding boxes = what parquet min/max footer stats expose
    def boxes(dir: String): Array[(Long, Long, Long, Long)] =
      spark.read.parquet(dir)
        .groupBy(input_file_name())
        .agg(min("zx"), max("zx"), min("zy"), max("zy"))
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // quarter-range rectangle in both dimensions
    val (xLo, xHi, yLo, yHi) = (0L, 255L, 0L, 359L)
    def hits(bs: Array[(Long, Long, Long, Long)]): Int = bs.count {
      case (nx, mx, ny, my) => mx >= xLo && nx <= xHi && my >= yLo && ny <= yHi
    }
    val zBoxes = boxes(zdir)
    val lBoxes = boxes(ldir)
    assert(zBoxes.length >= nFiles / 2, "expected a multi-file layout")
    // z-order: the rectangle touches a minority of files...
    assert(hits(zBoxes) * 2 < zBoxes.length,
      s"z-layout should skip most files: ${hits(zBoxes)}/${zBoxes.length}")
    // ...and strictly fewer than the zx-sorted layout, whose files all
    // span the full zy range (y-pruning impossible on a linear sort)
    assert(hits(zBoxes) < hits(lBoxes),
      s"z-layout (${hits(zBoxes)}) must beat linear (${hits(lBoxes)})")
    assert(lBoxes.forall { case (_, _, ny, my) => my - ny > 1300 },
      "sanity: linear files each span ~the full minute-of-day range")
  }

  test("o5 keyset pagination pushes the seek predicate; no offset scan") {
    val d = "/root/testdata/sf0.001"
    val df = SparkEntry.queries("o5_keyset_pagination")(spark, d)
    val plan = df.queryExecution.executedPlan.toString
    // the seek key reaches the parquet scan (row groups below the key
    // skip on min/max stats) and the page is a TakeOrderedAndProject —
    // cost is O(page), never O(offset)
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderkey), GreaterThan(o_orderkey,500)]"),
      s"o5 seek predicate must push to the scan:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"o5 page must be a top-k, not a global sort:\n$plan")
  }

  test("j14 bilateral volume broadcasts all dims; only fact joins shuffle") {
    val d = "/root/testdata/sf0.001"
    val df = SparkEntry.queries("j14_volume_shipping")(spark, d)
    val plan = executedPlan(df).split("== Initial Plan ==").head
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(bhj >= 3, s"supplier + both nation sides must broadcast (got $bhj):\n$plan")
    assert(!plan.contains("CartesianProduct"), s"j14 must stay keyed:\n$plan")
  }

  test("a13 CMS probe joins the broadcast sketch; no corpus-shaped join") {
    val d = "/root/testdata/sf0.001"
    val df = SparkEntry.queries("a13_cms_freq")(spark, d)
    val plan = executedPlan(df).split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"),
      s"a13 sketch probe must broadcast the 128-cell sketch:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"a13 must never shuffle-join the sketch:\n$plan")
  }

  test("j13 market share broadcasts every dim; only fact-side joins shuffle") {
    val d = "/root/testdata/sf0.001"
    val df = SparkEntry.queries("j13_market_share")(spark, d)
    val plan = executedPlan(df).split("== Initial Plan ==").head
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(bhj >= 5, s"j13 expects part/cn/region/supplier/sn broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"j13 must stay keyed:\n$plan")
  }

  test("x21 encode serves from the materialized BPE store: broadcast join, no training") {
    val d = "/root/testdata/sf0.001"
    graft.operators.Bpe.ensureTrained(spark, d)
    val df = SparkEntry.queries("x21_bpe_encode")(spark, d)
    val plan = executedPlan(df).split("== Initial Plan ==").head
    // steady-state serving: one corpus scan joined map-side to the
    // vocab-sized store read back from parquet — the training rounds'
    // pair-count aggregations must NOT appear in the per-query plan
    assert(plan.contains("BroadcastHashJoin"),
      s"x21 must broadcast the trained vocab:\n$plan")
    assert("graft-bpe-store".r.findAllIn(plan).nonEmpty,
      s"x21 must read the materialized store, not re-derive the vocab:\n$plan")
    val corpusScans = "documents\\.parquet".r.findAllIn(plan).length
    assert(corpusScans <= 1,
      s"x21 should scan the corpus once (no in-plan re-training), saw $corpusScans:\n$plan")
  }

  test("ledger= layout prunes partitions at read time") {
    val out = Files.createTempDirectory("graft-prune").toString
    Tables.orders(spark, "/root/testdata/sf0.001")
      .withColumn("ledger", format_string("%08x", col("o_orderkey") % 4))
      .write.partitionBy("ledger").mode("overwrite").parquet(out)

    val pruned = spark.read.parquet(out).filter(col("ledger") === "00000002")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(ledger"), plan)
    val expected = Tables.orders(spark, "/root/testdata/sf0.001")
      .filter(col("o_orderkey") % 4 === 2).count()
    assert(pruned.count() === expected && expected > 0)
  }

  test("materialized stores honor a configured cluster-reachable root") {
    import graft.operators.Stores
    // resolution policy (pure): a configured root always wins; unset
    // falls back to driver-local temp on local masters and to the
    // dataset-adjacent _stores/ prefix on a cluster (where file:/tmp
    // would resolve to each executor's OWN disk — the r11 breakage)
    val conf = Stores.resolve(Some("s3a://bkt/stores/"), isLocal = true,
      "/data/sf1", "ivf")
    assert(conf.startsWith("s3a://bkt/stores/sf1-") && conf.endsWith("/ivf"), conf)
    assert(Stores.resolve(None, isLocal = false, "s3a://bkt/sf1/", "pq")
      === "s3a://bkt/sf1/_stores/pq")
    assert(Stores.resolve(None, isLocal = true, "/data/sf1", "pq")
      .contains("graft-pq"))
    // same-named datasets at different paths must not collide under one root
    assert(Stores.resolve(Some("/r"), isLocal = true, "/a/sf1", "k")
      !== Stores.resolve(Some("/r"), isLocal = true, "/b/sf1", "k"))

    // end-to-end: with a session-configured root, a REAL store build
    // lands under it and serves queries. The dataset is aliased with a
    // trailing slash — a fresh memo key, so this build cannot ride an
    // earlier test's temp-dir store.
    val root = Files.createTempDirectory("graft-store-root").toString
    spark.conf.set("spark.graft.storeRoot", root)
    try {
      val d = "/root/testdata/sf0.001/"
      graft.operators.Dedup.ensureStores(spark, d)
      val kinds = new java.io.File(root).listFiles().flatMap(_.listFiles())
        .map(_.getName).toSet
      assert(kinds.contains("minhash-store") && kinds.contains("simhash-store"),
        s"stores should land under the configured root, found: $kinds")
      assert(SparkEntry.queries("d2_minhash_lsh")(spark, d).count() > 0)
    } finally spark.conf.unset("spark.graft.storeRoot")
  }

  test("live pipeline step: keyed anti-join gates, sharded pack window, no products") {
    val d = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, d).select("doc_id", "lang", "text")
    val arriving = docs.filter(col("doc_id") % 10 === 7)
    val existing = docs.filter(col("doc_id") % 10 =!= 7)
    val exact = existing.select(md5(col("text")).as("text_md5"))
    val bands = graft.operators.Dedup.bandKeys(existing)
    val cursors = existing.limit(0)
      .select(col("lang"), col("doc_id").as("shard"), col("doc_id").as("cum"))
    val priorIds = existing.select(col("doc_id"), md5(col("text")).as("text_md5"))
    val packed = graft.streaming.LivePipeline.curatePack(
      arriving, exact, bands, cursors, priorIds,
      graft.streaming.LivePipeline.Config("unused")).packed
    val plan = executedPlan(packed)
    // per-batch cost must scale with the batch: the exact gate and the
    // store probe are KEYED joins (hash anti/semi on text_md5 /
    // (band_id, bh)) and the bucket cap is an anti-join — never an
    // all-pairs product of batch × corpus
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"live step must stay keyed:\n$plan")
    assert(plan.contains("LeftAnti"), s"exact gate / bucket cap must be anti-joins:\n$plan")
    assert(plan.contains("LeftSemi"), s"novelty probe must be a semi-join:\n$plan")
    // the pack prefix sum is the x8 sharded window — keyed by
    // (lang, shard), never a single global window
    assert(plan.contains("windowspecdefinition(lang") && plan.contains("shard"),
      s"pack window must be (lang, shard)-keyed:\n$plan")
  }

  test("o6/x32: global ranks come from sharded windows + broadcast offsets") {
    val d = "/root/testdata/sf0.001"
    // o6: the corpus-side rank window must be keyed by the monotone
    // bucket (a hash exchange on bkt), with the ≤32-row offset table
    // BROADCAST back — the two-pass spelling of an exact global
    // row_number. The single-task spelling this replaces would show the
    // corpus Window over Exchange SinglePartition instead.
    val o6 = SparkEntry.queries("o6_global_rank")(spark, d)
    val p6 = executedPlan(o6)
    assert(p6.contains("hashpartitioning(bkt"),
      s"o6 corpus window must be bkt-keyed:\n$p6")
    assert(p6.contains("BroadcastHashJoin"),
      s"o6 offset table must broadcast:\n$p6")
    // x32: same discipline for the budget fill — the corpus cumulative
    // sum is (bucket, hshard)-keyed, the correction table broadcasts
    val x32 = SparkEntry.queries("x32_token_budget")(spark, d)
    val p32 = executedPlan(x32)
    assert(p32.contains("hashpartitioning(bucket") && p32.contains("hshard"),
      s"x32 corpus window must be (bucket, hshard)-keyed:\n$p32")
    assert(p32.contains("BroadcastHashJoin"),
      s"x32 correction table must broadcast:\n$p32")
  }

  test("o6 quantile variant: per-bucket rows stay bounded under heavy key skew") {
    import spark.implicits._
    // pathologically skewed sort key: value = (id/n)^8 concentrates
    // ~97% of the mass in o6's first equi-width bucket; the quantile
    // boundaries must keep every bucket ~n/B regardless
    val n = 20000L
    val df = spark.range(n).select(col("id").as("event_id"),
      pow(col("id").cast("double") / n.toDouble, 8.0).as("value"))
    val ranked = graft.queries.CoreRelational
      .globalRankQuantile(df, col("value"), col("event_id"), buckets = 32)
    // plan shape: the o6 discipline — bkt-keyed window exchange plus
    // broadcast boundary/offset tables, never Exchange SinglePartition
    // feeding a corpus window
    val plan = executedPlan(ranked)
    assert(plan.contains("hashpartitioning(bkt"),
      s"rank window must be bkt-keyed:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"offset table must broadcast:\n$plan")
    // exactness: identical to the single-task global window
    val got = ranked.select("rnk", "event_id").collect()
      .map(r => r.getLong(1) -> r.getLong(0)).toMap
    val want = df.withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("value"), col("event_id"))).cast("long"))
      .select("rnk", "event_id").collect()
      .map(r => r.getLong(1) -> r.getLong(0)).toMap
    assert(got === want, "quantile bucketing must not change a single rank")
    // the skew bound the variant exists for: no bucket holds more than
    // a small multiple of the even share (equi-width would put ~97% of
    // rows in one bucket here)
    val perBucket = df.crossJoin(broadcast(df.agg(percentile_approx(col("value"),
        array((1 until 32).map(i => lit(i / 32.0)): _*), lit(10000)).as("qb"))))
      .withColumn("bkt", size(filter(col("qb"), b => b <= col("value"))))
      .groupBy("bkt").count().collect().map(_.getAs[Long]("count"))
    val even = n.toDouble / 32
    assert(perBucket.max <= 2 * even,
      s"quantile buckets must stay bounded, got max ${perBucket.max} vs even $even")
  }

  test("live intake probes: bucketed folds prune to hit buckets, no store-side shuffle join") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-live-bucketed").toString
    val cfg = graft.streaming.LivePipeline.Config(root)
    def mkText(tag: String, last: String): String =
      (1 to 36).map(j => s"${tag}word$j").mkString(" ") + s" the $tag of this is $last"
    graft.streaming.LivePipeline.step(Seq(
      (1L, "en", mkText("alpha", "high")),
      (2L, "en", mkText("beta", "high"))).toDF("doc_id", "lang", "text"), 0L, cfg)
    graft.streaming.LivePipeline.step(Seq(
      (3L, "en", mkText("gamma", "high"))).toDF("doc_id", "lang", "text"), 1L, cfg)
    graft.streaming.LivePipeline.compact(spark, cfg)
    // the fold IS the probe layout: bucket= dirs + the bucket-count marker
    val foldDir = new java.io.File(s"$root/exact").listFiles()
      .map(_.getName).find(_.startsWith("fold=")).get
    val inside = new java.io.File(s"$root/exact/$foldDir").listFiles().map(_.getName)
    assert(inside.exists(_.startsWith("bucket=")) && inside.contains("_buckets-64"),
      s"fold must be bucket-partitioned with its marker, found: ${inside.toSeq}")

    // the frames step() reads carry the bucket partition column — the
    // signal for the pruned+broadcast probe spelling
    val (exact, bands, ids, cursors) =
      graft.streaming.LivePipeline.probeFrames(spark, cfg, 2L)
    assert(Seq(exact, bands, ids).forall(_.columns.contains("bucket")))

    // batch 2 exercises all three probes: an exact dup of folded doc 1,
    // a near-dup of folded doc 2, a novel doc, and doc 1's id re-sent
    // with a different payload (the cross-batch identity gate)
    val batch2 = Seq(
      (10L, "en", mkText("alpha", "high")), // dup_of_corpus (exact probe)
      (11L, "en", mkText("beta", "low")),   // near_dup (bands probe)
      (12L, "en", mkText("delta", "high")), // admitted
      (1L, "en", mkText("omega", "high"))   // id_collision (ids probe)
    ).toDF("doc_id", "lang", "text")
    val r = graft.streaming.LivePipeline.curatePack(
      batch2, exact, bands, cursors, ids, cfg)
    val plan = executedPlan(r.audit)
    // (a) every store scan prunes to the batch's hit buckets — the IN
    // filter must reach all three fold scans as a PartitionFilter
    val nPruned = "PartitionFilters: \\[bucket".r.findAllIn(plan).length
    assert(nPruned >= 3, s"all three store scans must partition-prune ($nPruned):\n$plan")
    // (a2) round 14, the row-group layer UNDER the dir pruning: the
    // batch's literal keys push into each fold scan as a parquet
    // In(key) data filter (folds are key-sorted within buckets, so the
    // filter's row-group stats are tight) — exact on text_md5, ids on
    // doc_id, bands on the bh superset of its composite key
    for (key <- Seq("text_md5", "doc_id", "bh"))
      assert(("PushedFilters: \\[[^\\]]*In\\(" + key).r.findFirstIn(plan).isDefined,
        s"the batch's keys must push into the $key store scan:\n$plan")
    // (b) the corpus-shaped store sides are never exchanged: every join
    // in the per-batch probe plan is broadcast-shaped (store scans feed
    // broadcast semi filters; batch-sized results broadcast back) —
    // asserted over the WHOLE plan string, so an AQE runtime conversion
    // cannot mask an SMJ in the initial plan
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"store probes must stay broadcast-shaped:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"probes must stay keyed:\n$plan")
    // (c) pruning must not lose matches: the fates are the proof
    val fates = r.audit.collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[String]("fate")).toMap
    assert(fates === Map(10L -> "dup_of_corpus", 11L -> "near_dup",
      12L -> "admitted", 1L -> "id_collision"))
  }

  test("live index serve: term filter is pushed into the postings scan") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-liveidx-plan").toString
    val cfg = graft.streaming.LiveIndex.Config(root)
    val docs = Seq((1L, "spark merge window words"), (2L, "other text entirely"))
      .toDF("doc_id", "text")
    graft.streaming.LiveIndex.step(docs, 0L, cfg)
    val serve = graft.streaming.LiveIndex.bm25(spark, cfg,
      graft.operators.Retrieval.QueryTerms, 10)
    val plan = serve.queryExecution.executedPlan.toString
    // the inverted-index payoff: the corpus-shaped postings scan must
    // arrive at parquet as an In(word, ...) pushed filter (row-group
    // stats + dictionary pages prune the other 99.99% of terms), and
    // the df/stats sides must broadcast, not shuffle the postings
    assert(plan.contains("PushedFilters: [In(word"),
      s"term filter must reach the postings scan:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"df and corpus stats must broadcast into the scoring join:\n$plan")
    // (the 1-row stats crossJoin plans as a broadcast nested loop —
    // bounded by construction, same as batch x14)
    assert(!plan.contains("CartesianProduct"), s"serving must stay keyed:\n$plan")

    // post-compact, the postings fold is WORD-bucketed: the query's
    // constant-folded bucket predicate prunes the scan to the terms'
    // bucket dirs AHEAD of the pushed In(word) filter — and results
    // are unchanged
    graft.streaming.LiveIndex.step(
      Seq((5L, "window functions in spark")).toDF("doc_id", "text"), 1L, cfg)
    val before = graft.streaming.LiveIndex.bm25(spark, cfg,
      graft.operators.Retrieval.QueryTerms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    graft.streaming.LiveIndex.compact(spark, cfg)
    val served2 = graft.streaming.LiveIndex.bm25(spark, cfg,
      graft.operators.Retrieval.QueryTerms, 10)
    val plan2 = served2.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(plan2).isDefined,
      s"bucketed postings fold must partition-prune to the terms' buckets:\n$plan2")
    assert(plan2.contains("PushedFilters: [In(word"),
      s"the pushed term filter survives the bucketed layout:\n$plan2")
    assert(served2.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq === before,
      "bucketed serving must score identically")

    // the step's replay-dedup probe against the bucketed doclens fold:
    // pruned scan + broadcasts, never a store-side shuffle join — and
    // a replayed id still drops while a novel one survives
    val b1 = Seq((1L, "spark replay attempt"), (3L, "fresh novel doc"))
      .toDF("doc_id", "text")
    val fresh = graft.streaming.LiveIndex.freshArrivals(b1, 1L, cfg)
    val fplan = executedPlan(fresh)
    assert(fplan.contains("PartitionFilters: [bucket"),
      s"doclens replay probe must prune to the batch's id buckets:\n$fplan")
    assert("PushedFilters: \\[[^\\]]*In\\(doc_id".r.findFirstIn(fplan).isDefined,
      s"the batch's ids must push into the doclens fold scan:\n$fplan")
    assert(!fplan.contains("SortMergeJoin") && !fplan.contains("ShuffledHashJoin"),
      s"replay probe must stay broadcast-shaped:\n$fplan")
    assert(fresh.select("doc_id").collect().map(_.getLong(0)).toSeq === Seq(3L),
      "replayed id drops, novel id indexes")
  }

  test("a17 quality checks: ONE scan of the fact table; distinct via Expand") {
    val d = "/root/testdata/sf0.001"
    val df = SparkEntry.queries("a17_quality_checks")(spark, d)
    val plan = executedPlan(df).split("== Initial Plan ==").head
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans === 1, s"constraint suite must profile in one pass (got $scans scans):\n$plan")
    // a single distinct aggregate avoids Expand entirely: Catalyst
    // re-keys phase 1 on the checked composite key and piggybacks the
    // plain metrics as merge_* — the first exchange is (orderkey,
    // linenumber)-keyed and map-side combined
    assert("HashAggregate\\(keys=\\[l_orderkey#\\d+L?, l_linenumber#\\d+".r
        .findFirstIn(plan).isDefined,
      s"composite-key uniqueness must ride the keyed two-phase distinct:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
      s"a17 has no join at all:\n$plan")
  }

  test("x39 stratified sample: quotas broadcast; selection window keyed by stratum") {
    val d = "/root/testdata/sf0.001"
    val df = SparkEntry.queries("x39_stratified_sample")(spark, d)
    val plan = executedPlan(df).split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"),
      s"the ≤|strata|-row quota frame must broadcast onto documents:\n$plan")
    // the corpus-sized rank must be the (source, lang)-keyed window — the
    // only permissible unkeyed window is the apportionment over the
    // dim-sized strata frame
    assert("windowspecdefinition\\(source#\\d+, lang#\\d+".r.findFirstIn(plan).isDefined,
      s"in-stratum rank must partition by (source, lang):\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
      s"x39 must stay broadcast-shaped:\n$plan")
  }

  test("n16 standardize: DIM-row stats broadcast; no corpus-shaped join") {
    val d = "/root/testdata/sf0.001"
    val df = SparkEntry.queries("n16_embedding_standardize")(spark, d)
    val plan = executedPlan(df).split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"),
      s"the per-dim stats frame (exactly DIM rows) must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"n16 must never shuffle-join the exploded stream:\n$plan")
  }

  test("x41 preference pairs: both rank windows reuse ONE source-keyed exchange") {
    val d = "/root/testdata/sf0.001"
    val df = SparkEntry.queries("x41_preference_pairs")(spark, d)
    val plan = executedPlan(df).split("== Initial Plan ==").head
    // the scored scan is exchanged on (source) once; the second window
    // and the self-join's two sides ride ReusedExchange / the same keyed
    // partitioning — never a fresh corpus-wide shuffle per window
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedShuffle"),
      s"the rank windows must share the source-keyed exchange:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"the chosen-rejected match stays keyed on (source, idx):\n$plan")
  }

  test("x38 t-closeness: the verdict admit join is broadcast, never a corpus SMJ") {
    val d = "/root/testdata/sf0.001"
    val df = SparkEntry.queries("x38_t_closeness")(spark, d)
    val plan = executedPlan(df)
    // the (days × event-types)-sized verdict frame is hinted broadcast
    // (the x34 discipline) — asserted over the WHOLE adaptive plan so a
    // runtime conversion can't mask an SMJ in the initial plan
    assert(!plan.contains("SortMergeJoin"),
      s"x38's admit join must broadcast the group-sized verdict frame:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"x38's admit join must be a BroadcastHashJoin:\n$plan")
  }

  test("x37 gate query itself probes a BUCKETED fold (pruned scans, no store exchange)") {
    // the round-13 blind spot: x37 seeded ONE batch, compact() skipped
    // the refold (nothing to fold), and the oracle silently gated the
    // FLAT keyed spelling — the bucketed pruned+broadcast path shipped
    // oracle-unverified. This pin runs the actual gate query and
    // asserts its probe plan is the bucketed one, so the gate and the
    // plan can never diverge again.
    val d = "/root/testdata/sf0.001"
    val df = SparkEntry.queries("x37_intake_bucketed")(spark, d)
    val plan = executedPlan(df)
    val nPruned = "PartitionFilters: \\[bucket".r.findAllIn(plan).length
    assert(nPruned >= 3,
      s"x37's three store scans must partition-prune to hit buckets ($nPruned):\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"x37's probes must stay broadcast-shaped:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"x37's probes must stay keyed:\n$plan")
  }

  test("x41 skew guard: quantile two-pass is rank-identical under a 90%-one-source skew") {
    import spark.implicits._
    // pathological: one source holds ~90% of rows, scores are HEAVILY
    // tied (7 distinct values), so both the dominant-key and the
    // boundary-multiplicity hazards are live
    val df = (1 to 2000).map { i =>
      val src = if (i % 10 == 0) s"cold${i % 5}" else "hot"
      (i.toLong, src, (i % 7).toDouble / 10.0)
    }.toDF("doc_id", "source", "score")
    def collect(r: org.apache.spark.sql.DataFrame) =
      r.select("doc_id", "rk_best", "rk_worst", "n_src").collect()
        .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    // skewShare > 1 can never trip → the plain one-exchange window;
    // 0.5 trips on hot's 90% → the keyedRankQuantile route
    val plain = graft.operators.TextAnalysis.prefRanked(df, skewShare = 1.1)
    val routed = graft.operators.TextAnalysis.prefRanked(df, skewShare = 0.5)
    // the guard must have actually routed: the quantile path's local
    // window partitions by (source, _bkt), the plain path by source only
    val rplan = executedPlan(routed)
    assert("windowspecdefinition\\(source#\\d+, _bkt#\\d+".r.findFirstIn(rplan).isDefined,
      s"the skew route must rank within (source, bucket):\n$rplan")
    assert(!executedPlan(plain).contains("_bkt"),
      "the balanced path must keep the plain keyed window")
    assert(collect(plain) === collect(routed),
      "the two spellings must produce identical (rk_best, rk_worst, n_src) for every doc")
  }

  test("x39 skew guard: stratum quantile two-pass rank-identical under 90%-one-stratum") {
    import spark.implicits._
    // the md5 order key forces the string→numeric-proxy bucketing path
    // (conv of a 15-hex prefix + full (md5, doc_id) struct tie) — the
    // parity assert is what proves the proxy is order-consistent
    val df = (1 to 1500).map { i =>
      val (s, l) = if (i % 10 == 0) (s"cold${i % 3}", "fr") else ("hot", "en")
      (i.toLong, s, l)
    }.toDF("doc_id", "source", "lang")
    def collect(r: org.apache.spark.sql.DataFrame) =
      r.select("doc_id", "rk").collect()
        .map(x => x.getLong(0) -> x.getLong(1)).toMap
    val plain = graft.operators.TextAnalysis.stratumRanked(df, skewShare = 1.1)
    val routed = graft.operators.TextAnalysis.stratumRanked(df, skewShare = 0.5)
    assert("windowspecdefinition\\(source#\\d+, lang#\\d+, _bkt#\\d+".r
        .findFirstIn(executedPlan(routed)).isDefined,
      "the skew route must rank within (source, lang, bucket)")
    assert(collect(plain) === collect(routed),
      "stratum ranks must be identical across the two spellings")
  }

  test("m3 byte entropy: histogram partial-aggregates map-side; post-agg join only") {
    val d = "/root/testdata/sf0.001"
    val df = graft.multimodal.Multimodal.queries("m3_byte_entropy")(spark, d)
    val plan = executedPlan(df).split("== Initial Plan ==").head
    assert(plan.contains("Generate explode"),
      s"byte cells come from one explode:\n$plan")
    assert("partial_count|partial\\(".r.findFirstIn(plan).isDefined ||
      plan.contains("HashAggregate(keys=[media_id"),
      s"the (media, byte) histogram must combine map-side before any exchange:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"the totals join back stays keyed on media_id:\n$plan")
  }
}
