package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{DedupOps, Relational, TextOps, VectorOps}

/** Physical-plan audits: the scale claims in the op scaladocs — filter
  * pushdown, broadcast joins, shuffle-free scans, rank-limit pushdown —
  * asserted against the executed plan, so a Catalyst regression (or a
  * refactor that silently de-optimizes a query) fails the build instead
  * of only showing up in BENCH. Queries are executed first so AQE's
  * final plan (not the initial guess) is what's audited. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Execute (so AdaptiveSparkPlan finalizes) and render the plan. */
  def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q_filter_cast: filters reach the parquet scan (PushedFilters)") {
    val plan = finalPlan(Relational.filterCastProject(spark, TestSpark.Sf0001))
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.contains("Not(EqualTo(c_nationkey,7"), s"nationkey filter not pushed:\n$plan")
    assert(plan.contains("IsNotNull(c_name)"), s"null-rejection not pushed:\n$plan")
  }

  test("q_sketch_intersect: the two-level aggregate keeps Expand out of " +
    "the plan (the r19 rewrite of the triple-countDistinct — Expand x4 " +
    "on the widest exchange — into per-(pair,user) flags + a final agg)") {
    val plan = finalPlan(graft.ops.EventOps.sketchIntersect(spark, TestSpark.Sf0001))
    assert(!plan.contains("Expand"), s"multi-distinct Expand is back:\n$plan")
  }

  test("q_broadcast_join: dim chain broadcasts, never sort-merges") {
    val plan = finalPlan(Relational.broadcastDimJoin(spark, TestSpark.Sf0001))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), s"dim join shuffled:\n$plan")
  }

  test("q_shuffle_hash_join: the hinted join is a ShuffledHashJoin — " +
    "no sorts, no broadcast, no sort-merge") {
    val plan = finalSection(finalPlan(
      Relational.shuffleHashJoin(spark, TestSpark.Sf0001)))
    assert(plan.contains("ShuffledHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), s"fell back to SMJ:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"), s"got broadcast:\n$plan")
    // the algorithm's whole point: neither side sorts
    assert(!plan.contains("Sort ["), s"SHJ plan sorted a side:\n$plan")
  }

  test("NDV-DRIVEN BROADCAST (round 19): a snap scan with #ndv records " +
    "reports manifest statistics — an equality filter on a sketched " +
    "column scales the size estimate by 1/ndv and the filtered side " +
    "BROADCASTS; the ndv-less twin keeps default sizing and " +
    "sort-merges the same join") {
    val root = java.nio.file.Files.createTempDirectory("graft_ndvplan")
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001, Some(root.toString))
    // the ESTIMATE must drive the plan (AQE would replan from runtime
    // sizes and hide the manifest statistics under test)
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "4096")
    def mk(name: String, props: String): Unit = {
      s.sql(s"CREATE TABLE graft.snap.$name (k BIGINT, v STRING)$props")
      import s.implicits._
      (0L until 2000L).map(i => (i, f"v$i%04d")).toDF("k", "v")
        .coalesce(1).writeTo(s"graft.snap.$name").append()
    }
    mk("ndvt", " TBLPROPERTIES ('ndv.columns'='k,v')")
    mk("ndvc", "")
    def planFor(t: String): String = {
      val df = s.sql(s"SELECT a.k, b.v FROM graft.snap.$t a " +
        s"JOIN graft.snap.$t b ON a.k = b.k WHERE a.v = 'v0007'")
      val rows = df.collect()
      assert(rows.toSeq.map(r => (r.getLong(0), r.getString(1))) ==
        Seq((7L, "v0007")), s"join values exact on $t: ${rows.toSeq}")
      df.queryExecution.executedPlan.toString
    }
    val withNdv = planFor("ndvt")
    assert(withNdv.contains("BroadcastHashJoin") &&
      !withNdv.contains("SortMergeJoin"),
      s"manifest ndv lets the filtered side broadcast:\n$withNdv")
    val control = planFor("ndvc")
    assert(control.contains("SortMergeJoin") &&
      !control.contains("BroadcastHashJoin"),
      s"the ndv-less twin keeps default sizing (no broadcast):\n$control")
    graft.util.Fs.deleteRecursively(root)
  }

  test("q_promo_share: AQE picks a broadcast join for the part dim") {
    val plan = finalPlan(Relational.promoShare(spark, TestSpark.Sf0001))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), s"part dim join shuffled:\n$plan")
  }

  test("q_topk_revenue: top-k is TakeOrderedAndProject, not a global sort") {
    val plan = finalPlan(Relational.topKRevenue(spark, TestSpark.Sf0001))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q_argmax_window: rank filter pushes down as WindowGroupLimit") {
    val plan = finalPlan(Relational.latestEventWindow(spark, TestSpark.Sf0001))
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("q_sample_stratified: pure scan+filter, zero shuffles") {
    TestSpark.assertNoShuffle(TextOps.stratifiedSample(spark, TestSpark.Sf0001))
  }

  test("dynamic partition pruning fires on a partitioned-fact dim join") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val out = java.nio.file.Files.createTempDirectory("graft_dpp").toString + "/orders_part"
    graft.ingest.Materialize.writePartitioned(
      graft.sources.Tables.orders(spark, TestSpark.Sf0001), out, "o_orderpriority")
    val fact = spark.read.parquet(out)
    // two DPP preconditions worth documenting: the dim must be a real
    // source relation (a literal Seq constant-folds to a LocalRelation,
    // erasing the filter), and the dim predicate must be "likely
    // selective" (EqualTo qualifies; a bare boolean attribute does not)
    val dimPath = java.nio.file.Files.createTempDirectory("graft_dpp_dim").toString + "/dim"
    Seq(("1-URGENT", "yes"), ("2-HIGH", "no"), ("3-MEDIUM", "no"),
      ("4-NOT SPECIFIED", "no"), ("5-LOW", "no")).toDF("pri", "pick")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
    val joined = fact.join(dim.filter(col("pick") === "yes"),
      col("o_orderpriority") === col("pri"))
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    // the fact scan's PartitionFilters must carry a runtime pruning
    // subquery — at 100 TB this is what turns a full scan into one
    // partition's worth of IO
    assert(plan.toLowerCase.contains("dynamicpruning"), plan)
  }

  test("dedupClusters edge layout: cached pre-partitioned edges join with no fresh shuffle") {
    // The exact join shape dedupClusters runs every round
    // (DedupOps.scala: liveEdges.join(labels, doc_a === doc_id)): the
    // edge list is repartition(doc_a)+persist'ed ONCE, so each round's
    // join must shuffle only the label side. A fresh shuffle inserted to
    // satisfy the join renders as `Exchange ... ENSURE_REQUIREMENTS`
    // (the cache-build shuffle is REPARTITION_BY_COL, and the
    // InMemoryRelation rendering repeats it — so we key on the origin
    // tag, not on exchange counts). Broadcast is disabled: at test scale
    // AQE would broadcast the tiny label side and the assertion would be
    // vacuous; at 100 TB labels has one row per document and shuffles.
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
      .toDF("doc_a", "doc_b").repartition(col("doc_a")).persist()
    try {
      edges.count() // materialize the cache, as dedupClusters does
      val labels = Seq((1L, 1L), (2L, 1L), (3L, 3L)).toDF("doc_id", "label")
      val joined = edges.join(labels, col("doc_a") === col("doc_id"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      val fresh = plan.linesIterator.filter(_.contains("ENSURE_REQUIREMENTS")).toSeq
      assert(fresh.nonEmpty, s"label side should shuffle (check not vacuous):\n$plan")
      assert(fresh.forall(_.contains("doc_id")), s"edge side re-shuffled:\n$plan")
      // negative control: WITHOUT the pre-partitioned cache the same join
      // does insert a fresh edge-side shuffle — the tag we key on is real
      val naive = Seq((1L, 2L), (2L, 1L)).toDF("doc_a", "doc_b")
        .join(labels, col("doc_a") === col("doc_id"))
      naive.collect()
      val naivePlan = naive.queryExecution.executedPlan.toString
      assert(naivePlan.linesIterator.exists(l =>
        l.contains("ENSURE_REQUIREMENTS") && l.contains("doc_a")), naivePlan)
    } finally edges.unpersist()
  }

  test("q_skew_join: AQE detects the hot key at RUNTIME and splits the " +
    "skewed partition — skew=true in the final adaptive plan") {
    val df = Relational.skewJoin(spark, TestSpark.Sf0001)
    val plan = finalPlan(df)
    assert(plan.contains("skew=true"), s"no skew split in:\n$plan")
    // and runtime re-planning is value-invisible: the joined row count
    // equals the flat semi-join count (~95% of events on hot customer 1)
    import org.apache.spark.sql.functions.{col, when, lit, sum}
    val total = df.agg(sum("n")).collect()(0).getLong(0)
    val expected = graft.sources.Tables.events(spark, TestSpark.Sf0001)
      .filter("user_id IS NOT NULL AND value IS NOT NULL")
      .select(when(col("user_id") % 20 =!= 0, lit(1L))
        .otherwise(col("user_id")).as("k"))
      .join(graft.sources.Tables.customer(spark, TestSpark.Sf0001),
        col("k") === col("c_custkey"), "left_semi")
      .count()
    assert(total == expected, s"$total != $expected")
  }

  test("q_ann_ivf: centroid set and probes broadcast; corpus never sort-merges") {
    val plan = finalPlan(VectorOps.annIvf(spark, TestSpark.Sf0001))
    // assignment reads the centroid array as a scalar subquery, the
    // query probe crossJoins the centroids and search joins the probe
    // set — both joins must broadcast; a SortMergeJoin would mean the
    // corpus shuffled for a join that should be map-side
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), s"corpus shuffled for a join:\n$plan")
  }

  test("ANN/SemDeDup consumer plans are BOUNDED at the checkpointed model " +
      "(r20: the unrolled Lloyd lineage must not re-enter consumer subtrees)") {
    // before r20 the training lineage re-appeared wholesale inside every
    // consumer's broadcast subtree — q_semdedup's explain held 396
    // Exchange nodes; the eager model checkpoint truncates it to a Scan
    // ExistingRDD. Pin the bound loosely (3× headroom over the observed
    // 16/28/32) so legitimate small plan changes don't flap the test.
    for ((name, df) <- Seq(
        "q_ann_ivf" -> VectorOps.annIvf(spark, TestSpark.Sf0001),
        "q_ann_pq" -> VectorOps.annPq(spark, TestSpark.Sf0001),
        "q_semdedup" -> VectorOps.semDedup(spark, TestSpark.Sf0001))) {
      val plan = df.queryExecution.executedPlan.toString
      val exchanges = "Exchange".r.findAllIn(plan).size
      assert(exchanges <= 90,
        s"$name consumer plan grew to $exchanges Exchange nodes — the " +
          s"training lineage is unrolling into consumers again:\n${plan.take(4000)}")
      assert(plan.contains("ExistingRDD"),
        s"$name no longer reads a checkpointed model:\n${plan.take(4000)}")
    }
  }

  test("q_ann_pq, q_semdedup: the model arrives as a scalar subquery — " +
      "no nested-loop join copies it into every corpus row") {
    for ((name, df) <- Seq(
        "q_ann_pq" -> VectorOps.annPq(spark, TestSpark.Sf0001),
        "q_semdedup" -> VectorOps.semDedup(spark, TestSpark.Sf0001))) {
      val plan = finalPlan(df)
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name:\n${plan.take(4000)}")
      assert(plan.contains("Subquery"), s"$name:\n${plan.take(4000)}")
    }
  }

  test("q_minhash_lsh: the band shuffle carries the earlier-bands prefix, " +
      "never the full signature (r20 §2.3 pin)") {
    val plan = finalPlan(DedupOps.minhashLsh(spark, TestSpark.Sf0001))
    // the bucket aggregate's payload is struct(doc_id, p); a struct that
    // mentions sig would mean the 16-minima signature is riding the
    // pair-stage exchanges again
    assert(!"collect_list\\(struct\\(doc_id, [^)]*sig".r
      .findFirstIn(plan).isDefined,
      s"full signature back in the band shuffle:\n${plan.take(4000)}")
    assert(plan.contains("collect_list(struct(doc_id"), plan.take(2000))
  }

  test("q_simhash_neardup: pair stage is an equality join, no cartesian fallback") {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // scale shape
    val plan = finalPlan(DedupOps.simhashNearDup(s, TestSpark.Sf0001))
    // the pair stage is a self-join on (band, bits) — an equality
    // shuffle, never a cartesian fallback
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"all-pairs fallback:\n$plan")
  }

  test("AQE splits a skewed join partition (the hot-key path ops lean on)") {
    // several operator comments (ngramJaccard, salting docs) cite AQE
    // skew-splitting as the backstop for hot keys — pin that the
    // mechanism actually fires in this Spark build: a join with one
    // giant key must render skew=true partitions in the AQE-final plan
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "20KB")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "20KB")
    import s.implicits._
    // hot key 0 holds half the rows; the rest spread over 10k keys
    val left = (1 to 100000)
      .map(i => (if (i % 2 == 0) 0L else (i % 10000).toLong, i.toLong))
      .toDF("k", "v")
    val right = (0 until 10000).map(i => (i.toLong, s"r$i")).toDF("k", "name")
    val joined = left.join(right, "k")
    val plan = finalPlan(joined)
    assert(plan.contains("skew=true"), s"AQE skew split did not fire:\n$plan")
  }

  test("runtime bloom-filter join injection fires (the shuffle-join row-prune path)") {
    // For non-broadcastable shuffle joins, Spark can inject a bloom
    // filter built from the selective side into the big side's scan —
    // rows that can't join are dropped BEFORE the shuffle. At 100 TB
    // this is the row-level sibling of dynamic partition pruning; pin
    // that the mechanism fires in this build (hair-trigger thresholds,
    // same approach as the AQE skew test).
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1B")
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft_bloom")
    try {
      val dimPath = root.resolve("dim").toString
      val factPath = root.resolve("fact").toString
      (1 to 100).map(i => (i.toLong, s"d$i")).toDF("k", "name")
        .write.mode("overwrite").parquet(dimPath)
      (1 to 200000).map(i => ((i % 5000).toLong, i.toLong)).toDF("k", "v")
        .write.mode("overwrite").parquet(factPath)
      // the creation side needs a selective filter (same precondition
      // family as DPP: a bare scan isn't worth building a bloom for)
      val dim = s.read.parquet(dimPath).filter(col("name") > "d0")
      val joined = s.read.parquet(factPath).join(dim, "k")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("bloom"),
        s"runtime bloom filter did not inject:\n$plan")
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("q_pricing_summary: aggregation is two-phase (partial before shuffle)") {
    val plan = finalPlan(Relational.pricingSummary(spark, TestSpark.Sf0001))
    // partial + final HashAggregate pair = map-side combine happens
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
    assert(!plan.contains("SortAggregate"), s"agg fell back to sort:\n$plan")
  }

  test("q_fuzzy_match: catalog broadcasts; argmin is a partial-agg, not a rank window") {
    val plan = finalPlan(graft.ops.MatchOps.fuzzyMatch(spark, TestSpark.Sf0001))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), s"catalog dim shuffled:\n$plan")
    // min(struct) argmin: two-phase hash aggregation, no Window operator
    assert(!plan.contains("Window"), s"argmin fell back to a rank window:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
  }

  /** The FINAL-plan section only — the rendered AdaptiveSparkPlan
    * repeats every exchange in its "== Initial Plan ==" echo, which
    * would double any occurrence count. */
  def finalSection(plan: String): String = plan.split("== Initial Plan ==")(0)

  test("q_seq_pack: the bin aggregate reuses the window's source partitioning") {
    val plan = finalSection(finalPlan(TextOps.seqPack(spark, TestSpark.Sf0001)))
    // one exchange for PARTITION BY source; groupBy(source, bin) must
    // NOT add a second (hash(source) already clusters (source, bin))
    val fresh = "ENSURE_REQUIREMENTS".r.findAllIn(plan).size
    assert(fresh == 1, s"expected exactly 1 required exchange, got $fresh:\n$plan")
  }

  test("q_inverted_index: rank guard and term aggregate share one shuffle") {
    val plan = finalSection(finalPlan(TextOps.invertedIndex(spark, TestSpark.Sf0001)))
    val fresh = "ENSURE_REQUIREMENTS".r.findAllIn(plan).size
    assert(fresh == 1, s"expected exactly 1 required exchange, got $fresh:\n$plan")
  }

  test("q_substring_dedup: hash aggregates only (numeric window keys)") {
    val plan = finalPlan(DedupOps.substringDedup(spark, TestSpark.Sf0001))
    assert(!plan.contains("SortAggregate"), s"agg fell back to sort:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q_histogram: one two-phase hash aggregate on the derived bin key") {
    val plan = finalSection(finalPlan(
      graft.ops.ProfileOps.priceHistogram(spark, TestSpark.Sf0001)))
    val fresh = "ENSURE_REQUIREMENTS".r.findAllIn(plan).size
    assert(fresh == 1, s"expected exactly 1 required exchange, got $fresh:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
    assert(!plan.contains("SortAggregate"), s"agg fell back to sort:\n$plan")
  }

  test("q_iqr_outliers: quartile windows and final aggregate share one exchange") {
    val plan = finalSection(finalPlan(
      graft.ops.ProfileOps.iqrOutliers(spark, TestSpark.Sf0001)))
    // rank window, count window, two quartile-pick windows, and the
    // outlier aggregate all cluster on event_type — exactly one shuffle
    val fresh = "ENSURE_REQUIREMENTS".r.findAllIn(plan).size
    assert(fresh == 1, s"expected exactly 1 required exchange, got $fresh:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"fence check must not self-join the events:\n$plan")
  }

  test("q_cohort_retention: no self-join — cohort sizes come from a matrix window") {
    val plan = finalSection(finalPlan(
      graft.ops.EventOps.cohortRetention(spark, TestSpark.Sf0001)))
    // user agg, (cohort, offset) agg, and the matrix-sized cohort window:
    // three exchanges, none of them a join back onto the user aggregate
    assert(!plan.contains("Join"), s"cohort sizes joined instead of windowed:\n$plan")
    val fresh = "ENSURE_REQUIREMENTS".r.findAllIn(plan).size
    assert(fresh == 3, s"expected exactly 3 required exchanges, got $fresh:\n$plan")
  }

  test("q_bloom_filter: filter table broadcasts — probing never shuffles the probe side") {
    val plan = finalPlan(graft.ops.ProfileOps.bloomFilter(spark, TestSpark.Sf0001))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), s"bloom probe shuffled:\n$plan")
  }

  test("q_decontam: eval windows broadcast; one doc-bounded exchange only") {
    val plan = finalSection(finalPlan(
      DedupOps.decontaminate(spark, TestSpark.Sf0001)))
    // the eval side is benchmark-sized → its window hashes broadcast;
    // the two required exchanges are the eval-side distinct (eval-
    // bounded) and the per-doc aggregate partials (doc-bounded) — the
    // corpus-sized window fan-out itself never shuffles
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), s"eval probe shuffled the corpus:\n$plan")
    val fresh = "ENSURE_REQUIREMENTS".r.findAllIn(plan).size
    assert(fresh == 2, s"expected the 2 bounded exchanges, got $fresh:\n$plan")
    assert("Exchange hashpartitioning\\(doc_id".r.findFirstIn(plan).isDefined &&
      "Exchange hashpartitioning\\(wh".r.findFirstIn(plan).isDefined,
      s"unexpected exchange keys:\n$plan")
    // the one-split training documents are spread by ONE round-robin exchange, and
    // the windows are hashed by the compiled kernel, not a lambda
    val spread = "REPARTITION_BY_NUM".r.findAllIn(plan).size
    assert(spread == 1, s"expected 1 round-robin spread, got $spread:\n$plan")
    assert(!plan.contains("lambdafunction"), s"interpreted window lambda:\n$plan")
  }

  test("q_decontam: a documents scan with a split per core is not spread again") {
    val dir = java.nio.file.Files.createTempDirectory("graft_decontam_splits").toString
    graft.sources.Tables.documents(spark, TestSpark.Sf0001).repartition(16)
      .write.parquet(s"$dir/documents.parquet")
    val splits = graft.sources.Tables.documents(spark, dir).rdd.getNumPartitions
    assert(splits >= spark.sparkContext.defaultParallelism, s"only $splits splits")
    val many = DedupOps.decontaminate(spark, dir)
    val plan = finalSection(finalPlan(many))
    assert(!plan.contains("REPARTITION_BY_NUM"), s"split-per-core scan shuffled:\n$plan")
    // same answer as the spread plan over the one-split corpus
    assert(many.collect().toSet ==
      DedupOps.decontaminate(spark, TestSpark.Sf0001).collect().toSet)
  }

  test("q_ewma: the sequential fold costs exactly one key shuffle") {
    val plan = finalSection(finalPlan(
      graft.ops.EventOps.ewmaPerUser(spark, TestSpark.Sf0001)))
    // collect_list partials combine per-partition, the fold itself is
    // array-expression work after ONE user_id exchange — no global sort,
    // no join, no second shuffle
    val fresh = "ENSURE_REQUIREMENTS".r.findAllIn(plan).size
    assert(fresh == 1, s"expected exactly 1 required exchange, got $fresh:\n$plan")
    assert(!plan.contains("Join"), s"fold should not join:\n$plan")
  }

  test("q_transitions: sequence walk + transition aggregate, two-phase agg") {
    val plan = finalSection(finalPlan(
      graft.ops.EventOps.transitionCounts(spark, TestSpark.Sf0001)))
    // one exchange partitions users for the lead() walk; the (from, to)
    // aggregate re-keys but combines map-side first (|types|²-bounded)
    val fresh = "ENSURE_REQUIREMENTS".r.findAllIn(plan).size
    assert(fresh == 2, s"expected exactly 2 required exchanges, got $fresh:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"transition aggregate is not two-phase:\n$plan")
  }

  test("q_skyline: window frontier, never the O(n²) dominance join") {
    val plan = finalSection(finalPlan(
      Relational.skyline(spark, TestSpark.Sf0001)))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"skyline fell back to an all-pairs dominance join:\n$plan")
    assert(plan.contains("Window"), s"frontier windows missing:\n$plan")
  }

  test("q_incr_agg: refresh reads the stored view + the delta, never the full table twice") {
    val plan = finalSection(finalPlan(
      graft.ingest.Materialize.incrementalAggRefresh(spark, TestSpark.Sf0001)))
    // exactly three scans: the materialized partials (graft_mv_evagg),
    // the events delta, and the 1-row ts-bounds aggregate (pruned to the
    // ts column — table stats in a real deployment). The refresh never
    // re-aggregates the base half: that work comes from the stored view.
    val scans = "FileScan parquet".r.findAllIn(plan).size
    assert(scans == 3, s"expected MV + delta + bounds scans, got $scans:\n$plan")
    assert(plan.contains("graft_mv_evagg"), s"stored view not read:\n$plan")
  }

  test("q_quarantine and q_train_split: one bounded exchange each") {
    for ((name, df) <- Seq(
      "q_quarantine" -> graft.ops.ProfileOps.qualityQuarantine(spark, TestSpark.Sf0001),
      "q_train_split" -> graft.ops.TextOps.trainSplit(spark, TestSpark.Sf0001))) {
      val plan = finalSection(finalPlan(df))
      val fresh = "ENSURE_REQUIREMENTS".r.findAllIn(plan).size
      assert(fresh == 1, s"$name: expected 1 required exchange, got $fresh:\n$plan")
      assert("HashAggregate".r.findAllIn(plan).size >= 2,
        s"$name: aggregate is not two-phase (map-side combine missing):\n$plan")
    }
  }

  test("q_data_profile: two bounded passes, no sort of the expanded table") {
    val plan = finalSection(finalPlan(
      graft.ops.ProfileOps.dataProfile(spark, TestSpark.Sf0001)))
    // one pass per buffer type (distinct counts + min/max fold), never
    // one per column; the exact distincts still plan as Expand, and
    // splitting them from the string-buffered fold keeps the whole
    // query sortless (fused, the SortAggregate would sort the
    // 7×-expanded table — the regression this pins against)
    assert("FileScan".r.findAllIn(plan).size == 2,
      s"expected exactly the two profile passes:\n$plan")
    assert(plan.contains("Expand"), plan)
    assert(!plan.contains("Sort ["), s"profile sorted a corpus-sized input:\n$plan")
  }

  test("q_chunk_overlap: explode + projection only, zero shuffles") {
    TestSpark.assertNoShuffle(TextOps.chunkOverlap(spark, TestSpark.Sf0001))
  }

  test("q_interval_merge: both windows and the span aggregate share one exchange") {
    val plan = finalSection(finalPlan(
      graft.ops.EventOps.intervalMerge(spark, TestSpark.Sf0001)))
    // growing frames sort once behind ONE user_id exchange; the
    // (user_id, span_id) aggregate reuses that clustering
    val fresh = "ENSURE_REQUIREMENTS".r.findAllIn(plan).size
    assert(fresh == 1, s"expected exactly 1 required exchange, got $fresh:\n$plan")
    assert(!plan.contains("Join"), s"sweep should not join:\n$plan")
  }

  test("q_mix_rebalance: one lang exchange, weight spec broadcasts") {
    val plan = finalSection(finalPlan(
      TextOps.mixRebalance(spark, TestSpark.Sf0001)))
    // rank + group-size windows cluster on lang; the weight join must
    // broadcast (never re-shuffle the ranked rows); the manifest
    // aggregate adds the only other exchange (4-column key)
    assert(plan.contains("BroadcastHashJoin"), s"weights not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"weight join shuffled:\n$plan")
    val fresh = "ENSURE_REQUIREMENTS".r.findAllIn(plan).size
    assert(fresh <= 2, s"expected at most 2 required exchanges, got $fresh:\n$plan")
  }

  test("q_incr_dedup: probe-vs-index candidates are an equality join — " +
    "no cartesian fallback, no corpus self-pairing") {
    val plan = finalSection(finalPlan(
      DedupOps.incrementalDedup(spark, TestSpark.Sf0001)))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q_shingle_profile: the custom Generator runs in GenerateExec " +
    "ahead of a two-phase hash aggregate; the top-N window sees only " +
    "the aggregated table") {
    val plan = finalSection(finalPlan(
      graft.ops.TextOps.shingleProfile(spark, TestSpark.Sf0001)))
    assert(plan.contains("Generate shingle_gen"), s"generator not planned:\n$plan")
    // partial aggregation below the exchange: counting combines map-side
    assert(plan.contains("partial_count"), s"no map-side combine:\n$plan")
    // exactly one Window (the bounded top-N cut), after the aggregate
    assert("Window".r.findAllIn(plan).length >= 1, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q_topk_agg: TopKPairs plans as a TWO-PHASE ObjectHashAggregate " +
    "(map-side k-bounded partials) with no Window operator") {
    val plan = finalSection(finalPlan(
      graft.ops.Relational.topkAgg(spark, TestSpark.Sf0001)))
    val phases = "ObjectHashAggregate".r.findAllIn(plan).length
    assert(phases >= 2, s"expected partial+final ObjectHashAggregate:\n$plan")
    assert(plan.contains("partial_topk_pairs"),
      s"no map-side partial aggregation:\n$plan")
    assert(!plan.contains("Window"), s"window fallback crept in:\n$plan")
  }

  test("q_rendezvous_shard: pure map-side projection, zero shuffles") {
    TestSpark.assertNoShuffle(
      graft.ingest.Materialize.rendezvousShard(spark, TestSpark.Sf0001))
  }

  test("q_kanon: class sizes broadcast back — the corpus never shuffles " +
    "for the release pass") {
    val plan = finalSection(finalPlan(
      graft.ops.ProfileOps.kAnonymity(spark, TestSpark.Sf0001)))
    assert(plan.contains("BroadcastHashJoin"), s"class join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"release pass shuffled:\n$plan")
  }

  test("q_cbo_join: catalog stats + CBO flip the plan — broadcast of the " +
    "filtered sliver AND a rewritten join order; size-only planning " +
    "sort-merges the same tree in the user's order") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import graft.ingest.Materialize
    val dir = TestSpark.Sf0001
    /** Bottom-most join of the optimized tree (no Join beneath it) —
      * whose relations reveal which pair the optimizer joins FIRST. */
    def innermostJoin(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.optimizedPlan.collect {
        case j: Join if !j.children.exists(_.exists(_.isInstanceOf[Join])) => j
      }.head.toString
    val (liT, _, cT) = Materialize.cboTableNames(dir)

    val on = spark.newSession() // cboJoin's own conf, via the public entry
    val dfOn = Materialize.cboJoin(on, dir)
    val planOn = dfOn.queryExecution.sparkPlan.toString
    assert(!planOn.contains("SortMergeJoin"),
      s"stats'd plan still sort-merges:\n$planOn")
    assert(planOn.contains("BroadcastHashJoin"), planOn)
    // CostBasedJoinReorder rewrote the deliberately-bad user order:
    // the filtered-orders ⋈ customer sliver is joined FIRST, the big
    // lineitem probe last — not the user's lineitem-first tree
    val innerOn = innermostJoin(dfOn)
    assert(innerOn.contains(cT) && !innerOn.contains(liT),
      s"join order not stats-rewritten (innermost join):\n$innerOn")

    val off = spark.newSession() // same threshold, stats ignored
    off.conf.set("spark.sql.cbo.enabled", "false")
    off.conf.set("spark.sql.autoBroadcastJoinThreshold", "8KB")
    val dfOff = Materialize.cboQuery(off, dir)
    val planOff = dfOff.queryExecution.sparkPlan.toString
    // size-only estimation can't see through the filter (the orders
    // table's full size survives it, ~15KB after width-scaling the
    // 23KB table down to the projected columns), so the joins that
    // touch it sort-merge
    assert(planOff.contains("SortMergeJoin"),
      s"control plan should sort-merge without stats:\n$planOff")
    assert(innermostJoin(dfOff).contains(liT),
      "user join order should survive when reorder is off")
    // and the stats must be value-invisible: identical rows either way
    assert(dfOn.collect().toSet == dfOff.collect().toSet)
  }

  test("q_dataset_checksum and q_tokenize_ids: hash aggregates with " +
    "map-side partials; vocab broadcasts onto the token stream") {
    val ck = finalSection(finalPlan(
      graft.ops.ProfileOps.datasetChecksum(spark, TestSpark.Sf0001)))
    // the XOR fold is commutative → partial_bit_xor before the exchange
    assert(ck.contains("partial_bit_xor") || ck.contains("partial_bitxor"),
      s"checksum fold not partial-aggregated:\n$ck")
    assert(!ck.contains("SortAggregate"), s"checksum fold sorted:\n$ck")
    val tk = finalSection(finalPlan(
      TextOps.tokenizeIds(spark, TestSpark.Sf0001)))
    assert(tk.contains("BroadcastHashJoin"), s"vocab not broadcast:\n$tk")
    assert(!tk.contains("SortMergeJoin"), s"encode join shuffled the corpus:\n$tk")
  }
}
