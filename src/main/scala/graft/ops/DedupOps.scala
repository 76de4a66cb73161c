package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.NgramHashes
import graft.sources.Tables

/** Deduplication operators over `documents` (north-star: the dedup half of
  * a training-data pipeline). MinHash resemblance sketching follows Broder
  * ("On the resemblance and containment of documents", 1997) with banded
  * LSH; SimHash follows Charikar ("Similarity estimation techniques from
  * rounding algorithms", STOC 2002).
  *
  * Determinism design: every hash is md5 (identical across engines, unlike
  * xxhash64), minhash signatures are lexicographic minima of md5 hex
  * prefixes, and jaccard is a single IEEE division over exact integer
  * set sizes — so even the LSH-approximate candidate set is
  * oracle-reproducible in DuckDB.
  *
  * Scale design: nothing here collects to the driver. The LSH candidate
  * join shuffles on (band, band_sig) — the classic shingle→minhash→band→
  * bucket-join pipeline, which is how you dedup 100 TB without the O(n²)
  * all-pairs comparison. The exact-jaccard verify only touches candidate
  * pairs.
  */
object DedupOps {

  /** Lineage-truncation point for the iterative operators. With
    * `spark.graft.checkpointDir` set (session conf), blocks go to a
    * RELIABLE checkpoint directory (HDFS/object store at scale) and
    * survive executor loss; unset, `localCheckpoint(true)` keeps blocks
    * in executor storage with truncated lineage — fast, but an executor
    * loss kills the job unrecoverably, so local runs only. Both are
    * eager. Reclamation differs: superseded LOCAL checkpoints are
    * reclaimed by the ContextCleaner as they become unreferenced;
    * RELIABLE checkpoint files persist for the application's lifetime
    * unless the context was started with
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` — durable
    * recovery costs storage, so at scale point the dir at storage with
    * a retention policy (or enable that flag). */

  /** The reliable-checkpoint decision, MASTER-AWARE (round 11: the
    * executor-kill fault probe proved the hole — an unset conf under
    * `local-cluster` silently picked localCheckpoint, whose blocks die
    * with the executor: CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND, job dead,
    * while every non-checkpointed stage recovered via normal task
    * retry). Policy: `spark.graft.checkpointDir` wins when set; a
    * single-JVM `local[…]` master needs no durability (there is no
    * executor process to lose) and keeps the fast local mode; a
    * `local-cluster[…]` master has real executor JVMs but they share
    * this host's filesystem, so a per-process scratch dir is a correct
    * reliable store; any OTHER master (spark://, yarn, k8s) is a real
    * multi-node cluster where a silent local-FS fallback would be
    * wrong on a different host — fail fast and name the conf. */
  private[graft] def reliableDirFor(master: String, conf: Option[String],
      sameHostScratch: => String): Option[String] =
    conf.orElse {
      if (master.startsWith("local-cluster")) Some(sameHostScratch)
      else if (master.startsWith("local")) None
      else throw new IllegalStateException(
        s"master $master has multi-node executors: set " +
          "spark.graft.checkpointDir to a SHARED filesystem path " +
          "(HDFS/object store) — the localCheckpoint fallback's blocks " +
          "die with their executor and the iterative operators would " +
          "fail unrecoverably on the first executor loss")
    }

  private def reliableDir(ss: SparkSession): Option[String] =
    reliableDirFor(ss.sparkContext.master,
      ss.conf.getOption("spark.graft.checkpointDir"),
      graft.ingest.Materialize.processScratchDir("graft_ckpt"))

  private[ops] def ckpt(df: DataFrame): DataFrame =
    reliableDir(df.sparkSession) match {
      case Some(d) =>
        val sc = df.sparkSession.sparkContext
        // setCheckpointDir stores a QUALIFIED uri with a per-context
        // UUID subdir appended under d — (re)point the shared context
        // only when the current dir's PARENT isn't d (path-component
        // compare, not a string prefix: raw-vs-qualified forms never
        // string-match, and prefix matching would conflate /ck with
        // /ck2). Sessions with different dirs coexist correctly.
        // Repointing is guarded by a double-checked lock on the shared
        // SparkContext: concurrent sessions with DIFFERENT dirs would
        // otherwise repoint each other mid-run and land checkpoint files
        // under the other session's dir (results stay correct — each RDD
        // remembers its own path — but retention/cleanup would cross
        // dirs). The common already-pointed path takes no lock, so
        // same-dir sessions checkpoint concurrently; only a session that
        // actually repoints serializes its (repoint + capture) pair. A
        // cross-dir session repointing between an unlocked check and the
        // capture can still cross-place files — the documented residual,
        // correctness unaffected.
        def pointedAt: Boolean = {
          val want = new org.apache.hadoop.fs.Path(d).toUri
          sc.getCheckpointDir.exists { cur =>
            val parent = new org.apache.hadoop.fs.Path(cur).getParent.toUri
            parent.getPath == want.getPath &&
              (want.getScheme == null || want.getScheme == parent.getScheme)
          }
        }
        if (pointedAt) df.checkpoint()
        else sc.synchronized {
          if (!pointedAt) sc.setCheckpointDir(d)
          df.checkpoint()
        }
      case None => df.localCheckpoint(true)
    }

  /** LAZY lineage truncation for iterative loops: under the default
    * LOCAL checkpoint the caller's next ACTION does the materializing —
    * one job per round instead of a checkpoint job + an action job
    * (with AQE the call still executes the intermediate stages; only
    * the final stage defers). A configured reliable dir keeps the eager
    * [[ckpt]]: its lazy variant would recompute the plan in the
    * separate checkpoint job. Callers MUST run an action on (or
    * downstream of) the result before branching the plan. */
  private[ops] def ckptLazy(df: DataFrame): DataFrame =
    reliableDir(df.sparkSession) match {
      case Some(_) => ckpt(df)
      case None => df.localCheckpoint(false)
    }

  val NumHashes = 16
  val RowsPerBand = 4 // 4 bands × 4 rows: P(candidate) = 1-(1-J^4)^4

  private def tokenSet: Column = array_distinct(split(col("text"), " "))

  /** Exact content dedup on the normalized token set: documents whose
    * sorted distinct-token sets are identical share an md5 group key.
    * A pure hash-groupBy — one shuffle, fully scalable. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      // null text would md5 concat_ws's empty string while the oracle
      // md5's NULL → NULL; a null doc has no content to dedup on
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        md5(concat_ws(" ", array_sort(tokenSet))).as("content_key"))
      .groupBy("content_key")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical_doc"))

  /** MinHash + LSH near-dup pairs: 16 md5-based minhashes, 4 bands of 4
    * rows; docs sharing all 4 minhashes of any band become candidates;
    * each candidate pair is then verified with exact token-set
    * jaccard >= 0.8. */
  /** Token-set as sorted distinct md5-hash longs: the verify stage merges
    * primitive long arrays (zero allocation) instead of strings. The
    * 15-hex-char md5 prefix is order-isomorphic to its numeric value, so
    * intersection/union COUNTS equal the oracle's over the same hashed
    * string sets. */
  private def hashedTokenSet(c: Column): Column =
    array_sort(array_distinct(transform(c,
      t => conv(substring(md5(t), 1, 15), 16, 10).cast("long"))))

  def minhashLsh(spark: SparkSession, dir: String): DataFrame = {
    // the band layout below is built on the expression's K
    require(graft.functions.MinHashSigs.NumHashes == NumHashes,
      "MinHashSigs.NumHashes must match DedupOps.NumHashes")
    // documents is a small file → one input split, but the pipeline fans
    // out 16× hashes per token before the first shuffle; spread the scan
    // across the cluster first (cheap: the table is tiny relative to the
    // fan-out work; at real scale the source already has many splits)
    val docs = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
    // ONE scan+tokenize pass computes BOTH per-doc hash forms — the 16
    // minhash minima (signature stage) and the sorted hashed token set
    // (verify stage) — materialized once (materializeOnce: unpersist-
    // stale + persist + eager count). Previously the two forms were two
    // independent subtrees, each re-scanning and re-tokenizing the
    // corpus, and the verify join's two sides re-ran the token-set pass
    // a third time. The md5 work itself is pinned by the oracle (16
    // salted digests + 1 unsalted per token) and unchanged.
    //
    // Numeric minhash: the first 15 hex chars of md5 as a 60-bit long
    // (order-isomorphic to the oracle's string minima). All 16 minima
    // come from ONE custom codegen Expression pass over the token array
    // (graft.functions.MinHashSigs) — a map-only PROJECTION, replacing
    // the 16×-token explode + corpus-wide hash aggregate this stage
    // used to shuffle (the largest exchange of the dedup pipeline at
    // scale, deleted outright; ExpressionSpec proves value-equality to
    // the grouped form). Null-token-set docs yield a null sig, exactly
    // the docs the grouped form never emitted a row for.
    val base = graft.ingest.Materialize.materializeOnce("minhashLsh.base", docs.select(
      col("doc_id"),
      graft.functions.MinHashSigs.minhashSigs(tokenSet).as("sig"),
      hashedTokenSet(tokenSet).as("s")))
    val signatures = base
      .select(col("doc_id"), col("sig"))
      .where(col("sig").isNotNull)

    val numBands = NumHashes / RowsPerBand
    // b-th band of a signature (1-based element_at)
    def bandKey(sig: Column, band: Column, k: Int): Column =
      element_at(sig, band * RowsPerBand + k + 1)
    // Did any band BEFORE this row's own fully match? `p` carries
    // exactly the earlier bands (band·RowsPerBand leading minima), so
    // band b is present iff size(p) ≥ (b+1)·RowsPerBand; band-0 rows
    // have an empty p and no earlier band. A pair is kept only where
    // this is false — i.e. in its FIRST matching band (its own band
    // matches by construction: the bucket grouped on those 4 minima).
    // STATICALLY UNROLLED over the ≤ numBands−1 possible earlier bands:
    // an exists()-style higher-order function here is CodegenFallback —
    // interpreted per CANDIDATE PAIR, the hottest row count of the
    // whole pipeline (guide §4: no non-codegen expressions in the hot
    // path; measured as multi-second GC-heavy swings before the
    // unroll). element_at past the prefix length is NULL under the
    // size guard's short-circuit, never an error.
    def pBandMatches(b: Int): Column =
      (0 until RowsPerBand).map(k =>
        element_at(col("da.p"), b * RowsPerBand + k + 1) ===
          element_at(col("db.p"), b * RowsPerBand + k + 1)).reduce(_ && _)
    val earlierBandMatches: Column =
      (0 until numBands - 1).map(b =>
        size(col("da.p")) >= (b + 1) * RowsPerBand && pBandMatches(b))
        .reduce(_ || _)

    // Buckets carry ONLY (doc_id, p) — doc id + the EARLIER-bands
    // prefix of the signature (0/4/8/12 minima: 6 avg, not all 16) —
    // never the token sets, so a hot bucket's aggregation row stays
    // small even when millions of near-identical docs collide in one
    // bucket at 100 TB. The prefix is all the first-matching-band
    // dedup below ever reads (the row's OWN band is equal within its
    // bucket by construction), so shipping the full signature was ~10
    // dead longs per band row through BOTH pair-stage exchanges (the
    // bucket groupBy and the fragment-block rebalance) — guide §2.3,
    // shuffle fewer bytes. Pairs stay unique by construction: a pair
    // is kept only in the FIRST band whose 4 minhashes match, so
    // there is no distinct shuffle. The exact-jaccard verify joins the
    // hashed token sets back onto surviving candidate pairs afterwards
    // — an auto-broadcast hash join at this scale, a plain shuffle
    // join on doc_id at 100 TB.
    val bandRows = signatures
      .select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(numBands - 1))).as("band"))
      .select(col("doc_id"), col("sig"), col("band"),
        slice(col("sig"), lit(1), col("band") * RowsPerBand).as("p"))
    // Skew guard: a hot bucket (data-dependent; 2.7k docs → 3.6M pairs at
    // sf0.1) would generate and verify all its pairs inside ONE task.
    // Split each bucket's sorted doc list into ≤FragSize fragments and
    // emit fragment-pair blocks: the diagonal block (pj=0) yields i<j
    // combinations, off-diagonal blocks the full cross product (sorted
    // fragments ⇒ doc_a < doc_b holds). Blocks are repartitioned so one
    // bucket's O(n²) work spreads over the whole cluster.
    val FragSize = 256
    val candidates = bandRows
      .groupBy(col("band") +:
        (0 until RowsPerBand).map(k => bandKey(col("sig"), col("band"), k).as(s"bk$k")): _*)
      .agg(sort_array(collect_list(
        struct(col("doc_id"), col("p")))).as("ds"))
      .filter(size(col("ds")) > 1)
      .withColumn("frags", expr(
        s"transform(sequence(0, cast(ceil(size(ds) / $FragSize.0) AS INT) - 1), " +
          s"f -> slice(ds, f * $FragSize + 1, $FragSize))"))
      .select(col("band"), posexplode(col("frags")).as(Seq("fi", "ba")), col("frags"))
      .select(col("band"), col("ba"),
        posexplode(expr("slice(frags, fi + 1, size(frags))")).as(Seq("pj", "bb")))
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("band"), posexplode(col("ba")).as(Seq("i", "da")),
        col("bb"), (col("pj") === 0).as("diag"))
      .select(col("band"), col("da"),
        explode(when(col("diag"), slice(col("bb"), col("i") + 2, size(col("bb"))))
          .otherwise(col("bb"))).as("db"))
      .filter(!earlierBandMatches)
      .select(col("da.doc_id").as("doc_a"), col("db.doc_id").as("doc_b"))
    // both verify-join sides read the one materialized base
    val docSets = base.select(col("doc_id"), col("s"))
      .withColumn("sz", size(col("s")).cast("long"))
    val setsA = docSets.select(col("doc_id").as("doc_a"),
      col("s").as("s_a"), col("sz").as("sz_a"))
    val setsB = docSets.select(col("doc_id").as("doc_b"),
      col("s").as("s_b"), col("sz").as("sz_b"))
    candidates
      .join(setsA, Seq("doc_a"))
      .join(setsB, Seq("doc_b"))
      .withColumn("inter",
        graft.functions.SortedIntersectSize.sortedIntersectSize(
          col("s_a"), col("s_b")))
      .withColumn("uni", col("sz_a") + col("sz_b") - col("inter"))
      .filter(col("inter") * 10 >= col("uni") * 8)
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / col("uni")).as("jaccard"))
  }

  /** Connected components over the [[minhashLsh]] near-dup graph — the
    * step that turns pairwise similarity into dedup DECISIONS: every doc
    * gets a cluster_id (the minimum doc_id reachable through near-dup
    * edges; singletons map to themselves), so "keep one per cluster" is a
    * filter. Min-label propagation with POINTER JUMPING (label ← label's
    * label) per round: O(log diameter) rounds instead of O(diameter), the
    * standard Spark CC shape (cf. large-star/small-star, Kiveris et al.).
    * Each round is two joins + an aggregate over the edge list — fully
    * distributed; the driver only checks the convergence counter.
    * [[ckpt]] truncates the growing lineage each round (reliable
    * checkpoint dir at scale via `spark.graft.checkpointDir`, else
    * local).
    * Deterministic regardless of execution order (min is commutative),
    * so DuckDB's recursive-CTE closure reproduces it exactly. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    // CC state is a one-row-per-doc label table and the post-contraction
    // graph is a sliver: the loop's latency is per-stage scheduling, not
    // data. A child session pins CC-sized shuffle width without mutating
    // the caller's conf (the streamSession convention — a real
    // deployment sizes this to component count, and AQE still coalesces
    // below it).
    val s = spark.newSession()
    // newSession starts from the builder conf — carry the caller's
    // checkpoint-dir choice across (reliable-recovery mode must survive)
    spark.conf.getOption("spark.graft.checkpointDir")
      .foreach(s.conf.set("spark.graft.checkpointDir", _))
    // persist pairs BEFORE the symmetrize union, or both union branches
    // re-run the whole minhash pipeline. The pair stage is the HEAVY
    // part (the hot-bucket verify join) and runs INSIDE cycle 0's job:
    // the session stays at full cluster width until the loop narrows
    // itself post-contraction (shuffle.partitions is read at planning
    // time), so the verify keeps its parallelism with no extra
    // materialization barrier.
    s.conf.set("spark.sql.shuffle.partitions",
      s.sparkContext.defaultParallelism.toString)
    val pairs = minhashLsh(s, dir).select(col("doc_a"), col("doc_b")).persist()
    try
      minLabelComponents(
        Tables.documents(s, dir)
          .filter(col("text").isNotNull)
          .select(col("doc_id")),
        pairs)
    finally pairs.unpersist()
  }

  /** The CC engine behind [[dedupClusters]] and [[dedupSurvivors]]:
    * min-label propagation with pointer jumping over an undirected pair
    * graph. `nodes` is one `doc_id` column (every node gets a label,
    * singletons map to themselves); `pairs` is `(doc_a, doc_b)` and
    * SHOULD be persisted by the caller (both symmetrize branches read
    * it). Returns `(doc_id, cluster_id)`. */
  private[graft] def minLabelComponents(nodes: DataFrame, pairs: DataFrame): DataFrame = {
    // the symmetrized edge list is CACHED as-is (lazily — it first
    // materializes inside cycle 0's job) but NOT pre-shuffled: its
    // consumers are round 0's neighbor-min (groups on doc_b) and the
    // one-shot contraction (joins on doc_a then doc_b) — no single
    // partitioning serves all three, so an up-front repartition would
    // pay a 2×|pairs| shuffle to co-locate exactly one of them. After
    // contraction the loop touches only the sliver and the cache is
    // dropped.
    // Callers persist `pairs` LAZILY; the union's two branches (32+32
    // partitions in ONE stage) both read it, and a partition's FIRST
    // computation racing itself in two concurrent tasks caches only one
    // result — the whole candidate-verify pipeline (the heaviest stage
    // of the dedup family) executed twice in parallel (probe: two
    // equal-duration 32-task stages, ~1.4 s each at sf0.1; at 100 TB,
    // 2× the CPU of the largest join). One count() materializes the
    // cache before anything branches; the count itself IS the single
    // run of the pipeline, so no extra pass is paid.
    pairs.count()
    val edges = pairs
      .union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .persist()
    val sess = nodes.sparkSession
    val aqeKey = "spark.sql.adaptive.enabled"
    val aqeWas = sess.conf.get(aqeKey, "true")
    val partsKey = "spark.sql.shuffle.partitions"
    val partsWas = sess.conf.get(partsKey)
    var labels = ckpt(nodes.select(col("doc_id"), col("doc_id").as("label")))
    // per-cycle lineage truncation: [[ckptLazy]] lets the cycle's
    // convergence count do the materializing — one job per cycle
    // instead of checkpoint-job + count-job
    def cycleCkpt(df: DataFrame): DataFrame = ckptLazy(df)
    try {
      var changed = 1L
      var rounds = 0
      val MaxRounds = 25
      // after the first propagation most edges join two same-labelled
      // nodes; CONTRACT the graph once — relabel endpoints to their
      // current representatives and drop intra-cluster self-loops — so
      // later rounds scan only the small inter-cluster remainder instead
      // of the full edge list (the large-star/small-star idea applied as
      // a one-shot shrink; components are preserved because a relabeled
      // edge connects exactly the representatives its endpoints follow).
      // Locally a wash (the shrink join ≈ the rounds it saves); at real
      // scale it is the difference between re-scanning the full edge list
      // every round and touching a sliver.
      var liveEdges = edges
      // one propagate+jump step; `carry` columns (the convergence
      // markers) ride through untouched so convergence is a scan of the
      // cycle's one checkpoint — not an extra join back to the previous
      // labels (one fewer shuffle per cycle). `identity = true` (round
      // 0 only) skips the edges⋈labels join outright: with label(a) ≡ a
      // the neighbor minimum is just min(doc_a) grouped on doc_b — the
      // full-edge-list join against the label table never happens.
      // EVERY step keeps the pointer jump — including the confirmation
      // step. A jump-less confirmation is UNSOUND post-contraction:
      // follower nodes (docs with no incident edge in the contracted
      // graph) are only ever moved by the jump, so a propagate-only
      // step is identity on them even while they lag one jump behind
      // their representative — convergence would be declared with
      // stale followers (observed: a follower frozen at a superseded
      // representative id while the representative itself had moved
      // on). With the jump inside the counted step, total-step
      // identity ⇒ propagate identity (labels constant per contracted
      // component = the min) AND jump identity (every label is a
      // fixpoint), which together pin follower labels to their
      // component minimum — all label updates are non-increasing, so
      // neither half can mask the other.
      def step(lbl: DataFrame, carry: Seq[String],
          identity: Boolean = false): DataFrame = {
        val keep = carry.map(col)
        val nbrMin = (
          if (identity) liveEdges.select(col("doc_b"), col("doc_a").as("label"))
          else liveEdges.join(lbl, col("doc_a") === col("doc_id"))
          )
          .groupBy(col("doc_b"))
          .agg(min(col("label")).as("nbr_min"))
        val stepped0 = lbl
          .join(nbrMin, col("doc_id") === col("doc_b"), "left")
          .select(col("doc_id") +: keep :+
            least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label"): _*)
        // The jump self-join below references `stepped` on BOTH sides,
        // and AQE submits the two branches as CONCURRENT query-stage
        // futures — concurrent first computation of a shared subtree is
        // a cache-race, so round 0's full-edge-list neighbor-min ran
        // TWICE (probe: equal-duration 64-task stage pairs, ~1 s each
        // at sf0.1; at scale it doubles the heaviest pre-contraction
        // shuffle). Materialize the round-0 step once, eagerly, before
        // the self-join; post-contraction steps stay pure lineage — the
        // sliver recompute is cheaper than an extra job barrier.
        val stepped = if (identity) ckpt(stepped0) else stepped0
        val byId = stepped.select(col("doc_id").as("pid"), col("label").as("plabel"))
        stepped
          .join(byId, col("label") === col("pid"))
          .select(col("doc_id") +: keep :+ col("plabel").as("label"): _*)
      }
      while (changed > 0 && rounds < MaxRounds) {
        if (rounds == 1) {
          val la = labels.select(col("doc_id").as("doc_a"), col("label").as("la"))
          val lb = labels.select(col("doc_id").as("doc_b"), col("label").as("lb"))
          // LAZY checkpoint: the contraction job folds into cycle 1's
          // convergence count (both step branches read the same
          // materialized RDD within that one job) instead of paying a
          // separate eager-checkpoint job wait
          val contracted = ckptLazy(edges
            .join(la, "doc_a").join(lb, "doc_b")
            .filter(col("la") =!= col("lb"))
            .select(col("la").as("doc_a"), col("lb").as("doc_b"))
            .distinct())
          liveEdges = contracted
          // post-contraction the per-step tables are slivers where AQE
          // inverts: each exchange becomes its own query-stage JOB
          // (planning + barrier ≈ 0.1 s each, ~a dozen per cycle) for
          // joins too small to ever need a runtime re-plan; and the
          // full cluster width is pure task overhead. Narrow + static
          // planning pipelines a whole cycle into ONE job of 8-task
          // stages. Both flips are scoped to the loop session and
          // restored in the finally — the heavy phases above (pairs,
          // round 0, the contraction plan itself) were already planned
          // under AQE at full width and keep its runtime broadcasts.
          sess.conf.set(aqeKey, "false")
          sess.conf.set("spark.sql.shuffle.partitions", "8")
        }
        val start = labels.select(col("doc_id"), col("label"))
        // Cycle 0 is ONE propagate+jump step against the full edge list
        // (with the identity shortcut — no edges⋈labels join). Each
        // later cycle chains two propagate+jump steps into one
        // materialization + one convergence count; the second records
        // its input label as `prev` and doubles as the CONFIRMATION. A
        // counted step that is a total identity IS the fixpoint: the
        // propagate half identity ⇒ label(b) ≤ label(a) across every
        // contracted edge ⇒ vertex labels constant per component (= the
        // component min, since labels only take component doc_ids); the
        // jump half identity ⇒ every label is its own fixpoint, which
        // pins FOLLOWER nodes (no incident contracted edge — the jump
        // is the only thing that moves them; see the step scaladoc for
        // why dropping it mis-converges) to that same minimum. Two
        // jumps per cycle keep reachable diameter exponential in
        // cycles; MaxRounds bounds them.
        val pre =
          if (rounds == 0) start else step(start, Nil)
        val last = step(pre.withColumn("prev", col("label")), Seq("prev"),
          identity = rounds == 0)
        val jumped = cycleCkpt(last)
        // cycle 0 is never the fixpoint on a non-empty edge set (its one
        // step against the raw graph always relabels something, and an
        // EMPTY graph costs one cheap confirming cycle) — skip its count
        // so nothing materializes until cycle 1's, which then runs
        // step-0 + contraction + the sliver steps as ONE job; the
        // shared cycle-0 checkpoint RDD is computed once within it
        changed =
          if (rounds == 0) Long.MaxValue
          else jumped.filter(col("label") =!= col("prev")).count()
        // superseded checkpoints lose their last reference here; the
        // ContextCleaner reclaims their blocks asynchronously
        labels = jumped.select(col("doc_id"), col("label"))
        rounds += 1
      }
      require(changed == 0, s"minLabelComponents did not converge in $MaxRounds rounds")
      labels.select(col("doc_id"), col("label").as("cluster_id"))
    } finally {
      sess.conf.set(aqeKey, aqeWas)
      sess.conf.set(partsKey, partsWas)
      // the result reads the final labels checkpoint, not this cache
      edges.unpersist()
    }
  }

  /** Dedup SURVIVORS — the decision step that turns near-dup clusters
    * into the output corpus: connected components over the VERIFIED
    * [[ngramJaccard]] pair graph (shingle jaccard ≥ 0.5 — a verified
    * similarity edge, not a raw banded candidate: the 16-bit simhash
    * candidate graph is so dense it collapses a corpus into a handful
    * of giant clusters), then ONE kept document per cluster by quality
    * argmax (most tokens, ties to the smallest doc_id — a deterministic
    * partial-aggregate `max(struct)`, never a rank window). Emits one
    * row per cluster: size, the kept doc, and its token count — "drop
    * everything not in `kept_doc`" is the corpus a training run
    * actually reads. The 0.5 threshold compares the SAME int→double
    * division both engines compute, so the edge set is oracle-exact.
    *
    * Scale shape: the pair stage is the size-banded block join (never
    * all-pairs), CC is the shared pointer-jumping loop (edge list
    * shuffled once, O(log d) rounds), and the keep decision is one
    * hash aggregate over (cluster_id) — nothing new materializes
    * beyond the label table. */
  def dedupSurvivors(spark: SparkSession, dir: String): DataFrame = {
    val pairs = ngramJaccard(spark, dir)
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b")).persist()
    try {
      val docs = Tables.documents(spark, dir).filter(col("text").isNotNull)
      val clusters = minLabelComponents(docs.select(col("doc_id")), pairs)
      val stats = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      clusters.join(stats, "doc_id")
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_docs"),
          max(struct(col("n_tokens"), (-col("doc_id")).as("neg_id"))).as("k"))
        .select(col("cluster_id"), col("n_docs"),
          (-col("k.neg_id")).as("kept_doc"), col("k.n_tokens").as("kept_tokens"))
    } finally pairs.unpersist()
  }

  /** Banded SimHash near-dup pairs — the Manku/Charikar web-dedup shape
    * (Manku et al., "Detecting near-duplicates for web crawling",
    * WWW 2007) over [[simhash]]'s 16-bit hashes: the hash splits into
    * [[SimhashBands]] bands of 4 bits, and by PIGEONHOLE any pair within
    * hamming distance [[SimhashMaxHamming]] (= bands−1) agrees exactly
    * on ≥1 band — so candidates form only inside shared (band, bits)
    * buckets, a linear explode + one equality shuffle instead of
    * all-pairs. Candidates verify with `bit_count(xor)`; a pair sharing
    * several bands is kept where the FIRST matching band (a pure
    * function of the xor, no extra shuffle) equals the bucket band —
    * the same no-distinct dedup as [[minhashLsh]]. */
  val SimhashBands = 4
  val SimhashMaxHamming: Int = SimhashBands - 1

  /** Bits per band, chosen from the corpus size (SCALE-AWARE banding —
    * round-10 ladder finding: at a FIXED 4-bit band width, 3× data
    * produced 4.87× candidate pairs by birthday densification, because
    * the 16 buckets per band collapse once n ≫ 2^bandBits; at 100 TB
    * fixed-width buckets are all-pairs in disguise). The cure is to
    * grow the BUCKET SPACE with the corpus: bandBits = bitLength(n)
    * keeps 2^bandBits ≥ n, so the expected RANDOM same-bucket
    * population stays O(1) per doc and candidate volume stays linear
    * in n (+ the genuine near-dup clusters, which no banding should
    * drop). The band COUNT stays [[SimhashBands]] = 4, so the
    * pigeonhole guarantee is UNCHANGED at every scale: hamming ≤ 3 <
    * 4 bands forces exact agreement on ≥ 1 band. The hash itself
    * widens to 4·bandBits (more md5 nibbles vote), which also tightens
    * what "hamming ≤ 3" means — 3 bits of a 52-bit hash is a far
    * sharper near-dup test than 3 bits of 16. bitLength is
    * integer-exact in both engines (`length(bin(n))` in the oracle —
    * the [[ngramJaccard]] band trick); clamped to [4, 15] so the hash
    * spans 16..60 bits (never the BIGINT sign bit). */
  def simhashBandBits(nDocs: Long): Int = {
    val bitLength = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, nDocs))
    math.max(4, math.min(15, bitLength))
  }

  def simhashNearDup(spark: SparkSession, dir: String): DataFrame = {
    // 1-row count (bounded metadata): the corpus size that picks the
    // band width. A production pipeline reads this from table stats.
    val nDocs = Tables.documents(spark, dir).count()
    simhashNearDupBanded(spark, dir, simhashBandBits(nDocs))
  }

  /** [[simhashNearDup]] at an explicit band width (exposed so DedupSpec
    * can pin adaptive-vs-fixed candidate volume on the same corpus). */
  private[graft] def simhashNearDupBanded(spark: SparkSession, dir: String,
      bandBits: Int): DataFrame = {
    val mask = (1L << bandBits) - 1
    // the banded self-join below reads the simhash frame on BOTH sides,
    // whose map stages run concurrently — without a materialization each
    // side re-runs the token-explode + corpus-wide vote aggregate (this
    // query's one big shuffle) from the raw scan. materializeOnce the
    // (doc_id, simhash) projection — two longs per doc (see its scaladoc
    // for the per-invocation honesty contract).
    val sh = graft.ingest.Materialize.materializeOnce("simhashNearDup.bits",
      simhashBits(spark, dir, SimhashBands * bandBits))
    val banded = sh.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until SimhashBands).map(b =>
        shiftright(col("simhash"), b * bandBits).bitwiseAND(lit(mask))): _*))
        .as(Seq("band", "bits")))
    val a = banded.select(col("band"), col("bits"),
      col("doc_id").as("doc_a"), col("simhash").as("ha"))
    val b = banded.select(col("band"), col("bits"),
      col("doc_id").as("doc_b"), col("simhash").as("hb"))
    val x = col("ha").bitwiseXOR(col("hb"))
    val firstBand = (0 until SimhashBands - 1)
      .foldRight(lit(SimhashBands - 1): Column) { (bi, rest) =>
        when(shiftright(x, bi * bandBits).bitwiseAND(lit(mask)) === 0, lit(bi))
          .otherwise(rest)
      }
    a.join(b, Seq("band", "bits"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(col("band") === firstBand)
      .withColumn("hamming", bit_count(x))
      .filter(col("hamming") <= SimhashMaxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** Banded candidate PAIR COUNT at a given band width (pre-verify
    * volume — what densification inflates; DedupSpec pins it). */
  private[graft] def simhashCandidateCount(spark: SparkSession, dir: String,
      bandBits: Int): Long = {
    val mask = (1L << bandBits) - 1
    val banded = simhashBits(spark, dir, SimhashBands * bandBits)
      .select(col("doc_id"),
        posexplode(array((0 until SimhashBands).map(b =>
          shiftright(col("simhash"), b * bandBits).bitwiseAND(lit(mask))): _*))
          .as(Seq("band", "bits")))
    banded.groupBy("band", "bits").agg(count(lit(1)).as("p"))
      .agg(sum(col("p") * (col("p") - 1) / 2).cast("long"))
      .collect()(0).getLong(0)
  }

  /** Word 3-gram (shingle) jaccard pairs, blocked by (lang, source,
    * size band) — the n-gram variant of near-dup mining. The primary
    * key (lang, source) has ~25 values, so alone it leaves O(block²)
    * pair output bounded only by AQE skew-splitting (the round-2
    * verdict's watch item); the SECONDARY key is the shingle-count's
    * bit length — a log₂ size band — with each left row also probing
    * the band above it. Sizes two bands apart differ ≥2×, and
    * J(a,b) ≤ min(sz)/max(sz), so every pair with jaccard > 0.5 is
    * KEPT by construction while block size (and the pair output) is
    * bounded by the per-band population. The probe doubles the left
    * side's shuffle volume — the price of not losing band-straddling
    * pairs.
    *
    * In-block pairs come from a block-key SELF-JOIN (both sides shuffle
    * on the key, the join's per-key buffers spill to disk) — no
    * `collect_list` ever materializes a block in one aggregation row.
    * Emits every same-or-adjacent-band intersecting pair with its exact
    * shingle-jaccard. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val sh = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism) // spread shingling
      .withColumn("t", split(col("text"), " "))
      .select(col("doc_id"), col("lang"), col("source"),
        // guard: sequence(1, size-2) on a <3-token doc would descend
        // through index 0 and throw; the oracle's generate_series(1,0)
        // is empty, so mirror that with an empty shingle set
        hashedTokenSet(expr(
          "CASE WHEN size(t) >= 3 THEN transform(sequence(1, size(t)-2), i -> " +
            "concat_ws(' ', element_at(t,i), element_at(t,i+1), element_at(t,i+2))) " +
            "ELSE array() END"))
          .as("sh"))
      .withColumn("sz", size(col("sh")).cast("long"))
      // bit length of the shingle count: integer-exact in both engines
      // (length(bin(x)) — no float log2 at band boundaries)
      .withColumn("band", length(bin(col("sz"))).cast("long"))
    // the block self-join below reads this frame on BOTH sides, whose
    // map stages run concurrently — without a materialization each side
    // re-runs the shingle + per-shingle-md5 pass over the whole corpus
    // (the heaviest map work here). materializeOnce (unpersist-stale +
    // persist + eager count — see its scaladoc for the honesty contract)
    // runs the shingle+md5 pass once per invocation; both sides read the
    // columnar cache.
    val shM = graft.ingest.Materialize.materializeOnce("ngramJaccard.shingles", sh)
    // Left rows probe their own band and the one above; the right side
    // sits in its own band only, so a same-band pair matches exactly
    // once (doc_a < doc_b) and an adjacent-band pair exactly once (the
    // lower-band row probes up; bands differ, so no doc_id tie exists).
    val a = shM.select(col("lang"), col("source"),
      col("doc_id").as("doc_a"), col("sh").as("sh_a"), col("sz").as("sz_a"),
      col("band").as("band_a"))
      .withColumn("pband", explode(array(col("band_a"), col("band_a") + lit(1L))))
    val b = shM.select(col("lang"), col("source"),
      col("doc_id").as("doc_b"), col("sh").as("sh_b"), col("sz").as("sz_b"),
      col("band").as("pband"))
    a.join(b, Seq("lang", "source", "pband"))
      .filter(col("band_a") =!= col("pband") || col("doc_a") < col("doc_b"))
      .withColumn("inter",
        graft.functions.SortedIntersectSize.sortedIntersectSize(
          col("sh_a"), col("sh_b")))
      .filter(col("inter") > 0)
      .withColumn("uni", col("sz_a") + col("sz_b") - col("inter"))
      .select(col("lang"), col("source"),
        least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"),
        (col("inter").cast("double") / col("uni")).as("jaccard"))
  }

  /** Window length (tokens) for [[substringDedup]] — the granularity at
    * which duplicated text is detected, the knob Lee et al. set to 50. */
  val SubstrWindow = 8

  /** Duplicated-substring detection — the exact-substring dedup family
    * (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", ACL 2022) at fixed window granularity: every
    * [[SubstrWindow]]-token window is content-hashed; a window hash that
    * occurs in ≥2 distinct documents marks duplicated text in ALL of
    * them. Emits per-document duplicated-window counts + per-mille — the
    * signal a pipeline thresholds to drop or trim boilerplate-heavy docs.
    *
    * Scale shape (the suffix-array-free formulation that distributes):
    * a round-robin spread of the documents, then the per-doc distinct
    * window hashes (map-only fan-out, ~n_tokens rows/doc, hashed by the
    * compiled [[graft.functions.NgramHashes]] kernel) → hash-groupBy on
    * the window hash for cross-doc counts → shuffle join back onto the
    * exploded windows → per-doc aggregate. Key-partitioned shuffles
    * only, no all-pairs stage, no driver data path; a window shared by
    * millions of docs is one aggregation row joined back, never a pair
    * explosion. Windows are 60-bit numeric md5 prefixes, keeping both
    * aggregates pure HashAggregates. The exploded windows feed two
    * branches (the cross-doc counts and the join-back probe), so they
    * are materialized once in executor storage instead of re-running
    * the fan-out per branch. */
  def substringDedup(spark: SparkSession, dir: String): DataFrame = {
    val windows = graft.ingest.Materialize.materializeOnce("substringDedup.windows",
      Tables.documents(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism) // spread shingling
        // <K-token docs have no windows (empty list, not a 0/0 row); the
        // oracle's generate_series(1, len-K+1) is empty the same way
        .select(col("doc_id"), explode(array_distinct(NgramHashes.ngramHashes(
          split(col("text"), " "), SubstrWindow))).as("wh")))
    val byWindow = windows.groupBy("wh")
      .agg(countDistinct(col("doc_id")).as("nd"))
    windows.join(byWindow, "wh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_win"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup_win"))
      .withColumn("dup_permille",
        graft.functions.Exact.idiv(col("n_dup_win") * 1000, col("n_win")))
  }

  /** Every [[DecontamModulus]]-th doc_id BELOW [[DecontamEvalCap]]
    * forms the held-out eval set — a deterministic stand-in for the
    * benchmark suite a real pipeline loads from a manifest (both
    * engines derive the identical split). The id cap is what makes the
    * eval side BOUNDED by construction (a real benchmark is a fixed
    * list, not a corpus-proportional slice): however large the corpus
    * grows, at most `cap / modulus` documents are eval — which is what
    * licenses broadcasting their window hashes in [[decontaminate]]. */
  val DecontamModulus = 7
  val DecontamEvalCap = 1L << 20

  /** Benchmark DECONTAMINATION — the training-pipeline gate that keeps
    * eval data out of the training corpus (the n-gram overlap check of
    * GPT-3 appendix C / PaLM §6.1, at [[SubstrWindow]]-token
    * granularity): a training doc sharing any K-token window with an
    * eval-set doc is flagged with its overlap count and per-mille, the
    * signal thresholded to drop or quarantine the doc.
    *
    * Scale shape: the eval side is benchmark-sized — BOUNDED by the
    * [[DecontamEvalCap]] id cap, not corpus-proportional — so its
    * distinct window hashes BROADCAST. The corpus side is a map-only
    * window fan-out (the compiled [[graft.functions.NgramHashes]]
    * kernel) + broadcast probe + per-doc hash aggregate, whose partials
    * combine map-side. When the training documents scan as fewer
    * splits than there are cores (a corpus stored in few large row
    * groups), one round-robin exchange spreads them over the cores
    * first; a scan with a split per core is not shuffled. The bounded
    * eval side is never spread: the split filters push below any
    * exchange, so a spread shared by both sides would be two. Window
    * hashes are the same 60-bit md5 prefixes as [[substringDedup]], so
    * the probe is a long-equality hash lookup. Output is bounded by
    * contaminated docs only. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    // per-doc DISTINCT window hashes (multiplicity is dedup's concern,
    // not decontamination's), <K-token docs have no windows
    def windows(docs: DataFrame): DataFrame = docs
      .select(col("doc_id"), explode(array_distinct(NgramHashes.ngramHashes(
        split(col("text"), " "), SubstrWindow))).as("wh"))
    val docs = Tables.documents(spark, dir)
      .filter(col("text").isNotNull && col("doc_id").isNotNull)
    val isEval = col("doc_id") % DecontamModulus === 0 &&
      col("doc_id") < DecontamEvalCap
    val evalWh = windows(docs.filter(isEval))
      .select(col("wh"), lit(1L).as("hit")).distinct()
    val train = docs.filter(!isEval)
    val cores = spark.sparkContext.defaultParallelism
    // planning only (no job): the scan's split count
    val spread = if (train.rdd.getNumPartitions < cores) train.repartition(cores) else train
    windows(spread)
      .join(broadcast(evalWh), Seq("wh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_win"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .filter(col("n_hits") > 0)
      .withColumn("contam_permille",
        graft.functions.Exact.idiv(col("n_hits") * 1000, col("n_win")))
  }

  /** 16-bit SimHash per document (the compact signature face —
    * [[simhashNearDup]] mines with the scale-aware wide form). */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashBits(spark, dir, 16)

  /** `bits`-wide SimHash per document from md5 nibbles: for bit b,
    * every distinct token votes ±1 with bit b of its md5's first
    * `bits` bits; the sign of the vote sum sets the bit. One explode +
    * one groupBy — linear in corpus size at ANY width (the vote row is
    * the same; only the aggregate grows columns), bits ≤ 60 so the
    * hash never reaches the BIGINT sign bit (md5 supplies 32 nibbles;
    * we use the first bits/4 ≤ 15). */
  private[graft] def simhashBits(spark: SparkSession, dir: String,
      bits: Int): DataFrame = {
    require(bits % 4 == 0 && bits >= 4 && bits <= 60, s"bad simhash width $bits")
    // nibble value of hex char #(c+1) of md5(tok), 0-based c
    def nib(c: Int): Column =
      conv(substring(md5(col("tok")), c + 1, 1), 16, 10).cast("long")
    // vote for bit b: +1 if bit (b%4) of nibble (b/4) is set, else -1
    def vote(b: Int): Column =
      (shiftright(nib(b / 4), 3 - b % 4) % 2) * 2 - 1
    val aggs = (0 until bits).map(b => sum(vote(b)).as(s"s$b"))
    val votes = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism) // spread the vote fan-out
      .select(col("doc_id"), explode(tokenSet).as("tok"))
      .groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
    votes.select(col("doc_id"),
      (0 until bits).map(b =>
        when(col(s"s$b") >= 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _).as("simhash"))
  }

  /** The source stratum [[incrementalDedup]] treats as the INCOMING
    * batch; everything else is the already-ingested corpus. */
  val IncomingSource = "src0"

  /** Incremental (index-vs-probe) near-dup detection — the shape a
    * production pipeline actually runs day over day: the standing corpus
    * is LSH-indexed ONCE; each incoming batch probes that index instead
    * of re-deduping the world against itself. Asymmetric by
    * construction: candidates are probe-band × index-band equi-joins
    * (hot buckets are ordinary join skew — AQE's skew split applies,
    * no fragment machinery needed), verified with exact token-set
    * jaccard ≥ 0.8. Every incoming doc emits: its match count against
    * the corpus, the smallest matching corpus doc (deterministic
    * representative), and the keep/drop verdict.
    *
    * Scale: the index side is O(corpus × bands) rows of 17 longs,
    * built once and (in a real deployment) persisted; the probe side
    * is O(batch). Nothing is quadratic in the corpus, and the verify
    * join touches only surviving candidate pairs. Pair uniqueness is
    * the first-matching-band rule ([[minhashLsh]]) — no distinct
    * shuffle. */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val numBands = NumHashes / RowsPerBand
    val docs = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .repartition(spark.sparkContext.defaultParallelism)
    // ONE scan+tokenize pass computes BOTH per-doc hash forms (the 16
    // minhash minima for the band sides and the hashed token set for
    // the verify join), materialized once — previously two independent
    // subtrees each re-scanned and re-tokenized the corpus, and each
    // was then consumed by two join sides (4 corpus-hash passes total;
    // now 1)
    val base = graft.ingest.Materialize.materializeOnce("incrementalDedup.base", docs
      .select(col("doc_id"), col("source"),
        graft.functions.MinHashSigs.minhashSigs(tokenSet).as("sig"),
        hashedTokenSet(tokenSet).as("s"))
      .withColumn("sz", size(col("s")).cast("long")))
    val sigs = base.select(col("doc_id"), col("source"), col("sig"))
      .where(col("sig").isNotNull)
    // Band rows carry the EARLIER-bands prefix, not the full 16-minima
    // signature — the first-matching-band dedup below reads nothing
    // else (this row's own band is equal across the join by its keys),
    // so the full signature was ~10 dead longs per band row through
    // both join sides' exchanges (the minhashLsh r20 change, §2.3).
    def bands(df: DataFrame, tag: String): DataFrame = df
      .select(col("doc_id").as(s"${tag}_doc"), col("sig"),
        explode(sequence(lit(0), lit(numBands - 1))).as("band"))
      .select(Seq(col(s"${tag}_doc"), col("band"),
        slice(col("sig"), lit(1), col("band") * RowsPerBand).as(s"${tag}_p")) ++
        (0 until RowsPerBand).map(k =>
          element_at(col("sig"),
            col("band") * RowsPerBand + k + 1).as(s"bk$k")): _*)
    val probe = bands(sigs.filter(col("source") === IncomingSource), "p")
    val index = bands(sigs.filter(col("source") =!= IncomingSource), "i")
    // any band BEFORE this row's own fully matches? statically unrolled
    // (a HOF here is CodegenFallback on the candidate-pair hot path)
    def pBandMatches(b: Int): Column =
      (0 until RowsPerBand).map(k =>
        element_at(col("p_p"), b * RowsPerBand + k + 1) ===
          element_at(col("i_p"), b * RowsPerBand + k + 1)).reduce(_ && _)
    val earlierBandMatches: Column =
      (0 until numBands - 1).map(b =>
        size(col("p_p")) >= (b + 1) * RowsPerBand && pBandMatches(b))
        .reduce(_ || _)
    val pairs = probe
      .join(index, Seq("band") ++ (0 until RowsPerBand).map(k => s"bk$k"))
      .filter(!earlierBandMatches)
      .select(col("p_doc"), col("i_doc"))
    val hashed = base.select(col("doc_id"), col("s"), col("sz"))
    val verified = pairs
      .join(hashed.select(col("doc_id").as("p_doc"), col("s").as("s_p"),
        col("sz").as("sz_p")), Seq("p_doc"))
      .join(hashed.select(col("doc_id").as("i_doc"), col("s").as("s_i"),
        col("sz").as("sz_i")), Seq("i_doc"))
      .withColumn("inter",
        graft.functions.SortedIntersectSize.sortedIntersectSize(
          col("s_p"), col("s_i")))
      .filter(col("inter") * 10 >= (col("sz_p") + col("sz_i") - col("inter")) * 8)
      .groupBy(col("p_doc"))
      .agg(count(lit(1)).as("n_dup_matches"), min(col("i_doc")).as("first_match"))
    docs.filter(col("source") === IncomingSource)
      .select(col("doc_id"))
      .join(verified.withColumnRenamed("p_doc", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_dup_matches"), lit(0L)).as("n_dup_matches"),
        col("first_match"),
        coalesce(col("n_dup_matches"), lit(0L)) > 0).toDF(
        "doc_id", "n_dup_matches", "first_match", "is_dup")
  }
}
