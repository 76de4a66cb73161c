package graft.ops

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Similarity search over `embeddings` (north-star: ANN for training-data
  * pipelines).
  *
  * Determinism design: embeddings are quantized to exact integer
  * milli-units (round(x*1000)) so dot products and squared norms are
  * exact int64; cosine = dot / sqrt(na*nb) is then a sqrt + one division
  * over identical integers — bit-identical in any IEEE engine, so even
  * double-valued similarities are oracle-checkable.
  *
  * Scale design: brute-force top-k is the correctness baseline (fine for
  * a broadcastable query set); the LSH path (random-hyperplane signs →
  * bucket) is the 100 TB route — bucketing turns the O(n·q) scan into a
  * shuffle on bucket id.
  */
object VectorOps {

  val NumQueries = 16 // vec_id < 16 act as the query set
  val TopK = 5
  val AnnTopK = 3 // within-bucket k for the LSH path
  val NumPlanes = 8

  /** Quantize float embedding to exact integer milli-units. */
  private def quantized: Column =
    transform(col("embedding"), x => round(x.cast("double") * 1000).cast("long"))

  /** Exact integer dot product — native codegen Expression (see
    * [[graft.functions.LongDotProduct]]); numerically identical to
    * `aggregate(zip_with(a, b, _*_), 0L, _+_)` but allocation-free. */
  private def dot(a: Column, b: Column): Column =
    graft.functions.LongDotProduct.longDot(a, b)

  private def emb(spark: SparkSession, dir: String): DataFrame =
    // embeddings is one small file → one input split, but every pairwise
    // scan below multiplies work per row; spread the corpus first so the
    // dot-product loops run on all cores
    Tables.embeddings(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("vec_id"), quantized.as("qv"))
      .withColumn("nrm", dot(col("qv"), col("qv")))

  /** Brute-force top-k by integer inner product (MIPS baseline): the
    * query set broadcasts, candidates stream — one pass over the corpus,
    * no shuffle of the big side. */
  def knnDot(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("qv").as("query_v"))
    val pairs = e.select(col("vec_id").as("cand_id"), col("qv").as("cand_v"))
      .crossJoin(broadcast(q))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("dot", dot(col("query_v"), col("cand_v")))
    val w = Window.partitionBy("query_id").orderBy(col("dot").desc, col("cand_id").asc)
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select("query_id", "cand_id", "rank", "dot")
  }

  /** Brute-force cosine top-k: exact integer dot and norms, cosine as a
    * single sqrt+division (bit-deterministic). */
  def cosineKnn(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("qv").as("query_v"),
        col("nrm").as("qn"))
    val pairs = e.select(col("vec_id").as("cand_id"), col("qv").as("cand_v"),
        col("nrm").as("cn"))
      .crossJoin(broadcast(q))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("cos",
        dot(col("query_v"), col("cand_v")) /
          sqrt((col("qn") * col("cn")).cast("double")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id").asc)
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select("query_id", "cand_id", "rank", "cos")
  }

  /** Cosine threshold for near-duplicate embedding pairs. */
  val NearDupCos = 0.45

  /** EXACT embedding near-dup mining: all pairs with cosine >= 0.45 via
    * an unguarded O(n²) crossJoin. NOT a headline query — this is the
    * recall yardstick for [[embNearDupLsh]] (DedupSpec measures LSH
    * recall against it); the shipped, scale-safe operator is the
    * LSH-bucketed form below. */
  def embNearDup(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val a = e.select(col("vec_id").as("vec_a"), col("qv").as("va"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("vec_b"), col("qv").as("vb"), col("nrm").as("nb"))
    a.crossJoin(b)
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos",
        dot(col("va"), col("vb")) / sqrt((col("na") * col("nb")).cast("double")))
      .filter(col("cos") >= NearDupCos)
      .select("vec_a", "vec_b", "cos")
  }

  /** OR-amplified multi-table LSH for [[embNearDupLsh]]: a single k-plane
    * table has recall ~(1-θ/π)^k — near zero at the 0.45 cosine threshold
    * — so, exactly like minhash banding, candidates form in ANY of
    * [[NearDupTables]] independent [[NearDupPlanes]]-plane tables
    * (recall 1-(1-p^k)^L). */
  val NearDupTables = 8
  val NearDupPlanes = 6

  /** LSH-bucketed embedding near-dup mining (the 100 TB path): candidate
    * pairs only form inside a shared hyperplane bucket of one of the L
    * hash tables, so the corpus shuffles L times on (table, bucket)
    * instead of the O(n²) crossJoin of the exact form. A pair colliding
    * in several tables is kept only in the FIRST matching table (the full
    * bucket-key array rides along) — no distinct shuffle, the same dedup
    * trick as [[graft.ops.DedupOps.minhashLsh]] bands. Approximate by
    * construction (recall vs [[embNearDup]] is measured in DedupSpec);
    * deterministic, so still oracle-checked. */
  def embNearDupLsh(spark: SparkSession, dir: String): DataFrame = {
    val weights = planeWeights(NearDupTables * NearDupPlanes)
    def tableBucket(t: Int): Column = (0 until NearDupPlanes).map { j =>
      val wv = array(weights(t * NearDupPlanes + j).map(lit): _*)
      when(dot(col("qv"), wv) >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    // the bucketed self-join below derives BOTH sides from this frame,
    // so the T·P hyperplane projections (the expensive map work) ran
    // once per side. materializeOnce the corpus-sized projection (vector
    // + T bucket longs per row — input-sized, not pair-sized) so each
    // side's shuffle-map stage reads the one materialized copy (the
    // unpersist-stale step keeps a later identical run recomputing
    // instead of silently reusing this run's cache); the exploded
    // per-table rows stay lineage (cheap re-explode beats materializing
    // corpus×T vector copies at 100 TB).
    val e = graft.ingest.Materialize.materializeOnce("embNearDupLsh.proj", emb(spark, dir)
      .withColumn("bks", array((0 until NearDupTables).map(tableBucket): _*)))
    val rows = e.select(col("vec_id"), col("qv"), col("nrm"),
      posexplode(col("bks")).as(Seq("tbl", "bucket")), col("bks"))
    val a = rows.select(col("tbl"), col("bucket"), col("vec_id").as("vec_a"),
      col("qv").as("va"), col("nrm").as("na"), col("bks").as("bks_a"))
    val b = rows.select(col("tbl"), col("bucket"), col("vec_id").as("vec_b"),
      col("qv").as("vb"), col("nrm").as("nb"), col("bks").as("bks_b"))
    // first table whose buckets agree (element_at is 1-based)
    val firstMatch = (0 until NearDupTables - 1)
      .foldRight(lit(NearDupTables - 1): Column) { (t, rest) =>
        when(element_at(col("bks_a"), t + 1) === element_at(col("bks_b"), t + 1),
          lit(t)).otherwise(rest)
      }
    a.join(b, Seq("tbl", "bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .filter(firstMatch === col("tbl"))
      .withColumn("cos",
        dot(col("va"), col("vb")) / sqrt((col("na") * col("nb")).cast("double")))
      .filter(col("cos") >= NearDupCos)
      .select("vec_a", "vec_b", "cos")
  }

  /** Deterministic ±1 hyperplane weights: sign p,i = +1 iff the first hex
    * digit of md5("p:i") is >= 8. Matches the oracle's md5-based CASE. */
  private[ops] def planeWeights(n: Int): Seq[Seq[Long]] = {
    val mdt = MessageDigest.getInstance("MD5")
    (0 until n).map { p =>
      (0 until 64).map { i =>
        val hex = mdt.digest(s"$p:$i".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        if ("89abcdef".contains(hex.charAt(0))) 1L else -1L
      }
    }
  }

  /** Random-hyperplane LSH bucket histogram: 8 md5-derived ±1 planes,
    * bucket = sign-bit pattern of the 8 integer projections. The ANN
    * scale path: vectors shuffle once on bucket id; probes only touch
    * their own bucket. */
  /** Embeddings with their quantized form, norm and LSH bucket id. */
  private def bucketed(spark: SparkSession, dir: String): DataFrame = {
    val weights = planeWeights(NumPlanes)
    val bucket = (0 until NumPlanes).map { p =>
      val wv = array(weights(p).map(lit): _*)
      when(dot(col("qv"), wv) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    emb(spark, dir).withColumn("bucket", bucket)
  }

  def lshBuckets(spark: SparkSession, dir: String): DataFrame =
    bucketed(spark, dir)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_vecs"))

  /** LSH-bucketed ANN (the scale path): probes only compare against
    * candidates in their own hyperplane bucket — the corpus shuffles once
    * on bucket id instead of every probe scanning everything. Approximate
    * by construction (a true neighbor can land across a hyperplane);
    * deterministic, so still oracle-checked. */
  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    val b = bucketed(spark, dir)
    val q = b.filter(col("vec_id") < NumQueries)
      .select(col("bucket"), col("vec_id").as("query_id"),
        col("qv").as("query_v"), col("nrm").as("qn"))
    val pairs = b
      .select(col("bucket"), col("vec_id").as("cand_id"),
        col("qv").as("cand_v"), col("nrm").as("cn"))
      .join(broadcast(q), Seq("bucket"))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("cos",
        dot(col("query_v"), col("cand_v")) /
          sqrt((col("qn") * col("cn")).cast("double")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id").asc)
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= AnnTopK)
      .select("query_id", "cand_id", "rank", "cos", "bucket")
  }

  /** IVF parameters: centroid seed stride (every 64th vec_id seeds a
    * list — corpus-proportional K with a deterministic, oracle-
    * reproducible seed), Lloyd's refinement iteration count, and the
    * number of inverted lists each query probes. */
  val IvfStride = 64
  val IvfProbes = 2
  val IvfIters = 5

  /** Nearest-centroid assignment (the IVF coarse quantizer): the
    * centroid set is ONE sorted array passed as a scalar subquery (run
    * once per query, its value shipped with each task), and each vector
    * picks its argmax-cosine centroid with the compiled
    * [[graft.functions.ArgAssign.argmaxCosineCid]] loop, which decodes
    * the model once per task — a projection over the corpus, ZERO
    * shuffle and no join, pure scan throughput at 100 TB. Ties keep the
    * LOWEST cid (strict-> scan over the cid-ascending array ≡ the
    * oracle's `cos DESC, cid ASC`). */
  private def assignToLists(e: DataFrame, cents: DataFrame): DataFrame = {
    val centArr = cents.agg(
      sort_array(collect_list(struct(col("cid"), col("cv"), col("cnrm")))))
    e.select(
      graft.functions.ArgAssign.argmaxCosineCid(
        col("qv"), col("nrm"), centArr.scalar()).as("list_id"),
      col("vec_id"), col("qv"), col("nrm"))
  }

  /** TRAINED coarse quantizer: the strided seed set refined by
    * [[IvfIters]] distributed Lloyd's iterations (spherical k-means:
    * assign by max cosine, update to the elementwise INTEGER mean
    * `sum div n` — truncating division matches DuckDB `//` on negatives
    * too, so the trained centroids are bit-identical in the oracle).
    * Each iteration is one zero-shuffle assignment pass plus one
    * posexplode→groupBy mean — the textbook distributed Lloyd step;
    * at 100 TB this is exactly how IVF indexes are built (train on the
    * corpus, K·dim model stays bounded). A list that captures no
    * vectors drops out of the next round (its seeds' vectors re-home);
    * cid labels are stable across rounds, so list ids stay meaningful.
    * The rounds stay ONE lazily-unrolled plan (pipelined in a single
    * job; a per-round eager barrier was measured 2–3× slower at sf0.1
    * — five extra job round-trips on model-sized data); callers
    * truncate ONCE at the trained model via [[DedupOps.ckpt]]. */
  private def trainedCentroids(e: DataFrame): DataFrame = {
    val seeds = e.filter(col("vec_id") % IvfStride === 0)
      .select(col("vec_id").as("cid"), col("qv").as("cv"), col("nrm").as("cnrm"))
    (1 to IvfIters).foldLeft(seeds) { (cents, _) =>
      lloydMean(assignToLists(e, cents)
        .select(col("list_id").as("cid"), col("qv")), Seq("cid"), "qv")
    }
  }

  /** IVF (inverted-file) ANN — the second scale path next to
    * [[annLsh]], the IVF-flat shape of FAISS/Milvus re-expressed as
    * dataframes:
    *
    *  1. ASSIGN (map-side, ZERO shuffle): [[assignToLists]] — the
    *     centroid set is one scalar-subquery array; each vector picks
    *     its nearest centroid in a projection, no join, no shuffle of
    *     the corpus. At 100 TB this pass is pure scan throughput.
    *  2. PROBE: each query ranks centroids and keeps [[IvfProbes]]
    *     lists (16 queries × K centroids — negligible).
    *  3. SEARCH: probes broadcast-join onto their lists, exact cosine
    *     within, top-[[AnnTopK]] per query. Only vectors in probed
    *     lists are touched — the IVF pruning that replaces the full
    *     scan.
    *
    * Approximate by construction (a true neighbor can live in an
    * unprobed list); deterministic — integer dot products, cosine as
    * one IEEE division, ties by centroid/candidate id — so still
    * oracle-checked. */
  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    // K·dim model metadata, CHECKPOINTED once at the trained model
    // ([[DedupOps.ckpt]] — eager, master-aware reliable truncation):
    // the two consumers below (corpus assignment + query probing) read
    // one COMPUTED model instead of racing a lazy persist's first
    // computation across their concurrent stages, the unrolled
    // training lineage stops re-appearing wholesale inside every
    // consumer's broadcast subtree (hundreds of Exchange nodes of
    // explain text → one Scan ExistingRDD), and — unlike the bare
    // persist() this replaces — a later identical invocation (a bench
    // rep) can never silently plan-match this run's cache: a
    // checkpoint is a fresh RDD per invocation. LogicalRDD's stats
    // loss is harmless: every model consumer joins via an explicit
    // broadcast/collect_list, never a planner-estimated join.
    val cents = DedupOps.ckpt(trainedCentroids(e))
    val assigned = assignToLists(e, cents)
    // probe lists per query: tiny (queries × centroids), window is fine.
    // Probes come from `e`, NOT `assigned` — a query's own list
    // assignment is irrelevant to probing, and deriving from `assigned`
    // would run the whole corpus argmax a second time for this branch.
    val probes = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("qv").as("query_v"),
        col("nrm").as("qn"))
      .crossJoin(broadcast(cents))
      .withColumn("ccos",
        dot(col("query_v"), col("cv")) /
          sqrt((col("qn") * col("cnrm")).cast("double")))
      .withColumn("prank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("ccos").desc, col("cid").asc)))
      .filter(col("prank") <= IvfProbes)
      .select(col("cid").as("list_id"), col("query_id"), col("query_v"), col("qn"))
    val pairs = assigned
      .select(col("list_id"), col("vec_id").as("cand_id"),
        col("qv").as("cand_v"), col("nrm").as("cn"))
      .join(broadcast(probes), Seq("list_id"))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("cos",
        dot(col("query_v"), col("cand_v")) /
          sqrt((col("qn") * col("cn")).cast("double")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id").asc)
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= AnnTopK)
      .select("query_id", "cand_id", "rank", "cos", "list_id")
  }

  /** Product-quantization parameters: the 64-dim space splits into
    * [[PqSubspaces]] blocks of [[PqSubDim]] dims; each subspace gets its
    * own FIXED-SIZE codebook (seeded by the first [[PqK]] vectors —
    * K stays constant as the corpus grows, exactly like FAISS's
    * K=256-per-subspace convention, so the codebook is genuine model
    * metadata: M·K·dim longs, ~64 KB, whatever the corpus size),
    * refined by [[PqIters]] Lloyd rounds under L2; a vector's code is
    * its nearest codeword per subspace. */
  val PqSubspaces = 4
  val PqSubDim = 16
  val PqIters = 2
  val PqK = 128 // codewords per subspace — fixed, corpus-size-independent
  val PqShortlist = 64 // ADC-ranked candidates kept for the exact re-rank

  /** Corpus split into per-subspace rows: (vec_id, m, sv, snrm). */
  private def pqSub(e: DataFrame): DataFrame =
    e.select(col("vec_id"), posexplode(array((0 until PqSubspaces).map(m =>
        slice(col("qv"), m * PqSubDim + 1, PqSubDim)): _*)).as(Seq("m", "sv")))
      .withColumn("snrm", dot(col("sv"), col("sv")))

  /** Nearest-codeword assignment under EXACT integer L2
    * (‖a−b‖² = ‖a‖² + ‖b‖² − 2a·b — three integer terms, no doubles
    * anywhere in the PQ path): all M codebooks are ONE (m, cid)-sorted
    * array passed as a scalar subquery; the compiled
    * [[graft.functions.ArgAssign.argminL2Cid]] loop decodes it once per
    * task into per-subspace codebooks, scans only the row's subspace
    * and keeps the lowest cid on a tie (strict < in array order ≡ the
    * oracle's `d ASC, cid ASC`). A projection over the corpus — no
    * join, zero shuffle — the same scan-side shape as the IVF coarse
    * quantizer. */
  private def pqAssign(sub: DataFrame, cb: DataFrame): DataFrame = {
    val cbArr = cb.agg(sort_array(collect_list(
      struct(col("m"), col("cid"), col("cv"), col("cnrm")))))
    sub.select(col("vec_id"), col("m"), col("sv"), col("snrm"),
      graft.functions.ArgAssign.argminL2Cid(
        col("sv"), col("snrm"), col("m"), cbArr.scalar()).as("cid"))
  }

  /** The shared Lloyd UPDATE step: elementwise truncating integer mean
    * (`sum div n` — DuckDB `//` agrees on negatives) of the vectors
    * grouped by `keys`, rebuilt into an ordered array with its norm.
    * ONE site for the arithmetic both quantizer trainings (IVF's
    * cosine k-means and PQ's per-subspace L2 k-means) must keep
    * bit-aligned with the oracle's CTEs.
    * Shape (r20): ONE hash aggregate over the custom
    * [[graft.functions.LongVecStats]] elementwise-stats aggregate —
    * the previous `posexplode → groupBy(key, pos) → groupBy(key)`
    * pushed dims× the corpus through two aggregates and a dims×-wider
    * exchange; vec_stats folds map-side into K buffers of 3·dims longs,
    * so the agg map is touched once per ROW and the exchange carries
    * O(groups) structs (ExpressionSpec pins bit-equality to the
    * exploded form, ragged/null/empty corners included). The `size > 0`
    * filter reproduces posexplode's row-dropping: a NULL or empty
    * vector contributed no row, so a group of only such rows emitted
    * NO row — identical here. Per-position semantics are unchanged:
    * `sums div rows` over non-null elements, NULL where a position has
    * none (the oracle's s div n on its NULL sum). */
  private def lloydMean(assigned: DataFrame, keys: Seq[String], vecCol: String): DataFrame =
    assigned
      .where(size(col(vecCol)) > 0)
      .groupBy(keys.map(col): _*)
      .agg(graft.functions.LongVecStats.vecStats(col(vecCol)).as("st"))
      .withColumn("cv", expr(
        "transform(sequence(1, size(st.rows)), p -> " +
          "CASE WHEN element_at(st.nn, p) > 0 " +
          "THEN element_at(st.sums, p) div element_at(st.rows, p) END)"))
      .select(keys.map(col) :+ col("cv"): _*)
      .withColumn("cnrm", dot(col("cv"), col("cv")))

  /** Per-subspace codebooks: seeded by the first [[PqK]] vectors'
    * subvectors, then [[PqIters]] Lloyd rounds (L2 assignment +
    * [[lloydMean]]) — the same distributed training loop as the IVF
    * quantizer, once per subspace, all subspaces in one pass. Rounds
    * stay one lazily-unrolled plan ([[trainedCentroids]] rationale);
    * the caller truncates once at the trained codebook. */
  private def pqCodebooks(sub: DataFrame): DataFrame = {
    val seeds = sub.filter(col("vec_id") < PqK)
      .select(col("m"), col("vec_id").as("cid"), col("sv").as("cv"),
        col("snrm").as("cnrm"))
    (1 to PqIters).foldLeft(seeds) { (cb, _) =>
      lloydMean(pqAssign(sub, cb).select("m", "cid", "sv"),
        Seq("m", "cid"), "sv")
    }
  }

  /** PQ-compressed ANN with asymmetric distance computation (ADC) — the
    * FAISS IVF-PQ memory-side trick as dataframes: the corpus is stored
    * as M small codes per vector (here M=4 codes ≈ 32 bytes of ids vs
    * 512 bytes of raw dims — at 100 TB the compressed index is what
    * fits in cluster memory), and each query precomputes a DISTANCE
    * TABLE to every codeword (queries × M × K rows — tiny, broadcast),
    * so scoring a candidate is M table lookups + a sum, never a raw
    * vector read:
    *
    *  1. TRAIN [[pqCodebooks]] (per-subspace Lloyd under L2);
    *  2. ENCODE the corpus — zero-shuffle argmin ([[pqAssign]]);
    *  3. ADC: codes join the broadcast distance table on (m, cid),
    *     sum the M partial distances → [[PqShortlist]] candidates
    *     per query;
    *  4. RE-RANK: the shortlist (queries × R ids — tiny, broadcast)
    *     joins raw vectors back by id and re-scores with EXACT L2 —
    *     the standard ADC+refine step: quantized distances prune,
    *     exact distances decide, and only R raw vectors per query are
    *     ever fetched.
    *
    * Every distance is exact int64 (L2 via norms + codegen dot), so the
    * whole path — training included — is hash-oracled with no doubles
    * at all. Approximate by construction (a true neighbor can fall off
    * the ADC shortlist); DedupSpec measures recall vs the exact L2
    * top-k. */
  def annPq(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    // the subspace split feeds every training round PLUS encode and the
    // distance table — materialized once, EAGERLY, instead of re-scanned
    // per consumer (corpus × M rows of subDim ints: safely cacheable at
    // any SF where the raw vectors already fit the executors). Eager,
    // because a lazy persist's first computation races itself across the
    // training round's and the encode/distance branches' concurrent
    // stages — the 32-thread variance pathology this query had.
    val sub = graft.ingest.Materialize.materializeOnce("annPq.sub", pqSub(e))
    // K·M·dim model metadata, CHECKPOINTED once at the trained
    // codebook (the annIvf rationale: computed model for both
    // consumers, bounded plan, no cross-invocation cache reuse);
    // training executes inside this one eager job, which also
    // populates sub's cache BEFORE the encode/distance branches read
    // it — the first computation never races concurrent stages
    val cb = DedupOps.ckpt(pqCodebooks(sub))
    val codes = pqAssign(sub, cb).select(col("vec_id"), col("m"), col("cid"))
    val dt = sub.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("m"), col("sv"), col("snrm"))
      .join(broadcast(cb), Seq("m"))
      .select(col("query_id"), col("m"), col("cid"),
        (col("snrm") + col("cnrm") - dot(col("sv"), col("cv")) * 2).as("d"))
    val pairs = codes.join(broadcast(dt), Seq("m", "cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id").as("cand_id"))
      .agg(sum(col("d")).as("approx_l2"))
    // asc_nulls_last: the first ASC-ranked vector windows in this file —
    // Spark defaults nulls FIRST on ASC while DuckDB ranks them last, so
    // a null distance (possible only on a null-riddled embedding corpus)
    // must not silently win rank 1 on the Spark side only
    val wApprox = Window.partitionBy("query_id")
      .orderBy(col("approx_l2").asc_nulls_last, col("cand_id").asc)
    val shortlist = pairs.withColumn("prank", row_number().over(wApprox))
      .filter(col("prank") <= PqShortlist)
      .select("query_id", "cand_id")
    val queries = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("qv").as("query_v"),
        col("nrm").as("qn"))
    val rer = e.select(col("vec_id").as("cand_id"), col("qv").as("cand_v"),
        col("nrm").as("cn"))
      .join(broadcast(shortlist), Seq("cand_id")) // only R ids per query fetch raw vectors
      .join(broadcast(queries), Seq("query_id"))
      .withColumn("l2",
        col("qn") + col("cn") - dot(col("query_v"), col("cand_v")) * 2)
    val wExact = Window.partitionBy("query_id")
      .orderBy(col("l2").asc_nulls_last, col("cand_id").asc)
    rer.withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= TopK)
      .select("query_id", "cand_id", "rank", "l2")
  }

  /** Per-label centroid, one row per (label, dim): exact integer sums,
    * centroid as a single division. The posexplode → groupBy shape is the
    * distributed vector aggregation (no vector ever sits on the driver). */
  def labelCentroid(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(quantized).as(Seq("pos", "q")))
      .groupBy("label", "pos")
      .agg(sum(col("q")).as("sum_q"), count(lit(1)).as("n"))
      .withColumn("centroid_e3", col("sum_q").cast("double") / col("n"))

  /** Cosine threshold for SEMANTIC duplicates — looser than
    * [[NearDupCos]] (semantic dedup prunes "same meaning", not
    * near-identical vectors). */
  val SemDedupCos = 0.30

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    * deduplication by cluster-then-compare: train the coarse quantizer
    * (the SAME [[trainedCentroids]] Lloyd's k-means the IVF index
    * uses), assign every vector to its nearest centroid with the
    * zero-shuffle argmax of [[assignToLists]], then compute pairwise
    * cosine ONLY within a cluster and drop every vector that has a same-cluster
    * neighbor with cosine ≥ [[SemDedupCos]] and a smaller vec_id (the
    * min-id member of any similar pair always survives — a
    * deterministic stand-in for the paper's random keeper). This is
    * what makes semantic dedup feasible at 100 TB: the O(n²) compare
    * is confined to clusters (Σ c_i² ≪ n²), the cluster id is the
    * shuffle key, and the model (K·dim centroids) stays broadcast-
    * sized. Output is the per-cluster manifest — members / dropped /
    * kept counts plus an md5 fingerprint of the kept id set (the
    * freeze-proof discipline of [[graft.ops.TextOps.mixRebalance]]) —
    * bounded by K, never corpus-sized. */
  def semDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val cents = DedupOps.ckpt(trainedCentroids(e)) // the annIvf rationale
    // the assignment feeds three consumers (both self-join sides + the
    // manifest); persist so the training+argmax subtree runs once. At
    // 100 TB this materialization is the checkpoint any multi-pass
    // dedup stage pays; rows are (cid, id, vec) — no pair blowup.
    // materialize BEFORE the self-join branches read it: a lazy persist's
    // first computation races itself across the join's two concurrent map
    // stages, running the training+argmax subtree twice in parallel (the
    // dedupClusters pairs lesson); materializeOnce also drops a previous
    // identical invocation's cache entry first (honesty contract)
    val a = graft.ingest.Materialize.materializeOnce("semDedup.assign", assignToLists(e, cents)
      .select(col("list_id"), col("vec_id"), col("qv"), col("nrm")))
    val x = a.select(col("list_id"), col("vec_id").as("ia"),
      col("qv").as("va"), col("nrm").as("na"))
    val y = a.select(col("list_id"), col("vec_id").as("ib"),
      col("qv").as("vb"), col("nrm").as("nb"))
    val dropped = x.join(y, Seq("list_id"))
      .filter(col("ia") < col("ib"))
      .filter(dot(col("va"), col("vb")) /
        sqrt((col("na") * col("nb")).cast("double")) >= SemDedupCos)
      .select(col("ib").as("vec_id")).distinct()
    a.join(dropped.withColumn("is_dup", lit(1L)), Seq("vec_id"), "left_outer")
      .groupBy("list_id")
      .agg(count(lit(1)).as("n_members"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dropped"),
        count(lit(1)).minus(sum(coalesce(col("is_dup"), lit(0L)))).as("n_kept"),
        md5(array_join(transform(
          sort_array(collect_list(when(col("is_dup").isNull, col("vec_id")))),
          _.cast("string")), ",")).as("kept_fp"))
  }
}
