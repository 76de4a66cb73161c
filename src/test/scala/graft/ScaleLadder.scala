package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-ladder evidence for the heavy five (VERDICT r9 item 7): build a
  * seed-free DETERMINISTIC ~sf0.3 corpus in /tmp as three
  * content-disjoint replicas of sf0.1, then run
  * q_dedup_clusters / q_minhash_lsh / q_simhash_neardup / q_bfs /
  * q_pagerank on both scales under the structural counter.
  *
  * Replica construction (the property that makes the ladder MEANINGFUL):
  *  - documents: replica k maps every letter through a Caesar shift of k
  *    (`translate`) — a bijection on characters, so shingle equality
  *    WITHIN a replica is exactly preserved (each replica's near-dup
  *    graph is isomorphic to sf0.1's) while shingles ACROSS replicas
  *    almost never collide (cross-replica jaccard ≈ 0) — 3× data ⇒
  *    exactly 3× the pair graph, never 9×. doc_ids offset by 10M·k.
  *  - lineitem/part: order/part keys offset by 10M·k ⇒ three disjoint
  *    copies of the co-purchase graph (same diameter, 3× edges).
  * So a scale-right operator should cost ~3× wall-clock and KEEP its
  * structural shape (same CC convergence cycles, ~same job/stage
  * counts — per-task data grows instead). A quadratic operator would
  * cost ~9×.
  *
  * `Test/runMain graft.ScaleLadder [build|run]` */
object ScaleLadder {
  val Out = "/tmp/graft_sf0.3"
  val Src = "/root/testdata/sf0.1"

  private def shifted(c: org.apache.spark.sql.Column, k: Int) = {
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    def rot(s: String) = s.drop(k) + s.take(k)
    translate(c, lower + upper, rot(lower) + rot(upper))
  }

  def build(spark: SparkSession): Unit = {
    val docs = spark.read.parquet(s"$Src/documents.parquet")
    val docs3 = (0 to 2).map { k =>
      docs.select(
        (col("doc_id") + lit(10000000L * k)).as("doc_id"),
        shifted(col("text"), k).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
    docs3.write.mode("overwrite").parquet(s"$Out/documents.parquet")

    val li = spark.read.parquet(s"$Src/lineitem.parquet")
    val li3 = (0 to 2).map { k =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(10000000L * k))
        .withColumn("l_partkey", col("l_partkey") + lit(10000000L * k))
    }.reduce(_ unionByName _)
    li3.write.mode("overwrite").parquet(s"$Out/lineitem.parquet")

    val part = spark.read.parquet(s"$Src/part.parquet")
    val part3 = (0 to 2).map { k =>
      part.withColumn("p_partkey", col("p_partkey") + lit(10000000L * k))
    }.reduce(_ unionByName _)
    part3.write.mode("overwrite").parquet(s"$Out/part.parquet")
    println(s"LADDER built $Out: docs=${docs3.count()} li=${li3.count()} " +
      s"part=${part3.count()}")
  }

  val Five = Seq("q_dedup_clusters", "q_minhash_lsh", "q_simhash_neardup",
    "q_bfs", "q_pagerank")

  /** 10× rung (round 11): same content-disjoint construction, shifts
    * 0..9 (all distinct Caesar bijections on a 26-letter alphabet, so
    * cross-replica jaccard ≈ 0 still holds) — an order of magnitude
    * over sf0.1 for the three text-heavy queries. This is the rung
    * that exercises the round-11 scale-aware simhash bands BEYOND
    * their calibration point: at n=50 000 docs bits-per-band =
    * bitLength(n) clamps to 15, so bucket space (2^15 per band)
    * tracks the corpus and candidate volume must stay
    * output-proportional instead of densifying birthday-style. */
  val Out10 = "/tmp/graft_sf1.0"

  def build10(spark: SparkSession): Unit = {
    val docs = spark.read.parquet(s"$Src/documents.parquet")
    val docs10 = (0 to 9).map { k =>
      docs.select(
        (col("doc_id") + lit(10000000L * k)).as("doc_id"),
        shifted(col("text"), k).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
    docs10.write.mode("overwrite").parquet(s"$Out10/documents.parquet")
    println(s"LADDER-10 built $Out10: docs=${docs10.count()}")
  }

  def run10(spark: SparkSession): Unit = {
    for (dir <- Seq(Src, Out10);
         q <- Seq("q_minhash_lsh", "q_simhash_neardup", "q_dedup_clusters")) {
      val c = new StructuralCounter
      spark.sparkContext.addSparkListener(c)
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(q)(spark, dir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      val (j, s, sh, t) = c.drainAndRead()
      spark.sparkContext.removeSparkListener(c)
      println(f"LADDER-10 $dir $q rows=$n wall=$wall%.2fs jobs=$j stages=$s " +
        f"shuffles=$sh tasks=$t " +
        s"loadavg=${scala.io.Source.fromFile("/proc/loadavg").mkString.trim}")
    }
  }

  /** CONNECTED rung (VERDICT r10 item 5): the disjoint replicas make
    * single-source BFS scale-invariant (it reaches only its own
    * component) — the one uninformative ladder row. This variant keeps
    * the same 3× replica construction but adds a BOUNDED number of
    * cross-replica bridges so the measured frontiers actually grow:
    *  - co-purchase graph: two synthetic 2-item orders
    *    {src, src+10M} and {src, src+20M} where src=6 is the BFS source
    *    (min vertex of the sf0.1 edge set, PROMO by construction).
    *    A STAR through the source ⇒ every replica-k vertex sits at
    *    (its sf0.1 hops)+1, so with sf0.1 max-hops=4 « cap 8 the
    *    visited set must be EXACTLY 3× (9993 = 3·3331) and max-hops 5.
    *  - near-dup graph: a sliding-window token CHAIN whose length (and
    *    therefore path diameter) grows with the corpus. Chain doc i
    *    holds tokens [S·i, S·i+W) of a synthetic vocabulary
    *    (W=195, S=2): adjacent docs share jaccard 193/197 ≈ 0.98
    *    (≥ 0.8 verify threshold; banded-candidate detection
    *    P = 1-(1-.98⁴)⁴ ≈ 0.99996 per edge), k-apart docs share
    *    (195-2k)/(195+2k) which drops below 0.8 at k = 11 — so the
    *    chain is a PATH with shortcut range ≤ 10: diameter = Θ(L/10),
    *    3× the docs ⇒ 3× the diameter. The 3× rung's chain runs
    *    L docs per replica id-band with adjacent windows bridging the
    *    band seams — the literal cross-replica bridge edges. CC's
    *    pointer-jumping convergence is O(log diameter), so the rung
    *    should cost ~log₂3 ≈ +1-2 cycles, not 3× the cycles — the
    *    rung's `jobs=` count records them (one convergence-count job
    *    per cycle after cycle 0). Replica copies of
    *    doc_id 0 additionally keep the ORIGINAL (unshifted) text ⇒
    *    exact-dup bridge pairs (0, 10M), (0, 20M) proving shifted
    *    replicas merge where content recurs.
    * Diameter growth is additive/linear-bounded, never
    * multiplicative, mirroring how real web/corpus graphs stay
    * small-diameter as they grow. */
  val OutC = "/tmp/graft_sf0.3c"   // 3× replicas + bridges + chain(3L)
  val Out1C = "/tmp/graft_sf0.1c"  // sf0.1 docs + chain(L) — CC rung 1
  val BridgeSrc = 6L       // BFS source = min co-purchase vertex at sf0.1
  val BridgeDoc = 0L       // min doc_id participating in a minhash pair
  val ChainL = 120         // chain docs per replica band
  val ChainW = 195         // tokens per chain doc
  val ChainS = 2           // token stride between adjacent chain docs

  /** `count` chain docs; doc i's id = 5M + 10M·(i/L) + (i%L) so each
    * consecutive L-segment lives in one replica's id band. */
  private def chainDocs(spark: SparkSession, count: Int): DataFrame =
    spark.range(count).selectExpr(
      s"5000000L + 10000000L * (id div $ChainL) + (id % $ChainL) AS doc_id",
      s"concat_ws(' ', transform(sequence(id * $ChainS, id * $ChainS + ${ChainW - 1}), " +
        "j -> format_string('c%05d', j))) AS text",
      "'xx' AS lang", "'chain' AS source") // block-free lang/source
      .withColumn("n_chars", length(col("text")).cast("long"))

  def buildConnected(spark: SparkSession): Unit = {
    val docs = spark.read.parquet(s"$Src/documents.parquet")
    docs.unionByName(chainDocs(spark, ChainL))
      .write.mode("overwrite").parquet(s"$Out1C/documents.parquet")
    val docs3 = (0 to 2).map { k =>
      docs.select(
        (col("doc_id") + lit(10000000L * k)).as("doc_id"),
        when(col("doc_id") === BridgeDoc, col("text"))
          .otherwise(shifted(col("text"), k)).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _).unionByName(chainDocs(spark, 3 * ChainL))
    docs3.write.mode("overwrite").parquet(s"$OutC/documents.parquet")

    val li = spark.read.parquet(s"$Src/lineitem.parquet")
    val li3 = (0 to 2).map { k =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(10000000L * k))
        .withColumn("l_partkey", col("l_partkey") + lit(10000000L * k))
    }.reduce(_ unionByName _)
    // four bridge rows: two fresh 2-item orders, one row per item; all
    // other columns inherit a deterministic template row (the graph
    // reads only orderkey/partkey)
    val template = li.orderBy("l_orderkey", "l_partkey", "l_linenumber").limit(1)
    val bridges = Seq(
      (900000001L, BridgeSrc), (900000001L, BridgeSrc + 10000000L),
      (900000002L, BridgeSrc), (900000002L, BridgeSrc + 20000000L))
    val bridgeRows = bridges.map { case (o, p) =>
      template.withColumn("l_orderkey", lit(o)).withColumn("l_partkey", lit(p))
    }.reduce(_ unionByName _)
    li3.unionByName(bridgeRows).write.mode("overwrite")
      .parquet(s"$OutC/lineitem.parquet")

    val part = spark.read.parquet(s"$Src/part.parquet")
    val part3 = (0 to 2).map { k =>
      part.withColumn("p_partkey", col("p_partkey") + lit(10000000L * k))
    }.reduce(_ unionByName _)
    part3.write.mode("overwrite").parquet(s"$OutC/part.parquet")
    println(s"LADDER-C built $OutC: docs=${docs3.count()} " +
      s"li=${li3.count() + 4} part=${part3.count()}")
  }

  /** BFS + CC on the rung-1 corpora vs the CONNECTED 3× rung, with
    * rows / max-hops / chain-component checks that prove the bridges
    * bit. `chainClusters` MUST be 1 (the sliding-window path is
    * unbroken) and `chainSize` MUST equal the chain length — otherwise
    * the diameter claim is void. */
  def runConnected(spark: SparkSession): Unit = {
    val cases = Seq(
      ("q_bfs", Src), ("q_bfs", OutC),
      ("q_dedup_clusters", Out1C), ("q_dedup_clusters", OutC))
    for ((q, dir) <- cases) {
      val c = new StructuralCounter
      spark.sparkContext.addSparkListener(c)
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(q)(spark, dir)
      val extra =
        if (q == "q_bfs") {
          val r = df.agg(count(lit(1)).as("rows"), max(col("hops"))).head()
          f"rows=${r.getLong(0)} maxHops=${r.getLong(1)}"
        } else {
          val sizes = df.groupBy(col("cluster_id")).count()
          val r = sizes.agg(count(lit(1)).as("clusters"), max(col("count"))).head()
          val ch = df.filter(col("doc_id") % 10000000L >= 5000000L)
            .agg(countDistinct(col("cluster_id")), count(lit(1))).head()
          f"clusters=${r.getLong(0)} largest=${r.getLong(1)} " +
            f"chainClusters=${ch.getLong(0)} chainSize=${ch.getLong(1)}"
        }
      val wall = (System.nanoTime() - t0) / 1e9
      val (j, s, sh, t) = c.drainAndRead()
      spark.sparkContext.removeSparkListener(c)
      println(f"LADDER-C $dir $q $extra wall=$wall%.2fs jobs=$j stages=$s " +
        f"shuffles=$sh tasks=$t " +
        s"loadavg=${scala.io.Source.fromFile("/proc/loadavg").mkString.trim}")
    }
  }

  def run(spark: SparkSession): Unit = {
    for (dir <- Seq(Src, Out); q <- Five) {
      val c = new StructuralCounter
      spark.sparkContext.addSparkListener(c)
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(q)(spark, dir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      val (j, s, sh, t) = c.drainAndRead()
      spark.sparkContext.removeSparkListener(c)
      println(f"LADDER $dir $q rows=$n wall=$wall%.2fs jobs=$j stages=$s " +
        f"shuffles=$sh tasks=$t " +
        s"loadavg=${scala.io.Source.fromFile("/proc/loadavg").mkString.trim}")
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = Session.builder("local[32]", "32").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.headOption match {
      case Some("build") => build(spark)
      case Some("run") => run(spark)
      case Some("buildc") => buildConnected(spark)
      case Some("runc") => runConnected(spark)
      case Some("connected") => buildConnected(spark); runConnected(spark)
      case Some("build10") => build10(spark)
      case Some("run10") => run10(spark)
      case Some("x10") => build10(spark); run10(spark)
      case _ => build(spark); run(spark)
    }
    spark.stop()
  }
}
