package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery}
import org.apache.spark.sql.types.StructType

/** Structured Streaming forms of the event-time operators (SURVEY.md
  * §7.5). Each transform takes a DataFrame and works unchanged on a
  * batch or a `readStream` source — the batch forms in
  * [[graft.ops.EventOps]] are the same plan fragments without watermark.
  *
  * The `*Streamed` entry points run the transforms BY THE STREAMING
  * ENGINE end-to-end against a FILE SOURCE, all through one driver,
  * [[feedRun]]: micro-batches land as parquet files in a watched
  * directory (the production shape — a landing zone fed by some
  * upstream writer), `readStream.parquet(...)` with
  * `maxFilesPerTrigger=1` executes each file as one incremental
  * trigger, and the driver owns the run root, the landing order, the
  * drain per round and the stop. A query only says which session,
  * which staged batches and which sink. No event data ever moves
  * through the driver — batch boundaries are time-split filters planned
  * on the source table, and the far-future sentinel rows that flush the
  * append-mode watermark are 1-row AGGREGATES of the same table, so the
  * whole feed path is distributed writes.
  */
object StreamOps {

  /** Event row for the typed stateful APIs. */
  case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double)

  /** Per-user running state for mapGroupsWithState. */
  case class UserAgg(user_id: Long, n_events: Long, total_cents: Long)

  /** Tumbling event-time window with watermark (append-able sink state:
    * windows finalize once the watermark passes). */
  def tumblingCounts(events: DataFrame, windowLen: String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(graft.functions.Exact.cents(col("value"))).as("value_cents"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("value_cents"))

  /** Session windows (30-min-style gap) per user with watermark. */
  def sessionCounts(events: DataFrame, gap: String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("sess_start"), col("user_id"), col("n"))

  /** Streaming exact dedup on event_id — the streaming form of
    * DedupOps.dedupExact's hash-group. `dropDuplicatesWithinWatermark`
    * (not plain `dropDuplicates`): with the event-time column outside
    * the dedup keys, plain dropDuplicates never evicts its state — the
    * WithinWatermark form expires an id's state once the watermark
    * passes its event time, which is what bounds state at 100 TB.
    * Emission is unchanged: first occurrence emitted, re-deliveries
    * within the horizon state-deduped, re-deliveries older than the
    * watermark dropped as late — each id exactly once either way. */
  def dedupByEventId(events: DataFrame, watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Custom keyed state: running per-user event count + exact cents sum
    * via mapGroupsWithState (Update mode). */
  def runningUserTotals(events: Dataset[Ev]): Dataset[UserAgg] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserAgg, UserAgg](GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[UserAgg]) =>
          val prev = state.getOption.getOrElse(UserAgg(uid, 0L, 0L))
          val next = evs.foldLeft(prev) { (acc, e) =>
            UserAgg(uid, acc.n_events + 1,
              acc.total_cents + math.round(e.value * 100))
          }
          state.update(next)
          next
      }
  }

  /** Required OutputMode for [[runningUserTotals]] sinks. */
  val RunningTotalsOutputMode: OutputMode = OutputMode.Update()

  /** [[runningUserTotals]] re-expressed on Spark 4's transformWithState
    * — the arbitrary-state API that SUPERSEDES mapGroupsWithState:
    * state is named TYPED handles acquired in init (value/list/map per
    * key, independently evolvable and TTL-able) instead of one opaque
    * GroupState blob, and the operator requires the RocksDB provider —
    * the store that actually holds billions of keys at 100 TB. Same
    * per-user fold, same emissions, so [[userTotalsTwsStreamed]] shares
    * q_stream_user_totals' oracle shape. */
  class TotalsProcessor(
      ttl: org.apache.spark.sql.streaming.TTLConfig =
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, UserAgg] {
    @transient private var totals: org.apache.spark.sql.streaming.ValueState[UserAgg] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      totals = getHandle.getValueState[UserAgg]("totals",
        org.apache.spark.sql.Encoders.product[UserAgg], ttl)
    override def handleInputRows(uid: Long, rows: Iterator[Ev],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[UserAgg] = {
      val prev = if (totals.exists()) totals.get() else UserAgg(uid, 0L, 0L)
      val next = rows.foldLeft(prev) { (acc, e) =>
        UserAgg(uid, acc.n_events + 1, acc.total_cents + math.round(e.value * 100))
      }
      totals.update(next)
      Iterator.single(next)
    }
  }

  /** [[TotalsProcessor]] with INITIAL STATE
    * (`StatefulProcessorWithInitialState`) — the state-MIGRATION face of
    * transformWithState: a new streaming query warm-starts from a batch
    * snapshot (the previous system's per-user totals) instead of
    * replaying all history. `handleInitialState` runs once per snapshot
    * key before any input, seeding the same `totals` handle the fold
    * then updates — so snapshot + streamed delta ≡ full history, which
    * is the whole contract. At 100 TB this is the difference between
    * re-reading a year of events and shipping one aggregate table. */
  class TotalsProcessorWithInit
      extends org.apache.spark.sql.streaming
        .StatefulProcessorWithInitialState[Long, Ev, UserAgg, UserAgg] {
    @transient private var totals: org.apache.spark.sql.streaming.ValueState[UserAgg] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      totals = getHandle.getValueState[UserAgg]("totals",
        org.apache.spark.sql.Encoders.product[UserAgg],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInitialState(key: Long, initialState: UserAgg,
        timerValues: org.apache.spark.sql.streaming.TimerValues): Unit =
      totals.update(initialState)
    override def handleInputRows(uid: Long, rows: Iterator[Ev],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[UserAgg] = {
      val prev = if (totals.exists()) totals.get() else UserAgg(uid, 0L, 0L)
      val next = rows.foldLeft(prev) { (acc, e) =>
        UserAgg(uid, acc.n_events + 1, acc.total_cents + math.round(e.value * 100))
      }
      totals.update(next)
      Iterator.single(next)
    }
  }

  /** A closed activity burst emitted by [[burstDetector]]. */
  case class Burst(user_id: Long, n_events: Long, first_us: Long, last_us: Long)

  /** flatMapGroupsWithState: emits a Burst row whenever a user's batch of
    * events arrives while state already holds a prior burst — a 0..n
    * output per group per trigger, which mapGroupsWithState cannot
    * express. Append mode. */
  def burstDetector(events: Dataset[Ev]): Dataset[Burst] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Burst, Burst](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[Burst]) =>
          // full microseconds: getTime is millis, sub-ms lives in getNanos
          def micros(t: java.sql.Timestamp): Long =
            t.getTime * 1000L + (t.getNanos / 1000) % 1000
          val sorted = evs.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          if (sorted.isEmpty) Iterator.empty
          else {
            val closed = state.getOption.iterator
            val burst = Burst(uid, sorted.size.toLong,
              micros(sorted.head.ts), micros(sorted.last.ts))
            state.update(burst)
            closed
          }
      }
  }

  // ---------------------------------------------------------------------
  // File-feed driver
  // ---------------------------------------------------------------------

  /** One watched landing directory. [[landStaged]] byte-copies a
    * [[StreamOps.staged]] part file into the local stage dir, then
    * atomically moves it into `watch`, so the file source only ever
    * sees whole batches. Zero rows cross the driver. */
  private final class FileFeed(root: Path) {
    val watch: Path = Files.createDirectories(root.resolve("watch"))
    private val stage = Files.createDirectories(root.resolve("stage"))
    private var n = 0
    /** A `None` (empty staged batch) lands nothing — and needs no
      * trigger. */
    def landStaged(part: Option[Path]): Unit = {
      n += 1
      part.foreach { p =>
        val tmp = stage.resolve(s"c$n.parquet")
        Files.copy(p, tmp)
        Files.move(tmp, watch.resolve(f"b$n%03d.parquet"),
          StandardCopyOption.ATOMIC_MOVE)
      }
    }
    def close(): Unit = graft.util.Fs.deleteRecursively(root)
  }

  /** First parquet part file of a written directory, if any. */
  private def partFile(out: Path): Option[Path] = {
    val parts = Files.list(out)
    try {
      val it = parts.iterator()
      var found: Option[Path] = None
      while (found.isEmpty && it.hasNext) {
        val p = it.next()
        if (p.getFileName.toString.startsWith("part-")) found = Some(p)
      }
      found
    } finally parts.close()
  }

  /** State stores are partitioned by shuffle.partitions AT QUERY START;
    * a few thousand keys don't need the batch engine's width, and every
    * extra partition is a per-batch store open/commit — at this corpus
    * size 4 partitions cut the streaming bench ~14% vs 8, and 2 trims a
    * further ~6%, with identical results (a real deployment sizes this
    * to key cardinality before first start). An isolated child session
    * pins the stream-side value without mutating the caller's conf (same
    * SparkContext, so the result stays usable). Children are memoized
    * PER (PARENT, CONF SET): each streaming query would otherwise pay a
    * fresh session-state build (catalog, conf clone, codegen caches) for
    * an identical session — sharing one warmed child trims that fixed
    * cost while queries stay isolated where it matters (own checkpoints,
    * own sink names, own feeds).
    *
    * CONTRACT: a returned session is SHARED — callers must NOT set conf
    * on it (a mutation would silently leak into every other streaming
    * query for the process lifetime). A query family that needs
    * different conf gets its own child here, or a fresh
    * `parent.newSession()` (the CC loop's width). The map retains its
    * children (and the memory-sink temp views registered on them) for
    * the process lifetime by design: parents here are long-lived driver
    * sessions (Verify/Bench/tests). */
  private val children = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, Seq[(String, String)]), SparkSession]()
  private def child(parent: SparkSession, confs: (String, String)*): SparkSession =
    children.computeIfAbsent((parent, confs), _ => {
      val spark = parent.newSession()
      (("spark.sql.shuffle.partitions" -> "2") +: confs).foreach {
        case (k, v) => spark.conf.set(k, v)
      }
      spark
    })

  /** The default streaming child: the 2-partition stream width only. */
  private[graft] def streamSession(parent: SparkSession): SparkSession =
    child(parent)

  /** `noDataMicroBatches.enabled=false` skips the engine's extra
    * zero-row trigger after a watermark advance. That trigger exists so
    * stateful operators can EMIT on the new watermark — so this session
    * is ONLY for queries whose results never depend on it: complete-mode
    * aggregations (state re-emitted whole every data batch), inner
    * stream-stream joins (matches emit in the data batch that completes
    * them), passthrough dedup (rows emit on arrival; the skipped batch
    * only delayed state EVICTION, which is invisible to results), and
    * NoTimeout map/flatMapGroupsWithState (the function only runs on
    * data). Append-mode window/session aggs, outer joins, and
    * event-time timers NEED the flush batch and stay on
    * [[streamSession]]. Probe-measured: the skipped batches cost
    * 0.2–0.65 s each (state machinery over zero rows), 1–2 per
    * watermarked query — pure fixed cost at bench scale, and at 100 TB
    * scale a real deployment's continuous triggers amortize eviction
    * into data batches anyway. */
  private[graft] def noFlushSession(parent: SparkSession): SparkSession =
    child(parent, "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")

  /** The RocksDB child: the transformWithState family needs the
    * identical provider conf, so its queries share ONE warmed child
    * instead of paying a session-state build each. */
  private[graft] def rocksSession(parent: SparkSession): SparkSession =
    child(parent, "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** COMPLETE events only: the typed stream's primitive fields reject
    * nulls, and an event without a time/key/value can't be windowed/
    * keyed/summed — every streamed oracle mirrors this WHERE. */
  private def completeEvents(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.events(spark, dir)
      .filter(col("event_id").isNotNull && col("ts").isNotNull &&
        col("user_id").isNotNull && col("value").isNotNull)
      .select("event_id", "ts", "user_id", "event_type", "value")

  /** Two event-time-ordered halves, split at the integer midpoint of the
    * corpus time range — all planned as filters against the source table
    * (the 1-row bounds aggregate joins onto the scan; nothing collects).
    * `(min+max) div 2` is reproducible in the oracle as
    * `(epoch_us(min)+epoch_us(max))//2` (both truncate; epoch sums stay
    * far below 2^63). Ties land in batch 1, so batch 2 is strictly later
    * than every batch-1 event — ordered feeding, no late data. */
  private def timeSplit(evs: DataFrame): (DataFrame, DataFrame) = {
    val bounds = evs.agg(
      expr("(unix_micros(min(ts)) + unix_micros(max(ts))) div 2").as("split_us"))
    def half(cmp: org.apache.spark.sql.Column): DataFrame =
      evs.crossJoin(bounds).filter(cmp).drop("split_us")
    (half(unix_micros(col("ts")) <= col("split_us")),
      half(unix_micros(col("ts")) > col("split_us")))
  }

  /** Far-future sentinel rows (1-row aggregates of the source — no
    * driver-made data) that push the append-mode watermark past every
    * real window's close. ONE sentinel riding along with the last real
    * batch suffices: the watermark it raises takes effect after that
    * batch, and the engine's no-data micro-batch (fired on watermark
    * advancement, drained by processAllAvailable) finalizes and emits
    * the remaining state — no dedicated sentinel trigger (verified
    * stable across repeated spec runs for the memory, parquet-commit-
    * log, and outer-join paths). An empty corpus yields no sentinel
    * (nothing to flush). */
  private def sentinel(evs: DataFrame, id: Long, offsetDays: Int): DataFrame =
    evs.agg(max(col("ts")).as("mx")).filter(col("mx").isNotNull)
      .select(lit(id).as("event_id"),
        (col("mx") + expr(s"INTERVAL $offsetDays DAYS")).as("ts"),
        lit(-1L).as("user_id"), lit("__sentinel").as("event_type"),
        lit(0.0).as("value"))

  /** The per-JVM directory every run root and the staged feeds live
    * under; ONE shutdown hook deletes it at exit. These are
    * RE-CREATABLE per-run scratch (every query builds its own feed and
    * checkpoint from the batch corpus), so they belong on the fastest
    * local medium available: a micro-batch pays offset-log + commit-log
    * + state-snapshot fsyncs EVERY trigger, and on a disk-backed /tmp
    * that per-trigger fixed cost dominates small benches. Preference:
    * `SPARK_GRAFT_SCRATCH` (a real deployment points this at NVMe),
    * else `/dev/shm` (RAM-backed tmpfs), else java.io.tmpdir. This is
    * deliberately NOT where durable checkpoints live at scale — a
    * production stream checkpoints to reliable storage and pays that
    * latency for exactly-once recovery (the RocksDB changelog-checkpoint
    * recovery spec pins that path); the bench measures operator cost,
    * not ext4 fsync. */
  private lazy val runsRoot: Path = {
    val base = sys.env.get("SPARK_GRAFT_SCRATCH") match {
      case Some(p) =>
        // explicit override fails FAST with a clear message rather than
        // erroring late inside the first query's checkpoint setup
        val path = Paths.get(p)
        require(Files.isDirectory(path) && Files.isWritable(path),
          s"SPARK_GRAFT_SCRATCH=$p is not a writable directory")
        path
      case None =>
        // /dev/shm is RAM-backed tmpfs (default cap ~half of RAM):
        // right for this scratch because feeds/checkpoints here are
        // SMALL re-creatable per-query state at test SFs. A deployment
        // with big staged feeds sets SPARK_GRAFT_SCRATCH to NVMe to
        // opt out of tmpfs entirely.
        Option(Paths.get("/dev/shm"))
          .filter(p => Files.isDirectory(p) && Files.isWritable(p))
          .getOrElse(Paths.get(sys.props("java.io.tmpdir")))
    }
    val p = Files.createTempDirectory(Files.createDirectories(base), "graft_runs")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      graft.util.Fs.deleteRecursively(p)))
    p
  }
  private def runRoot(tag: String): Path = Files.createTempDirectory(runsRoot, tag)

  // ---- shared staged feeds -------------------------------------------
  private lazy val stagedRoot: Path = runRoot("graft_staged_feeds")
  private val stagedParts =
    scala.collection.concurrent.TrieMap[String, Option[Path]]()
  private val stagedN = new java.util.concurrent.atomic.AtomicInteger

  /** Bench hygiene at zero coverage cost: the streaming queries over one
    * corpus would each land their OWN copy of the same feed batch. A
    * batch is STAGED once per (sfDir, shape) by one distributed
    * coalesce(1) write (narrowed to a single task only to pin
    * one-file-per-trigger boundaries), and every query's [[FileFeed]]
    * lands a BYTE-COPY of the staged part file. Only the redundant feed
    * writes are shared: each query still builds its own session,
    * checkpoint, triggers and state. */
  private def staged(dir: String, tag: String)(mk: => DataFrame): Option[Path] =
    stagedParts.getOrElseUpdate(s"$dir|$tag", {
      val out = stagedRoot.resolve(s"${stagedN.incrementAndGet}_$tag")
      mk.coalesce(1).write.mode("overwrite").parquet(out.toString)
      partFile(out)
    })

  /** Half `i` (1 or 2) of the time-split corpus, staged. */
  private def stagedHalf(spark: SparkSession, dir: String, i: Int): Option[Path] =
    staged(dir, s"b$i") {
      val (b1, b2) = timeSplit(completeEvents(spark, dir))
      if (i == 1) b1 else b2
    }

  /** The two staged halves — the feed most streamed queries run; with
    * `flush`, half 2 carries the ride-along watermark-flush sentinel. */
  private def halves(spark: SparkSession, dir: String,
      flush: Boolean = false): Seq[Option[Path]] =
    Seq(stagedHalf(spark, dir, 1),
      if (!flush) stagedHalf(spark, dir, 2)
      else staged(dir, "b2s") {
        val evs = completeEvents(spark, dir)
        timeSplit(evs)._2.union(sentinel(evs, -1L, 30))
      })

  /** Slice `q` (0..3) of the complete corpus by `event_id mod 4`,
    * staged — the deterministic epoch partition for the time-travel
    * query (epoch i of the manifest log carries exactly slice i, so an
    * AS-OF prefix is reconstructible by the oracle as a residue
    * filter). */
  private def stagedQuarter(spark: SparkSession, dir: String, q: Int): Option[Path] =
    staged(dir, s"tt$q")(
      completeEvents(spark, dir).filter(pmod(col("event_id"), lit(4)) === q))

  /** The full complete-events corpus (the redelivery batch), staged. */
  private def stagedFull(spark: SparkSession, dir: String): Option[Path] =
    staged(dir, "full")(completeEvents(spark, dir))

  /** The click and purchase feeds of the stream-stream joins: each
    * event-type side of the two halves, staged; with `flush`, each
    * side's half 2 carries its own sentinel (-1 clicks, -2 purchases)
    * for the outer joins' watermark flush. */
  private def joinSides(spark: SparkSession, dir: String,
      flush: Boolean): Seq[Seq[Option[Path]]] =
    Seq("click" -> -1L, "purchase" -> -2L).map { case (t, id) =>
      (1 to 2).map { i =>
        val withSentinel = flush && i == 2
        staged(dir, s"$t$i${if (withSentinel) "s" else ""}") {
          val evs = completeEvents(spark, dir)
          val half = (if (i == 1) timeSplit(evs)._1 else timeSplit(evs)._2)
            .filter(col("event_type") === t)
          if (withSentinel) half.union(sentinel(evs, id, 30)) else half
        }
      }
    }

  /** The click and purchase sources of a stream-stream join, each
    * watermarked by an hour and projected to its side's columns. */
  private def clicksAndPurchases(srcs: Seq[DataFrame]): (DataFrame, DataFrame) =
    (srcs(0).withWatermark("ts", "1 hour")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id")),
     srcs(1).withWatermark("ts", "1 hour")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id")))

  /** THE file-feed driver every file-fed streamed query runs through.
    * Under a fresh run root it opens one watched [[FileFeed]] per entry
    * of `feeds` and, over each, one `maxFilesPerTrigger=1` file source
    * of the complete-events schema. `start` builds and starts the
    * caller's query from those sources and the root (any sink or
    * checkpoint directory goes under the root). The batches then land
    * round-robin — round j lands batch j of EVERY feed, then drains
    * with one `processAllAvailable` — so each landed file is one
    * trigger. On every exit, failures included, the query is stopped
    * and the feeds are deleted; the root, with what the query left in
    * it, is returned for the caller to read its result from. */
  private[graft] def feedRun(spark: SparkSession, dir: String, tag: String,
      feeds: Seq[Seq[Option[Path]]])(
      start: (Seq[DataFrame], Path) => StreamingQuery): Path = {
    val root = runRoot(tag)
    val fs = feeds.indices.map(i => new FileFeed(root.resolve(s"src$i")))
    try {
      val schema = completeEvents(spark, dir).schema
      val query = start(fs.map(f => spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(f.watch.toString)), root)
      try for (j <- 0 until feeds.map(_.length).max) {
        feeds.lazyZip(fs).foreach((b, f) => if (j < b.length) f.landStaged(b(j)))
        query.processAllAvailable()
      } finally query.stop()
    } finally fs.foreach(_.close())
    root
  }

  /** [[feedRun]] into a memory sink named `sinkName`; returns the sink
    * table. One source per feed — the multi-landing-zone shape of a
    * stream-stream topology. */
  private def runFileStreams(spark: SparkSession, dir: String, sinkName: String,
      mode: OutputMode, feeds: Seq[Seq[Option[Path]]])(
      transform: Seq[DataFrame] => DataFrame): DataFrame = {
    // the sink rows live in memory: nothing under the root outlives the run
    graft.util.Fs.deleteRecursively(feedRun(spark, dir, sinkName, feeds) {
      (srcs, _) => transform(srcs).writeStream.format("memory")
        .queryName(sinkName).outputMode(mode).start()
    })
    spark.table(sinkName)
  }

  /** Single-source form of [[runFileStreams]]. */
  private def runFileStream(spark: SparkSession, dir: String, sinkName: String,
      mode: OutputMode, batches: Seq[Option[Path]])(
      transform: DataFrame => DataFrame): DataFrame =
    runFileStreams(spark, dir, sinkName, mode, Seq(batches))(
      srcs => transform(srcs.head))

  /** [[feedRun]] → transform → PARQUET FILE SINK (append mode, streaming
    * checkpoint, exactly-once via the sink's `_spark_metadata` commit
    * log), read back as a batch DataFrame. The durable-sink counterpart
    * of [[runFileStream]]'s memory sink — the full landing-zone →
    * incremental engine → lake-table round trip. */
  private def runFileStreamToParquet(spark: SparkSession, dir: String,
      batches: Seq[Option[Path]])(transform: DataFrame => DataFrame): DataFrame = {
    var rowType: StructType = null // of the sink, for an empty result
    val root = feedRun(spark, dir, "graft_stream_sink", Seq(batches)) {
      (srcs, root) =>
        val streamed = transform(srcs.head)
        rowType = streamed.schema
        streamed.writeStream.format("parquet")
          .option("path", root.resolve("out").toString)
          .option("checkpointLocation", root.resolve("ckpt").toString)
          .outputMode(OutputMode.Append()).start()
    }
    // the sink dir out/ outlives the query (it IS the result); the
    // checkpoint log is dead weight once stopped
    graft.util.Fs.deleteRecursively(root.resolve("ckpt"))
    // zero triggers (an empty/fully-incomplete corpus lands no files)
    // never create the sink dir — an empty result, not a read error
    val out = root.resolve("out")
    if (Files.exists(out))
      spark.read.parquet(out.toString)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        rowType)
  }

  /** [[tumblingCounts]] executed by the streaming engine end-to-end over
    * the file source: two time-split micro-batches, incremental
    * watermarked state, result read from the complete-mode memory sink.
    * Oracle: identical SQL to the batch `q_tumbling_hour`, which is the
    * stream ≡ batch guarantee the engine makes for complete mode. */
  def tumblingHourStreamed(parent: SparkSession, dir: String): DataFrame = {
    val spark = noFlushSession(parent)
    runFileStream(spark, dir, "graft_stream_tumbling_sink",
      OutputMode.Complete(),
      halves(spark, dir))(
      tumblingCounts(_, "1 hour", "1 hour"))
      .select(unix_micros(col("win_start")).as("win_start_us"),
        col("event_type"), col("n"), col("value_cents"))
  }

  /** [[sessionCounts]] executed by the engine in APPEND mode — the
    * strictest sink mode: a session row is emitted exactly once, when
    * the watermark passes its close. Two event-time-ordered batches,
    * the second carrying a ride-along far-future sentinel that flushes
    * the watermark (the sentinel's own session never finalizes and is
    * filtered by user_id). Oracle: the same gaps-and-islands SQL family as the
    * batch q_session_stats — session_window's merge rule (join if
    * gap < 30 min) is exactly `new session iff gap >= 30 min`. */
  def sessionStreamed(parent: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(parent)
    runFileStream(spark, dir, "graft_stream_session_sink",
      OutputMode.Append(),
      halves(spark, dir, flush = true))(
      sessionCounts(_, "30 minutes", "1 hour"))
      .filter(col("user_id") >= 0)
      .select(unix_micros(col("sess_start")).as("sess_start_us"),
        col("user_id"), col("n"))
  }

  /** [[runningUserTotals]] (mapGroupsWithState) under the engine: two
    * time-split batches through the file source, Update-mode memory
    * sink. The sink keeps every per-batch update; the FINAL state per
    * user is the row with the largest n_events (strictly increasing —
    * a user only appears in an update that added events), extracted
    * with a deterministic struct-max. Oracle: the batch per-user
    * totals over complete events. */
  def userTotalsStreamed(parent: SparkSession, dir: String): DataFrame = {
    val spark = noFlushSession(parent)
    import spark.implicits._
    runFileStream(spark, dir, "graft_stream_totals_sink",
      RunningTotalsOutputMode,
      halves(spark, dir))(
      src => runningUserTotals(src.as[Ev]).toDF())
      .groupBy(col("user_id"))
      .agg(max(struct(col("n_events"), col("total_cents"))).as("fin"))
      .select(col("user_id"), col("fin.n_events").as("n_events"),
        col("fin.total_cents").as("total_cents"))
  }

  /** One (user, event_type) count emission from [[TypeCountsProcessor]]. */
  case class UserTypeCount(user_id: Long, event_type: String, n: Long)

  /** A (ts, id) pair held in [[RecentEventsProcessor]]'s ListState. */
  case class TsId(ts_us: Long, event_id: Long)

  /** Per-user snapshot emitted by [[RecentEventsProcessor]]: the 3 most
    * recent event ids (by (ts, id) desc; absent slots null) plus the
    * MONOTONE events-seen count that lets the sink pick the final
    * snapshot deterministically. */
  case class RecentEvents(user_id: Long, n_seen: Long,
    id1: Option[Long], id2: Option[Long], id3: Option[Long])

  /** LIST STATE on transformWithState — the third container of the
    * Spark 4 state API (ValueState: q_stream_tws; MapState:
    * q_stream_tws_map): a bounded per-user BUFFER of the 3 most recent
    * (ts, id) pairs, the recommendation-feature shape ("last N items").
    * Each batch merges its events into the buffer and rewrites it
    * (clear + put — a real deployment sizes N so the rewrite is a few
    * rows; the buffer is BOUNDED by construction, never the full
    * history). Emissions carry the monotone n_seen so the Update-mode
    * sink's max-by-n_seen row per user is the final snapshot. */
  class RecentEventsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, RecentEvents] {
    @transient private var recent:
      org.apache.spark.sql.streaming.ListState[TsId] = _
    @transient private var seen:
      org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      recent = getHandle.getListState[TsId]("recent",
        org.apache.spark.sql.Encoders.product[TsId],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      seen = getHandle.getValueState[Long]("seen",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }
    override def handleInputRows(uid: Long, rows: Iterator[Ev],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[RecentEvents] = {
      def micros(t: java.sql.Timestamp): Long =
        t.getTime * 1000L + (t.getNanos / 1000) % 1000
      var n = 0L
      val batch = rows.map { e => n += 1; TsId(micros(e.ts), e.event_id) }.toSeq
      val merged = (recent.get().toSeq ++ batch)
        .sortBy(p => (-p.ts_us, -p.event_id)).take(3)
      recent.put(merged.toArray)
      val total = (if (seen.exists()) seen.get() else 0L) + n
      seen.update(total)
      val ids = merged.map(_.event_id)
      Iterator.single(RecentEvents(uid, total,
        ids.lift(0), ids.lift(1), ids.lift(2)))
    }
  }

  /** [[RecentEventsProcessor]] under the engine: two time-split
    * batches, Update-mode memory sink, max-by-n_seen final snapshot per
    * user. Oracle: rank-3 pivot over complete events. */
  def recentEventsStreamed(parent: SparkSession, dir: String): DataFrame = {
    val spark = rocksSession(parent)
    import spark.implicits._
    runFileStream(spark, dir, "graft_stream_tws_list_sink",
      RunningTotalsOutputMode,
      halves(spark, dir))(
      src => src.as[Ev].groupByKey(_.user_id)
        .transformWithState(new RecentEventsProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          RunningTotalsOutputMode)
        .toDF())
      .groupBy(col("user_id"))
      .agg(max(struct(col("n_seen"), col("id1"), col("id2"), col("id3")))
        .as("fin"))
      .select(col("user_id"), col("fin.n_seen").as("n_seen"),
        col("fin.id1").as("id1"), col("fin.id2").as("id2"),
        col("fin.id3").as("id3"))
  }

  /** MAP STATE on transformWithState: per-user `event_type → count` as
    * a keyed MapState — the per-key sub-keyed container that a
    * ValueState-of-whole-map would rewrite wholesale on every update
    * (MapState reads/writes only the touched sub-keys, which is the
    * difference between O(types-touched) and O(types-held) per trigger
    * at 100 TB key cardinalities). Each batch updates the touched types
    * and emits their NEW counts; counts only grow, so max-per-(user,
    * type) over the Update-mode sink is the final table. */
  class TypeCountsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, UserTypeCount] {
    @transient private var counts:
      org.apache.spark.sql.streaming.MapState[String, Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("type_counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(uid: Long, rows: Iterator[Ev],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[UserTypeCount] = {
      val touched = scala.collection.mutable.LinkedHashMap[String, Long]()
      rows.foreach { e =>
        // collision-free encoding: MapState keys can't be null, and a
        // bare "" sentinel would conflate a genuine empty-string type
        // with the NULL group — prefix real values with 'v' and encode
        // null as "n"; the sink extraction decodes
        val t = if (e.event_type == null) "n" else "v" + e.event_type
        val cur = touched.getOrElse(t,
          if (counts.containsKey(t)) counts.getValue(t) else 0L)
        touched.update(t, cur + 1)
      }
      touched.foreach { case (t, n) => counts.updateValue(t, n) }
      touched.iterator.map { case (t, n) => UserTypeCount(uid, t, n) }
    }
  }

  /** [[TypeCountsProcessor]] under the engine: two time-split batches,
    * Update-mode memory sink; per-(user, type) counts only grow, so the
    * max over the sink's per-batch emissions is the final table.
    * Oracle: the batch per-user per-type counts over complete events
    * (the null event_type group rides under the collision-free "n" key
    * — real types are "v"-prefixed — and is re-landed as NULL to match
    * the SQL's grouping). */
  def typeCountsStreamed(parent: SparkSession, dir: String): DataFrame = {
    val spark = rocksSession(parent)
    import spark.implicits._
    runFileStream(spark, dir, "graft_stream_tws_map_sink",
      RunningTotalsOutputMode,
      halves(spark, dir))(
      src => src.as[Ev].groupByKey(_.user_id)
        .transformWithState(new TypeCountsProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          RunningTotalsOutputMode)
        .toDF())
      .groupBy(col("user_id"), col("event_type"))
      .agg(max(col("n")).as("n"))
      .select(col("user_id"),
        // decode the processor's collision-free key: "n" → NULL,
        // "v<type>" → <type>
        when(col("event_type") === "n", lit(null))
          .otherwise(expr("substring(event_type, 2)")).as("event_type"),
        col("n"))
  }

  /** EVENT-TIME TIMERS on transformWithState: per-user totals
    * accumulate silently and are emitted ONCE by an inactivity timer —
    * the push-based "flush on quiet" shape (abandoned-cart, session
    * finalize) that pull-based aggregation can't express. Each batch
    * re-arms the user's single timer at `last event + 30 min`
    * (deleteTimer of the previous arm keeps exactly one live timer per
    * key, so expiry emits exactly once); the far-future sentinel in the
    * last feed batch drives the watermark past every real timer, and
    * [[StatefulProcessor.handleExpiredTimer]] emits and clears the
    * user's state. Deterministic because everything is event-time. */
  class TimerTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, UserAgg] {
    @transient private var totals: org.apache.spark.sql.streaming.ValueState[UserAgg] = _
    @transient private var armed: org.apache.spark.sql.streaming.ValueState[Long] = _
    private val GapMs = 30L * 60 * 1000
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      totals = getHandle.getValueState[UserAgg]("totals",
        org.apache.spark.sql.Encoders.product[UserAgg],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      armed = getHandle.getValueState[Long]("armed",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }
    override def handleInputRows(uid: Long, rows: Iterator[Ev],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[UserAgg] = {
      val prev = if (totals.exists()) totals.get() else UserAgg(uid, 0L, 0L)
      var lastMs = 0L
      val next = rows.foldLeft(prev) { (acc, e) =>
        lastMs = math.max(lastMs, e.ts.getTime)
        UserAgg(uid, acc.n_events + 1, acc.total_cents + math.round(e.value * 100))
      }
      totals.update(next)
      // one live timer per key: re-arm at the new inactivity deadline
      if (armed.exists()) getHandle.deleteTimer(armed.get())
      val deadline = lastMs + GapMs
      getHandle.registerTimer(deadline)
      armed.update(deadline)
      Iterator.empty // emission is the timer's job
    }
    override def handleExpiredTimer(uid: Long,
        timers: org.apache.spark.sql.streaming.TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[UserAgg] = {
      val out = if (totals.exists()) Iterator.single(totals.get()) else Iterator.empty
      totals.clear(); armed.clear()
      out
    }
  }

  /** [[TimerTotalsProcessor]] under the engine: batch 1 then
    * sentinel-carrying batch 2 — the sentinel pushes the watermark past
    * every real user's inactivity deadline and the remaining timers
    * fire. A user whose mid-corpus quiet spell outlasts the deadline
    * (watermark permitting) flushes MORE than once — each flush clears
    * state, so emissions cover disjoint event slices and their sums
    * TELESCOPE to the user's totals; the read-back sums per user, which
    * is exact for any corpus and any flush pattern. Oracle: batch
    * per-user totals over complete events, the q_stream_user_totals
    * SQL. */
  def timerTotalsStreamed(parent: SparkSession, dir: String): DataFrame = {
    val spark = rocksSession(parent)
    import spark.implicits._
    runFileStream(spark, dir, "graft_stream_tws_timer_sink",
      OutputMode.Append(),
      halves(spark, dir, flush = true))(
      src => src.withWatermark("ts", "1 hour").as[Ev]
        .groupByKey(_.user_id)
        .transformWithState(new TimerTotalsProcessor,
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          OutputMode.Append())
        .toDF())
      .filter(col("user_id") >= 0) // drop a flushed sentinel row, if any
      .groupBy(col("user_id"))
      .agg(sum(col("n_events")).as("n_events"),
        sum(col("total_cents")).as("total_cents"))
  }

  /** [[TotalsProcessor]] (transformWithState) under the engine: the
    * modern arbitrary-state operator over the same two time-split
    * batches, Update-mode memory sink, RocksDB state store (required by
    * the operator; the shared [[rocksSession]] child isolates the
    * provider conf from the parent).
    * Extraction and oracle are identical to [[userTotalsStreamed]] —
    * the API migration must be result-invisible. */
  def userTotalsTwsStreamed(parent: SparkSession, dir: String): DataFrame = {
    val spark = rocksSession(parent)
    import spark.implicits._
    runFileStream(spark, dir, "graft_stream_tws_sink",
      RunningTotalsOutputMode,
      halves(spark, dir))(
      src => src.as[Ev].groupByKey(_.user_id)
        .transformWithState(new TotalsProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          RunningTotalsOutputMode)
        .toDF())
      .groupBy(col("user_id"))
      .agg(max(struct(col("n_events"), col("total_cents"))).as("fin"))
      .select(col("user_id"), col("fin.n_events").as("n_events"),
        col("fin.total_cents").as("total_cents"))
  }

  /** [[TotalsProcessor]] with STATE TTL — the unbounded-key-cardinality
    * answer: at 100 TB the per-user store only stays bounded if idle
    * keys AGE OUT, and `TTLConfig` is Spark's own eviction for that
    * (values expire `ttl` after their last update; expired values read
    * as absent and are physically removed by the engine's per-batch TTL
    * cleanup — no user-written timer bookkeeping). TTL is PROCESSING-
    * time by definition, so a deterministic oracle requires a TTL far
    * longer than the run: this query pins the full TTL'd plumbing
    * (ttl column family, `TimeMode.ProcessingTime`, expiration-aware
    * reads) with nothing expiring mid-run — totals match the un-TTL'd
    * oracle. REAL eviction (state present before the deadline, gone
    * after) is wall-clock by nature and is pinned in StreamingSpec's
    * TTL test via the statestore reader, not here.
    *
    * Harness note: under `TimeMode.ProcessingTime` the operator's
    * `shouldRunAnotherBatch` is permanently true (timers/TTL may fire
    * with no input), so the query NEVER goes idle: `processAllAvailable`
    * blocks forever and even `Trigger.AvailableNow` keeps scheduling
    * no-data batches (measured, not theorized). The one bounded way to
    * drive it is `Trigger.Once` — exactly one micro-batch per run, then
    * stop — so this query is two Once RUNS resuming from one
    * checkpoint: the same land→batch→land→batch shape as
    * [[feedRun]], with an engine restart between batches thrown in for free.
    * The RESULT is the final `totals` state read back through the
    * statestore source (a memory sink would reset between runs and
    * drop batch-1-only users): with nothing expired, state content ≡
    * the batch per-user totals — the same state-content-is-the-
    * semantic contract as q_state_reader, now over a TTL'd variable. */
  def userTotalsTwsTtlStreamed(parent: SparkSession, dir: String): DataFrame = {
    val spark = rocksSession(parent)
    import spark.implicits._
    val schema = completeEvents(spark, dir).schema
    val root = runRoot("graft_stream_tws_ttl")
    val feed = new FileFeed(root.resolve("src"))
    val ckpt = root.resolve("ckpt").toString
    try {
      for (half <- 1 to 2) {
        feed.landStaged(stagedHalf(spark, dir, half))
        val query = spark.readStream.schema(schema)
          .parquet(feed.watch.toString)
          .as[Ev].groupByKey(_.user_id)
          .transformWithState(
            new TotalsProcessor(org.apache.spark.sql.streaming.TTLConfig(
              java.time.Duration.ofHours(1))),
            org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
            RunningTotalsOutputMode)
          .toDF()
          .writeStream.format("noop")
          .option("checkpointLocation", ckpt)
          .outputMode(RunningTotalsOutputMode)
          .trigger(org.apache.spark.sql.streaming.Trigger.Once())
          .start()
        require(query.awaitTermination(300000),
          "Trigger.Once tws-ttl run did not terminate")
      }
    } finally feed.close() // the checkpoint IS the result; the feed is dead weight
    // a TTL'd variable's value nests as {value: <payload>, ttlExpirationMs}
    spark.read.format("statestore").option("path", ckpt)
      .option("stateVarName", "totals").load()
      .select(col("value.value.user_id").as("user_id"),
        col("value.value.n_events").as("n_events"),
        col("value.value.total_cents").as("total_cents"))
  }

  /** [[TotalsProcessorWithInit]] under the engine — warm-start
    * migration: the initial state is the BATCH per-user totals of
    * half 1 (computed with the identical typed fold, so snapshot
    * semantics ≡ processor semantics by construction), and only half 2
    * streams. The RESULT is the final `totals` state read back through
    * the statestore source — it must equal the FULL-corpus per-user
    * totals: untouched keys prove the snapshot landed and persisted;
    * touched keys prove the fold continued from it, not from zero
    * (a memory sink would only show half-2 users, hiding the first
    * half of the contract). Same oracle as q_stream_tws — migration
    * must be result-invisible. */
  def userTotalsTwsInitStreamed(parent: SparkSession, dir: String): DataFrame = {
    val spark = rocksSession(parent)
    import spark.implicits._
    val half1 = stagedHalf(spark, dir, 1)
      .getOrElse(throw new IllegalStateException("half 1 staged empty"))
    val init = spark.read.parquet(half1.toString).as[Ev]
      .groupByKey(_.user_id)
      .mapGroups { (uid, rows) =>
        rows.foldLeft(UserAgg(uid, 0L, 0L)) { (acc, e) =>
          UserAgg(uid, acc.n_events + 1,
            acc.total_cents + math.round(e.value * 100))
        }
      }
      .groupByKey(_.user_id)
    val root = feedRun(spark, dir, "graft_stream_tws_init",
      Seq(Seq(stagedHalf(spark, dir, 2)))) { (srcs, root) =>
      srcs.head.as[Ev].groupByKey(_.user_id)
        .transformWithState(new TotalsProcessorWithInit,
          org.apache.spark.sql.streaming.TimeMode.None(),
          RunningTotalsOutputMode, init)
        .toDF()
        .writeStream.format("noop")
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .outputMode(RunningTotalsOutputMode)
        .start()
    }
    spark.read.format("statestore")
      .option("path", root.resolve("ckpt").toString)
      .option("stateVarName", "totals").load()
      .select(col("value.user_id").as("user_id"),
        col("value.n_events").as("n_events"),
        col("value.total_cents").as("total_cents"))
  }

  /** [[burstDetector]] (flatMapGroupsWithState) under the engine: a
    * user's batch-1 burst closes — and is emitted — exactly when the
    * user has batch-2 activity. With the deterministic midpoint split,
    * the output is the batch-1 per-user aggregate semi-joined to
    * batch-2's user set, which the oracle reproduces with the same
    * `(min+max)//2` split. */
  def burstsStreamed(parent: SparkSession, dir: String): DataFrame = {
    val spark = noFlushSession(parent)
    import spark.implicits._
    runFileStream(spark, dir, "graft_stream_bursts_sink",
      OutputMode.Append(),
      halves(spark, dir))(
      src => burstDetector(src.as[Ev]).toDF())
  }

  /** [[tumblingCounts]] in APPEND mode through the PARQUET FILE SINK:
    * windows finalize as the watermark passes (a ride-along sentinel
    * flushes the last real windows; the sentinel's own rows carry the
    * sentinel event_type and are filtered from the read-back), each emitted
    * exactly once into the sink's commit log, then read back as a lake
    * table. Oracle: the batch tumbling SQL — append-mode sink content ≡
    * the batch result is the engine's exactly-once guarantee. */
  def tumblingSinkStreamed(parent: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(parent)
    runFileStreamToParquet(spark, dir,
      halves(spark, dir, flush = true))(
      tumblingCounts(_, "1 hour", "1 hour"))
      // drop ONLY the sentinel windows: a bare =!= would three-valued-NULL
      // away a legitimate NULL-event_type group the oracle keeps
      .filter(col("event_type").isNull || col("event_type") =!= "__sentinel")
      .select(unix_micros(col("win_start")).as("win_start_us"),
        col("event_type"), col("n"), col("value_cents"))
  }

  /** Key-bucket count for the upsert table's partition layout. Sized so
    * a micro-batch's touched-bucket set is usually a strict subset of
    * the table (at 100 TB: thousands of buckets, each a manageable
    * rewrite unit; a batch touching k buckets costs O(k · bucket), not
    * O(table)). */
  val UpsertBuckets = 8

  /** One MERGE step into a bucket-partitioned parquet key-value table —
    * the Delta-MERGE shape without a table format, scale-safe: the table
    * is laid out as `bucket=pmod(hash(key), n)` partition directories,
    * and a batch rewrites ONLY the buckets its keys hash into:
    *
    *  - READ prune: the previous table is read with a static
    *    `bucket IN (touched)` filter — partition pruning, untouched
    *    directories are never opened. The touched-bucket list is
    *    bounded METADATA (≤ nBuckets ints), not data.
    *  - MERGE: pruned-previous anti-joined on the batch's keys (batch
    *    keys broadcast — a micro-batch is small by construction),
    *    unioned with the batch.
    *  - WRITE: dynamic partition overwrite replaces exactly the
    *    partition dirs present in the merged output (= the touched
    *    buckets); untouched directories keep their files byte-for-byte
    *    (StreamingSpec pins this).
    *
    * Failure contract: a replayed micro-batch re-merges idempotently
    * (anti-join first), so foreachBatch's at-least-once delivery still
    * converges to exactly-once table content — the standard contract
    * for format-less MERGE. */
  def upsertMerge(spark: SparkSession, table: String, batch: DataFrame,
    keyCol: String, nBuckets: Int): Unit = {
    // the batch DF feeds three plan legs (touched buckets, anti-join
    // keys, union side); persist so the micro-batch subtree runs once
    // (the documented foreachBatch rule)
    batch.persist()
    try {
      if (batch.isEmpty) return // no keys → no touched buckets → no-op
      val withBucket = batch.withColumn("bucket",
        pmod(hash(col(keyCol)), lit(nBuckets)))
      val merged =
        if (!Files.exists(Path.of(table))) withBucket
        else {
          val touched = withBucket.select("bucket").distinct()
            .collect().map(_.getInt(0)) // bounded metadata, ≤ nBuckets
          val prev = spark.read.parquet(table)
            .filter(col("bucket").isin(touched.map(Integer.valueOf): _*))
          prev
            .join(broadcast(withBucket.select(col(keyCol).as("__mk"))),
              col(keyCol) === col("__mk"), "left_anti")
            .unionByName(withBucket)
        }
      merged.write
        .option("partitionOverwriteMode", "dynamic") // only written partitions replaced
        .mode("overwrite").partitionBy("bucket").parquet(table)
    } finally batch.unpersist()
  }

  /** EQUALITY-DELETE keyed upsert sink
    * (`q_stream_eq_upsert` — the Iceberg-v2 equality-delete / Flink
    * CDC-sink shape): [[runningUserTotals]] runs in Update mode
    * straight INTO the manifest sink with `upsertKeys=user_id` — each
    * micro-batch commits `#eqdel` (delete-by-key of every earlier
    * epoch's rows) + its appended rows in ONE atomic epoch, WITHOUT
    * READING THE TARGET (the foreachBatch MERGE in [[upsertStreamed]]
    * re-reads touched buckets per trigger; this sink writes O(batch)
    * bytes and nothing else — the shape a 100 TB keyed CDC ingest
    * needs). Reads apply the key anti-sets in the group reader;
    * `compact_data` resolves them back to plain files. In-query pins:
    * the sink really never read the target (the group-reader decode
    * counter is unmoved by the streaming phase), every data batch
    * committed an `upsert` epoch, and the post-compaction state is
    * value-identical with zero live records. Oracle: identical to
    * q_stream_upsert — the final table IS the batch per-user totals. */
  def eqUpsertStreamed(parent: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(parent)
    import spark.implicits._
    val decoded0 = graft.sources.ManifestReadFactory.rowsDecoded.get()
    val root = feedRun(spark, dir, "graft_stream_equp", Seq(halves(spark, dir))) {
      (srcs, root) => runningUserTotals(srcs.head.as[Ev]).toDF()
        .writeStream.outputMode(OutputMode.Update())
        .queryName("graft_stream_equp_sink")
        .format("graft.sources.ManifestSink")
        .option("path", root.resolve("totals").toString)
        .option("upsertKeys", "user_id")
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .start()
    }
    val table = root.resolve("totals").toString
    if (!Files.exists(Path.of(table)))
      return spark.emptyDataset[UserAgg].toDF() // empty corpus: no batches
    require(graft.sources.ManifestReadFactory.rowsDecoded.get() == decoded0,
      "the keyed upsert sink must never read the target table")
    val snap = graft.sources.ManifestSink.snapshot(table)
    val live = snap.eqDeletes
    val upserts = snap.history.count(_._2 == "upsert")
    require(upserts >= 1 && live.size >= upserts,
      s"every data batch commits an upsert epoch: epochs=$upserts " +
        s"liveRecords=${live.size}")
    // the catalog tail runs on its OWN child session: setting snap.dir /
    // snap.totals.schema on the SHARED streamSession child would break
    // its no-conf-mutation contract and leak this query's root into
    // every later streaming query's catalog resolution
    val cat = parent.newSession()
    cat.conf.set("spark.sql.shuffle.partitions", "2")
    graft.sources.GraftCatalog.register(cat, dir, Some(root.toString),
      Map("totals" -> "user_id LONG, n_events LONG, total_cents LONG"))
    def state() = cat.sql(
      "SELECT user_id, n_events, total_cents FROM graft.snap.totals")
    // 1-row distributed fingerprint, MATERIALIZED before the
    // compaction (a lazy plan would re-read the post state)
    def fingerprint(): (Long, Long) = {
      val r = cat.sql("SELECT count(*), sum(hash(user_id, n_events, " +
        "total_cents)) FROM graft.snap.totals").collect().head
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    val pre = fingerprint()
    // resolution: compaction rewrites the applicable files with the
    // keys anti-joined out and drops the records — value-invisible
    cat.sql("CALL graft.sys.compact_data('totals', 1000000)").collect()
    require(graft.sources.ManifestSink.snapshot(table).eqDeletes.isEmpty,
      "compact_data resolves every live equality delete")
    require(fingerprint() == pre,
      "eq-applying read == resolved read (value-invisible resolution)")
    state()
  }

  /** FOREACHBATCH upsert sink: [[runningUserTotals]] runs in Update
    * mode and each micro-batch's updated per-user rows [[upsertMerge]]
    * into the bucket-partitioned totals table — per trigger, only the
    * buckets the batch touches are rewritten (the round-3 full-table-
    * rewrite scale-killer, fixed). All merge work is batch DataFrame
    * code inside foreachBatch — distributed, nothing through the driver
    * but bounded bucket metadata. Oracle: the final table ≡ the batch
    * per-user totals (exactly-once upsert guarantee). */
  def upsertStreamed(parent: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(parent)
    import spark.implicits._
    val table = feedRun(spark, dir, "graft_stream_upsert", Seq(halves(spark, dir))) {
      (srcs, root) => runningUserTotals(srcs.head.as[Ev]).toDF()
        .writeStream.outputMode(OutputMode.Update())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          upsertMerge(spark, root.resolve("totals").toString, batch, "user_id",
            UpsertBuckets)
        }.start()
    }.resolve("totals").toString
    // the table dir outlives the query — it IS the result
    if (Files.exists(Path.of(table)))
      spark.read.parquet(table).drop("bucket")
    else spark.emptyDataset[UserAgg].toDF() // empty corpus: no batches
  }

  /** STREAM-STREAM interval join under the engine: the click stream
    * joins the purchase stream on user with `c_ts ∈ [p_ts − 1h, p_ts]`
    * — two watermarked file sources, keyed state on both sides, inner
    * join (pairs emit as soon as both rows have arrived; the watermark
    * only bounds state, so no sentinel flush is needed). State safety
    * with the ordered halves: a click is evicted once it can no longer
    * match any future purchase (c_ts < watermark − 1h); batch-2
    * purchases only need clicks within 1h before them, which the 1h
    * watermark delay keeps alive across the batch boundary. Oracle: the
    * batch self-join with the same interval predicate. */
  def intervalJoinStreamed(parent: SparkSession, dir: String): DataFrame = {
    val spark = noFlushSession(parent)
    runFileStreams(spark, dir, "graft_stream_ssjoin_sink",
      OutputMode.Append(), joinSides(spark, dir, flush = false)) { srcs =>
      val (c, p) = clicksAndPurchases(srcs)
      c.join(p, expr(
        "c_user = p_user AND c_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"))
    }
      .select(col("c_user").as("user_id"), col("purchase_id"), col("click_id"),
        unix_micros(col("p_ts")).as("p_ts_us"),
        unix_micros(col("c_ts")).as("c_ts_us"))
  }

  /** STREAM-STREAM LEFT OUTER interval join under the engine — the
    * missing-match side of [[intervalJoinStreamed]]: every click emits,
    * paired with the purchases in the hour AFTER it, or null-padded
    * once the watermark proves no purchase can still arrive (the
    * engine holds an unmatched click in state until the global
    * watermark passes `c_ts + 1h`, then emits it with nulls exactly
    * once — the outer-join contract append mode adds on top of the
    * inner join's state story). Both sources carry ONE far-future
    * sentinel each, riding along with the last real batch (1-row
    * aggregates, no driver-made data): the global watermark is the MIN
    * across sources, so both must advance for the tail clicks' null
    * rows to flush. No second sentinel trigger is needed — once the
    * ride-along sentinels raise the watermark at batch end, the
    * engine's no-data micro-batch applies it and evicts + null-emits
    * the remaining state (verified stable across repeated spec runs).
    * The sentinels pair with each other (same ts, same -1 user) and
    * are filtered by user_id sign. Oracle: the batch LEFT JOIN with
    * the same interval predicate. */
  def leftOuterJoinStreamed(parent: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(parent)
    runFileStreams(spark, dir, "graft_stream_lojoin_sink",
      OutputMode.Append(), joinSides(spark, dir, flush = true)) { srcs =>
      val (c, p) = clicksAndPurchases(srcs)
      c.join(p, expr(
        "c_user = p_user AND p_ts BETWEEN c_ts AND c_ts + INTERVAL 1 HOUR"),
        "left_outer")
    }
      .filter(col("c_user") >= 0) // the sentinels' own (matched) pairs
      .select(col("c_user").as("user_id"), col("click_id"), col("purchase_id"),
        unix_micros(col("c_ts")).as("c_ts_us"),
        unix_micros(col("p_ts")).as("p_ts_us"))
  }

  /** STREAM-STREAM FULL OUTER interval join — the third member of the
    * join family ([[intervalJoinStreamed]] inner,
    * [[leftOuterJoinStreamed]] left): pairs emit on match, unmatched
    * CLICKS null-pad once the watermark proves no purchase can still
    * arrive, and unmatched PURCHASES null-pad symmetrically once no
    * click can — both sides' state evicts on the same global watermark,
    * so the append-mode contract holds in both directions at once. Same
    * ride-along far-future sentinels as the left join (one per source;
    * the global watermark is the min across sources), with BOTH
    * sentinel rows surfacing as unmatched outer rows (different
    * sentinel users never pair) — filtered by the sign of the coalesced
    * user. Oracle: the batch FULL JOIN with the same interval
    * predicate. */
  def fullOuterJoinStreamed(parent: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(parent)
    runFileStreams(spark, dir, "graft_stream_fojoin_sink",
      OutputMode.Append(), joinSides(spark, dir, flush = true)) { srcs =>
      val (c, p) = clicksAndPurchases(srcs)
      c.join(p, expr(
        "c_user = p_user AND p_ts BETWEEN c_ts AND c_ts + INTERVAL 1 HOUR"),
        "full_outer")
    }
      .filter(coalesce(col("c_user"), col("p_user")) >= 0)
      .select(coalesce(col("c_user"), col("p_user")).as("user_id"),
        col("click_id"), col("purchase_id"),
        unix_micros(col("c_ts")).as("c_ts_us"),
        unix_micros(col("p_ts")).as("p_ts_us"))
  }

  /** CHAINED STATEFUL OPERATORS under the engine (the multi-stateful
    * pipeline Spark supports since 3.4): a watermarked 1-hour tumbling
    * aggregation feeds a SECOND windowed aggregation that rolls the
    * hourly partials up to days — both stateful, both incremental, in
    * ONE streaming query. `window_time()` re-exposes the first
    * window's event time so the second `window()` can re-window it;
    * the day row emits exactly once (append mode) when the watermark
    * passes its close. This is the streaming form of the
    * pre-aggregation cascade (hourly → daily rollup) a 100 TB metrics
    * pipeline runs without re-reading raw events. Oracle: the batch
    * double aggregation — group to hours, then group hours to days. */
  def cascadeStreamed(parent: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(parent)
    runFileStream(spark, dir, "graft_stream_cascade_sink",
      OutputMode.Append(),
      halves(spark, dir, flush = true)) { src =>
      val hourly = src.withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(graft.functions.Exact.cents(col("value"))).as("value_cents"))
      hourly
        .groupBy(window(window_time(col("window")), "1 day"), col("event_type"))
        .agg(sum(col("n")).as("n"), sum(col("value_cents")).as("value_cents"),
          count(lit(1)).as("n_hours"))
    }
      .filter(col("event_type").isNull || col("event_type") =!= "__sentinel")
      .select(unix_micros(col("window.start")).as("day_start_us"),
        col("event_type"), col("n"), col("value_cents"), col("n_hours"))
  }

  /** The CUSTOM DSv2 SOURCE driving the streaming engine — no file
    * harness anywhere: [[graft.sources.SyntheticSource]]'s
    * `MicroBatchStream` admits up to `batchRows` ids per trigger through
    * its checkpointed offset log, each trigger's [start, end) range
    * plans into slice partitions, and readers generate only the pruned
    * columns. The query aggregates the whole stream in complete mode;
    * drained triggers must together cover the id space exactly once
    * (the offset contract), so the result equals the batch form — which
    * is exactly what the oracle replays with generate_series. Note the
    * id filter runs as a residual after the streaming scan (Spark
    * applies V2 filter pushdown on the batch face only) — correctness
    * is the offset log's job, and StreamingSpec pins it: distinct
    * per-trigger ranges are disjoint, contiguous, and span [0, rows). */
  def dsv2Streamed(parent: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(parent)
    graft.sources.SyntheticSource.plannedBatches.clear()
    val agg = spark.readStream.format("graft.sources.SyntheticSource")
      .option("rows", 20000L).option("slices", 4).option("batchRows", 2500L)
      .load()
      .filter(col("id") >= 5000 && col("id") < 15000)
      .groupBy("event_type")
      .agg(sum(col("value_cents")).as("sum_cents"), count(lit(1)).as("n"))
    val query = agg.writeStream.format("memory")
      .queryName("graft_dsv2_stream_sink").outputMode(OutputMode.Complete())
      .start()
    try query.processAllAvailable() finally query.stop()
    spark.table("graft_dsv2_stream_sink")
  }

  /** STREAM-STATIC JOIN under the engine: the event stream broadcast-
    * joins a static dim (customer → nation name, planned fresh each
    * micro-batch — the stream-static contract) before the windowed
    * aggregation. At 100 TB the dim broadcasts once per trigger and the
    * stream never shuffles for the join — the standard streaming
    * enrichment shape. Oracle: the same join+window as batch SQL
    * (stream ≡ batch for complete mode). */
  def enrichStreamed(parent: SparkSession, dir: String): DataFrame = {
    val spark = noFlushSession(parent)
    val dim = broadcast(
      graft.sources.Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey"))
        .join(graft.sources.Tables.nation(spark, dir)
          .select(col("n_nationkey"), col("n_name")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name")))
    runFileStream(spark, dir, "graft_stream_enrich_sink",
      OutputMode.Complete(),
      halves(spark, dir)) { src =>
      src.withWatermark("ts", "1 hour")
        .join(dim, col("user_id") === col("c_custkey")) // stream-static join
        .groupBy(window(col("ts"), "1 hour"), col("n_name"))
        .agg(count(lit(1)).as("n"),
          sum(graft.functions.Exact.cents(col("value"))).as("value_cents"))
    }
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("n_name"), col("n"), col("value_cents"))
  }

  /** SLIDING windows (1 hour every 30 min) under the engine — each event
    * lands in two overlapping windows; watermarked complete-mode
    * incremental aggregation. Oracle: the batch q_sliding_hour SQL over
    * complete events. */
  def slidingStreamed(parent: SparkSession, dir: String): DataFrame = {
    val spark = noFlushSession(parent)
    runFileStream(spark, dir, "graft_stream_sliding_sink",
      OutputMode.Complete(),
      halves(spark, dir)) { src =>
      src.withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(graft.functions.Exact.cents(col("value"))).as("value_cents"))
    }
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"), col("n"), col("value_cents"))
  }

  /** [[dedupByEventId]] under the engine, with REDELIVERY: batch 1 is
    * the first half, batch 2 the FULL table — an at-least-once source
    * re-delivering everything it already sent. Each event_id is emitted
    * exactly once (first occurrence; re-delivered rows are either
    * state-deduped or watermark-late, both correctly silent). Only
    * event_id is emitted: the operator contract picks an arbitrary row
    * among duplicates, and the id SET is the deterministic part.
    * Oracle: DISTINCT event_id over complete events. */
  def dedupStreamed(parent: SparkSession, dir: String): DataFrame = {
    val spark = noFlushSession(parent)
    runFileStream(spark, dir, "graft_stream_dedup_sink",
      OutputMode.Append(),
      Seq(stagedHalf(spark, dir, 1), stagedFull(spark, dir)))(
      dedupByEventId(_, "1 hour"))
      .select(col("event_id"))
  }

  /** The STATE DATA SOURCE (Spark 4 `format("statestore")`): a
    * checkpoint's state store read back as a BATCH table — the
    * ops/debugging face of the streaming engine (state audits, backfill
    * reconciliation, "what does the store hold right now" without
    * touching the running query). A streaming exact-dedup runs over the
    * two halves with NO watermark, so its state is exactly one key per
    * distinct event_id; the reader then loads the last committed
    * batch's store and the KEY SET is the result. Oracle: DISTINCT
    * event_id over complete events — state content ≡ the semantic the
    * operator maintains. (Unbounded-state dedup is deliberate here —
    * the reader needs a store whose content is exactly characterizable;
    * the production dedup path with watermark eviction is
    * q_stream_dedup.) */
  def stateReader(parent: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(parent)
    val ckpt = feedRun(spark, dir, "graft_state_read", Seq(halves(spark, dir))) {
      (srcs, root) => srcs.head.dropDuplicates("event_id")
        .writeStream.format("noop")
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .outputMode(OutputMode.Append()).start()
    }.resolve("ckpt").toString
    spark.read.format("statestore").option("path", ckpt).load()
      .select(col("key.event_id").as("event_id"))
  }

  /** The row type the manifest-sink queries append: longs/strings only
    * (the sink's CSV row format). */
  private val SinkCols = "event_id LONG, user_id LONG, event_type STRING"

  /** An append-mode [[graft.sources.ManifestSink]] writer of `src`'s
    * [[SinkCols]] projection, nulls filtered the way the oracles do. */
  private def manifestAppend(src: DataFrame) =
    src.filter(col("event_type").isNotNull)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .writeStream.format("graft.sources.ManifestSink")
      .outputMode(OutputMode.Append())

  /** The custom DSv2 MANIFEST SINK as a STREAMING sink
    * ([[graft.sources.ManifestSink]]'s `StreamingWrite`): a stateless
    * projection of complete events streams through the file source, and
    * every micro-batch commits by publishing its task-file list as ONE
    * atomic epoch manifest — the top-level MANIFEST stays the union of
    * committed epochs, so the batch reader contract
    * ([[graft.sources.ManifestSink.committedFiles]]) is unchanged. A
    * replayed epoch after a checkpoint restart re-commits idempotently
    * (the first commit won; StreamingSpec forces the replay and pins
    * it). Read back EXACTLY the manifest-listed files — sink content ≡
    * the input projection is the exactly-once append guarantee, row for
    * row. Oracle: the same projection of the batch table. */
  def dsv2SinkStreamed(parent: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(parent)
    val root = feedRun(spark, dir, "graft_stream_dsv2_sink", Seq(halves(spark, dir))) {
      (srcs, root) => manifestAppend(srcs.head)
        .option("path", root.resolve("out").toString)
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .start()
    }
    graft.util.Fs.deleteRecursively(root.resolve("ckpt"))
    val files = graft.sources.ManifestSink.committedFiles(root.resolve("out").toString)
    if (files.isEmpty) // an empty corpus commits no epochs → empty result
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType.fromDDL(SinkCols))
    else
      spark.read.schema(SinkCols).parquet(files: _*)
  }

  /** Shared epoch pipeline for the snap read-shape queries: stream the
    * four deterministic event quarters (epoch i = the `event_id%4=i`
    * slice) into a [[graft.sources.ManifestSink]] table `ev` under a
    * fresh scratch root, one epoch per trigger, and point the PARENT
    * session's `graft.snap` catalog at it (catalog confs are
    * session-scoped there; the shared streaming child stays
    * conf-clean). Returns the snap ROOT (the `ev` table lives under
    * it). */
  private def runSnapEpochs(parent: SparkSession, dir: String,
      tag: String): java.nio.file.Path = {
    val spark = streamSession(parent)
    val root = feedRun(spark, dir, tag,
      Seq((0 until 4).map(stagedQuarter(spark, dir, _)))) { (srcs, root) =>
      manifestAppend(srcs.head)
        .option("path", root.resolve("snap").resolve("ev").toString)
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .queryName(s"${tag}_sink")
        .start()
    }
    graft.util.Fs.deleteRecursively(root.resolve("ckpt"))
    val snapRoot = Files.createDirectories(root.resolve("snap"))
    graft.sources.GraftCatalog.register(parent, dir, Some(snapRoot.toString),
      Map("ev" -> SinkCols))
    snapRoot
  }

  /** TIME TRAVEL end-to-end (`SELECT … FROM graft.snap.ev VERSION AS OF
    * 2`): a streaming [[graft.sources.ManifestSink]] write lands FOUR
    * deterministic epochs — epoch i carries exactly the `event_id mod 4
    * = i` slice of complete events ([[stagedQuarter]], one staged file
    * per trigger) — then the PARENT session reads an INTERMEDIATE
    * snapshot through pure SQL: Spark routes the `VERSION AS OF` clause
    * to [[graft.sources.GraftCatalog.loadTable(ident,version)]], which
    * reconstructs snapshot 2 as the union of epoch manifests 0..2
    * ([[graft.sources.ManifestSink.Snapshot.filesAsOf]]). This is the
    * lake-table "reproduce yesterday's training set" contract: version
    * n is a durable prefix of the append log, served by the same
    * pushdown-capable CSV DSv2 scan as a current-snapshot read — the
    * catalog resolves WHICH files, never a different read path. The
    * oracle reconstructs the same prefix as the residue filter
    * `event_id % 4 <= 2`. Refusal paths (below the compaction horizon,
    * beyond the newest epoch) and compaction-boundary equivalence are
    * pinned in SnapshotSpec. */
  def timeTravel(parent: SparkSession, dir: String): DataFrame = {
    runSnapEpochs(parent, dir, "graft_snap_tt")
    parent.sql(
      """SELECT event_type, count(*) AS n,
        |  count(DISTINCT user_id) AS n_users, sum(event_id) AS id_sum
        |FROM graft.snap.ev VERSION AS OF 2
        |GROUP BY event_type""".stripMargin)
  }

  /** INCREMENTAL read off the same epoch log (the lake-CDC shape a
    * training pipeline consumes — "process only the epochs that landed
    * since the last run"): `sinceVersion`/`asOfVersion` read options
    * resolve the (1, 3] epoch window at scan-build time through the
    * catalog ([[graft.sources.SnapTable]] →
    * [[graft.sources.ManifestSink.Snapshot.filesBetween]]), so the
    * consumed rows are exactly the `event_id%4 ∈ {2,3}` slices. */
  def incrementalRead(parent: SparkSession, dir: String): DataFrame = {
    runSnapEpochs(parent, dir, "graft_snap_ir")
    parent.read
      .option("sinceVersion", 1L).option("asOfVersion", 3L)
      .table("graft.snap.ev")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("event_id")).as("id_sum"))
  }

  /** TABLE-AS-A-STREAM: after the 4-epoch pipeline lands, a SECOND
    * streaming query TAILS the same manifest log — `readStream` on the
    * sink's own format, offsets = epoch ids, `maxEpochsPerTrigger=1` ⇒
    * exactly one micro-batch per committed epoch (trigger pin 4) —
    * and relays it into a parquet sink. The aggregated relay must
    * equal the batch view of all four slices: the lake loop closed
    * (streaming write → log → streaming read), the Delta
    * "stream from a table" shape. */
  def streamTail(parent: SparkSession, dir: String): DataFrame = {
    val snapRoot = runSnapEpochs(parent, dir, "graft_snap_tl")
    val logDir = snapRoot.resolve("ev").toString
    val spark = streamSession(parent)
    val root = runRoot("graft_snap_tl_read")
    val outDir = root.resolve("out").toString
    val tail = spark.readStream.format("graft.sources.ManifestSink")
      .schema(SinkCols)
      .option("path", logDir)
      .option("maxEpochsPerTrigger", "1").load()
    val q = tail.writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .queryName("graft_snap_tail")
      .outputMode(OutputMode.Append()).start()
    try q.processAllAvailable() finally {
      q.stop()
      graft.util.Fs.deleteRecursively(root.resolve("ckpt"))
    }
    spark.read.parquet(outDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("event_id")).as("id_sum"))
  }
}
