package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamOps
import graft.streaming.StreamOps.{Ev, UserAgg}

/** Structured Streaming semantics: the streaming transforms over a
  * MemoryStream must agree with the same transform over the batch of all
  * input, and stateful ops must accumulate across triggers. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def ts(min: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")

  val batch1 = Seq(
    Ev(1, ts(0), 1, "view", 1.0), Ev(2, ts(5), 1, "view", 2.0),
    Ev(3, ts(20), 2, "click", 3.0))
  val batch2 = Seq(
    Ev(4, ts(35), 1, "view", 4.0), Ev(5, ts(59), 2, "click", 5.0))

  test("tumbling window counts over MemoryStream == batch computation") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamOps.tumblingCounts(in.toDF(), "15 minutes", "10 minutes")
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode("complete").start()
    try {
      in.addData(batch1); q.processAllAvailable()
      in.addData(batch2); q.processAllAvailable()
      val streamed = spark.table("tumbling_out")
        .collect().map(_.toSeq).toSet
      val batch = StreamOps.tumblingCounts(
        (batch1 ++ batch2).toDF(), "15 minutes", "10 minutes")
        .collect().map(_.toSeq).toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming ops run unchanged on the RocksDB state store (the at-scale provider)") {
    // local runs default to the in-memory HDFS-backed store; a real
    // cluster holding billions of keys runs RocksDB — prove the
    // operators are provider-agnostic (same results, no API coupling).
    // A child session isolates the provider conf from the shared one.
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamOps.tumblingCounts(in.toDF(), "15 minutes", "10 minutes")
      .writeStream.format("memory").queryName("rocksdb_out")
      .outputMode("complete").start()
    try {
      in.addData(batch1); q.processAllAvailable()
      in.addData(batch2); q.processAllAvailable()
      val streamed = s.table("rocksdb_out").collect().map(_.toSeq).toSet
      val batch = StreamOps.tumblingCounts(
        (batch1 ++ batch2).toDF(), "15 minutes", "10 minutes")
        .collect().map(_.toSeq).toSet
      assert(streamed == batch && streamed.nonEmpty)
    } finally q.stop()
  }

  test("Trigger.AvailableNow: the backfill trigger drains what exists, " +
    "terminates by itself, and a second run catches up from the checkpoint") {
    // THE production backfill/catch-up shape: process everything
    // available under the source's own rate limits, then stop — no
    // processAllAvailable babysitting, no always-on cluster; the
    // checkpoint makes the next scheduled run incremental.
    import java.nio.file.Files
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "2")
    import s.implicits._
    val root = Files.createTempDirectory("graft_avail_now")
    val watch = Files.createDirectories(root.resolve("watch"))
    val ckpt = root.resolve("ckpt").toString
    def land(evs: Ev*): Unit =
      evs.toDF().coalesce(1).write.mode("append").parquet(watch.toString)
    def runAvailableNow(): Unit = {
      val q = s.readStream.schema(Seq.empty[Ev].toDF().schema)
        .option("maxFilesPerTrigger", "1") // rate limit still honored
        .parquet(watch.toString)
        .groupBy("user_id").count()
        .writeStream.format("memory").queryName("avail_now_out")
        .option("checkpointLocation", ckpt)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      // the trigger's contract IS self-termination after draining
      assert(q.awaitTermination(120000), "AvailableNow run did not terminate")
    }
    land(Ev(1, ts(0), 1, "view", 1.0), Ev(2, ts(1), 2, "view", 2.0))
    land(Ev(3, ts(2), 1, "view", 3.0))
    runAvailableNow()
    assert(s.table("avail_now_out").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == Map(1L -> 2L, 2L -> 1L))
    // files landed AFTER the run are untouched until the NEXT run
    land(Ev(4, ts(3), 2, "view", 4.0))
    runAvailableNow() // resumes from the checkpoint, reads only the delta
    assert(s.table("avail_now_out").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == Map(1L -> 2L, 2L -> 2L))
  }

  test("RocksDB CHANGELOG checkpointing: state recovers across a query " +
    "restart through changelog replay (the at-scale checkpoint economics)") {
    // Full-snapshot checkpointing uploads every changed SST file per
    // commit; changelog checkpointing uploads only the batch's change
    // set and replays it over the last snapshot on recovery — at 100 TB
    // of state this is the difference between checkpoint cost scaling
    // with STATE SIZE and scaling with BATCH CHANGE VOLUME. Prove the
    // recovery path actually works: run a stateful fold, stop, restart
    // from the same checkpoint (recovery = snapshot + changelog
    // replay), feed more data, and the totals must continue from the
    // recovered state.
    import java.nio.file.Files
    import org.apache.spark.sql.streaming.TimeMode
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "2")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    import s.implicits._
    val root = Files.createTempDirectory("graft_changelog")
    val watch = Files.createDirectories(root.resolve("watch"))
    val ckpt = root.resolve("ckpt").toString
    def land(evs: Ev*): Unit =
      evs.toDF().coalesce(1).write.mode("append").parquet(watch.toString)
    def run(): Unit = {
      val q = s.readStream.schema(Seq.empty[Ev].toDF().schema)
        .parquet(watch.toString)
        .as[Ev].groupByKey(_.user_id)
        .transformWithState(new StreamOps.TotalsProcessor,
          TimeMode.None(), StreamOps.RunningTotalsOutputMode)
        .toDF()
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .outputMode("update").start()
      try q.processAllAvailable() finally q.stop()
    }
    land(Ev(1, ts(0), 1, "view", 1.0), Ev(2, ts(1), 2, "view", 2.0))
    run() // first run commits via changelog
    land(Ev(3, ts(2), 1, "view", 0.5))
    run() // RESTART: recovery replays the changelog over the snapshot
    val state = s.read.format("statestore").option("path", ckpt)
      .option("stateVarName", "totals").load()
      .select("value.user_id", "value.n_events", "value.total_cents")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(state == Map(1L -> ((2L, 150L)), 2L -> ((1L, 200L))),
      s"state did not survive the changelog-checkpointed restart: $state")
  }

  test("session windows split on the gap") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamOps.sessionCounts(in.toDF(), "10 minutes", "10 minutes")
      .writeStream.format("memory").queryName("session_out")
      .outputMode("complete").start()
    try {
      in.addData(batch1 ++ batch2); q.processAllAvailable()
      val sessions = spark.table("session_out")
        .collect().map(r => (r.getLong(1), r.getLong(2))).toList.sorted
      // user 1: events at 0,5 (one session) and 35 (another); user 2: 20 and 59
      assert(sessions == List((1L, 1L), (1L, 2L), (2L, 1L), (2L, 1L)))
    } finally q.stop()
  }

  test("append-mode sessionStreamed emits every session exactly once (== batch)") {
    val streamed = StreamOps.sessionStreamed(spark, TestSpark.Sf0001)
      .collect().map(_.toSeq)
    val batch = graft.sources.Tables.events(spark, TestSpark.Sf0001)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("session_window.start")).as("sess_start_us"),
        col("user_id"), col("n"))
      .collect().map(_.toSeq)
    assert(streamed.nonEmpty)
    assert(streamed.length == streamed.toSet.size, "duplicate session emission")
    assert(streamed.toSet == batch.toSet)
  }

  test("mapGroupsWithState accumulates per-user state across triggers") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamOps.runningUserTotals(in.toDS())
      .writeStream.format("memory").queryName("running_out")
      .outputMode(StreamOps.RunningTotalsOutputMode).start()
    try {
      in.addData(batch1); q.processAllAvailable()
      in.addData(batch2); q.processAllAvailable()
      val last = spark.table("running_out")
        .groupBy("user_id").agg(max("n_events").as("n"), max("total_cents").as("c"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(last == Set((1L, 3L, 700L), (2L, 2L, 800L)))
    } finally q.stop()
  }

  test("flatMapGroupsWithState emits prior bursts on new activity") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamOps.burstDetector(in.toDS())
      .writeStream.format("memory").queryName("burst_out")
      .outputMode("append").start()
    try {
      in.addData(batch1); q.processAllAvailable()
      assert(spark.table("burst_out").count() == 0) // nothing closed yet
      in.addData(batch2); q.processAllAvailable()
      val bursts = spark.table("burst_out")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // batch2 touches users 1 and 2 → their batch1 bursts close
      assert(bursts == Set((1L, 2L), (2L, 1L)))
    } finally q.stop()
  }

  test("upsertMerge rewrites only touched buckets; untouched files stay byte-identical") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_upsert_spec")
    val table = root.resolve("t").toString
    try {
      // find two user ids in DIFFERENT buckets (bucket = pmod(hash, n))
      val probe = spark.range(0, 64)
        .select(col("id"), pmod(hash(col("id")), lit(StreamOps.UpsertBuckets)).as("b"))
        .collect().map(r => (r.getLong(0), r.getInt(1)))
      val (uA, bkA) = probe.head
      val (uB, _) = probe.find(_._2 != bkA).get
      def batch(rows: (Long, Long, Long)*) =
        rows.toDF("user_id", "n_events", "total_cents")
      StreamOps.upsertMerge(spark, table,
        batch((uA, 1L, 100L), (uB, 1L, 200L)), "user_id", StreamOps.UpsertBuckets)
      def filesOf(bk: Int): Map[String, Array[Byte]] = {
        val d = Paths.get(table, s"bucket=$bk")
        val s = Files.list(d)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala
            .filter(_.getFileName.toString.startsWith("part-"))
            .map(p => p.getFileName.toString -> Files.readAllBytes(p)).toMap
        } finally s.close()
      }
      val before = filesOf(bkA)
      assert(before.nonEmpty)
      // second batch touches ONLY uB's bucket
      StreamOps.upsertMerge(spark, table,
        batch((uB, 2L, 500L)), "user_id", StreamOps.UpsertBuckets)
      val after = filesOf(bkA)
      assert(after.keySet == before.keySet, "untouched bucket's file set changed")
      before.foreach { case (name, bytes) =>
        assert(java.util.Arrays.equals(bytes, after(name)),
          s"untouched bucket file $name was rewritten")
      }
      // and the merge itself upserted: uB replaced, uA untouched
      val rows = spark.read.parquet(table).drop("bucket")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows == Set((uA, 1L, 100L), (uB, 2L, 500L)))
      // the layout the merge's read prune relies on: a bucket IN (...)
      // filter must reach the scan as a PartitionFilter (pruning — at
      // scale the untouched buckets are never even opened for reading)
      val pruned = spark.read.parquet(table).filter(col("bucket") === bkA)
      pruned.collect()
      val plan = pruned.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(plan).isDefined,
        s"bucket filter did not prune partitions:\n$plan")
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("restart from checkpoint: offsets and state recover — the resumed " +
    "query's output ≡ batch over all input, nothing double-counted") {
    val root = java.nio.file.Files.createTempDirectory("graft_restart")
    val srcDir = root.resolve("src"); java.nio.file.Files.createDirectories(srcDir)
    val ckpt = root.resolve("ckpt").toString
    def land(evs: Seq[Ev]): Unit =
      evs.toDF().coalesce(1).write.mode("append").parquet(srcDir.toString)
    val schema = Seq.empty[Ev].toDF().schema
    // running per-user value totals in COMPLETE mode: if restart lost the
    // state store, batch-1 totals would vanish; if it lost the source
    // offsets, batch-1 files would re-read and DOUBLE-count. Equality
    // with the batch aggregate over all input rules out both.
    def start() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(graft.functions.Exact.cents(col("value"))).as("cents"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("restart_tbl")
      .option("checkpointLocation", ckpt).start()
    land(batch1)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop() // hard stop, new query object
    val afterB1 = spark.table("restart_tbl").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    land(batch2)
    val q2 = start() // RESUMES from the checkpoint, not from scratch
    try q2.processAllAvailable() finally q2.stop()
    val resumed = spark.table("restart_tbl").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = (batch1 ++ batch2).toDF().groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(graft.functions.Exact.cents(col("value"))).as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(afterB1 != resumed, "batch 2 never processed after the restart")
    assert(resumed == batch,
      s"restart lost state or re-read offsets: $resumed vs $batch")
  }

  test("ManifestSink StreamingWrite: per-epoch atomic publish — and a " +
    "REPLAYED epoch after a checkpoint restart re-commits idempotently " +
    "(first commit wins, the replay leaves no trace)") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("graft_stream_manifest")
    val srcDir = root.resolve("src"); Files.createDirectories(srcDir)
    val out = root.resolve("out").toString
    val ckpt = root.resolve("ckpt")
    def land(evs: Seq[Ev]): Unit =
      evs.toDF().coalesce(1).write.mode("append").parquet(srcDir.toString)
    val schema = Seq.empty[Ev].toDF().schema
    def start() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .writeStream.format("graft.sources.ManifestSink")
      .option("path", out)
      .option("compactInterval", "3") // cross a compaction boundary in-test
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    land(batch1)
    val q1 = start(); try q1.processAllAvailable() finally q1.stop()
    land(batch2)
    val q2 = start(); try q2.processAllAvailable() finally q2.stop()
    def readBack(): Set[(Long, Long, String)] = {
      val files = graft.sources.ManifestSink.committedFiles(out)
      spark.read.schema("event_id LONG, user_id LONG, event_type STRING")
        .parquet(files: _*)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    }
    def dataFiles(): Set[String] = {
      val s = Files.list(Paths.get(out, "data"))
      try s.iterator().asScala.map(_.getFileName.toString).toSet
      finally s.close()
    }
    val expected = (batch1 ++ batch2)
      .map(e => (e.event_id, e.user_id, e.event_type)).toSet
    val committed = graft.sources.ManifestSink.committedFiles(out).toSet
    assert(readBack() == expected, "epoch-union manifest lost or duped rows")
    assert(dataFiles() == committed.map(f => Paths.get(f).getFileName.toString),
      "uncommitted files left in data/")
    // force an epoch REPLAY: drop the engine's newest commit marker so a
    // restarted query re-runs the last micro-batch under the SAME epochId
    // (the engine's delivery to the sink is at-least-once by design —
    // exactly-once content is the sink's job)
    val commits = Files.list(ckpt.resolve("commits"))
    val newest =
      try commits.iterator().asScala.toSeq
        .filter(_.getFileName.toString.forall(_.isDigit))
        .maxBy(_.getFileName.toString.toLong)
      finally commits.close()
    Files.delete(newest)
    // the local checkpoint FS is checksummed: drop the crc sidecar too,
    // or the replay's atomic rename into the same name is blocked
    Files.deleteIfExists(
      newest.resolveSibling(s".${newest.getFileName}.crc"))
    val q3 = start(); try q3.processAllAvailable() finally q3.stop()
    assert(graft.sources.ManifestSink.committedFiles(out).toSet == committed,
      "replayed epoch changed the committed snapshot")
    assert(readBack() == expected, "replayed epoch duped or lost rows")
    assert(dataFiles() == committed.map(f => Paths.get(f).getFileName.toString),
      "replayed epoch left orphan files in data/")
    // the snapshot is derived purely from the log fragments (round 12
    // dropped the per-commit derived MANIFEST rewrite — O(total files)
    // metadata bytes per epoch): the table dir holds ONLY epoch/compact
    // manifests and data/, nothing mutable to go stale or get lost
    val topLevel = {
      val s = Files.list(Paths.get(out))
      try s.iterator().asScala.map(_.getFileName.toString).toSet
      finally s.close()
    }
    assert(topLevel.forall(n => n == "data" || n.startsWith("epoch-") ||
      n.startsWith("compact-")), s"unexpected derived state: $topLevel")

    // ——— epoch-manifest COMPACTION: a third epoch reaches the
    // compactInterval=3 threshold, so the three loose epoch manifests
    // fold into ONE compact file (O(epochs/N) republish reads), with
    // the committed snapshot unchanged by the fold
    def sinkFiles(prefix: String): Seq[String] = {
      val s = Files.list(Paths.get(out))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith(prefix)).toSeq.sorted
      finally s.close()
    }
    val batch3 = Seq(Ev(6, ts(40), 3, "view", 6.0))
    land(batch3)
    val q5 = start(); try q5.processAllAvailable() finally q5.stop()
    val expected3 = expected ++ batch3.map(e => (e.event_id, e.user_id, e.event_type))
    assert(sinkFiles("epoch-").isEmpty,
      s"loose epoch manifests not swept by compaction: ${sinkFiles("epoch-")}")
    assert(sinkFiles("compact-").size == 1,
      s"expected exactly one compact file: ${sinkFiles("compact-")}")
    assert(readBack() == expected3, "compaction changed the committed snapshot")
    val committed3 = graft.sources.ManifestSink.committedFiles(out).toSet
    assert(dataFiles() == committed3.map(f => Paths.get(f).getFileName.toString),
      "compaction orphaned or lost data files")
    // ——— replay ACROSS the compaction boundary: epoch 2's own manifest
    // is gone (folded into the compact file), yet the replayed commit
    // must still detect it as committed and leave no trace
    val commits3 = Files.list(ckpt.resolve("commits"))
    val newest3 =
      try commits3.iterator().asScala.toSeq
        .filter(_.getFileName.toString.forall(_.isDigit))
        .maxBy(_.getFileName.toString.toLong)
      finally commits3.close()
    Files.delete(newest3)
    Files.deleteIfExists(
      newest3.resolveSibling(s".${newest3.getFileName}.crc"))
    val q6 = start(); try q6.processAllAvailable() finally q6.stop()
    assert(graft.sources.ManifestSink.committedFiles(out).toSet == committed3,
      "replay across the compaction boundary changed the snapshot")
    assert(readBack() == expected3,
      "replay across the compaction boundary duped or lost rows")
    assert(dataFiles() == committed3.map(f => Paths.get(f).getFileName.toString),
      "replay across the compaction boundary left orphans")
    // run-unique token in every streaming task-file name: a replay in a
    // fresh JVM (taskIds reset) can never collide with committed files
    assert(dataFiles().forall(
      _.matches("""epoch-\d{20}-part-\d{5}-\d+-[0-9a-f]{8}\.parquet""")),
      s"streaming file names missing the run token: ${dataFiles()}")
  }

  test("ManifestSink streaming guards: abort and replay never delete a " +
    "file the committed manifests list, even under adversarial name " +
    "collisions; compaction folds fragments without changing the snapshot") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import graft.sources.{CommittedFile, ManifestSink, ManifestStreamingWrite}
    val dir = Files.createTempDirectory("graft_manifest_guards")
    val schema = StructType(Seq(StructField("v", LongType)))
    val w = ManifestStreamingWrite(dir.toString, schema, 3, "q_guard", "run00001")
    val data = Files.createDirectories(dir.resolve("data"))
    def fake(name: String): Unit =
      Files.write(data.resolve(name), "1\n".getBytes)
    def names(): Set[String] =
      ManifestSink.committedFiles(dir.toString)
        .map(f => Paths.get(f).getFileName.toString).toSet

    fake("f0"); w.commit(0L, Array(CommittedFile("f0", 1)))
    assert(names() == Set("f0"))
    // post-epoch-move crash: Spark aborts with messages naming a file
    // the durable epoch manifest lists — abort must NOT delete it
    w.abort(0L, Array(CommittedFile("f0", 1)))
    assert(Files.exists(data.resolve("f0")),
      "abort deleted a committed file listed in an epoch manifest")
    // replayed epoch whose message names a committed file (the taskId-
    // collision scenario): the committed file survives, the replay's
    // own orphan is cleaned
    fake("g0")
    w.commit(0L, Array(CommittedFile("f0", 1), CommittedFile("g0", 1)))
    assert(Files.exists(data.resolve("f0")),
      "replay deleted a committed file it collided with")
    assert(!Files.exists(data.resolve("g0")), "replay left its orphan")
    assert(names() == Set("f0"))
    // two more epochs hit compactInterval=3 → one compact file, no
    // loose epochs, snapshot unchanged
    fake("f1"); w.commit(1L, Array(CommittedFile("f1", 1)))
    fake("f2"); w.commit(2L, Array(CommittedFile("f2", 1)))
    def top(prefix: String): Seq[String] = {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith(prefix)).toSeq.sorted
      finally s.close()
    }
    assert(top("epoch-").isEmpty && top("compact-").size == 1,
      s"compaction did not fold: ${top("epoch-")} ${top("compact-")}")
    assert(names() == Set("f0", "f1", "f2"))
    // replay of an epoch that only exists inside the compact file
    fake("g1"); w.commit(1L, Array(CommittedFile("g1", 1)))
    assert(!Files.exists(data.resolve("g1")),
      "replay of a compacted epoch republished its orphan")
    assert(names() == Set("f0", "f1", "f2"))
    // abort after compaction still honors the published set
    w.abort(2L, Array(CommittedFile("f2", 1)))
    assert(Files.exists(data.resolve("f2")),
      "abort deleted a committed file listed only in the compact file")
  }

  test("transformWithState TTL: state live before the deadline, EVICTED " +
    "after it (the statestore reader proves both sides)") {
    // TimeMode.ProcessingTime makes shouldRunAnotherBatch permanently
    // true (TTL/timers may fire with no input), so the query never goes
    // idle — processAllAvailable blocks forever and even AvailableNow
    // keeps scheduling no-data batches. Each phase is therefore a
    // bounded Trigger.Once RUN resuming from the same checkpoint.
    import java.nio.file.Files
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, Trigger}
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "2")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s.implicits._
    val root = Files.createTempDirectory("graft_tws_ttl")
    val watch = Files.createDirectories(root.resolve("watch"))
    val ckpt = root.resolve("ckpt").toString
    val ttl = java.time.Duration.ofSeconds(3)
    def land(e: Ev): Unit =
      Seq(e).toDF().coalesce(1).write.mode("append").parquet(watch.toString)
    def runOnce(): Unit = {
      val q = s.readStream.schema(Seq.empty[Ev].toDF().schema)
        .parquet(watch.toString)
        .as[Ev].groupByKey(_.user_id)
        .transformWithState(new StreamOps.TotalsProcessor(TTLConfig(ttl)),
          TimeMode.ProcessingTime(), StreamOps.RunningTotalsOutputMode)
        .toDF()
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(Trigger.Once()).start()
      assert(q.awaitTermination(120000), "Trigger.Once run did not terminate")
    }
    def stateUsers(): Set[Long] =
      s.read.format("statestore").option("path", ckpt)
        .option("stateVarName", "totals").load()
        .select("key.value").collect().map(_.getLong(0)).toSet
    land(Ev(1, ts(0), 1, "view", 1.0))
    runOnce()
    assert(stateUsers() == Set(1L),
      "user 1's state missing before its TTL deadline")
    // sleep past the TTL, then run another batch: the engine's per-batch
    // TTL cleanup must physically remove user 1's expired value (its
    // store partition runs a task even with no new data for it) while
    // landing user 2's fresh one
    Thread.sleep(ttl.toMillis + 1500)
    land(Ev(2, ts(5), 2, "view", 2.0))
    runOnce()
    assert(stateUsers() == Set(2L),
      s"TTL did not evict user 1's expired state: ${stateUsers()}")
  }

  test("transformWithState INITIAL STATE: snapshot seeds the store — " +
    "untouched keys persist, touched keys fold on from the snapshot") {
    import java.nio.file.Files
    import org.apache.spark.sql.streaming.TimeMode
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "2")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s.implicits._
    val root = Files.createTempDirectory("graft_tws_init")
    val watch = Files.createDirectories(root.resolve("watch"))
    val ckpt = root.resolve("ckpt").toString
    // the previous system's snapshot: users 1 and 2 with prior totals
    val snapshot = Seq(UserAgg(1L, 5L, 500L), UserAgg(2L, 3L, 300L))
      .toDS().groupByKey(_.user_id)
    // the stream touches user 2 and introduces user 3; user 1 never appears
    Seq(Ev(10, ts(0), 2, "view", 1.0), Ev(11, ts(1), 3, "view", 2.0))
      .toDF().coalesce(1).write.mode("append").parquet(watch.toString)
    val q = s.readStream.schema(Seq.empty[Ev].toDF().schema)
      .parquet(watch.toString)
      .as[Ev].groupByKey(_.user_id)
      .transformWithState(new StreamOps.TotalsProcessorWithInit,
        TimeMode.None(), StreamOps.RunningTotalsOutputMode, snapshot)
      .toDF()
      .writeStream.format("noop")
      .option("checkpointLocation", ckpt)
      .outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    val state = s.read.format("statestore").option("path", ckpt)
      .option("stateVarName", "totals").load()
      .select("value.user_id", "value.n_events", "value.total_cents")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(state == Map(
      1L -> ((5L, 500L)),   // untouched: the snapshot landed and persisted
      2L -> ((4L, 400L)),   // folded ON from the snapshot, not from zero
      3L -> ((1L, 200L))),  // no snapshot entry: folded from zero
      state)
  }

  test("transformWithState ≡ mapGroupsWithState: the API migration is " +
    "result-invisible (same per-user totals, row for row)") {
    val tws = StreamOps.userTotalsTwsStreamed(spark, TestSpark.Sf0001)
    val mgws = StreamOps.userTotalsStreamed(spark, TestSpark.Sf0001)
    assert(tws.exceptAll(mgws).isEmpty && mgws.exceptAll(tws).isEmpty,
      "transformWithState diverged from mapGroupsWithState")
  }

  test("streaming dedup drops re-delivered event ids") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamOps.dedupByEventId(in.toDF(), "1 hour")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      in.addData(batch1); q.processAllAvailable()
      in.addData(batch1); q.processAllAvailable() // exact re-delivery
      assert(spark.table("dedup_out").count() == batch1.size)
    } finally q.stop()
  }

  test("chained stateful cascade emits each day exactly once (≡ batch double agg)") {
    val streamed = StreamOps.cascadeStreamed(spark, TestSpark.Sf0001).collect()
    assert(streamed.nonEmpty)
    assert(streamed.length == streamed.map(_.toSeq).toSet.size,
      "a day row emitted more than once")
    val batch = graft.sources.Tables.events(spark, TestSpark.Sf0001)
      .filter(col("event_id").isNotNull && col("ts").isNotNull &&
        col("user_id").isNotNull && col("value").isNotNull)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(graft.functions.Exact.cents(col("value"))).as("value_cents"))
      .groupBy(window(window_time(col("window")), "1 day"), col("event_type"))
      .agg(sum(col("n")).as("n"), sum(col("value_cents")).as("value_cents"),
        count(lit(1)).as("n_hours"))
      .select(unix_micros(col("window.start")).as("day_start_us"),
        col("event_type"), col("n"), col("value_cents"), col("n_hours"))
      .collect()
    assert(streamed.map(_.toSeq).toSet == batch.map(_.toSeq).toSet)
  }

  test("left-outer stream-stream join ≡ batch; unmatched clicks null-pad exactly once") {
    val streamed = StreamOps.leftOuterJoinStreamed(spark, TestSpark.Sf0001)
      .collect()
    val e = graft.sources.Tables.events(spark, TestSpark.Sf0001)
      .filter(col("event_id").isNotNull && col("ts").isNotNull &&
        col("user_id").isNotNull && col("value").isNotNull)
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"), col("event_id").as("click_id"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
    val batch = c.join(p,
      expr("user_id = p_user AND p_ts BETWEEN c_ts AND c_ts + INTERVAL 1 HOUR"),
      "left_outer")
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        unix_micros(col("c_ts")).as("c_ts_us"), unix_micros(col("p_ts")).as("p_ts_us"))
      .collect()
    assert(streamed.length == streamed.map(_.toSeq).toSet.size,
      "a click's null row emitted more than once")
    assert(streamed.map(_.toSeq).toSet == batch.map(_.toSeq).toSet)
    // the OUTER path is genuinely exercised: some click matched nothing
    val pi = streamed.head.fieldIndex("purchase_id")
    assert(streamed.exists(_.isNullAt(pi)), "no null-padded row — inner ≡ outer here")
  }

  test("dsv2Streamed: the custom MicroBatchStream's triggers cover the " +
    "id space exactly once (disjoint, contiguous) across several batches") {
    import scala.jdk.CollectionConverters._
    val out = graft.streaming.StreamOps.dsv2Streamed(spark, TestSpark.Sf0001)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // ≡ the batch aggregate over the same filtered id space
    val expected = (5000L until 15000L).toSeq
      .groupBy(i => graft.sources.SyntheticSource.eventType(i))
      .map { case (t, ids) =>
        t -> (ids.map(graft.sources.SyntheticSource.valueCents).sum, ids.size.toLong) }
    assert(out == expected)
    // the offset contract: each trigger's range may be (re)planned
    // several times (logical planning + execution), but the DISTINCT
    // ranges must be disjoint, contiguous, and cover the whole id space
    // (the stream sees filters as residuals — pushdown is the batch
    // face — so the offset log spans [0, rows))
    val ranges = graft.sources.SyntheticSource.plannedBatches.asScala.toSeq
      .filter { case (s, e) => e > s }.distinct.sortBy(_._1)
    assert(ranges.length >= 2, s"expected several micro-batches, got $ranges")
    ranges.sliding(2).foreach {
      case Seq((_, e1), (s2, _)) => assert(e1 == s2, s"gap/overlap in $ranges")
      case _ =>
    }
    assert(ranges.head._1 == 0L && ranges.last._2 == 20000L,
      s"offset log does not cover the id space: $ranges")
  }

  test("dsv2 MicroBatchStream recovery: a restart over the checkpoint " +
    "resumes AT the committed offset — the grown source's new ids are " +
    "read exactly once, nothing is re-read") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    val cp = java.nio.file.Files.createTempDirectory("graft_dsv2_cp").toString
    val sink = java.nio.file.Files.createTempDirectory("graft_dsv2_rec").toString
    def run(rows: Long, name: String): Unit = {
      // append-mode parquet sink: every emitted row lands durably, so a
      // re-read after restart would show up as duplicate ids
      val q = spark.readStream.format("graft.sources.SyntheticSource")
        .option("rows", rows).option("slices", 4).option("batchRows", 1500L)
        .load()
        .select("id", "value_cents")
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", cp).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    graft.sources.SyntheticSource.plannedBatches.clear()
    run(10000L, "first")   // drains [0, 10000), commits offset 10000
    run(20000L, "second")  // source GREW; must resume at 10000, not 0
    val ids = spark.read.parquet(sink).select("id").collect().map(_.getLong(0))
    assert(ids.length == 20000, s"expected exactly-once ids, got ${ids.length}")
    assert(ids.toSet == (0L until 20000L).toSet)
    // and the second run's planned ranges all start at or after the
    // committed offset — the deserializeOffset fold did its job
    val afterRestart = graft.sources.SyntheticSource.plannedBatches.asScala
      .toSeq.filter { case (s, e) => e > s && s >= 10000L }
    assert(afterRestart.nonEmpty)
    assert(graft.sources.SyntheticSource.plannedBatches.asScala
      .count { case (s, e) => e > s && e > 10000L && s < 10000L } == 0,
      "a post-restart batch straddled the committed offset")
  }

  test("TRIGGER-COUNT structural pin: each streaming query runs exactly " +
    "its semantic minimum of micro-batches (data batches + required " +
    "watermark-flush batches, and nothing else)") {
    // The streaming share's wall-clock is per-trigger fixed cost
    // (incremental re-planning 80–350 ms + state machinery 400–800 ms
    // per batch, probe-measured) × trigger count — so the DETERMINISTIC
    // thing to pin is the trigger count, per the round-10 protocol
    // (wall-clock on a shared VM is an observation, not a target).
    // Expected counts: 2 data batches per single-source query (the
    // time-split halves) or per join side (landed round-robin), PLUS
    // one engine no-data batch per watermark advance ONLY where results
    // depend on it (append-mode session windows, outer-join null
    // flushes). The noFlushSession queries pin that the engine runs NO
    // extra trigger beyond the data itself.
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val counts = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        counts.merge(e.progress.name, 1, Integer.sum(_, _))
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    // the branch-staged stream runs on the ROOT session (it writes
    // through the catalog conf set there), so listen on it too
    val children = Seq(spark,
      graft.streaming.StreamOps.streamSession(spark),
      graft.streaming.StreamOps.noFlushSession(spark))
    children.foreach(_.streams.addListener(listener))
    try {
      val expect = Map(
        // noFlushSession: data batches ONLY
        "q_stream_ssjoin" -> ("graft_stream_ssjoin_sink", 2),
        "q_stream_dedup" -> ("graft_stream_dedup_sink", 2),
        "q_stream_tumbling" -> ("graft_stream_tumbling_sink", 2),
        // streamSession: + the load-bearing flush batches
        "q_stream_fojoin" -> ("graft_stream_fojoin_sink", 4),
        "q_stream_session" -> ("graft_stream_session_sink", 4),
        // 4 deterministic epochs (one per residue slice), stateless, no
        // watermark → exactly 4 data triggers and nothing else
        "q_time_travel" -> ("graft_snap_tt_sink", 4),
        "q_incr_read" -> ("graft_snap_ir_sink", 4),
        // the tail query runs TWO streaming queries: the 4-epoch writer
        // and the log-tailing reader (maxEpochsPerTrigger=1 ⇒ exactly
        // one micro-batch per committed epoch)
        "q_stream_tail" -> ("graft_snap_tail", 4),
        // the .changes CDF tail: 6 epochs (CREATE, 2 appends, dv
        // delete, dv update, compact), maxEpochsPerTrigger=1 ⇒ one
        // trigger per epoch — the metadata and compact epochs cost a
        // trigger but read zero bytes
        "q_snap_cdf_stream" -> ("graft_snap_cdf_sink", 6),
        // the branch-staged stream drains ONE source file in one data
        // trigger; staging on the WAP branch must not cost extra
        // micro-batches over a plain append stream
        "q_snap_branch_stream" -> ("graft_snap_wstr_sink", 1),
        // the equality-delete upsert sink drains two feed batches in
        // two data triggers — delete-by-key + append per micro-batch
        // costs no extra trigger over a plain append stream
        "q_stream_eq_upsert" -> ("graft_stream_equp_sink", 2))
      for ((q, _) <- expect) SparkEntry.queries(q)(spark, TestSpark.Sf0001).count()
      // listener delivery is async — wait for the bus to drain
      var waited = 0
      def total = expect.valuesIterator.map(v => counts.getOrDefault(v._1, 0)).sum
      val want = expect.valuesIterator.map(_._2).sum
      while (total < want && waited < 10000) { Thread.sleep(100); waited += 100 }
      for ((q, (sink, n)) <- expect)
        assert(counts.getOrDefault(sink, 0) == n,
          s"$q ran ${counts.getOrDefault(sink, 0)} triggers, pinned $n — " +
            "an extra trigger is wasted fixed cost, a missing one is " +
            "missing semantics")
    } finally children.foreach(_.streams.removeListener(listener))
  }

  test("feedRun failure path: an exception inside micro-batch 1 reaches " +
    "the caller, the query is stopped and the run's feeds are deleted") {
    import scala.jdk.CollectionConverters._
    val s = StreamOps.streamSession(spark)
    val staged = java.nio.file.Files.createTempDirectory("graft_feed_fail")
    graft.sources.Tables.events(spark, TestSpark.Sf0001)
      .filter(col("event_id").isNotNull && col("ts").isNotNull &&
        col("user_id").isNotNull && col("value").isNotNull)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .limit(20).coalesce(1).write.parquet(staged.resolve("b").toString)
    val part = java.nio.file.Files.list(staged.resolve("b")).iterator().asScala
      .find(_.getFileName.toString.startsWith("part-"))
    assert(part.isDefined)
    var root: java.nio.file.Path = null
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamOps.feedRun(s, TestSpark.Sf0001, "graft_feed_fail",
        Seq(Seq(part, part))) { (srcs, r) =>
        root = r
        srcs.head.select(raise_error(lit("boom in micro-batch 1")))
          .writeStream.format("noop").queryName("graft_feed_fail_sink")
          .start()
      }
    }
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("boom in micro-batch 1")),
      s"the batch's own failure must reach the caller: $e")
    assert(!Seq(spark, s).exists(_.streams.active
      .exists(_.name == "graft_feed_fail_sink")), "the failed query must be stopped")
    assert(root != null && !java.nio.file.Files.exists(root.resolve("src0")),
      "the run's feed directory must be deleted")
    graft.util.Fs.deleteRecursively(staged)
  }

  test("NON-APPEND EPOCHS in a streaming tail (round 17): strict mode " +
    "refuses loudly naming the opt-outs; ignoreDeletes skips a dv-only " +
    "epoch and resumes at the next offset across restarts (nothing " +
    "skipped, nothing duplicated); ignoreChanges re-delivers a COW " +
    "rewrite's adds; and the .changes face streams labeled change rows " +
    "with one trigger per epoch") {
    val root = java.nio.file.Files.createTempDirectory("graft_tail_change")
    val s = spark.newSession()
    graft.sources.GraftCatalog.register(s, TestSpark.Sf0001, Some(root.toString))
    s.sql("CREATE TABLE graft.snap.st (k BIGINT, v STRING)")   // epoch 0
    def append(rows: (Long, String)*): Unit = locally {
      import s.implicits._
      rows.toDF("k", "v").coalesce(1).writeTo("graft.snap.st").append()
    }
    val ckpt = root.resolve("ckpt").toString
    // foreachBatch (checkpoint-recoverable, unlike the memory sink):
    // each phase drains into its own buffer, so what a RESTART serves
    // is observable in isolation
    val phase = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    def start(opts: Map[String, String]) = {
      phase.clear()
      var r = s.readStream
      opts.foreach { case (k, v) => r = r.option(k, v) }
      r.table("graft.snap.st")
        .writeStream.foreachBatch {
          (df: org.apache.spark.sql.DataFrame, _: Long) =>
            df.collect().foreach(r =>
              phase.add((r.getLong(0), r.getString(1)))); ()
        }
        .option("checkpointLocation", ckpt).start()
    }
    def rows(): Seq[(Long, String)] = {
      import scala.jdk.CollectionConverters._
      phase.asScala.toSeq.sorted
    }

    append((1L, "a"), (2L, "b"))                               // epoch 1
    val q1 = start(Map.empty)
    try q1.processAllAvailable() finally q1.stop()
    assert(rows() == Seq((1L, "a"), (2L, "b")))

    s.conf.set("spark.sql.catalog.graft.snap.st.deleteMode", "mor")
    s.sql("DELETE FROM graft.snap.st WHERE k = 1")             // epoch 2
    append((3L, "c"))                                          // epoch 3

    // strict: the dv epoch refuses LOUDLY, naming both opt-outs
    val q2 = start(Map.empty)
    val eStrict = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable(); q2.awaitTermination(30000)
    }
    q2.stop()
    val msg = Option(eStrict.getCause).map(_.toString).getOrElse(eStrict.toString)
    assert(msg.contains("ignoreDeletes") && msg.contains("ignoreChanges") &&
      msg.contains("change feed"), msg)

    // ignoreDeletes: the dv-only epoch is skipped, epoch 3 serves, and
    // the offset survived BOTH the stop and the failed strict run —
    // exactly {(3,c)} lands, nothing re-read, nothing skipped
    val q3 = start(Map("ignoreDeletes" -> "true"))
    try q3.processAllAvailable() finally q3.stop()
    assert(rows() == Seq((3L, "c")),
      s"restart must resume past the skipped epoch: ${rows()}")

    append((4L, "d"), (5L, "e"))                               // epoch 4
    s.conf.set("spark.sql.catalog.graft.snap.st.deleteMode", "cow")
    s.sql("DELETE FROM graft.snap.st WHERE k = 4")             // epoch 5
    // a COW rewrite carries adds: ignoreDeletes is NOT enough
    // one epoch per trigger: epoch 4 serves in its own batch, THEN
    // the rewrite epoch refuses
    val q4 = start(Map("ignoreDeletes" -> "true",
      "maxEpochsPerTrigger" -> "1"))
    val eRewrite = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q4.processAllAvailable(); q4.awaitTermination(30000)
    }
    q4.stop()
    assert(eRewrite.toString.contains("ignoreChanges"), eRewrite.toString)
    assert(rows() == Seq((4L, "d"), (5L, "e")),
      "epoch 4 serves before the refusal")
    // ignoreChanges: the rewrite's adds re-deliver (documented dup)
    val q5 = start(Map("ignoreChanges" -> "true"))
    try q5.processAllAvailable() finally q5.stop()
    assert(rows() == Seq((5L, "e")),
      s"the survivor file re-delivers, once: ${rows()}")

    // ——— the .changes face streams LABELED rows, one trigger per epoch
    val cdf = s.readStream
      .option("maxEpochsPerTrigger", "1")
      .option("ignoreChanges", "true") // epoch 5 is a COW rewrite
      .table("graft.snap.st.changes")
      .writeStream.format("memory").queryName("tail_cdf")
      .option("checkpointLocation", root.resolve("ckpt_cdf").toString)
      .start()
    try cdf.processAllAvailable() finally cdf.stop()
    val changes = s.table("tail_cdf").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq.sortBy(t => (t._4, t._3, t._1))
    assert(changes == Seq(
      (1L, "a", "insert", 1L), (2L, "b", "insert", 1L),
      (1L, "a", "delete", 2L),
      (3L, "c", "insert", 3L),
      (4L, "d", "insert", 4L), (5L, "e", "insert", 4L),
      (5L, "e", "insert", 5L)), s"labeled change rows: $changes")
    val dataTriggers = cdf.recentProgress.count(_.numInputRows > 0)
    assert(dataTriggers == 5,
      s"one data trigger per non-empty epoch (1..5): $dataTriggers")

    // ——— the .changes face answers BATCH SQL over the retained window
    val batchChanges = s.sql(
      """SELECT _commit_version, _change_type, count(*) AS n
        |FROM graft.snap.st.changes
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
    val eBatch = intercept[Exception] { batchChanges.collect() }
    assert(eBatch.getMessage.contains("ignoreChanges"), eBatch.getMessage)
    val bounded = s.read.option("sinceVersion", "0").option("asOfVersion", "4")
      .table("graft.snap.st.changes").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(bounded == Set(
      (1L, "a", "insert", 1L), (2L, "b", "insert", 1L),
      (1L, "a", "delete", 2L), (3L, "c", "insert", 3L),
      (4L, "d", "insert", 4L), (5L, "e", "insert", 4L)),
      s"bounded batch window: $bounded")
    // COLUMN PRUNING on the face: a key+label read decodes 2 columns,
    // not the full width (the scan description records the pruned set)
    val prunedDf = s.read.option("sinceVersion", "0")
      .option("asOfVersion", "1").table("graft.snap.st.changes")
      .select("k", "_change_type")
    assert(prunedDf.collect().map(r => (r.getLong(0), r.getString(1)))
      .toSet == Set((1L, "insert"), (2L, "insert")))
    val planStr = prunedDf.queryExecution.executedPlan.toString
    assert(planStr.contains("cols=2/5"),
      s"the pruned scan must plan 2 of 5 columns:\n$planStr")
    graft.util.Fs.deleteRecursively(root)
  }
}
