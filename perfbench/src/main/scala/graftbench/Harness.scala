package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Closed-loop benchmark of one workload: one client runs the workload's
  * queries one at a time, in an order drawn from the seed, over the
  * generated tables, and writes its measurements as JSON.
  *
  * Arguments are `key=value` pairs: `queries` (comma-separated names from
  * `graft.SparkEntry.queries`), `seed`, `seconds` (length of the measured
  * window), `trace` (0 or 1), `kernels` (0 or 1), `data` (table directory),
  * `run` (scratch directory of this run), `result` (output file) and
  * `spans` (span file of a traced run).
  *
  * A run is: eleven set-ups, a cold pass, warm-up passes until the pass
  * time levels off, then whole passes until the window is full. Every
  * timed pass ends each query with a `noop` write. With `trace=1` the
  * window alternates traced and untraced passes, so the tracing overhead
  * is measured in the same run. The first warm-up pass, which is not
  * timed, writes every query's result as parquet under `<run>/out` for
  * the output check.
  *
  * The persisted-RDD count after a pass is taken after a full GC, because
  * the SparkContext holds cached RDDs weakly and drops the unreferenced
  * ones only when they are collected. It depends on which query ended the
  * pass, so it is compared only between passes that end with the same
  * query: a rise there means a pass left a cache that a later pass can reuse, and
  * it fails the run. */
object Harness {
  private val MB = 1024.0 * 1024.0

  final case class QueryRun(name: String, buildS: Double, runS: Double, ok: Boolean) {
    def s: Double = buildS + runS
  }
  final case class Pass(runs: Seq[QueryRun], cachedRdds: Int, storedMb: Double,
      layers: Map[String, Double]) {
    def s: Double = runs.map(_.s).sum
    def last: String = runs.last.name
  }

  def session(cores: Int, run: String, data: String, trace: Boolean): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir", s"$run/warehouse")
      .config("spark.local.dir", s"$run/local")
    if (trace) b
      .config("spark.extraListeners", classOf[JobProbe].getName)
      .config("spark.sql.queryExecutionListeners", classOf[ActionProbe].getName)
      .config("spark.sql.streaming.streamingQueryListeners", classOf[StreamProbe].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.ingest.Materialize.resetBucketTables(spark, data)
    graft.ingest.Materialize.resetCboTables(spark, data)
    spark
  }

  private def walk(dirs: Seq[Path]): Seq[Path] = dirs.filter(Files.isDirectory(_)).flatMap { d =>
    val s = Files.walk(d)
    try s.iterator().asScala.toList finally s.close()
  }

  /** Bytes the run has left on disk: results, tables, logs, checkpoints.
    * Native libraries that Spark's dependencies unpack into the temp
    * directory at first use are not the program's data. */
  private def storedMb(dirs: Seq[Path]): Double =
    walk(dirs).filter(p => Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".so"))
      .map(p => scala.util.Try(Files.size(p)).getOrElse(0L)).sum / MB

  /** Times a replay of every manifest table log under `dirs` through the
    * public `ManifestSink` readers. */
  private def replaySources(dirs: Seq[Path]): Map[String, Double] = {
    import graft.sources.ManifestSink
    def isLog(p: Path) = { val n = p.getFileName.toString; n.startsWith("epoch-") || n.startsWith("compact-") }
    val tables = walk(dirs).filter(isLog).map(_.getParent).distinct
    var ms, epochs, files = 0.0
    tables.foreach { t =>
      val path = t.toString
      val t0 = System.nanoTime()
      scala.util.Try {
        ManifestSink.newestVersion(path)
        files += ManifestSink.committedFiles(path).size
        ManifestSink.fileStats(path)
      }
      ms += (System.nanoTime() - t0) / 1e6
      val s = Files.list(t)
      try epochs += s.iterator().asScala.count(isLog) finally s.close()
    }
    Map("sources.replay_ms" -> ms, "sources.epochs" -> epochs, "sources.files" -> files)
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val opt = args.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    val queries = opt("queries").split(",").toSeq
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val (data, run) = (opt("data"), opt("run"))
    val cores = Runtime.getRuntime.availableProcessors
    val known = graft.SparkEntry.queries
    val unknown = queries.filterNot(known.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val storedDirs = Seq("scratch", "tmp", "warehouse").map(d => Paths.get(run, d))

    // eleven set-ups: the first counts from JVM start; the others stop the
    // SparkContext and build the session again
    val setups = mutable.ArrayBuffer[Double]()
    var spark = session(cores, run, data, trace)
    setups += (System.currentTimeMillis() - jvmStart) / 1e3
    for (_ <- 1 to 10) {
      spark.stop()
      val t0 = System.nanoTime()
      spark = session(cores, run, data, trace)
      setups += (System.nanoTime() - t0) / 1e9
    }

    val rng = new Random(seed)
    var passNo = 0
    var attempted = 0
    val failures = mutable.ArrayBuffer[String]()

    def runQuery(name: String, out: Option[String], traced: Boolean): QueryRun = {
      attempted += 1
      if (traced) Recorder.beginQuery(s"p$passNo:$name")
      val t0 = System.nanoTime()
      var t1 = 0L
      val ok = try {
        val df: DataFrame = known(name)(spark, data)
        t1 = System.nanoTime()
        out match {
          case Some(dir) => df.write.mode("overwrite").parquet(s"$dir/$name")
          case None => df.write.format("noop").mode("overwrite").save()
        }
        true
      } catch {
        case e: Throwable =>
          failures += s"$name failed: $e"
          System.err.println(s"[perfbench] $name failed: $e")
          false
      }
      val t2 = System.nanoTime()
      if (t1 == 0L) t1 = t2
      if (traced) Recorder.endQuery(Recorder.ms(t0), Recorder.ms(t1), Recorder.ms(t2), spark.sparkContext)
      QueryRun(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, ok)
    }

    val passes = mutable.ArrayBuffer[Pass]()
    def pass(out: Option[String] = None, traced: Boolean = false): Pass = {
      if (traced) { org.apache.spark.BusDrain(spark.sparkContext); Recorder.takePass(); Recorder.on = true }
      val runs = rng.shuffle(queries).map(runQuery(_, out, traced))
      Recorder.on = false
      passNo += 1
      val layers = if (!traced) Map.empty[String, Double] else
        Recorder.takePass() ++ replaySources(storedDirs) ++ Map(
          "ops.build_s" -> runs.map(_.buildS).sum, "ops.run_s" -> runs.map(_.runS).sum)
      System.gc()
      val p = Pass(runs, spark.sparkContext.getPersistentRDDs.size, storedMb(storedDirs), layers)
      passes += p
      p
    }

    val cold = pass()
    // warm-up: at least four passes and twice the window. JIT keeps
    // shortening passes until about the third warm-up pass (five passes
    // for the full query families), and a fixed amount of warm-up keeps
    // runs comparable
    val warmStart = System.nanoTime()
    val warmup = mutable.ArrayBuffer(pass(out = Some(s"$run/out")))
    while (warmup.size < 4 || (System.nanoTime() - warmStart) / 1e9 < 2 * seconds) warmup += pass()
    val leveled = warmup.last.s >= 0.95 * warmup(warmup.size - 2).s

    val plain, traced = mutable.ArrayBuffer[Pass]()
    val windowStart = System.nanoTime()
    // at least three untraced passes, so that one pass slowed by other load
    // on the machine does not move the median
    while ((System.nanoTime() - windowStart) / 1e9 < seconds || plain.size < 3 ||
        (trace && traced.size < 2)) {
      if (trace && traced.size < 2 && traced.size <= plain.size) traced += pass(traced = true)
      else plain += pass()
    }
    // what the program keeps between passes: heap in use after a full GC
    System.gc()
    val retainedMb = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / MB
    val kernels = if (trace && opt.get("kernels").contains("1")) Kernels.measure(spark) else Map.empty
    val measured = passes.drop(1).toSeq
    measured.groupBy(_.last).foreach { case (q, ps) =>
      if (ps.last.cachedRdds > ps.head.cachedRdds) failures +=
        s"cached RDDs grew across passes that end with $q: ${ps.map(_.cachedRdds).mkString(" -> ")}"
    }

    val samples = plain.flatMap(_.runs).filter(_.ok).map(_.s).sorted.toSeq
    val perQuery = plain.flatMap(_.runs).filter(_.ok).groupBy(_.name)
      .map { case (q, r) => q -> Stats.median(r.map(_.s).toSeq) }
    val passS = Stats.median(plain.map(_.s).toSeq)
    val e2e = Map(
      "setup_s" -> Stats.median(setups.toSeq),
      "cold_pass_s" -> cold.s,
      "pass_s" -> passS,
      "query_geomean_s" -> math.exp(perQuery.values.map(math.log).sum / math.max(1, perQuery.size)))
    val layers: Map[String, Double] = if (!trace) Map.empty else {
      val keys = traced.flatMap(_.layers.keys).distinct
      keys.map(k => k -> Stats.median(traced.map(_.layers.getOrElse(k, 0.0)).toSeq)).toMap ++ kernels ++ Map(
        "cache.rdds_after_pass" -> Stats.median(traced.map(_.cachedRdds.toDouble).toSeq),
        "stored_mb" -> Stats.median(traced.map(_.storedMb).toSeq),
        "trace.overhead_s" -> (Stats.median(traced.map(_.s).toSeq) - passS))
    }
    val tailN = samples.size - 10
    val tail = if (tailN < 1) Map.empty else
      Map("query_tail_s" -> samples(tailN - 1), "query_tail_pct" -> 100.0 * tailN / samples.size)
    val info = Map(
      "setup_samples_s" -> setups.toSeq,
      "peak_rss_mb" -> peakRssMb(),
      "retained_heap_mb" -> retainedMb,
      "stored_mb" -> Stats.median(plain.map(_.storedMb).toSeq),
      "warmup_pass_s" -> warmup.map(_.s).toSeq,
      "warmup_leveled" -> leveled,
      "window_pass_s" -> plain.map(_.s).toSeq,
      "traced_pass_s" -> traced.map(_.s).toSeq,
      "cached_rdds_after_pass" -> measured.map(p => s"${p.last}:${p.cachedRdds}"),
      "query_median_s" -> perQuery,
      "query_samples" -> samples.size,
      "query_p50_s" -> Stats.median(samples)) ++ tail
    val labels = Map("cores" -> cores, "heap_mb" -> (Runtime.getRuntime.maxMemory / MB).round,
      "spark" -> spark.version, "seed" -> seed)
    val result = Map("e2e" -> e2e, "layers" -> layers, "info" -> info, "labels" -> labels,
      "attempted" -> attempted, "failures" -> failures.toSeq,
      "oracle_sql" -> queries.flatMap(q => graft.SparkEntry.oracleSql.get(q).map(q -> _)).toMap)
    implicit val formats: Formats = DefaultFormats
    Files.writeString(Paths.get(opt("result")), Serialization.write(result))
    opt.get("spans").filter(_ => trace).foreach { f =>
      Files.write(Paths.get(f), Recorder.spans.map(s => Serialization.write(Map("id" -> s.id,
        "name" -> s.name, "start" -> s.start, "end" -> s.end, "parent" -> s.parent,
        "query" -> s.query))).asJava)
    }
    spark.stop()
  }
}
