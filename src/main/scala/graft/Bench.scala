package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // median-of-N damps the ±50% VM noise on this box; odd N keeps the
    // median a real observation (even N reports the upper-middle run)
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    require(reps >= 1, s"SPARK_GRAFT_BENCH_REPS must be >= 1, got $reps")
    val spark = Session.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // clear orphan CTAS dirs any previous JVM left behind (the in-memory
    // catalog dies with its JVM; warehouse files survive a clean exit too)
    graft.ingest.Materialize.resetBucketTables(spark, sfDir)
    graft.ingest.Materialize.resetCboTables(spark, sfDir)
    // Warm-up: trigger codegen/JIT and prime the file-source cache so the
    // first timed query doesn't carry JVM start-up cost.
    try {
      spark.range(1000000).selectExpr("sum(id * 2)").collect()
      graft.sources.Tables.names.foreach { t =>
        graft.sources.Tables.load(spark, sfDir, t).count()
      }
    } catch { case _: Throwable => () }
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    // noop-format write evaluates every output expression (count() would
    // let Catalyst prune the final projection and under-measure it)
    def timeOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          failed += name
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          false
        }
      val t = (System.nanoTime() - t0) / 1e9
      // per-rep visibility on STDERR only (variance diagnosis on a noisy
      // box); the stdout JSON contract and the median methodology are
      // untouched
      if (sys.env.contains("SPARK_GRAFT_BENCH_TRACE"))
        System.err.println(f"[bench-rep] $name $t%.3f")
      (t, ok)
    }
    // sorted order: deterministic timings comparable across rounds;
    // SPARK_GRAFT_BENCH_ONLY=q_a,q_b narrows the set for iteration
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // subset() rejects misspelled names loudly — a typo must not filter
    // to nothing and "succeed" having measured nothing
    val sorted = SparkEntry.subset(only, "SPARK_GRAFT_BENCH_ONLY")
    val runs = (1 to reps).map { _ => sorted.map { case (n, fn) => timeOne(n, fn) } }
    val results = sorted.map(_._1).zipWithIndex.map { case (name, i) =>
      // median over SUCCESSFUL runs only — a fast failure must not pose
      // as a timing; a query with zero successes keeps its failure times
      // (and is listed in failed[], which marks the number untrustworthy)
      val all = runs.map(_(i))
      val ts = { val ok = all.filter(_._2); if (ok.nonEmpty) ok else all }
        .map(_._1).sorted
      name -> ts(ts.length / 2)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$fs,"reps":$reps,"sf":"$sfDir"}"""
    println(line)
    // stdout captures get tail-truncated past ~66 queries; the full
    // per-query map also lands in a file so every query stays comparable.
    // Only FULL runs write the default artifact — a BENCH_ONLY iteration
    // run must not clobber the last full-surface record (an explicit
    // SPARK_GRAFT_BENCH_OUT always writes)
    val outFile = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .orElse(if (only.isEmpty) Some("/root/repo/BENCH_FULL.json") else None)
    outFile.foreach { f =>
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(f), line + "\n")
      catch { case e: Throwable => System.err.println(s"[bench] could not write $f: ${e.getMessage}") }
    }
    spark.stop()
  }
}
