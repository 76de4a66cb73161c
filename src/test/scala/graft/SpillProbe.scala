package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Dev probe (r20, VERDICT item 6): memory/spill telemetry for the
  * materializeOnce fan-outs (q_substring_dedup, q_lm_score,
  * q_incr_dedup) at a larger SF — confirms the §5 story: the columnar
  * caches spill to disk instead of OOMing, and the cached bytes stay
  * bounded. Run:
  *   Test/runMain graft.SpillProbe /tmp/graft_sf0.3 32
  */
object SpillProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_sf0.3")
    val cpus = if (args.length > 1) args(1) else "32"
    val spark = Session.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    @volatile var memSpill = 0L
    @volatile var diskSpill = 0L
    @volatile var peakExec = 0L
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        memSpill += m.memoryBytesSpilled
        diskSpill += m.diskBytesSpilled
        peakExec = math.max(peakExec, m.peakExecutionMemory)
      }
    })
    for (q <- Seq("q_substring_dedup", "q_lm_score", "q_incr_dedup")) {
      memSpill = 0L; diskSpill = 0L; peakExec = 0L
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // let listener events drain
      val storage = spark.sparkContext.getRDDStorageInfo
        .map(i => (i.memSize, i.diskSize)).foldLeft((0L, 0L)) {
          case ((m, d), (im, id)) => (m + im, d + id)
        }
      println(f"SPILL $q wall=$wall%.2fs memSpill=${memSpill / 1e6}%.1fMB " +
        f"diskSpill=${diskSpill / 1e6}%.1fMB peakExecMem=${peakExec / 1e6}%.1fMB " +
        f"cachedMem=${storage._1 / 1e6}%.1fMB cachedDisk=${storage._2 / 1e6}%.1fMB")
    }
    spark.stop()
  }
}
