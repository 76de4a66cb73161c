package graft

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Conf-registered listener (zero-arg ctor) so every child session
  * instantiates one — prints per-batch durationMs breakdowns. */
class ProbeListener extends StreamingQueryListener {
  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit =
    println(s"PROBE started ${e.name} t=${System.nanoTime() / 1000000}")
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    println(s"PROBE ${p.name} batch=${p.batchId} rows=${p.numInputRows} " +
      s"durations=${p.durationMs}")
    p.stateOperators.foreach(so =>
      println(s"PROBE-STATE ${p.name} batch=${p.batchId} op=${so.operatorName} " +
        s"updT=${so.allUpdatesTimeMs} rmT=${so.allRemovalsTimeMs} " +
        s"commitT=${so.commitTimeMs} rows=${so.numRowsTotal} mem=${so.memoryUsedBytes}"))
  }
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    println(s"PROBE terminated t=${System.nanoTime() / 1000000}")
}

/** Dev probe: where does a streaming query's wall-clock go?
  * `Test/runMain graft.StreamCostProbe q_stream_ssjoin` */
object StreamCostProbe {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q_stream_ssjoin")
    val dir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Session.builder("local[32]", "32")
      .config("spark.sql.streaming.streamingQueryListeners",
        "graft.ProbeListener")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (i <- 1 to 2) {
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, dir).count()
      println(f"PROBE $name run$i rows=$n total=${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    spark.stop()
  }
}
