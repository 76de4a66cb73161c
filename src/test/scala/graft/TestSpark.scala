package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for every suite. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Session.builder("local[4]", "4").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  val Sf0001 = "/root/testdata/sf0.001"

  /** Assert a fully-executed plan contains no shuffle exchange.
    *
    * NOT a `collect { case e: ShuffleExchangeLike }`: under AQE (default
    * on) the executed tree is wrapped in `AdaptiveSparkPlanExec`, which
    * is a LeafExecNode — a collect on the wrapper sees nothing, so the
    * assertion would pass EXACTLY when a regression introduces a shuffle
    * (shuffle → plan gets AQE-wrapped → collect returns empty). The
    * rendered plan string shows shuffles in both the AQE-final and
    * non-AQE forms. */
  def assertNoShuffle(df: org.apache.spark.sql.DataFrame): Unit = {
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // any Exchange except a broadcast is a shuffle (hash, range, single,
    // round-robin, and whatever partitioning comes next), as is a
    // materialized ShuffleQueryStage. "ReusedExchange" is scrubbed too:
    // a REUSED broadcast renders as `ReusedExchange [...]`, whose text
    // would otherwise false-positive the "Exchange " substring on a
    // legitimately shuffle-free plan (ADVICE r2). A reused SHUFFLE can't
    // hide behind the scrub: its materialization still renders as
    // ShuffleQueryStage, which is asserted independently.
    val scrubbed = plan.replace("BroadcastExchange", "").replace("ReusedExchange", "")
    Seq("Exchange ", "ShuffleQueryStage").foreach { m =>
      assert(!scrubbed.contains(m), s"plan shuffles ($m):\n$plan")
    }
  }
}
