package graft

/** Dev utility: run one named query from SparkEntry and print its plan.
  * Usage: runMain graft.Scratch <queryName> [sfDir] [explainMode]
  */
object Scratch {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q_team_view")
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val mode = if (args.length > 2) args(2) else "formatted"
    val spark = Session.builder("local[4]", "4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.queries(name)(spark, dir)
    df.explain(mode)
    df.show(10, truncate = false)
    println(s"rows: ${df.count()}")
    spark.stop()
  }
}
