package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names to dump (iteration
    // aid — the driver always runs the full surface)
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).headOption.map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.subset(only, "Verify arg 3")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_MASTER lets the same main run under a multi-process
    // master — `local-cluster[2,4,4096]` exercises REAL executor JVMs
    // (closure serialization, executor-side classloading of the custom
    // expressions/connector/state stores) that local[N]'s single JVM
    // never does. Requires spark-submit with the packaged jar so
    // executors can load graft classes.
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val spark = Session.builder(master, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // clear orphan CTAS dirs any previous JVM left behind (the in-memory
    // catalog dies with its JVM; warehouse files survive a clean exit too)
    graft.ingest.Materialize.resetBucketTables(spark, sfDir)
    graft.ingest.Materialize.resetCboTables(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
