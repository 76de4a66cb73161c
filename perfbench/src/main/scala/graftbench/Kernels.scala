package graftbench

import org.apache.spark.sql.SparkSession

/** Per-row cost of the custom Catalyst expressions in `graft.functions`,
  * each timed as a SQL call over cached generated rows, once with code
  * generation and once interpreted. */
object Kernels {
  private val Reps = 3

  /** (kernel, rows it reads, SQL over the cached view `kin`). */
  private val calls = Seq(
    ("long_dot", 200000, "SELECT long_dot(a, b) FROM kin"),
    ("sorted_intersect_size", 200000, "SELECT sorted_intersect_size(a, b) FROM kin"),
    ("minhash_sigs", 5000, "SELECT minhash_sigs(toks) FROM kin WHERE id < 5000"),
    ("shingle_gen", 5000, "SELECT shingle_gen(txt, 5, 1) FROM kin WHERE id < 5000"),
    ("topk_pairs", 200000, "SELECT g, topk_pairs(score, id, 10) FROM kin GROUP BY g"))

  def measure(spark: SparkSession): Map[String, Double] = {
    val in = spark.range(200000).selectExpr(
      "id",
      "id % 1000 AS g",
      "(id * 7919) % 100003 AS score",
      "array_sort(transform(sequence(0, 15), i -> (id * 31 + i * 17) % 64)) AS a",
      "array_sort(transform(sequence(0, 15), i -> (id * 13 + i * 29) % 64)) AS b",
      "transform(sequence(0, 19), i -> concat('t', cast((id + i * 7) % 50 AS string))) AS toks",
      "concat_ws(' ', transform(sequence(0, 19), i -> concat('w', cast((id * i) % 37 AS string)))) AS txt")
      .persist()
    in.count()
    in.createOrReplaceTempView("kin")
    // one untimed call first, so code generation and JIT are not timed
    def time(sql: String): Double = Stats.median((0 to Reps).map { _ =>
      val t0 = System.nanoTime()
      spark.sql(sql).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0).toDouble
    }.tail)
    def mode(suffix: String): Seq[(String, Double)] =
      calls.map { case (k, rows, sql) => s"functions.$k.$suffix" -> time(sql) / rows }
    try {
      val codegen = mode("codegen_ns_row")
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val interp = try mode("interp_ns_row") finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
      (codegen ++ interp).toMap
    } finally {
      spark.catalog.dropTempView("kin")
      in.unpersist(blocking = true)
    }
  }
}
