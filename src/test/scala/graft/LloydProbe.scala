package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Throwaway dev probe (r20): where does the honest per-invocation ANN
  * time go — Lloyd training vs the consumer stages? Mirrors the private
  * VectorOps training pipeline. Run:
  *   Test/runMain graft.LloydProbe /root/testdata/sf0.1 32
  */
object LloydProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = if (args.length > 1) args(1) else "32"
    val spark = Session.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def dot(a: Column, b: Column): Column =
      graft.functions.LongDotProduct.longDot(a, b)
    def emb: DataFrame = graft.sources.Tables.embeddings(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("vec_id"),
        transform(col("embedding"), x => round(x.cast("double") * 1000).cast("long")).as("qv"))
      .withColumn("nrm", dot(col("qv"), col("qv")))
    def assignToLists(e: DataFrame, cents: DataFrame): DataFrame = {
      val centArr = cents.agg(
        sort_array(collect_list(struct(col("cid"), col("cv"), col("cnrm")))).as("cents"))
      def cosTo(c: Column): Column =
        dot(col("qv"), c.getField("cv")) /
          sqrt((col("nrm") * c.getField("cnrm")).cast("double"))
      e.crossJoin(broadcast(centArr))
        .withColumn("best", aggregate(col("cents"),
          struct(lit(-2.0).as("cos"), lit(-1L).as("cid")),
          (acc, c) => {
            val cs = cosTo(c)
            when(cs > acc.getField("cos"),
              struct(cs.as("cos"), c.getField("cid").as("cid"))).otherwise(acc)
          }))
        .select(col("best.cid").as("list_id"), col("vec_id"), col("qv"), col("nrm"))
    }
    def lloydMean(assigned: DataFrame, keys: Seq[String], vecCol: String): DataFrame =
      assigned
        .select(keys.map(col) :+ posexplode(col(vecCol)).as(Seq("pos", "x")): _*)
        .groupBy((keys :+ "pos").map(col): _*)
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .withColumn("v", expr("s div n"))
        .groupBy(keys.map(col): _*)
        .agg(transform(sort_array(collect_list(struct(col("pos"), col("v")))),
          x => x.getField("v")).as("cv"))
        .withColumn("cnrm", dot(col("cv"), col("cv")))
    def t[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"PROBE $tag ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
    }
    // warm up scans/JIT
    emb.write.format("noop").mode("overwrite").save()
    for (round <- 1 to 2) {
      println(s"--- pass $round ---")
      val e = emb
      t("scan-noop") { e.write.format("noop").mode("overwrite").save() }
      val seeds = e.filter(col("vec_id") % 64 === 0)
        .select(col("vec_id").as("cid"), col("qv").as("cv"), col("nrm").as("cnrm"))
      t("assign-1round-noop") {
        assignToLists(e, seeds).write.format("noop").mode("overwrite").save()
      }
      t("mean-1round-noop") {
        lloydMean(assignToLists(e, seeds).select(col("list_id").as("cid"), col("qv")),
          Seq("cid"), "qv").write.format("noop").mode("overwrite").save()
      }
      val trained = (1 to 5).foldLeft(seeds) { (cents, _) =>
        lloydMean(assignToLists(e, cents)
          .select(col("list_id").as("cid"), col("qv")), Seq("cid"), "qv")
      }
      t("train-5rounds-noop") {
        trained.write.format("noop").mode("overwrite").save()
      }
      // (a) cached corpus: the 5 rounds read one columnar copy
      val eC = t("cache-e") { val c = e; c.persist(); c.count(); c }
      val seedsC = eC.filter(col("vec_id") % 64 === 0)
        .select(col("vec_id").as("cid"), col("qv").as("cv"), col("nrm").as("cnrm"))
      val trainedC = (1 to 5).foldLeft(seedsC) { (cents, _) =>
        lloydMean(assignToLists(eC, cents)
          .select(col("list_id").as("cid"), col("qv")), Seq("cid"), "qv")
      }
      t("train-5rounds-cached-e") {
        trainedC.write.format("noop").mode("overwrite").save()
      }
      eC.unpersist(blocking = true)
      // (b) mean step without the 64x posexplode: crude stand-in via
      // per-group collect_list + fold (NOT the real aggregate, just to
      // see what leaving the 64x explode out of the exchange buys;
      // values not compared here)
      def lloydMeanFold(assigned: DataFrame): DataFrame =
        assigned.where(size(col("qv")) > 0)
          .groupBy(col("cid"))
          .agg(count(lit(1)).as("n"),
            aggregate(collect_list(col("qv")),
              typedLit(Seq.fill(64)(0L)),
              (acc, v) => zip_with(acc, v, (a, b) => a + coalesce(b, lit(0L)))).as("s"))
          .select(col("cid"), col("n"), col("s").as("cv"))
      t("mean-1round-fold-noop") {
        lloydMeanFold(assignToLists(e, seeds).select(col("list_id").as("cid"), col("qv")))
          .write.format("noop").mode("overwrite").save()
      }
    }
    spark.stop()
  }
}
