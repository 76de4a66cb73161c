package graft.sources

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.{BasicFileAttributes, FileTime}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parquet table catalog over the driver-generated star schema
  * (see /root/repo/TESTDATA.md). The reference engine's equivalent is the
  * BigQuery-connector scan (`/root/reference/prefect/spark/fifa_spark.py:24-31`);
  * here every table is a plain columnar parquet scan so Catalyst gets
  * filter pushdown + column pruning for free.
  *
  * Every read passes its schema in (`spark.read.schema(s).parquet`), so
  * a warm read starts no Spark job: without a schema, each read runs a
  * one-task schema-inference job over a file whose schema never
  * changes. The schema is inferred once per table path and session
  * parquet inference confs ([[InferenceConfs]]), and re-inferred when
  * the path's file set (name, length, mtime of each file) changes.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    name match {
      case "events" => events(spark, dir)
      case _        => read(spark, s"$dir/$name.parquet")
    }

  /** The session confs that change the schema Spark infers from a
    * parquet footer; part of the schema cache key. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema")

  /** (path, inference conf values) -> (file set, inferred schema): one
    * entry per path and conf, bounded like ManifestSink's fragment
    * cache (clear-all past the cap; a miss only costs one inference). */
  private val SchemaCacheCap = 256
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Seq[Option[String]]), (Seq[(String, Long, FileTime)], StructType)]()

  /** Name, length and mtime of every file under `path` (the file itself
    * for a single-file table). Read from the local filesystem, so it
    * needs no SparkContext (a Connect client session has none); empty
    * when `path` does not list locally, and such a table is never
    * cached — its schema is inferred on every read. */
  private def fileSet(path: String): Seq[(String, Long, FileTime)] =
    try {
      val walk = Files.walk(Paths.get(path))
      try walk.iterator.asScala.filter(f => Files.isRegularFile(f)).map { f =>
        val a = Files.readAttributes(f, classOf[BasicFileAttributes])
        (f.toString, a.size, a.lastModifiedTime)
      }.toVector
      finally walk.close()
    } catch {
      // a file removed mid-walk (a concurrent overwrite) surfaces unchecked
      case _: java.io.IOException | _: java.io.UncheckedIOException => Vector.empty
    }

  private def read(spark: SparkSession, path: String): DataFrame = {
    val key = (path, InferenceConfs.map(spark.conf.getOption))
    val files = fileSet(path)
    val schema = Option(schemaCache.get(key)).collect {
      case (cached, s) if cached == files => s
    }.getOrElse {
      // a missing path fails here with Spark's own error, as before
      val s = spark.read.parquet(path).schema
      if (files.nonEmpty) {
        if (schemaCache.size >= SchemaCacheCap) schemaCache.clear()
        schemaCache.put(key, (files, s))
      }
      s
    }
    spark.read.schema(schema).parquet(path)
  }

  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark's vectorized
    * reader rejects. Read nanos as LongType (legacy conf) and truncate to
    * micros — the same ns→us truncation DuckDB applies, so oracle SQL over
    * the raw file agrees with us.
    *
    * A table loader must not mutate session state, so the conf is
    * REQUIRED at session build time (all shipped entry points —
    * Verify/Bench/Scratch/TestSpark — pin it); fail fast with the fix
    * spelled out rather than silently flipping it here.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    require(
      spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"),
      "events.parquet stores TIMESTAMP(NANOS): set " +
        "spark.sql.legacy.parquet.nanosAsLong=true on the SparkSession " +
        "builder (see graft.Verify for the canonical config)")
    val raw = read(spark, s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // a re-landed corpus may carry naive (isAdjustedToUTC=false)
        // timestamps; the session runs in UTC, so reinterpreting as
        // instants is lossless and keeps unix_micros/window ops working
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
