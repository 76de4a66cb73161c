package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration every entry point shares (Bench,
  * Verify, Scratch, the test session and the dev probes). Callers add
  * their own extras — listeners, app name — before `getOrCreate()`, and
  * set their log level after. */
object Session {
  def builder(master: String, cores: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cores)
      // full extension suite (functions, optimizer rule, AsOf strategy, ASOF JOIN parser)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // a TIMESTAMP(NANOS) events.ts reads as long, see Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // reference fidelity: BigQuery-era non-ANSI casts (null on garbage), SURVEY §7.4
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
}
