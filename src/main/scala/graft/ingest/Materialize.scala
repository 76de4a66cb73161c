package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's ingest/materialization stage re-expressed as Spark
  * stages (SURVEY.md §2.1 S3+S4):
  *
  *   CSV (schema-less) → external-table scan → CTAS with explicit casts,
  *   a data-quality filter, and a date-partitioned columnar write
  *   (`/root/reference/prefect/flows/etl_kaggle_to_big_query.py:65-163`).
  *
  * Cast semantics (SURVEY.md §7.4): the engine pins non-ANSI casts
  * (`spark.sql.ansi.enabled=false`; Spark 4 defaults to ANSI). Divergence
  * from BigQuery, documented and tested in IngestSpec: BigQuery CAST
  * errors on any malformed cell; Spark non-ANSI nulls non-numeric
  * garbage and TRUNCATES float-like strings ("1234.5" → 1234, the
  * value_eur case).
  */
object Materialize {

  /** Per-JVM tmp-path component (pid): keeps concurrent processes'
    * scratch output directories disjoint. */
  private val ProcessTag: String = java.lang.ProcessHandle.current().pid().toString

  /** A per-process tmp scratch dir that is DELETED when this JVM exits:
    * pid-suffixed names never collide across concurrent processes, and
    * the shutdown hook keeps a day of per-commit iteration (every sbt
    * run is a fresh pid) from strewing orphaned dataset copies over
    * java.io.tmpdir. */
  private val registeredScratch = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[graft] def processScratchDir(name: String): String = {
    val f = new java.io.File(sys.props("java.io.tmpdir"), s"${name}_$ProcessTag")
    if (registeredScratch.add(f.toString)) // one hook per dir, not per call
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        graft.util.Fs.deleteRecursively(f.toPath)))
    f.toString
  }

  /** [[processScratchDir]] scoped to one sf directory: `<prefix>_<tag>`,
    * where the tag is the hex hash of `dir`, so two scales never share
    * an output directory. */
  private[graft] def processScratchDir(prefix: String, dir: String): String =
    processScratchDir(s"${prefix}_${dirTag(dir)}")

  /** Hex hash of an sf directory: the suffix of every dir-scoped scratch
    * path and CTAS table name. */
  private def dirTag(dir: String): String = java.lang.Integer.toHexString(dir.hashCode)

  /** A fresh, empty `snap` namespace root for one demo over `dir`: the
    * previous run's tables are deleted, then the catalog is registered
    * on `spark` with this root and each (table → DDL) read schema in
    * `schemas`. Registration sets confs only, so it may precede the
    * demo's first write. */
  private[graft] def snapFixture(spark: SparkSession, prefix: String, dir: String,
      schemas: (String, String)*): String = {
    val root = processScratchDir(prefix, dir)
    graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(root))
    graft.sources.GraftCatalog.register(spark, dir, Some(root), schemas.toMap)
    root
  }

  /** The corpus languages, in the order the per-language demos land them. */
  private val Langs = Seq("de", "en", "es", "fr", "zh")

  /** Read schema of the (doc_id, lang, n_chars) tables the demos land
    * from [[cleanDocs]]. */
  private val DocsDdl = "doc_id LONG, lang STRING, n_chars LONG"

  /** Materialize an intermediate DataFrame ONCE per invocation — the
    * shared-subtree fix for self-joins whose two sides would otherwise
    * recompute the same expensive upstream concurrently (both sides'
    * map stages race the first computation, so a lazy cache still runs
    * the subtree twice in parallel). Three-step contract:
    *
    *  1. `unpersist(blocking)` FIRST: the cache manager matches entries
    *     by plan equality, so without this a later identical invocation
    *     (e.g. a bench rep) would silently reuse the previous
    *     invocation's result instead of recomputing — result-memoization
    *     the bench contract forbids. Dropping any plan-matched stale
    *     entry keeps every invocation honest; on a fresh plan it is a
    *     no-op. Blocking, so a structural-pin measurement never sees a
    *     half-dropped cache.
    *  2. `persist()`: columnar in-memory (spills to disk), real
    *     statistics for downstream broadcast sizing.
    *  3. `count()`: EAGER materialization before the plan branches —
    *     the fix for the concurrent first-computation race.
    *
    * Chosen over scratch-parquet (the substringDedup idiom) for
    * CPU-heavy narrow projections: measured at sf0.1, the parquet
    * write+read round-trip costs more than it saves on inputs this
    * size, while the in-memory columnar cache is near-free to re-read;
    * at 100 TB the persist spills per-executor and stays node-local. */
  private[graft] def materializeOnce(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    df.unpersist(blocking = true)
    df.persist()
    df.count()
    df
  }

  /** Live handle per tag: the previous invocation's frame is released BY
    * HANDLE, not by plan equality. Plan-matched unpersist (step 1 above)
    * silently no-ops on plans that never canonicalize equal — e.g. a
    * mapPartitions whose lambda is fresh per invocation (phashNearDup) —
    * leaving one dead, unreferencable cache entry per invocation for the
    * session's lifetime. The registry caps that at ONE live frame per
    * tag however often a query re-runs in a JVM. */
  private val matRegistry =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.DataFrame]()

  /** Tagged [[materializeOnce]]: same eager-materialization contract,
    * plus handle-based release of the previous frame under this tag. */
  private[graft] def materializeOnce(tag: String,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    Option(matRegistry.put(tag, df)).foreach(_.unpersist(blocking = true))
    materializeOnce(df)
  }

  /** Run independent Spark ACTIONS concurrently (guide §2.6 — the
    * scheduler happily runs several jobs at once; they are only
    * sequential because driver code calls them sequentially): one
    * job's task tail back-fills cores the other's stages free. Only
    * for actions with NO data or ordering dependency (separate output
    * tables/dirs). Every job a closure starts carries a job tag unique
    * to this call (`addJobTag`, so the caller's job group is kept). On
    * the FIRST failure the pool is interrupted and the tag's jobs are
    * cancelled — again every [[CancelPollMs]] until every sibling has
    * returned, so a sibling that goes on to start its next job (a
    * multi-job write, ANALYZE after a write) sees it cancelled too —
    * and only then does the exception propagate, unwrapped: a failed
    * call leaves no sibling running. The wait is bounded by
    * [[CancelWaitS]]; driver-side work that ignores interrupts past
    * that bound may still be running when the exception surfaces.
    * No closures: nothing runs. Appends to one manifest table qualify
    * too: their commits serialize themselves ([[landSlices]]). */
  private[graft] def inParallel(spark: SparkSession)(fs: (() => Unit)*): Unit = {
    if (fs.isEmpty) return
    val sc = spark.sparkContext
    val tag = s"graft-inParallel-${java.util.UUID.randomUUID()}"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(fs.size)
    try {
      val done = new java.util.concurrent.ExecutorCompletionService[Unit](pool)
      fs.foreach(f => done.submit(() => { sc.addJobTag(tag); f() }))
      fs.foreach { _ =>
        try done.take().get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            pool.shutdownNow()
            val deadline = System.nanoTime() + CancelWaitS * 1000L * 1000 * 1000
            do sc.cancelJobsWithTag(tag)
            while (!pool.awaitTermination(CancelPollMs,
                java.util.concurrent.TimeUnit.MILLISECONDS) &&
              System.nanoTime() < deadline)
            sc.cancelJobsWithTag(tag)
            throw e.getCause
        }
      }
    } finally pool.shutdown()
  }

  /** [[inParallel]]'s re-cancel interval and bound on the wait for the
    * siblings after a failure. */
  private val CancelPollMs = 50L
  private val CancelWaitS = 60L

  /** The documents' (doc_id, lang, n_chars), rows with a null in any
    * of them dropped: the source the snap demos land and query. */
  private def cleanDocs(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.documents(spark, dir)
      .filter(col("doc_id").isNotNull && col("lang").isNotNull &&
        col("n_chars").isNotNull)
      .select(col("doc_id"), col("lang"), col("n_chars"))

  /** Append each slice as its own one-file (`coalesce(1)`) epoch of the
    * ManifestSink table at `log`, all at once through [[inParallel]]:
    * each append is a one-task job, so run one after another they leave
    * all but one core idle. The link(2) epoch claim serializes the
    * racing commits, so epoch ids follow commit order, not slice order
    * — only for callers that never name an epoch id. */
  private[graft] def landSlices(spark: SparkSession, log: String,
      slices: Seq[DataFrame]): Unit =
    inParallel(spark)(slices.map(slice => () =>
      slice.coalesce(1).write.format("graft.sources.ManifestSink")
        .option("path", log).mode("append").save()): _*)

  /** FIFA teams source columns (from the reference's cast list,
    * `etl_kaggle_to_big_query.py:91-107`) → target types. */
  val TeamCasts: Seq[(String, DataType)] = Seq(
    "team_id" -> IntegerType, "fifa_version" -> IntegerType,
    "fifa_update" -> IntegerType, "fifa_update_date" -> DateType,
    "team_name" -> StringType, "league_id" -> IntegerType,
    "league_name" -> StringType, "league_level" -> IntegerType,
    "nationality_id" -> IntegerType, "nationality_name" -> StringType,
    "overall" -> IntegerType, "attack" -> IntegerType,
    "midfield" -> IntegerType, "defence" -> IntegerType,
    "international_prestige" -> IntegerType, "domestic_prestige" -> IntegerType)

  /** FIFA players source columns (`etl_kaggle_to_big_query.py:140-159`). */
  val PlayerCasts: Seq[(String, DataType)] = Seq(
    "player_id" -> IntegerType, "fifa_version" -> IntegerType,
    "fifa_update" -> IntegerType, "fifa_update_date" -> DateType,
    "short_name" -> StringType, "overall" -> IntegerType,
    "potential" -> IntegerType, "value_eur" -> IntegerType,
    "wage_eur" -> IntegerType, "age" -> IntegerType,
    "dob" -> DateType, "height_cm" -> IntegerType,
    "weight_kg" -> IntegerType, "club_team_id" -> IntegerType,
    "club_position" -> StringType, "nationality_id" -> IntegerType,
    "nationality_name" -> StringType, "preferred_foot" -> StringType,
    "international_reputation" -> IntegerType)

  /** External-table analog: header CSV, every column untyped string
    * (schema imposed later by the cast projection, like the CTAS). */
  def readCsv(spark: SparkSession, path: String, columns: Seq[String]): DataFrame =
    spark.read
      .option("header", "true")
      .schema(StructType(columns.map(StructField(_, StringType, nullable = true))))
      .csv(path)

  /** CTAS cast projection (P1+P2): explicit column list, explicit casts,
    * non-ANSI (malformed → NULL). */
  def castProjection(df: DataFrame, casts: Seq[(String, DataType)]): DataFrame =
    df.select(casts.map { case (name, t) => col(name).cast(t).as(name) }: _*)

  /** Full teams materialization: casts + the league_id != 78 filter (P4). */
  def materializeTeams(raw: DataFrame): DataFrame =
    castProjection(raw, TeamCasts).filter(col("league_id") =!= 78)

  /** Full players materialization: casts + player_id IS NOT NULL (P5). */
  def materializePlayers(raw: DataFrame): DataFrame =
    castProjection(raw, PlayerCasts).filter(col("player_id").isNotNull)

  /** Checked-in malformed-CSV fixture exercising every §7.4 cast landmine:
    * float-like ints ("1234.5" → 1234, "-7.9" → -7: truncation toward
    * zero, NOT BigQuery's error), garbage → NULL ("oops", "abc",
    * "not-a-date"), empty → NULL, a quoted comma field, and a NULL
    * player_id row that the quality filter drops. */
  val MalformedPlayersCsv = "/root/repo/data/players_malformed.csv"

  /** Driver-checkable ingest query (SURVEY §7.3 item 4): the full
    * CSV → external scan → cast projection → filter path over the
    * malformed fixture. Ignores `dir` — ingest reads a landed CSV file,
    * not the star schema. */
  def playersFromMalformedCsv(spark: SparkSession, dir: String): DataFrame =
    materializePlayers(readCsv(spark, MalformedPlayersCsv, PlayerCasts.map(_._1)))

  /** Checked-in JSONL fixture: nested object, array, explicit-null and
    * MISSING fields (missing ≡ null under schema-on-read in both
    * engines). */
  val EventsJsonl = "/root/repo/data/events_sample.jsonl"

  /** Schema imposed on the JSONL scan — schema-on-read, like the CSV
    * external table, but with nested types. */
  val EventJsonSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("kind", StringType),
    StructField("amount", DoubleType),
    StructField("tags", ArrayType(StringType)),
    StructField("meta", StructType(Seq(
      StructField("k", LongType), StructField("source", StringType))))))

  /** JSONL external scan + nested flatten (S3-analog for the third
    * source format after parquet and CSV): explicit schema, dotted-path
    * struct extraction, exact cents, and a null-guarded array size
    * (legacy `size(NULL)` is -1, the oracle's `len(NULL)` is NULL).
    * Ignores `dir` — reads the landed fixture file. */
  def eventsFromJsonl(spark: SparkSession, dir: String): DataFrame =
    flattenJson(spark.read.schema(EventJsonSchema).json(EventsJsonl))

  private def flattenJson(df: DataFrame): DataFrame =
    df.select(col("id"), col("kind"),
      graft.functions.Exact.cents(col("amount")).as("amount_cents"),
      when(col("tags").isNotNull, size(col("tags")).cast("long")).as("n_tags"),
      col("meta.k").as("meta_k"), col("meta.source").as("meta_source"))

  /** The same fixture plus a syntactically corrupt line. */
  val EventsCorruptJsonl = "/root/repo/data/events_corrupt.jsonl"

  /** Malformed-line POLICY for JSON sources: Spark's DROPMALFORMED drops
    * the unparseable line; DuckDB's `ignore_errors` nulls it instead —
    * the engines reconcile through the same null-id quality filter the
    * CSV path uses, so the oracle stays exact. */
  def eventsFromCorruptJsonl(spark: SparkSession, dir: String): DataFrame =
    flattenJson(spark.read.schema(EventJsonSchema)
        .option("mode", "DROPMALFORMED").json(EventsCorruptJsonl))
      .filter(col("id").isNotNull)

  /** Partitioned columnar write — the `PARTITION BY fifa_update_date`
    * analog. At scale this is what enables partition pruning downstream
    * (`PruneFileSourcePartitions`). */
  def writePartitioned(df: DataFrame, out: String, partitionCol: String): Unit =
    df.write.mode("overwrite").partitionBy(partitionCol).parquet(out)

  /** Partitioned-write round trip under the driver's hard signal — the
    * missing half of the S4 pair (its sibling is [[bucketedJoin]]):
    * orders are written partitioned on o_orderpriority, read back, and
    * aggregated WITH a partition-column filter. A physical-layout
    * variant must not change results, so the oracle is the plain SQL
    * over the original table; the read-back scan prunes to the two
    * matching partitions (IngestSpec asserts PartitionFilters on the
    * plan — at 100 TB the pruning, not the rewrite, is the point).
    * The output dir is sfDir-scoped so scales never read each other. */
  def partitionedRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    // per-process component: two JVMs on the same sfDir (Bench ∥ Verify)
    // must not race overwrite-vs-read on one directory, and distinct dirs
    // must not collide via hashCode alone; deleted at JVM exit
    val out = processScratchDir("graft_part_orders", dir)
    writePartitioned(graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderpriority")),
      out, "o_orderpriority")
    spark.read.parquet(out)
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(graft.functions.Exact.cents(col("o_totalprice"))).as("revenue_cents"),
        countDistinct(col("o_custkey")).as("n_cust"))
  }

  /** Dynamic partition pruning over the partitioned layout — the
    * query-time half of the reference's `PARTITION BY fifa_update_date`
    * story (etl_kaggle_to_big_query.py:89,138): the static case
    * ([[partitionedRoundTrip]]) prunes on a literal predicate, but a
    * star-schema fact is filtered through a DIM — here customer is
    * partitioned by c_nationkey and the only selective predicate lives
    * on nation (`n_regionkey = 1`), so the fact scan cannot be pruned at
    * plan time. Spark's DPP closes that gap: the broadcast exchange of
    * the dim side is reused as an IN-subquery partition filter
    * (`dynamicpruningexpression` in the scan's PartitionFilters), so the
    * fact read touches only the ~1/5 of partitions whose nation survives
    * — at 100 TB the difference between scanning one region's files and
    * all of them. IngestSpec pins both the plan shape and the
    * partitions-read metric. Oracle = the plain join over the original
    * tables (a physical-layout + pruning variant must be value-
    * invisible). */
  def dppJoin(spark: SparkSession, dir: String): DataFrame = {
    val out = processScratchDir("graft_dpp_cust", dir)
    writePartitioned(graft.sources.Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_acctbal"), col("c_nationkey")),
      out, "c_nationkey")
    val fact = spark.read.parquet(out)
    val dim = graft.sources.Tables.nation(spark, dir)
      .filter(col("n_regionkey") === 1L)
    fact.join(dim, fact("c_nationkey") === dim("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n_cust"),
        sum(graft.functions.Exact.cents(col("c_acctbal"))).as("acctbal_cents"))
  }

  /** ORC round trip — the second columnar format next to parquet (a
    * lake migrates formats without changing results): lineitem columns
    * written as ORC, read back with a pushable filter, aggregated with
    * exact cents. The oracle is the plain SQL over the ORIGINAL table —
    * a storage-format variant must be value-invisible; IngestSpec
    * asserts the ORC scan pushes the filter (at 100 TB the format's
    * predicate pushdown + column pruning carry the same scan economics
    * as parquet's). */
  def orcRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val out = processScratchDir("graft_orc_li", dir)
    graft.sources.Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linestatus"), col("l_quantity"),
        col("l_extendedprice"))
      .write.mode("overwrite").orc(out)
    spark.read.orc(out)
      .filter(col("l_linestatus") === "F")
      .groupBy("l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum(graft.functions.Exact.cents(col("l_extendedprice"))).as("price_cents"),
        sum(graft.functions.Exact.cents(col("l_quantity"))).as("qty_cents"),
        countDistinct(col("l_orderkey")).as("n_orders"))
  }

  /** AVRO round trip — the ROW-oriented interchange format next to the
    * two columnar ones (the Kafka/schema-registry wire format; a lake's
    * landing zone is often avro before columnar compaction): orders
    * columns written as avro, read back, aggregated with exact cents.
    * Avro carries its writer schema in-file, so the read-back needs no
    * user schema; being row-oriented it has NO predicate pushdown or
    * column pruning at the storage layer — the engine filters after
    * decode, which is exactly why a 100 TB lake compacts avro landings
    * into parquet/ORC before analytics (the scaladoc IS the trade-off
    * note). Oracle: plain SQL over the ORIGINAL table — a storage
    * format must be value-invisible.
    *
    * Addressed by CLASS name: this Spark distribution ships the avro
    * format classes inside spark-sql but not avro's
    * `DataSourceRegister` service entry, so the short alias "avro"
    * doesn't resolve — the class-name form is the documented DSv1
    * fallback and uses the identical code path. */
  def avroRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val out = processScratchDir("graft_avro_ord", dir)
    graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
      .write.mode("overwrite")
      .format("org.apache.spark.sql.avro.AvroFileFormat").save(out)
    spark.read.format("org.apache.spark.sql.avro.AvroFileFormat").load(out)
      .filter(col("o_orderstatus") === "F")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(graft.functions.Exact.cents(col("o_totalprice"))).as("price_cents"),
        countDistinct(col("o_custkey")).as("n_cust"))
  }

  /** XML round trip — the DOCUMENT interchange format (feeds, EDI,
    * legacy enterprise exports land as XML): nation written as XML
    * (rowTag-framed), read back under an explicit schema (XML is
    * schema-on-read text — without one everything lands as strings),
    * aggregated per region. Row-oriented text: no pushdown, no
    * pruning, decode-then-filter — same landing-zone economics as
    * avro, compact to columnar before analytics. Oracle: plain SQL
    * over the ORIGINAL table. */
  def xmlRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val out = processScratchDir("graft_xml_nat", dir)
    graft.sources.Tables.nation(spark, dir)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .write.mode("overwrite").format("xml")
      .option("rootTag", "nations").option("rowTag", "nation").save(out)
    spark.read.format("xml").option("rowTag", "nation")
      .schema(StructType(Seq(
        StructField("n_nationkey", LongType),
        StructField("n_name", StringType),
        StructField("n_regionkey", LongType))))
      .load(out)
      .groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n_nations"),
        min(col("n_name")).as("first_nation"),
        sum(col("n_nationkey")).as("key_sum"))
  }

  /** STORED VARIANT with extraction pushdown — the storage half of
    * [[graft.ops.EventOps.variantExtract]] (q_variant parses JSON
    * strings at query time; COVERAGE.md names this as its next step):
    * `events.props` lands in parquet AS a VARIANT column, written
    * SHREDDED (`spark.sql.variant.writeShredding.enabled` +
    * `inferShreddingSchema` — the writer samples the data and stores
    * typed subcolumns alongside the binary), and the read-back's typed
    * `variant_get` paths are rewritten INTO the scan by Spark's
    * `PushVariantIntoScan` rule (`spark.sql.variant.pushVariantIntoScan`)
    * — the scan reads a struct of the requested fields instead of
    * materializing the full variant binary per row (IngestSpec pins the
    * rewritten scan schema and value parity with the rule off). At
    * 100 TB this is the semi-structured-scan economics: a shredded
    * VARIANT column serves `$.k` from a typed parquet subcolumn with
    * min/max stats and never re-parses JSON, while the query keeps
    * schema-on-read flexibility. Conf scoping: child session — the
    * rewrite flags must not leak into the caller's planner. Oracle:
    * DuckDB JSON extraction over the ORIGINAL strings (storage format
    * must be value-invisible), same shape as q_variant. */
  def variantStore(parent: SparkSession, dir: String): DataFrame = {
    val spark = parent.newSession()
    spark.conf.set("spark.sql.variant.writeShredding.enabled", "true")
    spark.conf.set("spark.sql.variant.inferShreddingSchema", "true")
    spark.conf.set("spark.sql.variant.pushVariantIntoScan", "true")
    val out = processScratchDir("graft_var_ev", dir)
    graft.sources.Tables.events(spark, dir)
      .filter(col("props").isNotNull)
      .select(col("event_type"), parse_json(col("props")).as("v"))
      .write.mode("overwrite").parquet(out)
    variantStoreRead(spark, out)
  }

  /** The read-back half of [[variantStore]], split out so IngestSpec can
    * pin its plan under both rule settings on an existing directory. */
  private[graft] def variantStoreRead(spark: SparkSession, out: String): DataFrame =
    spark.read.parquet(out)
      .select(col("event_type"),
        expr("variant_get(v, '$.k', 'bigint')").as("k"),
        expr("try_variant_get(v, '$.missing', 'bigint')").as("m"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        count(col("m")).as("n_miss_hits"))

  /** Merge rule for the event-type aggregate MV: partials from the
    * stored view and a fresh delta combine by their aggregates' own
    * merge functions (count → sum, sum → sum, max → max) — the
    * algebraic-aggregate property that makes incremental maintenance
    * sound. Kept public so maintenance can run cycle after cycle
    * (IngestSpec drives two refresh cycles against a full recompute). */
  def mergeAggPartials(mv: DataFrame, delta: DataFrame): DataFrame =
    mv.unionByName(delta)
      .groupBy("event_type")
      .agg(sum(col("n")).as("n"),
        sum(col("sum_cents")).as("sum_cents"),
        max(col("max_cents")).as("max_cents"))

  /** Incremental MATERIALIZED-VIEW refresh — the maintenance operator
    * that keeps a standing aggregate current without recomputing it:
    * the stored view holds per-event_type partials over the base half
    * of the table (split at the integer time midpoint, the
    * `(min+max) div 2` discipline; null-timestamp rows ride the delta),
    * and a refresh aggregates ONLY the delta and merges it in via
    * [[mergeAggPartials]]. Refresh cost is O(delta) + O(|view|) — at
    * 100 TB the difference between re-scanning the table per refresh
    * and touching just the new partition. The oracle is the full-table
    * aggregate: maintenance must be result-invisible. */
  def incrementalAggRefresh(spark: SparkSession, dir: String): DataFrame = {
    val evs = graft.sources.Tables.events(spark, dir)
      .select(col("event_type"), unix_micros(col("ts")).as("ts_us"),
        graft.functions.Exact.cents(col("value")).as("c"))
    val bounds = evs.agg(
      expr("(min(ts_us) + max(ts_us)) div 2").as("split_us"))
    val halved = evs.crossJoin(bounds)
    def partials(df: DataFrame): DataFrame = df
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("c")).as("sum_cents"),
        max(col("c")).as("max_cents"))
    val mv = processScratchDir("graft_mv_evagg", dir)
    partials(halved.filter(col("ts_us") <= col("split_us")))
      .write.mode("overwrite").parquet(mv)
    mergeAggPartials(spark.read.parquet(mv),
      partials(halved.filter(col("ts_us") > col("split_us") || col("ts_us").isNull)))
  }

  /** Small-file COMPACTION round trip — the lake-maintenance operator
    * that rescues a landing zone from death-by-tiny-files: events
    * scattered across 64 round-robin part files are rewritten as ≤ 8
    * range-partitioned files SORTED by event time, so every compacted
    * file carries a disjoint ts envelope (parquet min/max stats turn
    * time filters into file skips — at 100 TB the scan economics of a
    * time-series table live or die on this layout). A layout operator
    * must be value-invisible, so the oracle aggregates the ORIGINAL
    * table; IngestSpec proves the file count drops 64 → ≤ 8 and the
    * per-file envelopes are pairwise disjoint. */
  def compactRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val scatter = processScratchDir("graft_scatter_ev", dir)
    val compact = processScratchDir("graft_compact_ev", dir)
    graft.sources.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      .repartition(64)
      .write.mode("overwrite").parquet(scatter)
    spark.read.parquet(scatter)
      .repartitionByRange(8, col("ts"))
      .sortWithinPartitions(col("ts"))
      .write.mode("overwrite").parquet(compact)
    spark.read.parquet(compact)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(graft.functions.Exact.cents(col("value"))).as("value_cents"),
        min(unix_micros(col("ts"))).as("min_ts_us"),
        max(unix_micros(col("ts"))).as("max_ts_us"))
  }

  /** SCHEMA EVOLUTION read — the lake reality that files written before
    * a column existed must coexist with files written after: generation
    * 1 (even order keys) lacks `o_orderpriority`, generation 2 carries
    * it; a `mergeSchema` read unions the footers and null-fills the
    * missing column for old files, entirely at scan time — no rewrite
    * of the old generation (at 100 TB, rewriting history for every
    * added column is the non-starter this replaces). The oracle
    * reconstructs the same view from the original table with a CASE on
    * the generation split. */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val out = processScratchDir("graft_schemaevo", dir)
    val orders = graft.sources.Tables.orders(spark, dir)
      .filter(col("o_orderkey").isNotNull)
    // the two generation writes target disjoint dirs — concurrent (§2.6)
    inParallel(spark)(
      () => orders.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$out/gen1"),
      () => orders.filter(pmod(col("o_orderkey"), lit(2)) =!= 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$out/gen2"))
    spark.read.option("mergeSchema", "true")
      .parquet(s"$out/gen1", s"$out/gen2")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(graft.functions.Exact.cents(col("o_totalprice"))).as("revenue_cents"),
        count(col("o_orderpriority")).as("n_with_priority"))
  }

  /** RETENTION by partition drop — the delete path that never rewrites
    * a row: events land day-partitioned, and expiring everything before
    * the corpus-midpoint day is a METADATA operation (unlink the
    * partition directories, O(dropped partitions)) instead of a
    * row-level delete (O(table) read+rewrite). Null-timestamp rows live
    * in the default partition and are retained — retention policies
    * key on a time the row must actually have. The oracle applies the
    * same cutoff as a WHERE over the original table; IngestSpec proves
    * dropped dirs are gone and SURVIVING files are byte-identical
    * (nothing was rewritten). */
  def retentionDelete(spark: SparkSession, dir: String): DataFrame = {
    val out = processScratchDir("graft_retention", dir)
    val evs = graft.sources.Tables.events(spark, dir)
    val dayed = evs.withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    // cutoff day from the same (min+max) div 2 midpoint discipline as
    // the drift/stream splits — a 1-row bounds aggregate; collecting ONE
    // date literal to plan a metadata delete is bounded driver work.
    // The aggregate reads the SOURCE, not the partitioned copy, so it
    // runs concurrently with the write (§2.6)
    var cutoff: Option[String] = None
    inParallel(spark)(
      () => dayed.write.mode("overwrite").partitionBy("day").parquet(out),
      () => cutoff = Option(evs
        .agg(expr("(unix_micros(min(ts)) + unix_micros(max(ts))) div 2").as("m"))
        .select(date_format(timestamp_micros(col("m")), "yyyy-MM-dd"))
        .collect().head.getString(0))) // None ⇔ no timestamped rows: keep all
    cutoff.foreach(retentionPrune(out, _))
    // explicit schema: an EMPTY partitioned write creates no part files
    // (only _SUCCESS), and a schema-less read of that dir would throw
    // instead of returning the empty result the oracle produces
    spark.read.schema(dayed.schema).parquet(out)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(graft.functions.Exact.cents(col("value"))).as("value_cents"))
  }

  /** The metadata half of [[retentionDelete]]: unlink day partitions
    * strictly before `cutoffDay` (ISO strings order like dates). Never
    * touches surviving partitions' files — IngestSpec proves bytes are
    * identical across a prune. The default (null-day) partition is
    * always retained. */
  def retentionPrune(out: String, cutoffDay: String): Unit =
    for (f <- new java.io.File(out).listFiles()) {
      val n = f.getName
      if (n.startsWith("day=") && !n.endsWith("__HIVE_DEFAULT_PARTITION__")
          && n.stripPrefix("day=") < cutoffDay)
        graft.util.Fs.deleteRecursively(f.toPath)
    }

  /** 16-bit Morton (Z-order) code of two 8-bit dimension buckets — the
    * multi-dimensional clustering key: sorting by z keeps BOTH source
    * dimensions range-bounded within every file, which is what makes
    * min/max data skipping work for filters on either dimension. */
  def morton16(zx: org.apache.spark.sql.Column, zy: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until 8).map { b =>
      shiftleft(shiftright(zx, b).bitwiseAND(lit(1L)), 2 * b + 1) +
        shiftleft(shiftright(zy, b).bitwiseAND(lit(1L)), 2 * b)
    }.reduce(_ + _)

  /** Z-order clustered write: dims scaled to 8-bit buckets against the
    * given maxima (collected once by the caller — table stats in a real
    * deployment; threading a maxima SUBTREE through both the write and
    * the read-back would re-run the aggregation per use), rows
    * range-partitioned + sorted by the interleaved code. `nFiles`
    * bounds the file count (one sorted file per range). */
  def zorderWrite(df: DataFrame, keyCol: String, valCol: String,
      maxKey: Long, maxVal: Long, nFiles: Int, out: String): Unit = {
    df.withColumn("zx", graft.functions.Exact.idiv(col(keyCol) * 256, lit(maxKey + 1)))
      .withColumn("zy", graft.functions.Exact.idiv(col(valCol) * 256, lit(maxVal + 1)))
      .withColumn("z", morton16(col("zx"), col("zy")))
      .repartitionByRange(nFiles, col("z"))
      .sortWithinPartitions("z")
      .drop("zx", "zy", "z")
      .write.mode("overwrite").parquet(out)
  }

  /** Z-order round trip under the driver's hard signal — the data-LAYOUT
    * operator for multi-dimensional scans: orders are rewritten clustered
    * by the Morton interleave of (customer key, price), then a 2-d box
    * query (both dims ≤ their max/4) runs over the read-back. A layout
    * variant must not change results, so the oracle is the plain box SQL
    * over the original table; the VALUE of the layout is that every file
    * is range-bounded in BOTH dims, so the box prunes most files via
    * parquet min/max stats where a single-dim sort prunes only its own
    * dim (IngestSpec proves the per-file envelopes vs an unsorted
    * layout). At 100 TB this is the difference between scanning the
    * whole table and the O(box) corner of it. */
  def zorderBox(spark: SparkSession, dir: String): DataFrame = {
    val out = processScratchDir("graft_zorder", dir)
    val base = graft.sources.Tables.orders(spark, dir)
      .filter(col("o_custkey").isNotNull && col("o_totalprice").isNotNull)
      .select(col("o_orderkey"), col("o_custkey"),
        graft.functions.Exact.cents(col("o_totalprice")).as("cents"))
    // the 2-scalar stats row is collected ONCE and flows as literals into
    // both the layout write and the box bounds (a maxima subtree in each
    // plan would re-run the same scan+aggregate per use)
    val mxRow = base.agg(max(col("o_custkey")), max(col("cents"))).collect()(0)
    // all-null input (possible on a degraded corpus) has no layout to
    // build; an empty read-back aggregates to the oracle's same
    // (0, NULL, 0) row
    val (mk, mc) =
      if (mxRow.isNullAt(0)) (0L, 0L)
      else (mxRow.getLong(0), mxRow.getLong(1))
    zorderWrite(base, "o_custkey", "cents", mk, mc, 8, out)
    spark.read.parquet(out)
      .filter(col("o_custkey") <= lit(mk / 4) && col("cents") <= lit(mc / 4))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("cents")).as("cents_sum"),
        countDistinct(col("o_custkey")).as("n_cust"))
  }

  /** Batch CDC MERGE — apply a changeset (updates, deletes, inserts) to
    * a keyed snapshot, the `MERGE INTO` semantics every lakehouse
    * maintenance job needs (the batch sibling of the streaming upsert
    * sink). The changeset here is derived deterministically from the
    * snapshot itself (keys ≡ 0 mod 10 get a 5-unit price bump, ≡ 1 are
    * deleted, ≡ 2 spawn an insert under a fresh key past the current
    * max) so the oracle can rebuild the identical changeset in SQL;
    * a real deployment feeds a landed change table instead — the merge
    * plan is the same.
    *
    * Scale shape: one anti join (deletes) + one left join (updates) on
    * the snapshot key, then a union with the inserts — all key-
    * partitioned shuffles AQE can co-plan; nothing touches the driver.
    * Rows whose key never appears in the changeset flow through
    * untouched — MERGE moves O(changes), not O(table), which is the
    * whole point at 100 TB. */
  def cdcMerge(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.sources.Tables.orders(spark, dir)
      .filter(col("o_orderkey").isNotNull && col("o_totalprice").isNotNull)
      .select(col("o_orderkey"),
        graft.functions.Exact.cents(col("o_totalprice")).as("price_c"))
    val mx = base.agg(max(col("o_orderkey")).as("mk"))
    val updates = base.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), (col("price_c") + 500L).as("new_price"))
    val deletes = base.filter(col("o_orderkey") % 10 === 1)
      .select(col("o_orderkey"))
    val inserts = base.filter(col("o_orderkey") % 10 === 2)
      .crossJoin(broadcast(mx))
      .select((col("o_orderkey") + col("mk") + 1L).as("o_orderkey"),
        col("price_c"))
    base
      .join(deletes, Seq("o_orderkey"), "left_anti")
      .join(updates, Seq("o_orderkey"), "left")
      .select(col("o_orderkey"),
        coalesce(col("new_price"), col("price_c")).as("price_c"))
      .unionByName(inserts)
  }

  /** Bucketed write — the `CLUSTER BY` analog: co-locates join keys so a
    * downstream join on the bucket column needs no shuffle. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String, n: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(n, bucketCol).sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** The sfDir-scoped CTAS table names [[bucketedJoin]] writes (scoped
    * so different scales never read each other's buckets). */
  def bucketTableNames(dir: String): (String, String) =
    (s"graft_bkt_orders_${dirTag(dir)}", s"graft_bkt_customer_${dirTag(dir)}")

  /** Harness-side reset for [[bucketedJoin]]'s CTAS tables: drops any
    * current-catalog entries and clears ORPHAN managed-table directories
    * — files left by ANY previous JVM (clean exit included: the
    * in-memory catalog always dies with its JVM while warehouse files
    * survive), which CTAS then refuses to overwrite. A local-warehouse
    * environment artifact (a real deployment's metastore outlives its
    * JVMs): Verify/Bench call it once per JVM, and [[bucketedJoin]]
    * self-heals through [[orphanedBucketTables]] for any other caller. */
  def resetBucketTables(spark: SparkSession, dir: String): Unit = {
    val (ot, ct) = bucketTableNames(dir)
    Seq(ot, ct).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      graft.util.Fs.deleteRecursively(new java.io.File(wh, t))
    }
  }

  /** True iff a bucket-table location exists on disk WITHOUT a catalog
    * entry — the previous-JVM orphan state that makes CTAS fail. */
  private def orphanedBucketTables(spark: SparkSession, dir: String): Boolean = {
    val (ot, ct) = bucketTableNames(dir)
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    Seq(ot, ct).exists(t =>
      !spark.catalog.tableExists(t) && new java.io.File(wh, t).exists())
  }

  /** Bucketed co-located join under the driver's hard signal, the
    * q_salted_agg pattern: a physical-layout variant must not change
    * results, so the oracle is the PLAIN join SQL. Orders and customer
    * are (re)written as 8-bucket tables on the join key — the join of the
    * two bucketed sides then needs no shuffle of either big side
    * (IngestSpec asserts the plan has no ShuffleExchange; this query
    * asserts the semantics). Overwrite-mode saveAsTable replaces
    * same-JVM tables; the guarded reset below repairs the
    * orphaned-location state any previous JVM leaves behind (no blanket
    * deletion in the query body — it fires only when CTAS would fail). */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val (ot, ct) = bucketTableNames(dir)
    if (orphanedBucketTables(spark, dir)) resetBucketTables(spark, dir)
    // the two bucketed CTAS target different tables — run them as
    // concurrent jobs so the small customer write back-fills the
    // orders write's task tail (§2.6)
    inParallel(spark)(
      () => writeBucketed(graft.sources.Tables.orders(spark, dir)
        .select(col("o_custkey"), col("o_totalprice")), ot, "o_custkey", 8),
      () => writeBucketed(graft.sources.Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey")), ct, "c_custkey", 8))
    spark.table(ot)
      .join(spark.table(ct), col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey")
      .agg(
        countDistinct(col("o_custkey")).as("n_active_cust"),
        sum(graft.functions.Exact.cents(col("o_totalprice"))).as("revenue_cents"))
  }

  /** The sfDir-scoped CTAS table names [[cboJoin]] writes (scoped so
    * different scales never read each other's stats). */
  def cboTableNames(dir: String): (String, String, String) = {
    val tag = dirTag(dir)
    (s"graft_cbo_li_$tag", s"graft_cbo_ord_$tag", s"graft_cbo_cust_$tag")
  }

  /** Harness-side reset for [[cboJoin]]'s CTAS tables — same
    * orphan-location contract as [[resetBucketTables]]. */
  def resetCboTables(spark: SparkSession, dir: String): Unit = {
    val (liT, oT, cT) = cboTableNames(dir)
    Seq(liT, oT, cT).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      graft.util.Fs.deleteRecursively(new java.io.File(wh, t))
    }
  }

  /** True iff a CBO-table location exists on disk WITHOUT a catalog
    * entry — the previous-JVM orphan state that makes CTAS fail. */
  private def orphanedCboTables(spark: SparkSession, dir: String): Boolean = {
    val (liT, oT, cT) = cboTableNames(dir)
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    Seq(liT, oT, cT).exists(t =>
      !spark.catalog.tableExists(t) && new java.io.File(wh, t).exists())
  }

  /** CTAS the three CBO demo tables and `ANALYZE .. FOR COLUMNS`
    * them (join/filter columns only), once per JVM: catalog stats live with the table entry (the
    * SharedState external catalog), so a same-JVM re-run reuses both
    * the data and the statistics instead of rewriting per call. */
  private[graft] def ensureCboTables(spark: SparkSession, dir: String): Unit = {
    val (liT, oT, cT) = cboTableNames(dir)
    if (orphanedCboTables(spark, dir)) resetCboTables(spark, dir)
    val all = Seq(liT, oT, cT)
    if (all.forall(spark.catalog.tableExists)) return
    def ctas(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").format("parquet").saveAsTable(t)
    // three independent tables: run the CTAS writes as concurrent jobs
    // (§2.6) — the orders/customer slivers back-fill lineitem's tail
    inParallel(spark)(
      () => ctas(graft.sources.Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_extendedprice")), liT),
      () => ctas(graft.sources.Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")), oT),
      () => ctas(graft.sources.Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment")), cT))
    // Column stats only where the DEMO'd flip reads them (guide §6 —
    // don't compute stats you throw away): FilterEstimation needs
    // o_totalprice min/max, the broadcast-size collapse and
    // CostBasedJoinReorder read the JOIN keys' NDV/counts; the purely
    // aggregated columns (l_extendedprice, c_mktsegment) never feed an
    // estimate, and on the 100 TB lineitem an all-columns ANALYZE scans
    // and sketches twice the bytes for nothing. (ANALYZE itself still
    // computes basic stats — row count/size — for every table.)
    val statCols = Map(
      liT -> "l_orderkey",
      oT -> "o_orderkey, o_custkey, o_totalprice",
      cT -> "c_custkey")
    inParallel(spark)(all.map(t => () => {
      spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR COLUMNS ${statCols(t)}"): Unit
    }): _*)
  }

  /** Selectivity knob for [[cboJoin]]'s order filter: only the top
    * slice of o_totalprice survives, so the stats'd row-count estimate
    * collapses far below the raw table size. */
  private[graft] val CboHighValue = 480000.0

  /** The CBO demo query, ASSUMING the stats'd tables already exist:
    * high-value orders ⋈ lineitem ⋈ customer, revenue by market
    * segment. Written DELIBERATELY in the worst join order (big
    * lineitem first) — with `spark.sql.cbo.joinReorder.enabled` and
    * row counts on every item, Catalyst's CostBasedJoinReorder is
    * free to start from the filtered-orders ⋈ customer sliver instead.
    * Split from [[cboJoin]] so PlanSpec can plan the identical tree
    * under stats-on and stats-off sessions and pin the flip. */
  private[graft] def cboQuery(spark: SparkSession, dir: String): DataFrame = {
    val (liT, oT, cT) = cboTableNames(dir)
    val hi = spark.table(oT).filter(col("o_totalprice") > CboHighValue)
    spark.table(liT)
      .join(hi, col("l_orderkey") === col("o_orderkey"))
      .join(spark.table(cT), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_lines"),
        sum(graft.functions.Exact.cents(col("l_extendedprice"))).as("revenue_cents"))
  }

  /** COST-BASED OPTIMIZATION surface (`ANALYZE TABLE` + CBO planning) —
    * the one vanilla-Spark optimizer face AQE does not subsume: AQE
    * re-plans from RUNTIME shuffle statistics, CBO plans from CATALOG
    * statistics before a single task runs. The demo: without column
    * stats the size-only estimator propagates the orders table's full
    * size through the `o_totalprice > ...` filter (filters don't shrink
    * size-only estimates), so the join of the filtered slice into
    * lineitem plans as a sort-merge join under a low broadcast
    * threshold; with `ANALYZE .. FOR COLUMNS` on the join and filter
    * columns + `spark.sql.cbo.enabled`, FilterEstimation's min/max
    * range math collapses the estimate and the SAME query broadcasts
    * the sliver instead (and CostBasedJoinReorder may rewrite the
    * deliberately-bad user join order outright). PlanSpec pins the stats-driven flip both ways;
    * the oracle is the plain SQL — stats must be value-invisible. At
    * 100 TB this is the difference between shuffling a fact table to
    * meet a 0.1% dimension slice and shipping the slice to the fact
    * rows. Conf scoping: a child session pins the CBO flags + demo
    * threshold without touching the caller's planner. */
  def cboJoin(parent: SparkSession, dir: String): DataFrame = {
    val spark = parent.newSession()
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    // between the filtered-estimate (~2KB with stats: a ~4% min/max
    // range selectivity on orders) and the size-only estimate of the
    // same slice (the full orders table width-scaled, ~15KB at the
    // smallest test scale — size-only filters don't shrink)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "8KB")
    ensureCboTables(spark, dir)
    cboQuery(spark, dir)
  }

  /** Shard count for [[rendezvousShard]]'s initial placement. */
  val RvShards = 8

  /** Rendezvous (highest-random-weight) shard placement — how a 100 TB
    * corpus is spread over storage shards so that GROWING the shard set
    * moves only the minimum of data: each doc scores every shard with a
    * keyed hash and lands on its argmax shard. When a shard is added,
    * a doc moves iff the NEW shard wins its score race — expectation
    * 1/(n+1) of the corpus — while docs that stay keep their exact
    * placement (HRW's minimal-disruption property; consistent hashing
    * without the ring). Emits each doc's placement at [[RvShards]] and
    * [[RvShards]]+1 shards plus the moved flag; MaterializeSpec asserts
    * the movement fraction and that no doc moves between two OLD shards.
    *
    * Scale shape: pure map-side projection — the per-doc score list is
    * a constant-width array of md5 prefixes (15-hex strings compare
    * identically to their 60-bit numeric forms), argmax is
    * `array_position(.., array_max(..))`. Zero shuffles, scan
    * throughput; the shard count only widens the per-row constant. */
  /** Snapshot diff — the audit step between two dataset versions (what a
    * lakehouse surfaces as table history): rows present only in the new
    * snapshot are `added`, only in the previous one `removed`, present
    * in both with different content `changed`; unchanged rows are
    * suppressed from the report. Content identity is an md5 over the
    * null-sentineled text, so the diff never compares full rows twice.
    *
    * The "previous" snapshot is derived key-deterministically from the
    * current table (the [[cdcMerge]] convention, so the oracle rebuilds
    * it): docs ≡3 (mod 17) are missing from prev (→ added), docs ≡5
    * kept a truncated text in prev (→ changed), and prev carries
    * offset-keyed extra rows for docs ≡7 (→ removed).
    *
    * Scale shape: one full-outer shuffle join on the key, hash compare
    * in the join output — O(n) network, no sort of content, and the
    * unchanged majority is filtered before anything downstream. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val h = md5(coalesce(col("text"), lit("<null>")))
    val cur = graft.sources.Tables.documents(spark, dir)
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"), h.as("cur_h"))
    val base = graft.sources.Tables.documents(spark, dir)
      .filter(col("doc_id").isNotNull)
    val prevKept = base
      .filter(col("doc_id") % 17 =!= 3)
      .select(col("doc_id"),
        when(col("doc_id") % 17 === 5,
          md5(coalesce(substring(col("text"), 1, 10), lit("<null>"))))
          .otherwise(h).as("prev_h"))
    val prevOnly = base
      .filter(col("doc_id") % 17 === 7)
      .select((col("doc_id") + 10000000L).as("doc_id"), h.as("prev_h"))
    val prev = prevKept.unionByName(prevOnly)
    cur.join(prev, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("prev_h").isNull, lit("added"))
          .when(col("cur_h").isNull, lit("removed"))
          .when(col("cur_h") =!= col("prev_h"), lit("changed"))
          .otherwise(lit("unchanged")))
      .filter(col("status") =!= "unchanged")
      .select(col("doc_id"), col("status"))
  }

  /** The custom DataSource V2 connector under a real query: scan
    * [[graft.sources.SyntheticSource]] with an id-range filter (pushed
    * down → half the key space is never planned into partitions) and a
    * projection (pruned → readers never generate the dropped columns),
    * then aggregate. `dir` is unused — the source IS the data (pure
    * integer formulas the oracle regenerates with generate_series).
    * IngestSpec asserts the pushdown/pruning/planning facts the
    * connector records. */
  /** The custom DSv2 manifest-committed SINK under a real query: write
    * the (null-complete) document stats through
    * [[graft.sources.ManifestSink]]'s two-phase commit, then read back
    * EXACTLY the manifest-listed files and aggregate. The sink round
    * trip must be value-invisible, so the oracle is the same aggregate
    * over the original table (the orc/partitioned round-trip
    * convention). Re-runs atomically supersede the manifest — stale
    * part files in the directory stay invisible, which is the property
    * IngestSpec pins directly. */
  def dsv2SinkRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val out = processScratchDir("graft_manifest", dir)
    // batch manifest commits are VERSIONED APPENDS: a re-run
    // in the same JVM (bench reps) would otherwise union both runs'
    // epochs — this query's contract is one run's snapshot, so start
    // from an empty log
    graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(out))
    cleanDocs(spark, dir)
      .write.format("graft.sources.ManifestSink")
      .option("path", out).mode("append").save()
    val files = graft.sources.ManifestSink.committedFiles(out)
    spark.read.schema("doc_id LONG, lang STRING, n_chars LONG")
      .parquet(files: _*)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
  }

  /** DATA SKIPPING end-to-end (`q_snap_skipping`): the complete events
    * land as four slices, concurrently ([[landSlices]]; epoch ids follow
    * commit order), one epoch each of a manifest table, each slice
    * tagged with its residue (`epoch_tag = event_id % 4`, a
    * constant per epoch — so the per-file `#stats` min/max the writers
    * record make `WHERE epoch_tag = 2` resolvable to exactly that
    * epoch's files). The filtered catalog read then PLANS only the
    * pruned files ([[graft.sources.SnapScanBuilder]]): the
    * Delta/Iceberg file-skipping contract under an oracled query — at
    * 100 TB, the difference between scanning one epoch and scanning the
    * table. The oracle reproduces the slice as the residue filter.
    * SnapshotSpec pins the planned-file counts directly. */
  def snapSkippingRead(spark: SparkSession, dir: String): DataFrame = {
    val root = snapFixture(spark, "graft_snap_skip", dir,
      "evskip" -> "event_id LONG, user_id LONG, event_type STRING, epoch_tag LONG")
    val log = new java.io.File(root, "evskip").toString
    val complete = graft.sources.Tables.events(spark, dir)
      .filter(col("event_id").isNotNull && col("ts").isNotNull &&
        col("user_id").isNotNull && col("value").isNotNull &&
        col("event_type").isNotNull)
      .select(col("event_id"), col("user_id"), col("event_type"))
    landSlices(spark, log, (0 until 4).map(k =>
      complete.filter(col("event_id") % 4 === k)
        .withColumn("epoch_tag", lit(k.toLong))))
    spark.sql(
      """SELECT event_type, count(*) AS n,
        |  count(DISTINCT user_id) AS n_users, sum(event_id) AS id_sum
        |FROM graft.snap.evskip WHERE epoch_tag = 2
        |GROUP BY event_type""".stripMargin)
  }

  /** STRING-stats data skipping (`q_snap_skip_str`): the documents land
    * as one epoch PER LANGUAGE, the five slices concurrently
    * ([[landSlices]]; epoch ids follow commit order), so each
    * committed file's `#stats` carry a single-value string envelope
    * (truncated-ASCII bounds, [[graft.sources.StrColStat]]) and
    * `WHERE lang = 'de'` resolves to exactly one file at scan build —
    * the partition-like string column every real lake filters on
    * (Delta keeps the same truncated string bounds). SnapshotSpec pins
    * the planned-file count (1 of 5). */
  def snapSkipString(spark: SparkSession, dir: String): DataFrame = {
    val root = snapFixture(spark, "graft_snap_str", dir, "docskip" -> DocsDdl)
    val log = new java.io.File(root, "docskip").toString
    val complete = cleanDocs(spark, dir)
    landSlices(spark, log, Langs.map(l => complete.filter(col("lang") === l)))
    spark.sql(
      """SELECT lang, count(*) AS n_docs, sum(n_chars) AS sum_chars,
        |  min(doc_id) AS min_doc
        |FROM graft.snap.docskip WHERE lang = 'de'
        |GROUP BY lang""".stripMargin)
  }

  /** ARRAY-ELEMENT EVOLUTION (`q_snap_array_evolve`): an
    * `array<struct<…>>` column — the training-data schema shape
    * (token spans, annotations) — evolves by pure metadata: element
    * field RENAME + DROP via dotted `#colmap` keys
    * (`spans.element.tok`), element WIDENING + ADD via one `#schema`
    * epoch, zero bytes rewritten. Pre-evolution files serve with the
    * narrow element promoted and the added field null inside every
    * element; post-evolution rows write under the new names. The
    * oracle reconstructs the exploded rows relationally from
    * `documents` (no array machinery on the DuckDB side). */
  def snapArrayEvolve(spark: SparkSession, dir: String): DataFrame = {
    snapFixture(spark, "graft_snap_arr", dir)
    val complete = cleanDocs(spark, dir)
    complete.createOrReplaceTempView("graft_arr_src")
    spark.sql(
      """CREATE TABLE graft.snap.docarr (doc_id BIGINT,
        |  spans ARRAY<STRUCT<tok: STRING, score: INT, junk: STRING>>)
        |""".stripMargin)
    spark.sql(
      """INSERT INTO graft.snap.docarr
        |SELECT doc_id, array(
        |  named_struct('tok', lang, 'score', CAST(n_chars AS INT),
        |    'junk', 'j'),
        |  named_struct('tok', concat(lang, '2'),
        |    'score', CAST(n_chars * 2 AS INT), 'junk', 'k'))
        |FROM graft_arr_src WHERE lang = 'de'""".stripMargin)
    spark.sql("ALTER TABLE graft.snap.docarr " +
      "RENAME COLUMN spans.element.tok TO token")
    spark.sql("ALTER TABLE graft.snap.docarr " +
      "DROP COLUMN spans.element.junk")
    spark.sql("ALTER TABLE graft.snap.docarr " +
      "ALTER COLUMN spans.element.score TYPE BIGINT")
    spark.sql("ALTER TABLE graft.snap.docarr " +
      "ADD COLUMN spans.element.extra BIGINT")
    spark.sql(
      """INSERT INTO graft.snap.docarr
        |SELECT doc_id, array(named_struct('token', lang,
        |  'score', n_chars + 9000000000, 'extra', doc_id))
        |FROM graft_arr_src WHERE lang = 'fr'""".stripMargin)
    spark.sql(
      """SELECT s.token, count(*) AS n_spans,
        |  sum(s.score) AS sum_score,
        |  sum(coalesce(s.extra, -1)) AS sum_extra
        |FROM graft.snap.docarr
        |LATERAL VIEW explode(spans) AS s
        |GROUP BY s.token""".stripMargin)
  }

  /** MAP-VALUE EVOLUTION (`q_snap_map_evolve`): a
    * `map<string, struct<…>>` column — per-key annotations, the other
    * ubiquitous training-data shape — evolves by pure metadata: value
    * field RENAME + DROP via dotted `#colmap` keys
    * (`attrs.value.score`), value WIDENING + ADD via one `#schema`
    * epoch, zero bytes rewritten; map KEYS stay identity. The oracle
    * reconstructs the exploded (key, value) rows relationally from
    * `documents`. */
  def snapMapEvolve(spark: SparkSession, dir: String): DataFrame = {
    snapFixture(spark, "graft_snap_map", dir)
    val complete = cleanDocs(spark, dir)
    complete.createOrReplaceTempView("graft_map_src")
    spark.sql(
      """CREATE TABLE graft.snap.docmap (doc_id BIGINT,
        |  attrs MAP<STRING, STRUCT<score: INT, junk: STRING>>)
        |""".stripMargin)
    spark.sql(
      """INSERT INTO graft.snap.docmap
        |SELECT doc_id, map(
        |  lang, named_struct('score', CAST(n_chars AS INT), 'junk', 'j'),
        |  'len', named_struct('score', CAST(n_chars * 2 AS INT),
        |    'junk', 'k'))
        |FROM graft_map_src WHERE lang = 'de'""".stripMargin)
    spark.sql("ALTER TABLE graft.snap.docmap " +
      "RENAME COLUMN attrs.value.score TO points")
    spark.sql("ALTER TABLE graft.snap.docmap " +
      "DROP COLUMN attrs.value.junk")
    spark.sql("ALTER TABLE graft.snap.docmap " +
      "ALTER COLUMN attrs.value.points TYPE BIGINT")
    spark.sql("ALTER TABLE graft.snap.docmap " +
      "ADD COLUMN attrs.value.extra BIGINT")
    spark.sql(
      """INSERT INTO graft.snap.docmap
        |SELECT doc_id, map(lang, named_struct(
        |  'points', n_chars + 9000000000, 'extra', doc_id))
        |FROM graft_map_src WHERE lang = 'fr'""".stripMargin)
    spark.sql(
      """SELECT k, count(*) AS n_keys, sum(v.points) AS sum_points,
        |  sum(coalesce(v.extra, -1)) AS sum_extra
        |FROM graft.snap.docmap
        |LATERAL VIEW explode(attrs) AS k, v
        |GROUP BY k""".stripMargin)
  }

  /** BLOOM-filter data skipping (`q_snap_bloom_skip`): four
    * appends sliced by `doc_id % 4` give every committed file a
    * near-full-range min/max envelope — the worst case for stats-only
    * pruning, and exactly the point-read shape the reference clusters
    * for (`CLUSTER BY team_id, nationality_id`,
    * etl_kaggle_to_big_query.py:89-90). With `bloom.columns` set, each
    * file's `#bloom` record ([[graft.sources.BloomSkip]]) resolves
    * `doc_id IN (17, 23)` to exactly the two files holding those keys
    * at scan build. SnapshotSpec pins strict-subset planning, zero
    * false negatives, compaction carry and both-planners parity. */
  def snapBloomSkip(spark: SparkSession, dir: String): DataFrame = {
    snapFixture(spark, "graft_snap_bloom", dir)
    spark.sql(
      """CREATE TABLE graft.snap.bloomskip
        |  (doc_id BIGINT, lang STRING, n_chars BIGINT)
        |TBLPROPERTIES ('bloom.columns'='doc_id', 'bloom.bits'='16384')
        |""".stripMargin)
    val complete = cleanDocs(spark, dir)
    (0 until 4).foreach { k =>
      complete.filter(col("doc_id") % 4 === k)
        .coalesce(1)
        .writeTo("graft.snap.bloomskip").append()
    }
    spark.sql(
      """SELECT doc_id, lang, n_chars FROM graft.snap.bloomskip
        |WHERE doc_id IN (17, 23)""".stripMargin)
  }

  /** TIMESTAMP-stats data skipping (`q_snap_skip_time`): the events
    * land as four epochs sliced by contiguous January weeks, the slices
    * concurrently ([[landSlices]]; epoch ids follow commit order), so
    * each file's `#stats` carry a disjoint ts envelope (UTC micros) and
    * `WHERE ts >= TIMESTAMP '2024-01-22'` prunes the three earlier
    * weeks at scan build — the time-windowed read that dominates an
    * events lake (the reference's own tables are date-partitioned for
    * exactly this, `etl_kaggle_to_big_query.py:89`). SnapshotSpec pins
    * the planned-file count (1 of 4). */
  def snapSkipTime(spark: SparkSession, dir: String): DataFrame = {
    val root = snapFixture(spark, "graft_snap_time", dir,
      "evtime" -> "event_id LONG, ts TIMESTAMP, event_type STRING")
    val log = new java.io.File(root, "evtime").toString
    val complete = graft.sources.Tables.events(spark, dir)
      .filter(col("event_id").isNotNull && col("ts").isNotNull &&
        col("event_type").isNotNull)
      .select(col("event_id"), col("ts"), col("event_type"))
    landSlices(spark, log, (0 until 4).map { k =>
      val lo = 1 + 7 * k
      val hi = if (k == 3) 31 else 7 * k + 7
      complete.filter(dayofmonth(col("ts")).between(lo, hi))
    })
    spark.sql(
      """SELECT event_type, count(*) AS n, sum(event_id) AS id_sum,
        |  min(ts) AS first_ts
        |FROM graft.snap.evtime
        |WHERE ts >= TIMESTAMP '2024-01-22 00:00:00'
        |GROUP BY event_type""".stripMargin)
  }

  /** ADDITIVE SCHEMA EVOLUTION on snap reads (`q_snap_evolution`):
    * the even-doc_id half of documents lands under a 2-column
    * schema, the odd half under the 3-column evolution (`n_chars`
    * appended); the widened declared DDL then serves the WHOLE union —
    * pre-evolution files null-fill the new column (the parquet by-name
    * read), so `sum(n_chars)`/`count(n_chars)` see exactly the
    * post-evolution rows. A narrow DDL over the same log refuses
    * (SnapshotSpec pins that half of the contract). */
  def snapEvolution(spark: SparkSession, dir: String): DataFrame = {
    val root = snapFixture(spark, "graft_snap_ev", dir, "docev" -> DocsDdl)
    val log = new java.io.File(root, "docev").toString
    val complete = graft.sources.Tables.documents(spark, dir)
      .filter(col("doc_id").isNotNull && col("lang").isNotNull &&
        col("n_chars").isNotNull)
    complete.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("lang"))
      .coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", log).mode("append").save()
    complete.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", log).mode("append").save()
    spark.sql(
      """SELECT lang, count(*) AS n_docs, count(n_chars) AS n_evolved,
        |  sum(n_chars) AS sum_chars
        |FROM graft.snap.docev
        |GROUP BY lang""".stripMargin)
  }

  /** ROW-LEVEL DELETE from pure SQL (`q_snap_delete`): the documents
    * land as one epoch per language, the five slices concurrently
    * ([[landSlices]]; epoch ids follow commit order), then
    * `DELETE FROM graft.snap.docdel WHERE lang = 'es' AND doc_id < 300`
    * runs the copy-on-write path — the string+long `#stats` envelopes
    * admit ONLY the 'es' file (SnapshotSpec pins filesRewritten = 1 of
    * 5), its survivors and the `#remove` land as one atomic epoch, and
    * the aggregate over the post-delete snapshot oracles against the
    * complement filter. The Delta DELETE shape on the manifest lake. */
  def snapDelete(spark: SparkSession, dir: String): DataFrame = {
    val root = snapFixture(spark, "graft_snap_del", dir, "docdel" -> DocsDdl)
    val log = new java.io.File(root, "docdel").toString
    val complete = cleanDocs(spark, dir)
    landSlices(spark, log, Langs.map(l => complete.filter(col("lang") === l)))
    spark.sql(
      "DELETE FROM graft.snap.docdel WHERE lang = 'es' AND doc_id < 300")
    spark.sql(
      """SELECT lang, count(*) AS n_docs, sum(n_chars) AS sum_chars,
        |  min(doc_id) AS min_doc
        |FROM graft.snap.docdel
        |GROUP BY lang""".stripMargin)
  }

  /** MERGE-ON-READ DELETE (`q_snap_dv_delete`): the same per-language
    * slices, landed concurrently ([[landSlices]]; epoch ids follow
    * commit order), and the same delete as `q_snap_delete` under
    * `deleteMode=mor` — instead of rewriting the touched file, the
    * delete writes the matching ROW
    * POSITIONS to a small position-delete file (`#dv` epoch,
    * [[graft.sources.DvOps]]) and the read applies them. The oracle is
    * IDENTICAL to `q_snap_delete`'s: the storage strategy must be
    * value-invisible. At 100 TB this is the write-amplification
    * contract for trickle deletes — O(deleted rows) written, not
    * O(touched file); SnapshotSpec pins that the snapshot's data files
    * are untouched, the dv file is O(deleted rows) small, and
    * compaction resolves it. */
  def snapDvDelete(spark: SparkSession, dir: String): DataFrame = {
    val root = snapFixture(spark, "graft_snap_dv", dir, "docdv" -> DocsDdl)
    val log = new java.io.File(root, "docdv").toString
    val complete = cleanDocs(spark, dir)
    landSlices(spark, log, Langs.map(l => complete.filter(col("lang") === l)))
    spark.conf.set("spark.sql.catalog.graft.snap.docdv.deleteMode", "mor")
    spark.sql(
      "DELETE FROM graft.snap.docdv WHERE lang = 'es' AND doc_id < 300")
    spark.sql(
      """SELECT lang, count(*) AS n_docs, sum(n_chars) AS sum_chars,
        |  min(doc_id) AS min_doc
        |FROM graft.snap.docdv
        |GROUP BY lang""".stripMargin)
  }

  /** Row-level UPDATE from pure SQL (`q_snap_update`): the documents
    * land as one epoch per language, the five slices concurrently
    * ([[landSlices]]; epoch ids follow commit order), then
    * `UPDATE graft.snap.docupd SET n_chars = … WHERE lang = 'de'` runs
    * the group-based copy-on-write path
    * ([[graft.sources.SnapRowLevelOperation]]): Spark's runtime group
    * filter finds the matching `_file`s through the scan's metadata
    * column, so ONLY the 'de' file is rewritten (SnapshotSpec pins
    * filesRewritten = 1 of 5), and replacement rows + the `#remove`
    * land as ONE atomic epoch. The aggregate over the post-update
    * snapshot oracles against the CASE-mapped source. */
  def snapUpdate(spark: SparkSession, dir: String): DataFrame = {
    val root = snapFixture(spark, "graft_snap_upd", dir, "docupd" -> DocsDdl)
    val log = new java.io.File(root, "docupd").toString
    val complete = cleanDocs(spark, dir)
    landSlices(spark, log, Langs.map(l => complete.filter(col("lang") === l)))
    spark.sql(
      "UPDATE graft.snap.docupd SET n_chars = n_chars + 1000 WHERE lang = 'de'")
    spark.sql(
      """SELECT lang, count(*) AS n_docs, sum(n_chars) AS sum_chars,
        |  min(n_chars) AS min_chars
        |FROM graft.snap.docupd
        |GROUP BY lang""".stripMargin)
  }

  /** MERGE INTO from pure SQL (`q_snap_merge`) — the upsert
    * refresh shape a real deployment of the reference's monthly cadence
    * (reference `README.md:112`) would adopt once rebuilding the whole
    * table stops scaling; the reference's own monthly job is the full
    * REBUILD (`q_snap_overwrite`'s shape), so MERGE is an additional
    * capability, not a replication target. The documents land as one
    * epoch per language, the five slices concurrently ([[landSlices]];
    * epoch ids follow commit order); the source view carries
    * an UPDATE slice (every 'es' doc under 300 gets doubled n_chars)
    * and an INSERT slice (three brand-new doc_ids); then
    *
    * {{{ MERGE INTO graft.snap.docmerge t USING … s ON t.doc_id = s.doc_id
    *     WHEN MATCHED THEN UPDATE SET *
    *     WHEN NOT MATCHED THEN INSERT * }}}
    *
    * runs the group-based COW path: the runtime group filter narrows
    * the rewrite to the files holding matched keys (SnapshotSpec pins
    * the scope), replacement rows + inserts + `#remove`s commit as ONE
    * atomic epoch, and the commit-time conflict check fences racing
    * rewrites. The post-merge aggregate oracles against the
    * CASE-mapped + UNION'd source. */
  def snapMerge(spark: SparkSession, dir: String): DataFrame = {
    val root = snapFixture(spark, "graft_snap_mrg", dir, "docmerge" -> DocsDdl)
    val log = new java.io.File(root, "docmerge").toString
    val complete = cleanDocs(spark, dir)
    landSlices(spark, log, Langs.map(l => complete.filter(col("lang") === l)))
    val updates = complete
      .filter(col("lang") === "es" && col("doc_id") < 300)
      .select(col("doc_id"), col("lang"), (col("n_chars") * 2).as("n_chars"))
    val inserts = spark.range(1, 4)
      .select((col("id") + 9000000L).as("doc_id"), lit("xx").as("lang"),
        (col("id") * 11).as("n_chars"))
    updates.unionAll(inserts).createOrReplaceTempView("graft_merge_src")
    spark.sql(
      """MERGE INTO graft.snap.docmerge t USING graft_merge_src s
        |ON t.doc_id = s.doc_id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    spark.sql(
      """SELECT lang, count(*) AS n_docs, sum(n_chars) AS sum_chars,
        |  max(n_chars) AS max_chars
        |FROM graft.snap.docmerge
        |GROUP BY lang""".stripMargin)
  }

  /** MERGE-ON-READ UPDATE (`q_snap_dv_update`): the same per-language
    * slices, landed concurrently ([[landSlices]]; epoch ids follow
    * commit order), and the same update as `q_snap_update` under
    * `deleteMode=mor` — Spark's `SupportsDelta` position-delta plan ([[graft.sources
    * .SnapDeltaOperation]]) marks the replaced row POSITIONS in small
    * dv files and appends the replacement rows, in ONE atomic epoch;
    * zero data files move. The oracle is IDENTICAL to
    * `q_snap_update`'s: the storage strategy must be value-invisible.
    * At 100 TB this is what makes a CDC trickle-update feasible —
    * O(changed rows) written instead of rewriting every touched file
    * (SnapshotSpec pins a 1-row update at one tiny dv + a 1-row
    * replacement file). */
  def snapDvUpdate(spark: SparkSession, dir: String): DataFrame = {
    val root = snapFixture(spark, "graft_snap_dvu", dir, "docdvu" -> DocsDdl)
    val log = new java.io.File(root, "docdvu").toString
    val complete = cleanDocs(spark, dir)
    landSlices(spark, log, Langs.map(l => complete.filter(col("lang") === l)))
    spark.conf.set("spark.sql.catalog.graft.snap.docdvu.deleteMode", "mor")
    spark.sql(
      "UPDATE graft.snap.docdvu SET n_chars = n_chars + 1000 WHERE lang = 'de'")
    spark.sql(
      """SELECT lang, count(*) AS n_docs, sum(n_chars) AS sum_chars,
        |  min(n_chars) AS min_chars
        |FROM graft.snap.docdvu
        |GROUP BY lang""".stripMargin)
  }

  /** MERGE-ON-READ MERGE (`q_snap_dv_merge`): the same per-language
    * slices, landed concurrently ([[landSlices]]; epoch ids follow
    * commit order), and the same upsert as `q_snap_merge` under
    * `deleteMode=mor` — matched rows become dv positions + appended
    * replacements, inserts append, ONE
    * atomic epoch, zero data files moved. Identical oracle to
    * `q_snap_merge` (value-invisible storage strategy). This is the
    * scaled form of the reference's monthly refresh (reference
    * `README.md:112`) a 100 TB deployment actually runs: a CDC
    * trickle-upsert whose write cost is O(changed rows). */
  def snapDvMerge(spark: SparkSession, dir: String): DataFrame = {
    val root = snapFixture(spark, "graft_snap_dvm", dir, "docdvm" -> DocsDdl)
    val log = new java.io.File(root, "docdvm").toString
    val complete = cleanDocs(spark, dir)
    landSlices(spark, log, Langs.map(l => complete.filter(col("lang") === l)))
    spark.conf.set("spark.sql.catalog.graft.snap.docdvm.deleteMode", "mor")
    val updates = complete
      .filter(col("lang") === "es" && col("doc_id") < 300)
      .select(col("doc_id"), col("lang"), (col("n_chars") * 2).as("n_chars"))
    val inserts = spark.range(1, 4)
      .select((col("id") + 9000000L).as("doc_id"), lit("xx").as("lang"),
        (col("id") * 11).as("n_chars"))
    updates.unionAll(inserts).createOrReplaceTempView("graft_dvmerge_src")
    spark.sql(
      """MERGE INTO graft.snap.docdvm t USING graft_dvmerge_src s
        |ON t.doc_id = s.doc_id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    spark.sql(
      """SELECT lang, count(*) AS n_docs, sum(n_chars) AS sum_chars,
        |  max(n_chars) AS max_chars
        |FROM graft.snap.docdvm
        |GROUP BY lang""".stripMargin)
  }

  /** RENAME TABLE — the stage→promote pattern (`q_snap_rename`, round
    * 16): CTAS a STAGING table from the filtered documents, then
    * `ALTER TABLE … RENAME TO` promotes it to the production name as
    * one atomic directory move ([[graft.sources.GraftCatalog
    * .renameTable]]: a `.renamed-to` tombstone makes racing writers
    * abort cleanly instead of splitting the log). The aggregate over
    * the PROMOTED name oracles against the staging select — the
    * rename must be value-invisible. */
  def snapRename(spark: SparkSession, dir: String): DataFrame = {
    snapFixture(spark, "graft_snap_rn", dir)
    cleanDocs(spark, dir).createOrReplaceTempView("graft_rename_src")
    spark.sql(
      """CREATE TABLE graft.snap.docstage AS
        |SELECT doc_id, lang, n_chars FROM graft_rename_src
        |WHERE lang <> 'zh'""".stripMargin)
    spark.sql("ALTER TABLE graft.snap.docstage RENAME TO docprod")
    spark.sql(
      """SELECT lang, count(*) AS n_docs, sum(n_chars) AS sum_chars
        |FROM graft.snap.docprod
        |GROUP BY lang""".stripMargin)
  }

  /** DISTRIBUTED PLANNING over the compaction checkpoint
    * (`q_snap_checkpoint`): per-language epochs at
    * `compact.interval = 2` force a compaction — which writes the
    * parquet planning checkpoint — then the read runs with
    * `spark.graft.plan.distributedThreshold = 0`, so the scan plans
    * through a Spark JOB over the checkpoint (plus the loose tail)
    * instead of the driver walk ([[graft.sources.ManifestSink
    * .distributedPlan]]). The oracle is the same aggregate the eager
    * planner would serve: the two planners are value-identical by
    * contract, and running this under the local-cluster smoke also
    * proves the planning job's closures serialize across real
    * executor JVMs. */
  def snapCheckpoint(spark: SparkSession, dir: String): DataFrame = {
    val root = snapFixture(spark, "graft_snap_ck", dir)
    val complete = cleanDocs(spark, dir)
    spark.sql(
      """CREATE TABLE graft.snap.docckpt
        |(doc_id BIGINT, lang STRING, n_chars BIGINT)
        |TBLPROPERTIES ('compact.interval'='2')""".stripMargin)
    val log = new java.io.File(root, "docckpt").toString
    Langs.foreach { l =>
      complete.filter(col("lang") === l)
        .coalesce(1)
        .write.format("graft.sources.ManifestSink")
        .option("path", log).option("compactInterval", "2")
        .mode("append").save()
    }
    require(graft.sources.ManifestSink.snapshot(log).checkpoint.nonEmpty,
      s"q_snap_checkpoint: no planning checkpoint landed at $log")
    spark.conf.set("spark.graft.plan.distributedThreshold", "0")
    try {
      val out = spark.sql(
        """SELECT lang, count(*) AS n_docs, sum(n_chars) AS sum_chars,
          |  min(doc_id) AS min_doc
          |FROM graft.snap.docckpt
          |WHERE doc_id >= 100
          |GROUP BY lang""".stripMargin)
      // EXECUTE under the forced threshold (a lazily-returned frame
      // would be re-planned eagerly after the conf resets) — the
      // values the oracle checks really came through the checkpoint
      // planning job
      val rows = out.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally spark.conf.unset("spark.graft.plan.distributedThreshold")
  }

  /** RENAME COLUMN via column mapping (`q_snap_colmap`): per-language
    * epochs land under the original names, the five slices
    * concurrently ([[landSlices]]; epoch ids follow commit order),
    * `ALTER TABLE … RENAME COLUMN` appends a pure-metadata `#colmap` epoch (physical
    * names stay in every file/`#stats` key — ZERO bytes rewritten, the
    * Delta column-mapping shape), a post-rename INSERT and UPDATE
    * speak the new names, and the aggregate filters on a renamed
    * column — which still prunes files through the physically-keyed
    * stats. The oracle reproduces the same arithmetic over the
    * original column names. */
  def snapColmap(spark: SparkSession, dir: String): DataFrame = {
    val root = snapFixture(spark, "graft_snap_cmq", dir, "doccm" -> DocsDdl)
    val log = new java.io.File(root, "doccm").toString
    val complete = cleanDocs(spark, dir)
    landSlices(spark, log, Langs.map(l => complete.filter(col("lang") === l)))
    spark.sql("ALTER TABLE graft.snap.doccm RENAME COLUMN doc_id TO id")
    spark.sql("ALTER TABLE graft.snap.doccm RENAME COLUMN n_chars TO chars")
    // post-rename DML speaks the NEW names
    spark.sql(
      "INSERT INTO graft.snap.doccm VALUES (9100001, 'xx', 11), " +
        "(9100002, 'xx', 22)")
    spark.sql(
      "UPDATE graft.snap.doccm SET chars = chars + 7 WHERE lang = 'fr'")
    spark.sql(
      """SELECT lang, count(*) AS n_docs, sum(chars) AS sum_chars,
        |  min(id) AS min_id
        |FROM graft.snap.doccm
        |WHERE id >= 100
        |GROUP BY lang""".stripMargin)
  }

  /** INSERT OVERWRITE on the lake (`q_snap_overwrite`): the
    * full-snapshot REPLACE face (`SupportsTruncate` on the manifest
    * write builder) — new task files + `#remove`s of every committed
    * file flip in ONE atomic epoch, so readers see the old table or
    * the new one, never a mix, and time travel keeps serving the
    * pre-overwrite snapshot. This is the reference's monthly-refresh
    * shape when the refresh is a rebuild rather than an upsert
    * (reference `README.md:112`; the upsert form is `q_snap_merge`).
    * The query overwrites a seeded table with a filtered+mapped slice
    * of documents and aggregates the result. */
  def snapOverwrite(spark: SparkSession, dir: String): DataFrame = {
    val root = snapFixture(spark, "graft_snap_ow", dir, "docover" -> DocsDdl)
    val log = new java.io.File(root, "docover").toString
    val complete = cleanDocs(spark, dir)
    // seed: the full corpus as the "last month's" snapshot
    complete.coalesce(2)
      .write.format("graft.sources.ManifestSink")
      .option("path", log).mode("append").save()
    complete.createOrReplaceTempView("graft_overwrite_src")
    spark.sql(
      """INSERT OVERWRITE graft.snap.docover
        |SELECT doc_id, lang, n_chars + 5 AS n_chars
        |FROM graft_overwrite_src WHERE lang <> 'zh'""".stripMargin)
    spark.sql(
      """SELECT lang, count(*) AS n_docs, sum(n_chars) AS sum_chars
        |FROM graft.snap.docover
        |GROUP BY lang""".stripMargin)
  }

  /** CTAS through the catalog face (`q_snap_ctas`): `CREATE
    * TABLE graft.snap.docctas AS SELECT …` is the reference's signature
    * materialization (reference `etl_kaggle_to_big_query.py:88-110`,
    * `CREATE OR REPLACE TABLE … AS SELECT` with casts and a filter) on
    * the manifest lake — epoch 0 records the `#schema` (the create),
    * Spark's follow-up batch append lands the select through the same
    * manifest commit every writer uses, and the read back resolves its
    * schema FROM THE LOG: no session schema conf anywhere, the table is
    * self-describing ([[graft.sources.GraftCatalog.createTable]]). The
    * aggregate over the created table oracles against the same
    * filtered select on the source. */
  def snapCtas(spark: SparkSession, dir: String): DataFrame = {
    snapFixture(spark, "graft_snap_ctas", dir)
    cleanDocs(spark, dir).createOrReplaceTempView("graft_ctas_src")
    spark.sql(
      """CREATE TABLE graft.snap.docctas AS
        |SELECT doc_id, lang, n_chars FROM graft_ctas_src
        |WHERE lang <> 'fr'""".stripMargin)
    spark.sql(
      """SELECT lang, count(*) AS n_docs, sum(n_chars) AS sum_chars,
        |  min(doc_id) AS min_doc
        |FROM graft.snap.docctas
        |GROUP BY lang""".stripMargin)
  }

  /** `CREATE OR REPLACE TABLE … AS SELECT` (`q_snap_cor`) —
    * the reference's EXACT materialization statement (reference
    * `etl_kaggle_to_big_query.py:88` is literally `CREATE OR REPLACE
    * TABLE … AS SELECT <casts> WHERE <filter>`, re-run monthly as a
    * full rebuild, reference `README.md:112`): run once to seed, run
    * again with the refreshed select — the second run REPLACES the
    * table through DROP + CREATE on the catalog face (the epoch log
    * is reborn; Spark's non-staging replace path — a crash between
    * drop and create leaves a missing table, never a mixed one; the
    * single-epoch atomic variant is `INSERT OVERWRITE`,
    * `q_snap_overwrite`). The oracle reproduces the second select. */
  def snapCor(spark: SparkSession, dir: String): DataFrame = {
    snapFixture(spark, "graft_snap_cor", dir)
    cleanDocs(spark, dir).createOrReplaceTempView("graft_cor_src")
    // month 1: the full corpus
    spark.sql(
      """CREATE OR REPLACE TABLE graft.snap.doccor AS
        |SELECT doc_id, lang, n_chars FROM graft_cor_src""".stripMargin)
    // month 2: the rebuild — refreshed slice, evolved derived column
    spark.sql(
      """CREATE OR REPLACE TABLE graft.snap.doccor AS
        |SELECT doc_id, lang, n_chars,
        |  n_chars DIV 100 AS n_hundreds
        |FROM graft_cor_src WHERE lang <> 'zh'""".stripMargin)
    spark.sql(
      """SELECT lang, count(*) AS n_docs, sum(n_chars) AS sum_chars,
        |  sum(n_hundreds) AS sum_hundreds
        |FROM graft.snap.doccor
        |GROUP BY lang""".stripMargin)
  }

  /** The full DDL lifecycle from pure SQL (`q_snap_ddl`):
    * `CREATE TABLE` with an explicit schema (epoch 0 = the `#schema`
    * record), `INSERT INTO` under it, `ALTER TABLE … ADD COLUMN` (a
    * pure-metadata epoch recording the widened DDL — no data
    * rewritten), a second `INSERT` under the evolved schema, and a
    * read that serves the union: pre-evolution files null-fill the
    * appended column by name. This is `q_snap_evolution`'s contract
    * driven entirely by catalog DDL instead of conf wiring — what
    * turns the lake into a format a user adopts with plain SQL.
    * SnapshotSpec pins the refusals (duplicate CREATE, non-additive
    * ALTER, DROP cleanup, CREATE racing a first append). */
  def snapDdl(spark: SparkSession, dir: String): DataFrame = {
    snapFixture(spark, "graft_snap_ddl", dir)
    cleanDocs(spark, dir).createOrReplaceTempView("graft_ddl_src")
    spark.sql("CREATE TABLE graft.snap.docddl (doc_id BIGINT, lang STRING)")
    spark.sql(
      """INSERT INTO graft.snap.docddl
        |SELECT doc_id, lang FROM graft_ddl_src WHERE doc_id % 2 = 0""".stripMargin)
    spark.sql("ALTER TABLE graft.snap.docddl ADD COLUMN n_chars BIGINT")
    spark.sql(
      """INSERT INTO graft.snap.docddl
        |SELECT doc_id, lang, n_chars FROM graft_ddl_src
        |WHERE doc_id % 2 = 1""".stripMargin)
    spark.sql(
      """SELECT lang, count(*) AS n_docs, count(n_chars) AS n_evolved,
        |  sum(n_chars) AS sum_chars
        |FROM graft.snap.docddl
        |GROUP BY lang""".stripMargin)
  }

  /** METADATA TABLES (`q_snap_files`): the epoch log as a
    * queryable relation — `graft.snap.docfiles.files` serves one row
    * per committed data file of the current snapshot (name, `#stats`
    * row count, on-disk bytes), derived from the O(fragments) metadata
    * plane and served as a LocalScan (never a distributed read): the
    * Iceberg `db.t.files` shape, and what makes the lake OPERABLE
    * (what will vacuum reclaim? did compaction help?). Landing one
    * epoch per language — the five slices concurrently
    * ([[landSlices]]; epoch ids follow commit order, which no column of
    * the read depends on) — makes the file count and per-file row counts
    * oracle-derivable from the source. `.history` is pinned across
    * append/rewrite/compaction in SnapshotSpec. */
  def snapFiles(spark: SparkSession, dir: String): DataFrame = {
    val root = snapFixture(spark, "graft_snap_files", dir, "docfiles" -> DocsDdl)
    val log = new java.io.File(root, "docfiles").toString
    val complete = cleanDocs(spark, dir)
    landSlices(spark, log, Langs.map(l => complete.filter(col("lang") === l)))
    spark.sql(
      """SELECT count(*) AS n_files, sum(rows) AS n_rows,
        |  min(rows) AS min_rows, max(rows) AS max_rows,
        |  count(bytes) AS n_sized
        |FROM graft.snap.docfiles.files""".stripMargin)
  }

  /** PARTITION TRANSFORMS on the lake (`q_snap_partitioned`, round
    * 15): `CREATE TABLE … PARTITIONED BY (lang)` records the immutable
    * `#spec` in the create epoch; the insert fans out one file per
    * partition tuple (each carrying its `#part` record); `INSERT
    * OVERWRITE … PARTITION (lang='es')` is the partition-scoped
    * replace (exact tuple decision per file, replacement data
    * validated against the predicate — the Delta `replaceWhere`
    * shape); and the filtered read PRUNES partitions before the
    * per-file stats walk — the reference's own layout is
    * `PARTITION BY fifa_update_date` (reference
    * `etl_kaggle_to_big_query.py:89`), and this is that layout on the
    * manifest lake. SnapshotSpec pins planned-file counts, days/bucket
    * transforms, dynamic overwrite and the refusals. */
  def snapPartitioned(spark: SparkSession, dir: String): DataFrame = {
    snapFixture(spark, "graft_snap_part", dir)
    val complete = cleanDocs(spark, dir)
    complete.createOrReplaceTempView("graft_part_src")
    spark.sql(
      """CREATE TABLE graft.snap.docpart
        |  (doc_id BIGINT, lang STRING, n_chars BIGINT)
        |PARTITIONED BY (lang)""".stripMargin)
    // pre-repartition by the partition key so each task fans out to
    // one tuple — the layout discipline a 100 TB write job follows
    complete.repartition(col("lang"))
      .writeTo("graft.snap.docpart").append()
    spark.sql(
      """INSERT OVERWRITE graft.snap.docpart PARTITION (lang = 'es')
        |SELECT doc_id, n_chars + 7 AS n_chars
        |FROM graft_part_src WHERE lang = 'es'""".stripMargin)
    spark.sql(
      """SELECT lang, count(*) AS n_docs, sum(n_chars) AS sum_chars,
        |  min(doc_id) AS min_doc
        |FROM graft.snap.docpart
        |WHERE lang IN ('es', 'de')
        |GROUP BY lang""".stripMargin)
  }

  /** PER-FILE NDV RECORDS (`q_snap_ndv`, the Iceberg-Puffin
    * sketch shape via the DataSketches HLL Spark bundles): a table
    * with `ndv.columns='doc_id,lang'` writes one HLL per configured
    * column per file as rows stream; the `.stats` face serves the
    * live files' sketches UNIONED (lossless merge) as per-column
    * distinct estimates, and the snap scan's `estimateStatistics`
    * consults them for broadcast decisions (PlanSpec pins the join
    * flip). The records ride `compact_data` (the rewrite re-sketches
    * its output). Oracle: exact distinct counts per column plus an
    * accuracy bit — the lgK=12 sketch is EXACT below ~512 distincts
    * and ~1.6% RSE above, so a 5% gate is deterministic at every SF
    * this harness runs. */
  def snapNdv(spark: SparkSession, dir: String): DataFrame = {
    val root = snapFixture(spark, "graft_snap_ndv", dir)
    val complete = cleanDocs(spark, dir)
    spark.sql(
      """CREATE TABLE graft.snap.docndv
        |  (doc_id BIGINT, lang STRING, n_chars BIGINT)
        |TBLPROPERTIES ('ndv.columns'='doc_id,lang')""".stripMargin)
    // several files so the face really MERGES sketches
    complete.repartition(4).writeTo("graft.snap.docndv").append()
    val log = new java.io.File(root, "docndv").toString
    def face(): Map[String, (Long, Long)] =
      spark.sql("SELECT column, files_sketched, ndv " +
        "FROM graft.snap.docndv.stats").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val before = face()
    val nFiles = graft.sources.ManifestSink.committedFiles(log).size
    require(before.keySet == Set("doc_id", "lang") &&
      before.values.forall(_._1 == nFiles.toLong),
      s"every live file sketches both columns: $before files=$nFiles")
    // records ride compaction: the rewrite re-sketches its output
    spark.sql("CALL graft.sys.compact_data('docndv', 1000000000)")
      .collect()
    val after = face()
    require(after.keySet == Set("doc_id", "lang") &&
      after.values.forall(_._1 >= 1L),
      s"records survive compaction (re-sketched): $after")
    val est = after.view.mapValues(_._2).toMap
    complete.createOrReplaceTempView("graft_ndv_src")
    spark.sql(
      """SELECT 'doc_id' AS col_name,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS exact_ndv
        |FROM graft_ndv_src
        |UNION ALL
        |SELECT 'lang', CAST(count(DISTINCT lang) AS BIGINT)
        |FROM graft_ndv_src""".stripMargin)
      .createOrReplaceTempView("graft_ndv_exact")
    import org.apache.spark.sql.functions.{abs => fabs, udf => _}
    spark.table("graft_ndv_exact")
      .withColumn("est", org.apache.spark.sql.functions
        .element_at(org.apache.spark.sql.functions.map(
          est.toSeq.flatMap { case (c, v) =>
            Seq(lit(c), lit(v)) }: _*), col("col_name")))
      .select(col("col_name"), col("exact_ndv"),
        (fabs(col("est") - col("exact_ndv")) <=
          greatest(lit(1L), (col("exact_ndv") * 0.05).cast("long")))
          .as("est_ok"))
  }

  /** STAGED OVERWRITE on a WAP branch (`q_snap_branch_overwrite`):
    * the classic audit-then-publish partition BACKFILL.
    * Main loads de+es fanned by lang; a branch stages `INSERT
    * OVERWRITE PARTITION (lang='es')` with corrected rows (+1000
    * chars) — the staged epoch's `#remove`s derive from (and fence
    * against) the BRANCH's visible state, so the audit face serves
    * the corrected partition while main still serves the original;
    * `fast_forward` replays removes+adds as ONE `overwrite` epoch
    * under the base fence. The oracle recomputes the published state
    * relationally. */
  def snapBranchOverwrite(spark: SparkSession, dir: String): DataFrame = {
    val root = snapFixture(spark, "graft_snap_wov", dir)
    val complete = cleanDocs(spark, dir)
    complete.createOrReplaceTempView("graft_wov_src")
    spark.sql(
      """CREATE TABLE graft.snap.docwov
        |  (doc_id BIGINT, lang STRING, n_chars BIGINT)
        |PARTITIONED BY (lang)""".stripMargin)
    complete.filter(col("lang").isin("de", "es"))
      .repartition(col("lang"))
      .writeTo("graft.snap.docwov").append()                   // epoch 1
    spark.sql("CALL graft.sys.create_branch('docwov', 'backfill')")
      .collect()                                               // epoch 2
    val origEs = spark.sql("SELECT sum(n_chars) FROM graft.snap.docwov " +
      "WHERE lang = 'es'").head().getLong(0)
    try {
      spark.conf.set("spark.graft.wap.branch", "backfill")
      spark.sql(
        """INSERT OVERWRITE graft.snap.docwov PARTITION (lang = 'es')
          |SELECT doc_id, n_chars + 1000 AS n_chars
          |FROM graft_wov_src WHERE lang = 'es'""".stripMargin) // staged
    } finally spark.conf.unset("spark.graft.wap.branch")
    // AUDIT invariants in-query: the branch face serves the corrected
    // partition; main still serves the original bytes
    val auditEs = spark.sql("SELECT sum(n_chars) FROM graft.snap.docwov " +
      "VERSION AS OF 'backfill' WHERE lang = 'es'").head().getLong(0)
    val mainEs = spark.sql("SELECT sum(n_chars) FROM graft.snap.docwov " +
      "WHERE lang = 'es'").head().getLong(0)
    val nEs = spark.sql("SELECT count(*) FROM graft.snap.docwov " +
      "WHERE lang = 'es'").head().getLong(0)
    require(mainEs == origEs && auditEs == origEs + 1000L * nEs,
      s"staging invariant broken: main=$mainEs orig=$origEs " +
        s"audit=$auditEs n=$nEs")
    spark.sql("CALL graft.sys.fast_forward('docwov', 'backfill')")
      .collect()
    // the publish really was ONE overwrite epoch with removes
    val log = new java.io.File(root, "docwov").toString
    val snap = graft.sources.ManifestSink.snapshot(log)
    val pub = snap.epochDeltas(snap.version - 1, snap.version).head
    require(pub.op == "overwrite" && pub.removes.nonEmpty &&
      pub.adds.nonEmpty,
      s"publish epoch shape: op=${pub.op} removes=${pub.removes.size} " +
        s"adds=${pub.adds.size}")
    spark.sql(
      """SELECT lang, count(*) AS n_docs, sum(n_chars) AS sum_chars
        |FROM graft.snap.docwov
        |GROUP BY lang""".stripMargin)
  }

  /** PARTITION-SPEC EVOLUTION under an oracle (`q_snap_spec_evolve`):
    * an identity(lang)-partitioned table takes half the
    * corpus fanned out by language, `CALL graft.sys.set_partition_spec`
    * evolves the layout to `bucket(8, doc_id)` in ONE metadata epoch
    * (zero bytes rewritten — [[graft.sources.SetPartitionSpecProcedure]]),
    * and the other half lands fanned out by bucket. The read then spans
    * BOTH eras: era-0 files prune under their identity tuples, era-1
    * files under their bucket tuples (each file is pruned by the spec
    * it was WRITTEN under — the Iceberg per-file spec-id shape), and
    * the aggregate is value-invisible to the evolution, which is
    * exactly what the DuckDB oracle checks. */
  def snapSpecEvolve(spark: SparkSession, dir: String): DataFrame = {
    snapFixture(spark, "graft_snap_sevo", dir)
    val complete = cleanDocs(spark, dir)
    spark.sql(
      """CREATE TABLE graft.snap.docevo
        |  (doc_id BIGINT, lang STRING, n_chars BIGINT)
        |PARTITIONED BY (lang)""".stripMargin)
    complete.filter(col("doc_id") % 2 === 0)
      .repartition(col("lang"))
      .writeTo("graft.snap.docevo").append()
    spark.sql(
      "CALL graft.sys.set_partition_spec('docevo', 'bucket(8, doc_id)')")
      .collect()
    complete.filter(col("doc_id") % 2 === 1)
      .repartition(pmod(col("doc_id"), lit(8)))
      .writeTo("graft.snap.docevo").append()
    spark.sql(
      """SELECT lang, count(*) AS n_docs,
        |  sum(n_chars) AS sum_chars, min(doc_id) AS min_doc
        |FROM graft.snap.docevo
        |WHERE lang IN ('es', 'de', 'en')
        |GROUP BY lang""".stripMargin)
  }

  /** ROLLBACK under an oracle (`q_snap_rollback`): a good
    * load, a bad load, a bad COW delete — then
    * `CALL graft.sys.rollback` restores the good snapshot as one
    * metadata-only epoch ([[graft.sources.RollbackProcedure]]): the
    * bad load's files drop, the delete's rewrite un-happens by
    * re-adding the original files by reference. The aggregate over the
    * restored table equals the oracle over the good half of the
    * corpus — the operational undo a lake needs after a bad pipeline
    * run, value-checked end to end. */
  def snapRollback(spark: SparkSession, dir: String): DataFrame = {
    val root = snapFixture(spark, "graft_snap_rb", dir)
    val complete = cleanDocs(spark, dir)
    spark.sql(
      """CREATE TABLE graft.snap.docro
        |  (doc_id BIGINT, lang STRING, n_chars BIGINT)""".stripMargin)
    complete.filter(col("doc_id") % 2 === 0).coalesce(2)
      .writeTo("graft.snap.docro").append()
    val vGood = graft.sources.ManifestSink.newestVersion(
      java.nio.file.Paths.get(root, "docro").toString)
    complete.filter(col("doc_id") % 2 === 1).coalesce(1)
      .writeTo("graft.snap.docro").append() // the bad load
    spark.sql("DELETE FROM graft.snap.docro WHERE lang = 'es'") // bad delete
    spark.sql(s"CALL graft.sys.rollback('docro', $vGood)").collect()
    spark.sql(
      """SELECT lang, count(*) AS n_docs, sum(n_chars) AS sum_chars
        |FROM graft.snap.docro
        |WHERE lang IN ('es', 'de', 'en')
        |GROUP BY lang""".stripMargin)
  }

  /** TYPE WIDENING under an oracle (`q_snap_widen`): an
    * INT-column era lands half the corpus, `ALTER TABLE … ALTER COLUMN
    * n_chars TYPE BIGINT` widens in one metadata epoch (zero bytes
    * rewritten — the safe-promotion set), and the BIGINT era lands the
    * other half with values OUTSIDE the int range. The aggregate spans
    * both eras through the parquet delegate's native narrow-to-wide
    * promotion; the oracle reproduces the arithmetic from the source
    * table, so a mis-promoted read cannot hash-match. */
  def snapWiden(spark: SparkSession, dir: String): DataFrame = {
    snapFixture(spark, "graft_snap_wide", dir)
    val complete = cleanDocs(spark, dir)
    spark.sql(
      """CREATE TABLE graft.snap.docwide
        |  (doc_id BIGINT, lang STRING, n_chars INT)""".stripMargin)
    complete.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("lang"), col("n_chars").cast("int"))
      .coalesce(2).writeTo("graft.snap.docwide").append()
    spark.sql(
      "ALTER TABLE graft.snap.docwide ALTER COLUMN n_chars TYPE BIGINT")
    complete.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("lang"),
        (col("n_chars") * 100000L).as("n_chars")) // outside the int range
      .coalesce(2).writeTo("graft.snap.docwide").append()
    spark.sql(
      """SELECT lang, count(*) AS n_docs, sum(n_chars) AS sum_chars
        |FROM graft.snap.docwide
        |WHERE lang IN ('es', 'de', 'en')
        |GROUP BY lang""".stripMargin)
  }

  /** SNAPSHOT TAGS under an oracle (`q_snap_tag`): the good
    * load is tagged (`CALL graft.sys.create_tag` — one metadata epoch,
    * the Iceberg tag shape), a bad load and a bad delete land after,
    * and the read goes `VERSION AS OF 'blessed'` BY NAME — no epoch
    * ids in the query. The aggregate equals the oracle over the good
    * half: the deployment pattern where jobs pin a blessed snapshot
    * while the pipeline keeps writing. */
  def snapTag(spark: SparkSession, dir: String): DataFrame = {
    snapFixture(spark, "graft_snap_tag", dir)
    val complete = cleanDocs(spark, dir)
    spark.sql(
      """CREATE TABLE graft.snap.doctag
        |  (doc_id BIGINT, lang STRING, n_chars BIGINT)""".stripMargin)
    complete.filter(col("doc_id") % 2 === 0).coalesce(2)
      .writeTo("graft.snap.doctag").append()
    spark.sql("CALL graft.sys.create_tag('doctag', 'blessed')").collect()
    complete.filter(col("doc_id") % 2 === 1).coalesce(1)
      .writeTo("graft.snap.doctag").append() // the bad load
    spark.sql("DELETE FROM graft.snap.doctag WHERE lang = 'es'")
    spark.sql(
      """SELECT lang, count(*) AS n_docs, sum(n_chars) AS sum_chars
        |FROM graft.snap.doctag VERSION AS OF 'blessed'
        |WHERE lang IN ('es', 'de', 'en')
        |GROUP BY lang""".stripMargin)
  }

  /** The `.partitions` metadata table under an oracle
    * (`q_snap_partitions`): an identity(lang)-partitioned
    * load pre-repartitioned by the key lands exactly ONE file per
    * language, and the metadata table answers the layout question —
    * decoded partition value, spec id, file and row counts per
    * partition — from the log alone (no data scan). The oracle
    * recomputes every column from the source corpus. */
  def snapPartitions(spark: SparkSession, dir: String): DataFrame = {
    snapFixture(spark, "graft_snap_parts", dir)
    val complete = cleanDocs(spark, dir)
    spark.sql(
      """CREATE TABLE graft.snap.docparts
        |  (doc_id BIGINT, lang STRING, n_chars BIGINT)
        |PARTITIONED BY (lang)""".stripMargin)
    complete.repartition(col("lang"))
      .writeTo("graft.snap.docparts").append()
    spark.sql(
      """SELECT partition, spec_id, n_files, n_rows, deleted_rows
        |FROM graft.snap.docparts.partitions""".stripMargin)
  }

  /** TIMESTAMP AS OF under an oracle (`q_snap_ts_travel`):
    * the good load and a bad load land as two epochs whose commit
    * times the query PINS explicitly (epoch mtimes are the clock the
    * resolver reads — pinning them makes the oracle deterministic),
    * then the read travels to a wall-clock instant between the two:
    * the newest epoch committed at or before it serves
    * ([[graft.sources.ManifestSink.Snapshot.versionAt]]), so the
    * aggregate equals the oracle over the good half. */
  def snapTsTravel(spark: SparkSession, dir: String): DataFrame = {
    val root = snapFixture(spark, "graft_snap_tst", dir)
    val complete = cleanDocs(spark, dir)
    spark.sql(
      """CREATE TABLE graft.snap.doctst
        |  (doc_id BIGINT, lang STRING, n_chars BIGINT)""".stripMargin)
    complete.filter(col("doc_id") % 2 === 0).coalesce(2)
      .writeTo("graft.snap.doctst").append()
    complete.filter(col("doc_id") % 2 === 1).coalesce(1)
      .writeTo("graft.snap.doctst").append() // the bad load
    // pin each epoch's PERSISTED commit time (`#ts` headers are the
    // clock; the helper stamps mtime too for logs without them) so
    // wall-clock travel is deterministically oracle-able
    val log = java.nio.file.Paths.get(root, "doctst").toString
    Seq(0L -> 1000000000L, 1L -> 2000000000L, 2L -> 3000000000L).foreach {
      case (id, us) =>
        graft.sources.ManifestSink.stampCommitTime(log, id, us)
    }
    spark.sql(
      """SELECT lang, count(*) AS n_docs, sum(n_chars) AS sum_chars
        |FROM graft.snap.doctst TIMESTAMP AS OF timestamp_micros(2500000000)
        |WHERE lang IN ('es', 'de', 'en')
        |GROUP BY lang""".stripMargin)
  }

  /** The `.history` metadata table under an oracle (`q_snap_history`):
    * a deterministic DDL+DML lifecycle — CREATE (metadata
    * epoch 0), five single-file appends, one merge-on-read delete (a
    * `#dv` epoch: kind `delete`, zero files moved) — read back as
    * (version, kind, n_added, n_removed) rows. Timestamps are
    * excluded (wall-clock); everything else is exact by construction,
    * so the oracle is a VALUES literal. The operational story a lake
    * needs answerable by SQL: what happened to this table, in order. */
  def snapHistory(spark: SparkSession, dir: String): DataFrame = {
    snapFixture(spark, "graft_snap_hist", dir)
    spark.conf.set("spark.sql.catalog.graft.snap.dochist.deleteMode", "mor")
    val complete = cleanDocs(spark, dir)
    complete.createOrReplaceTempView("graft_hist_src")
    spark.sql(
      """CREATE TABLE graft.snap.dochist
        |  (doc_id BIGINT, lang STRING, n_chars BIGINT)""".stripMargin)
    Langs.foreach { l =>
      complete.filter(col("lang") === l).coalesce(1)
        .writeTo("graft.snap.dochist").append()
    }
    spark.sql(
      "DELETE FROM graft.snap.dochist WHERE lang = 'es' AND doc_id < 300")
    spark.sql(
      """SELECT version, kind, n_added, n_removed
        |FROM graft.snap.dochist.history""".stripMargin)
  }

  /** Small-file COMPACTION from pure SQL (`q_snap_compact`): the
    * per-language slices land concurrently ([[landSlices]]; epoch ids
    * follow commit order) as five small files, then
    * `CALL graft.sys.compact_data('docpack', 5000)` bin-packs them into
    * `ceil(rows/5000)` combined files behind one atomic adds+removes
    * epoch ([[graft.sources.CompactProcedure]]). The query returns the
    * procedure's (compacted_files, new_files, n_rows) row — which the
    * oracle derives from the source counts — and re-verifies inside
    * that the compacted table still holds every row. */
  def snapCompact(spark: SparkSession, dir: String): DataFrame = {
    val root = snapFixture(spark, "graft_snap_pack", dir, "docpack" -> DocsDdl)
    val log = new java.io.File(root, "docpack").toString
    val complete = cleanDocs(spark, dir)
    landSlices(spark, log, Langs.map(l => complete.filter(col("lang") === l)))
    val expected = complete.count()
    val res = spark.sql("CALL graft.sys.compact_data('docpack', 5000)")
    val after = spark.sql("SELECT count(*) FROM graft.snap.docpack")
      .collect().head.getLong(0)
    require(after == expected,
      s"compaction changed the row count: $after != $expected")
    res
  }

  /** VACUUM from pure SQL (`q_vacuum_sql`): a manifest table gets two
    * committed epochs plus two planted crash orphans (unreferenced data
    * files, back-dated past any retention window), then
    * `CALL graft.sys.vacuum(table, older_than_ms)` reclaims exactly the
    * orphans through the catalog's `ProcedureCatalog` face
    * ([[graft.sources.VacuumProcedure]]) and returns their names — the
    * query's deterministic result. An age-gated pre-call (young cutoff)
    * proves fresh files survive, and the committed snapshot is
    * re-counted after the reclaim to pin that vacuum never touches
    * committed data. */
  def vacuumSql(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val root = snapFixture(spark, "graft_vacuum_sql", dir,
      "vt" -> "k LONG, name STRING")
    val log = new java.io.File(root, "vt").toString
    val rows = spark.range(0, 100).selectExpr("id AS k", "repeat('x', 8) AS name")
    rows.coalesce(1).write.format("graft.sources.ManifestSink")
      .option("path", log).mode("append").save()
    rows.coalesce(1).write.format("graft.sources.ManifestSink")
      .option("path", log).mode("append").save()
    val orphans = Seq("orphan-a.csv", "orphan-b.csv")
    orphans.foreach { n =>
      val p = Paths.get(log, "data", n)
      Files.write(p, "9,z\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(0))
    }
    // age-gate pre-call: a retention window far in the future reclaims NOTHING — even the
    // back-dated orphans are younger than a ~30-year cutoff — proving
    // the gate itself, not just the happy path
    val young = spark.sql("CALL graft.sys.vacuum('vt', 999999999999999)")
    require(young.count() == 0,
      s"young-cutoff vacuum reclaimed ${young.count()} files; the age " +
        "gate must protect everything inside the retention window")
    // age gate: nothing younger than a day is reclaimable — the planted
    // orphans are back-dated, live task files would not be
    val aged = spark.sql("CALL graft.sys.vacuum('vt', 86400000)")
    val committedAfter = spark.sql("SELECT count(*) FROM graft.snap.vt")
      .collect().head.getLong(0)
    require(committedAfter == 200,
      s"vacuum touched the committed snapshot: $committedAfter rows left")
    aged.orderBy("deleted")
  }

  def dsv2Scan(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graft.sources.SyntheticSource")
      .option("rows", 100000L).option("slices", 16)
      .option("columnar", true) // the vectorized reader path, under the oracle
      .load()
      .filter(col("id") >= 25000 && col("id") < 75000)
      .groupBy("event_type")
      .agg(sum(col("value_cents")).as("sum_cents"), count(lit(1)).as("n"))

  /** DSv2 AGGREGATE pushdown ([[graft.sources.SyntheticSource]],
    * `SupportsPushDownAggregates`): the aggregation executes AT the
    * source — each of the 16 partitions streams its id slice once and
    * emits one partial row per group, so 16×5 = 80 rows cross the scan
    * boundary instead of 200 000; Spark's final aggregate merges the
    * partials (sum-of-counts, min-of-mins, …). This is the reference's
    * own shape — its CTAS aggregations run inside the warehouse, not in
    * the pipeline process (reference:
    * prefect/flows/etl_kaggle_to_big_query.py:88-110) — and the single
    * biggest scan-side reduction a 100 TB reader has: at 1000 executors
    * the exchange input is O(partitions × groups), independent of table
    * size. The query is deliberately filterless: like the file sources,
    * our connector reports pushed filters as residual, and Spark only
    * offers an Aggregation when zero post-scan filters remain.
    * IngestSpec pins `PushedAggregates` in the executed plan and the
    * narrowed scan schema. */
  def dsv2Agg(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graft.sources.SyntheticSource")
      .option("rows", 200000L).option("slices", 16)
      .load()
      .groupBy("event_type")
      .agg(count(col("id")).as("n"),
        sum(col("value_cents")).as("sum_cents"),
        min(col("user_id")).as("min_uid"),
        max(col("user_id")).as("max_uid"))

  /** Pure-SQL star join resolved entirely through the [[graft.sources
    * .GraftCatalog]] TableCatalog plugin — zero temp views, zero path
    * literals in the query text: `graft.sf.<table>` names resolve via
    * Spark's CatalogManager to the same parquet DSv2 scans every
    * path-based read uses (pushdown/pruning intact — IngestSpec pins
    * the catalog plan ≡ the path plan). The Spark-native form of the
    * reference's external-table registration
    * (etl_kaggle_to_big_query.py:70-78): register once, query by name.
    * Oracle = the identical join over the raw tables; a naming layer
    * must be value-invisible. */
  def catalogSql(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.GraftCatalog.register(spark, dir)
    spark.sql(
      """SELECT n_name, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents
        |FROM graft.sf.orders
        |JOIN graft.sf.customer ON o_custkey = c_custkey
        |JOIN graft.sf.nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin)
  }

  /** The `events` table served BY NAME through [[graft.sources
    * .GraftCatalog]] — the one table whose raw physical type needs the
    * [[graft.sources.Tables.events]] normalization, applied by the
    * catalog as a user-specified schema on the same parquet DSv2 scan
    * (value-identity on the stored micros in the UTC session, so
    * pushdown/pruning/vectorization survive untouched — IngestSpec pins
    * catalog-read ≡ Tables.events). The query is a windowed profile a
    * monitoring job would run by name: hourly event counts and distinct
    * users per type. Oracle: the same SQL over the raw table (DuckDB
    * reads timestamp[us] natively). */
  def catalogEvents(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.GraftCatalog.register(spark, dir)
    spark.sql(
      """SELECT unix_micros(date_trunc('HOUR', ts)) AS win_start_us,
        |  event_type, count(*) AS n, count(DISTINCT user_id) AS n_users
        |FROM graft.sf.events
        |WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |GROUP BY 1, 2""".stripMargin)
  }

  /** DSv2 JOIN PUSHDOWN ([[graft.sources.SyntheticSource]],
    * `SupportsPushDownJoin` — Spark 4's newest connector face; upstream
    * only JDBC implements it): an INNER equi-join of two relations of
    * the same source on `id` is answered BY the source — the key is
    * dense and shared, so the join of the 200k and 120k relations IS
    * one generated relation over the intersected range, and the Join
    * operator vanishes from Spark's plan (IngestSpec pins the single
    * `PushedJoin` BatchScan, no Join operator, and row/value parity
    * with the unpushed plan). The per-type aggregate stays in the
    * engine above the one scan. This is the federation contract: a
    * warehouse joins its own tables server-side and ships the answer,
    * not the operands — at 100 TB the difference between moving two
    * tables across the scan boundary and moving one result. Gated by
    * `spark.sql.optimizer.datasourceV2JoinPushdown`. Oracle: the same
    * join-then-aggregate over two regenerated ranges (which DuckDB's
    * own optimizer is free to collapse the same way). */
  def dsv2JoinPush(parent: SparkSession, dir: String): DataFrame = {
    // child session: the pushdown flag must not leak into the caller's
    // planner (later queries on the shared session would plan under it)
    val spark = parent.newSession()
    spark.conf.set("spark.sql.optimizer.datasourceV2JoinPushdown", "true")
    def syn(rows: Long) = spark.read
      .format("graft.sources.SyntheticSource")
      .option("rows", rows).option("slices", 16).load()
    val l = syn(200000L)
    val r = syn(120000L)
    // the join must stay BARE for the connector to see it (any predicate
    // Spark can sink below the join splits it back into two scans); the
    // aggregate above is the engine's share of the work
    l.join(r, l("id") === r("id"))
      .groupBy(r("event_type").as("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(l("value_cents")).as("cents_l"),
        sum(r("value_cents")).as("cents_r"))
  }

  /** DSv2 REPORTED STATISTICS ([[graft.sources.SyntheticSource]],
    * `SupportsReportStatistics`) — the size truth static join planning
    * runs on: without reported stats a DSv2 relation costs
    * `defaultSizeInBytes` ("huge"), so even a pushdown-narrowed
    * 2000-row scan looks unbroadcastable until AQE measures it at
    * runtime. The scan reports post-pushdown rows × width, so the
    * planner broadcasts the narrowed synthetic side against customer at
    * ANALYSIS time (IngestSpec pins the logical stats ≈ rows × width —
    * not the default — and the static BroadcastHashJoin under AQE off).
    * At 100 TB this is every warehouse dim-scan joining with its true
    * size instead of a worst-case constant. Oracle: the regenerated
    * range joined to customer. */
  def dsv2Stats(spark: SparkSession, dir: String): DataFrame = {
    val syn = spark.read.format("graft.sources.SyntheticSource")
      .option("rows", 200000L).option("slices", 16).load()
      .filter(col("id") < 2000L) // pushed: the scan itself narrows
    val cust = graft.sources.Tables.customer(spark, dir)
      .filter(col("c_custkey").isNotNull)
    syn.join(cust, col("id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("value_cents")).as("cents"),
        sum(graft.functions.Exact.cents(col("c_acctbal"))).as("acctbal_cents"))
  }

  /** METADATA-ONLY DELETE ([[graft.sources.MutableTable]],
    * `SupportsDeleteV2`, the `mut` catalog namespace) — `DELETE FROM`
    * as an O(partitions) catalog operation: events land
    * hive-partitioned by event_type, SQL `DELETE … WHERE event_type =
    * 'error'` resolves entirely in partition metadata, and
    * `deleteWhere` removes the one partition directory without opening
    * a single data file (IngestSpec pins survivors byte-identical and
    * the refusal of a non-partition predicate — a row-level delete must
    * be REFUSED and priced as a rewrite, never silently performed; the
    * rewrite path is q_cdc_merge). At 100 TB this is the GDPR/retention
    * delete: drop day-partitions by name, not by scanning them. Oracle:
    * the surviving per-type profile over the raw table. */
  def metaDelete(spark: SparkSession, dir: String): DataFrame = {
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_mut_" + dir.replaceAll("[^A-Za-z0-9]", "_"))
    val tbl = new java.io.File(root, "events")
    // rebuild per call: DELETE mutates, and the query must be rerunnable
    graft.sources.Tables.events(spark, dir)
      .filter(col("event_type").isNotNull && col("user_id").isNotNull)
      .select("event_id", "user_id", "event_type", "value")
      .write.mode("overwrite").partitionBy("event_type")
      .parquet(tbl.toString)
    graft.sources.GraftCatalog.register(spark, dir)
    spark.conf.set("spark.sql.catalog.graft.mut.dir", root.toString)
    spark.sql("DELETE FROM graft.mut.events WHERE event_type = 'error'")
    spark.sql(
      """SELECT event_type, count(*) AS n,
        |  count(DISTINCT user_id) AS n_users,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM graft.mut.events
        |GROUP BY 1""".stripMargin)
  }

  /** DSv2 REPORTED ORDERING ([[graft.sources.SyntheticSource]],
    * `SupportsReportOrdering`) — the ordering half of the
    * storage-partitioned contract: the keyed scan generates each
    * event_type partition with ids ascending and reports
    * (event_type, id) sorted, so this running-total window satisfies
    * its distribution from the reported partitioning AND its ordering
    * from the reported sort — the executed plan has ZERO exchanges and
    * ZERO sort operators (IngestSpec pins both). At 100 TB this is a
    * windowed scan over storage that already keeps key order (Kafka
    * per-partition offsets, Iceberg sorted files) paying neither the
    * shuffle nor the per-partition sort. Oracle: the same window over
    * the regenerated formulas. */
  def dsv2Window(parent: SparkSession, dir: String): DataFrame = {
    val spark = parent.newSession() // scope the bucketing flag
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("id")
    spark.read.format("graft.sources.SyntheticSource")
      .option("rows", 200000L).option("partitionBy", "event_type")
      .load()
      .withColumn("run_cents", sum(col("value_cents")).over(w))
      .filter(col("id") % 9999 === 0)
      .select(col("id"), col("event_type"), col("run_cents"))
  }

  /** DSv2 METADATA COLUMNS ([[graft.sources.SyntheticSource]],
    * `SupportsMetadataColumns`) — the connector's hidden provenance
    * columns, the connector face of the file source's `_metadata`:
    * `_slice` (the planned partition ordinal) is invisible to
    * `SELECT *` but resolves when named and is served by the same
    * readers as data columns (IngestSpec pins hidden-by-default,
    * row/columnar parity, and the pruned read schema). The query is the
    * per-shard profile a 100 TB skew investigation starts with: rows
    * and value mass per input partition — lineage without widening the
    * table or taxing queries that don't ask. Oracle: the even-split
    * arithmetic is deterministic (16 slices of 200k ids = 12500-id
    * blocks), so DuckDB regenerates `_slice` as `i // 12500`. */
  def dsv2Meta(spark: SparkSession, dir: String): DataFrame = {
    spark.read.format("graft.sources.SyntheticSource")
      .option("rows", 200000L).option("slices", 16)
      .load()
      .select(col("_slice").as("slice"), col("value_cents"))
      .groupBy("slice")
      .agg(count(lit(1)).as("n"), sum(col("value_cents")).as("sum_cents"))
  }

  /** Catalog-PROVIDED FUNCTIONS ([[graft.sources.GraftCatalog]]'s
    * `FunctionCatalog` face, [[graft.sources.CatalogFunctions]]) — the
    * connector ships its own functions, resolved by NAME through the
    * catalog (`graft.fn.band`, `graft.fn.xsum`) with zero session
    * registration: the scalar one carries the magic `invoke` method so
    * the call site compiles into whole-stage codegen as a direct
    * primitive JVM call (IngestSpec pins the codegen'd Invoke — NOT the
    * row-boxed ApplyFunctionExpression fallback); the aggregate one is
    * a V2 AggregateFunction Spark plans with map-side partial merge
    * like a builtin sum. The query is a price-band histogram with an
    * XOR content fingerprint per band. Oracle: `floor(/)*` and
    * `bit_xor` — both integer-exact. */
  def catalogFunctions(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.GraftCatalog.register(spark, dir)
    spark.sql(
      """SELECT graft.fn.band(o_totalprice, 50000L) AS price_band,
        |  count(*) AS n,
        |  graft.fn.xsum(o_orderkey) AS key_xor
        |FROM graft.sf.orders
        |WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL
        |GROUP BY 1""".stripMargin)
  }

  /** DSv2 REPORTED PARTITIONING ([[graft.sources.SyntheticSource]],
    * `SupportsReportPartitioning`) — the storage-partitioned contract:
    * `partitionBy=event_type` keys the generator's partitions by type
    * and reports `KeyGroupedPartitioning(identity(event_type), 5)`, so
    * this `groupBy(event_type)` aggregation satisfies its distribution
    * straight off the scan — the executed plan has ZERO exchanges
    * (IngestSpec pins it with the no-shuffle assert). The DSv2 face of
    * bucketing: at 100 TB the source's layout replaces the aggregation
    * shuffle the way a bucketed table replaces a join shuffle. Oracle:
    * the regenerated-formula SQL — a layout contract must be
    * value-invisible. */
  def dsv2KeyedAgg(parent: SparkSession, dir: String): DataFrame = {
    val spark = parent.newSession() // scope the bucketing flag
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.read.format("graft.sources.SyntheticSource")
      .option("rows", 200000L).option("partitionBy", "event_type")
      .load()
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value_cents")).as("sum_cents"),
        min(col("user_id")).as("min_uid"))
  }

  /** STORAGE-PARTITIONED JOIN (Spark's v2-bucketing join over two
    * [[graft.sources.SyntheticSource]] keyed scans) — the join-side
    * completion of [[dsv2KeyedAgg]]'s storage-partitioned contract: both
    * sides report `KeyGroupedPartitioning(identity(event_type), 5)` with
    * identical partition values, so the per-type aggregates AND the
    * sort-merge join between them all satisfy their distributions
    * straight off the two scans — the executed plan has ZERO exchanges
    * end to end (IngestSpec pins no-shuffle and the SortMergeJoin
    * operator; the merge hint only rules out broadcast, which would
    * trivialize the demo). This is the DSv2 answer to the big⋈big
    * shuffle at 100 TB: when both sides' storage layouts already agree
    * on the join key — two Iceberg tables bucketed alike, two Kafka
    * topics keyed alike — the engine joins co-located partitions 1:1
    * and the O(data) exchange never happens. Oracle: both sides
    * regenerated with `generate_series` and joined in SQL — a layout
    * contract must be value-invisible. */
  def spjJoin(parent: SparkSession, dir: String): DataFrame = {
    val spark = parent.newSession() // scope the bucketing flag
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    def keyed(rows: Long) = spark.read
      .format("graft.sources.SyntheticSource")
      .option("rows", rows).option("partitionBy", "event_type")
      .load()
    // full corpus vs the first-50k prefix: same key space (t0..t4),
    // different per-type totals — the "fact vs recent-slice" shape
    val full = keyed(200000L).groupBy("event_type")
      .agg(count(lit(1)).as("n_full"),
        sum(col("value_cents")).as("cents_full"))
    val recent = keyed(50000L).groupBy("event_type")
      .agg(sum(col("value_cents")).as("cents_recent"))
    full.hint("merge").join(recent, "event_type")
      .select(col("event_type"), col("n_full"), col("cents_full"),
        col("cents_recent"))
  }

  /** DSv2 RUNTIME FILTERING ([[graft.sources.SyntheticSource]],
    * `SupportsRuntimeFiltering`) — the connector-side sibling of
    * [[dppJoin]]: the 200k-row synthetic fact joins a dim whose only
    * selective predicate (`n_regionkey = 1`) lives on the dim, so no
    * static pushdown can narrow the fact; at execution Spark broadcasts
    * the dim, hands its 5 distinct join keys to the scan as an
    * `In("id", …)` runtime filter, and the re-planned scan reads 1 of
    * 16 slices. At 100 TB this is a remote system scanning one shard
    * instead of all of them — from information that only exists at
    * run time. IngestSpec pins the runtime-filter plan shape AND the
    * observed partition count. Oracle: the dim join over the
    * regenerated id formulas. */
  def dsv2RuntimeFilter(spark: SparkSession, dir: String): DataFrame = {
    val syn = spark.read.format("graft.sources.SyntheticSource")
      .option("rows", 200000L).option("slices", 16)
      .load()
    val dim = graft.sources.Tables.nation(spark, dir)
      .filter(col("n_regionkey") === 1L)
    syn.join(dim, col("id") === col("n_nationkey"))
      .select(col("n_name"), col("id"), col("user_id"), col("value_cents"))
  }

  /** DSv2 TOP-N pushdown ([[graft.sources.SyntheticSource]],
    * `SupportsPushDownTopN` — with `SupportsPushDownLimit` and
    * `SupportsPushDownOffset` on the same builder): `ORDER BY id DESC
    * LIMIT 42` narrows the PLANNED id range to the 42 highest ids before
    * any reader starts, so per-partition generation is capped at k — the
    * last scan-boundary-reduction interface Spark offers, and one the
    * reference's warehouse performs server-side as a matter of course
    * (a LIMIT never ships the table; reference:
    * prefect/flows/etl_kaggle_to_big_query.py:88-110 runs entirely
    * warehouse-side). The push is PARTIAL by design — Spark keeps its
    * TakeOrderedAndProject as the safety net, the scan just stops
    * generating rows the limit would discard; at 100 TB that is k rows
    * crossing the boundary instead of the table. IngestSpec pins
    * `PushedTopN` in the executed plan and the ≤ k planned range. */
  def dsv2TopN(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graft.sources.SyntheticSource")
      .option("rows", 200000L).option("slices", 16)
      .load()
      .orderBy(col("id").desc)
      .limit(42)

  def rendezvousShard(spark: SparkSession, dir: String): DataFrame = {
    def scores(n: Int): Column = transform(
      sequence(lit(0), lit(n - 1)),
      s => substring(
        md5(concat(col("doc_id").cast("string"), lit(":"), s.cast("string"))),
        1, 15))
    def argmax(sc: Column): Column =
      (array_position(sc, array_max(sc)) - 1).cast("int")
    graft.sources.Tables.documents(spark, dir)
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"), scores(RvShards).as("s8"),
        scores(RvShards + 1).as("s9"))
      .select(col("doc_id"), argmax(col("s8")).as("shard_n"),
        argmax(col("s9")).as("shard_n1"))
      .withColumn("moved", col("shard_n") =!= col("shard_n1"))
  }

  /** One deterministic table LIFECYCLE shared by the CDC-feed queries
    * (`q_snap_cdf`, `q_snap_cdf_incr`): CREATE (0), two
    * appends (1: de+en, 2: es), a merge-on-read DELETE (3: es,
    * doc_id%3=0 — a dv-only epoch), a merge-on-read UPDATE (4: de,
    * doc_id%5=0, +1000 chars — dv pre + appended post), a
    * copy-on-write DELETE (5: en, doc_id%7=0 — remove + survivors),
    * and a compaction (6: `#op compact`, a pure file rewrite). Every
    * step's row effect is expressible relationally over `documents`,
    * which is what makes the change feed DuckDB-oracle-able. */
  private def cdcLifecycle(spark: SparkSession, dir: String,
      root: String, tname: String, includeCow: Boolean = true): String = {
    val complete = cleanDocs(spark, dir)
    spark.sql(s"CREATE TABLE graft.snap.$tname " +
      "(doc_id BIGINT, lang STRING, n_chars BIGINT)")
    complete.filter(col("lang").isin("de", "en")).coalesce(1)
      .writeTo(s"graft.snap.$tname").append()                    // epoch 1
    complete.filter(col("lang") === "es").coalesce(1)
      .writeTo(s"graft.snap.$tname").append()                    // epoch 2
    spark.conf.set(s"spark.sql.catalog.graft.snap.$tname.deleteMode", "mor")
    spark.sql(s"DELETE FROM graft.snap.$tname " +
      "WHERE lang = 'es' AND doc_id % 3 = 0")                    // epoch 3
    spark.sql(s"UPDATE graft.snap.$tname SET n_chars = n_chars + 1000 " +
      "WHERE lang = 'de' AND doc_id % 5 = 0")                    // epoch 4
    if (includeCow) {
      spark.conf.set(s"spark.sql.catalog.graft.snap.$tname.deleteMode", "cow")
      spark.sql(s"DELETE FROM graft.snap.$tname " +
        "WHERE lang = 'en' AND doc_id % 7 = 0")                  // epoch 5
    }
    spark.sql(s"CALL graft.sys.compact_data('$tname', 1000000)")
      .collect()                                                 // epoch 6 (5)
    new java.io.File(root, tname).toString
  }

  /** CDC CHANGE FEED (`q_snap_cdf`): the row-level changes
    * of the whole retained lifecycle window, aggregated per
    * (_commit_version, _change_type, lang) — inserts from appends,
    * exact deleted rows from the dv-only epoch, pre+post images from
    * the merge-on-read update, deleted rows from the copy-on-write
    * diff, and NOTHING from the compaction (file rewrite != row
    * change). The DuckDB oracle reconstructs every epoch's change set
    * relationally from `documents`. */
  def snapCdf(spark: SparkSession, dir: String): DataFrame = {
    val root = snapFixture(spark, "graft_snap_cdf", dir)
    val log = cdcLifecycle(spark, dir, root, "doccdf")
    graft.sources.ChangeFeed.tableChanges(spark, log, 0, Some(6L))
      .createOrReplaceTempView("graft_cdf_feed")
    spark.sql(
      """SELECT _commit_version AS version, _change_type AS change_type,
        |  lang, count(*) AS n_rows, sum(n_chars) AS sum_chars
        |FROM graft_cdf_feed
        |GROUP BY 1, 2, 3""".stripMargin)
  }

  /** CDC MERGE PAIRING (`q_snap_cdf_merge`): one MERGE with
    * all three clauses — matched de docs update (+5000 chars) or
    * delete (every 4th), unmatched fr docs insert — and the feed
    * serves each clause under its OWN label: the `#cdc pre/post` role
    * tags the delta writer records (update halves arrive WHOLE,
    * `representUpdateAsDeleteAndInsert = false`) are what
    * distinguishes a matched update's pre/postimages from the merge's
    * pure deletes and inserts; epochs without role tags keep the
    * documented net delete+insert fallback (SnapshotSpec pins it).
    * The oracle reconstructs every clause's change set relationally
    * from `documents`. */
  def snapCdfMerge(spark: SparkSession, dir: String): DataFrame = {
    val root = snapFixture(spark, "graft_snap_cdfm", dir)
    val complete = cleanDocs(spark, dir)
    spark.sql("CREATE TABLE graft.snap.docmerge " +
      "(doc_id BIGINT, lang STRING, n_chars BIGINT) " +
      "TBLPROPERTIES ('delete.mode'='mor')")
    complete.filter(col("lang").isin("de", "es")).coalesce(1)
      .writeTo("graft.snap.docmerge").append()                   // epoch 1
    complete.filter(col("lang").isin("de", "fr"))
      .createOrReplaceTempView("graft_merge_src")
    spark.sql(
      """MERGE INTO graft.snap.docmerge t
        |USING graft_merge_src s ON t.doc_id = s.doc_id
        |WHEN MATCHED AND s.doc_id % 4 = 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET n_chars = s.n_chars + 5000
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)          // epoch 2
    graft.sources.ChangeFeed.tableChanges(spark,
      new java.io.File(root, "docmerge").toString, 1, Some(2L))
      .createOrReplaceTempView("graft_cdfm_feed")
    spark.sql(
      """SELECT _change_type AS change_type, lang,
        |  count(*) AS n_rows, sum(n_chars) AS sum_chars
        |FROM graft_cdfm_feed
        |GROUP BY 1, 2""".stripMargin)
  }

  /** CDC COW PAIRING (`q_snap_cdf_cow_pair`, ROW TRACKING):
    * the same three-clause MERGE as `q_snap_cdf_merge` — but COPY-ON-
    * WRITE, where the log records no per-row pairing at all — followed
    * by a ROLLBACK. Every add carries a `#rowid` base and the rewrite
    * MATERIALIZES carried rows' ids (`_graft_rowid`), so the feed
    * joins a `#cdcpair` epoch's pre/post sides on row IDENTITY:
    * matched updates serve `update_pre/postimage`, pure deletes and
    * inserts keep their own labels, carried-identical rows serve
    * NOTHING — per-clause labels now STORAGE-STRATEGY-INVISIBLE
    * (the MOR twin proves value equality), and the rollback serves a
    * per-row paired REVERT instead of net delete+insert. The oracle
    * reconstructs both epochs' change sets relationally. */
  def snapCdfCowPair(spark: SparkSession, dir: String): DataFrame = {
    val root = snapFixture(spark, "graft_snap_cowp", dir)
    val complete = cleanDocs(spark, dir)
    spark.sql("CREATE TABLE graft.snap.doccowp " +
      "(doc_id BIGINT, lang STRING, n_chars BIGINT)")          // epoch 0
    complete.filter(col("lang").isin("de", "es")).coalesce(1)
      .writeTo("graft.snap.doccowp").append()                  // epoch 1
    complete.filter(col("lang").isin("de", "fr"))
      .createOrReplaceTempView("graft_cowp_src")
    spark.sql(
      """MERGE INTO graft.snap.doccowp t
        |USING graft_cowp_src s ON t.doc_id = s.doc_id
        |WHEN MATCHED AND s.doc_id % 4 = 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET n_chars = s.n_chars + 5000
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)        // epoch 2
    spark.sql("CALL graft.sys.rollback('doccowp', 1)").collect() // epoch 3
    val log = new java.io.File(root, "doccowp").toString
    // in-query pins: the COW merge epoch and the rollback epoch both
    // declare per-row pairability, and every live file is id-tracked
    val snap = graft.sources.ManifestSink.snapshot(log)
    require(snap.epochDeltas(1, 3).forall(d => d.removes.isEmpty || d.paired),
      s"COW merge + rollback epochs must declare #cdcpair")
    require(snap.files.forall(f =>
      snap.rowids.contains(new java.io.File(f).getName)),
      "every live file carries a #rowid base")
    graft.sources.ChangeFeed.tableChanges(spark, log, 1, Some(3L))
      .createOrReplaceTempView("graft_cowp_feed")
    spark.sql(
      """SELECT _commit_version AS version, _change_type AS change_type,
        |  lang, count(*) AS n_rows, sum(n_chars) AS sum_chars
        |FROM graft_cowp_feed
        |GROUP BY 1, 2, 3""".stripMargin)
  }

  /** INCREMENTAL MATERIALIZATION from the change feed
    * (`q_snap_cdf_incr`): a downstream per-lang aggregate
    * maintained by SIGNED REPLAY of the change rows (+1 for
    * insert/update_postimage, -1 for delete/update_preimage) — the
    * consumer never re-reads the table, the point of CDC at 100 TB.
    * The oracle computes the same final state directly from
    * `documents` by applying the lifecycle's ops relationally, so the
    * feed is verified to carry EXACTLY the information a batch
    * recompute would. */
  def snapCdfIncr(spark: SparkSession, dir: String): DataFrame = {
    val root = snapFixture(spark, "graft_snap_cdfi", dir)
    val log = cdcLifecycle(spark, dir, root, "doccdfi")
    graft.sources.ChangeFeed.tableChanges(spark, log, 0, Some(6L))
      .createOrReplaceTempView("graft_cdfi_feed")
    spark.sql(
      """SELECT lang, sum(sign) AS n_docs, sum(sign * n_chars) AS sum_chars
        |FROM (
        |  SELECT lang, n_chars, CASE WHEN _change_type IN
        |    ('insert', 'update_postimage') THEN 1 ELSE -1 END AS sign
        |  FROM graft_cdfi_feed)
        |GROUP BY lang
        |HAVING sum(sign) > 0""".stripMargin)
  }

  /** STREAMING CDF (`q_snap_cdf_stream`): `readStream` on
    * the `.changes` face TAILS the feed — one micro-batch per epoch
    * (`maxEpochsPerTrigger=1`, trigger-count pinned in StreamingSpec),
    * labeled change rows landing in a parquet relay. The lifecycle is
    * the CDC one WITHOUT the copy-on-write step (a COW change set is
    * a multiset diff, which the per-file streaming face refuses by
    * contract — [[graft.sources.ChangeFeed.tableChanges]] serves it
    * exactly); the `#op compact` epoch flows through as zero rows.
    * Oracle: the same relational reconstruction as `q_snap_cdf`
    * minus the COW epoch. */
  def snapCdfStream(spark: SparkSession, dir: String): DataFrame = {
    val root = snapFixture(spark, "graft_snap_cdfs", dir)
    cdcLifecycle(spark, dir, root, "doccdfs", includeCow = false)
    val s = graft.streaming.StreamOps.streamSession(spark)
    graft.sources.GraftCatalog.register(s, dir, Some(root))
    val outDir = new java.io.File(root, "cdf_out").toString
    val q = s.readStream
      .option("maxEpochsPerTrigger", "1")
      .table("graft.snap.doccdfs.changes")
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", new java.io.File(root, "cdf_ckpt").toString)
      .queryName("graft_snap_cdf_sink")
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.read.parquet(outDir).createOrReplaceTempView("graft_cdfs_feed")
    spark.sql(
      """SELECT _commit_version AS version, _change_type AS change_type,
        |  lang, count(*) AS n_rows, sum(n_chars) AS sum_chars
        |FROM graft_cdfs_feed
        |GROUP BY 1, 2, 3""".stripMargin)
  }

  /** NESTED-FIELD EVOLUTION (`q_snap_nested_evolve`):
    * rename + drop via dotted `#colmap` entries and inner widening +
    * inner add via one `#schema` epoch, all zero-bytes-rewritten —
    * then a post-evolution append under the NEW names and wide type,
    * and one aggregate over BOTH eras: pre-evolution files serve the
    * renamed field by its physical name, null-fill the added field
    * and promote the narrow inner int; the dropped field is gone from
    * the face. The oracle reconstructs both eras from `documents`. */
  def snapNestedEvolve(spark: SparkSession, dir: String): DataFrame = {
    snapFixture(spark, "graft_snap_ne", dir)
    val complete = cleanDocs(spark, dir)
    complete.createOrReplaceTempView("graft_ne_src")
    spark.sql(
      """CREATE TABLE graft.snap.docne (doc_id BIGINT,
        |  meta STRUCT<lang: STRING, score: INT, junk: STRING>)
        |""".stripMargin)
    spark.sql(
      """INSERT INTO graft.snap.docne
        |SELECT doc_id, named_struct('lang', lang,
        |  'score', CAST(n_chars AS INT), 'junk', 'x')
        |FROM graft_ne_src WHERE lang IN ('de', 'es')""".stripMargin)
    spark.sql("ALTER TABLE graft.snap.docne RENAME COLUMN meta.lang " +
      "TO language")
    spark.sql("ALTER TABLE graft.snap.docne DROP COLUMN meta.junk")
    spark.sql("ALTER TABLE graft.snap.docne ALTER COLUMN meta.score " +
      "TYPE BIGINT")
    spark.sql("ALTER TABLE graft.snap.docne ADD COLUMN meta.bonus BIGINT")
    spark.sql(
      """INSERT INTO graft.snap.docne
        |SELECT doc_id, named_struct('language', lang,
        |  'score', n_chars + 3000000000, 'bonus', doc_id)
        |FROM graft_ne_src WHERE lang = 'en'""".stripMargin)
    spark.sql(
      """SELECT meta.language AS lang, count(*) AS n_docs,
        |  sum(meta.score) AS sum_score, sum(meta.bonus) AS sum_bonus
        |FROM graft.snap.docne
        |GROUP BY meta.language""".stripMargin)
  }

  /** WRITE-AUDIT-PUBLISH (`q_snap_branch`): stage loads on
    * branches, audit via `VERSION AS OF '<branch>'`, publish the
    * validated one with `fast_forward`, drop the failed one — main
    * serves exactly the published rows, NEVER the unvalidated ones.
    * This is the reference pipeline's load-then-validate step run the
    * way a 100 TB lake must run it: staged data is real committed
    * files, invisible until audited, published as one atomic epoch. */
  def snapBranch(spark: SparkSession, dir: String): DataFrame = {
    snapFixture(spark, "graft_snap_wap", dir)
    val complete = cleanDocs(spark, dir)
    complete.createOrReplaceTempView("graft_wap_src")
    spark.sql(
      """CREATE TABLE graft.snap.docwap
        |  (doc_id BIGINT, lang STRING, n_chars BIGINT)""".stripMargin)
    spark.sql("INSERT INTO graft.snap.docwap " +
      "SELECT * FROM graft_wap_src WHERE lang = 'de'")
    spark.sql("CALL graft.sys.create_branch('docwap', 'stage')").collect()
    spark.sql("CALL graft.sys.create_branch('docwap', 'bad')").collect()
    try {
      spark.conf.set("spark.graft.wap.branch", "stage")
      spark.sql("INSERT INTO graft.snap.docwap " +
        "SELECT * FROM graft_wap_src WHERE lang = 'es'")
      spark.conf.set("spark.graft.wap.branch", "bad")
      spark.sql("INSERT INTO graft.snap.docwap " +
        "SELECT * FROM graft_wap_src WHERE lang = 'zh'")
    } finally spark.conf.unset("spark.graft.wap.branch")
    // AUDIT: the branch face sees main + its staged rows; main sees
    // only the published state — both asserted here so a regression
    // fails the query, not just a spec
    val auditEs = spark.sql("SELECT count(*) FROM graft.snap.docwap " +
      "VERSION AS OF 'stage' WHERE lang = 'es'").head().getLong(0)
    val mainEs = spark.sql("SELECT count(*) FROM graft.snap.docwap " +
      "WHERE lang <> 'de'").head().getLong(0)
    require(auditEs > 0 && mainEs == 0,
      s"staging invariant broken: audit=$auditEs mainNonDe=$mainEs")
    spark.sql("CALL graft.sys.fast_forward('docwap', 'stage')").collect()
    spark.sql("CALL graft.sys.drop_branch('docwap', 'bad')").collect()
    spark.sql(
      """SELECT lang, count(*) AS n_docs, sum(n_chars) AS sum_chars
        |FROM graft.snap.docwap
        |GROUP BY lang""".stripMargin)
  }

  /** STAGED ROW-LEVEL WRITES on a WAP branch (`q_snap_branch_mor`):
    * main loads de+es, then a branch stages a merge-on-read
    * DELETE of the even-id es docs (dv epochs on MAIN files), an fr
    * append, and an UPDATE of those fr rows (a dv on the branch's OWN
    * staged file). The audit face serves the post-change state while
    * main is untouched; `fast_forward` replays dvs + adds as ONE
    * 'merge' epoch whose change feed serves the es pre-images as
    * deletes and the UPDATED fr rows as inserts — the never-visible
    * pre-update fr rows cancel (same-epoch self-dv). The oracle
    * recomputes the final state relationally from `documents`. */
  def snapBranchMor(spark: SparkSession, dir: String): DataFrame = {
    val root = snapFixture(spark, "graft_snap_wapmor", dir)
    val complete = cleanDocs(spark, dir)
    complete.createOrReplaceTempView("graft_wapmor_src")
    spark.sql(
      """CREATE TABLE graft.snap.docwapmor
        |  (doc_id BIGINT, lang STRING, n_chars BIGINT)
        |TBLPROPERTIES ('delete.mode'='mor')""".stripMargin)
    spark.sql("INSERT INTO graft.snap.docwapmor " +
      "SELECT * FROM graft_wapmor_src WHERE lang IN ('de', 'es')")
    spark.sql("CALL graft.sys.create_branch('docwapmor', 'fix')").collect()
    try {
      spark.conf.set("spark.graft.wap.branch", "fix")
      spark.sql("DELETE FROM graft.snap.docwapmor " +
        "WHERE lang = 'es' AND doc_id % 2 = 0")
      spark.sql("INSERT INTO graft.snap.docwapmor " +
        "SELECT * FROM graft_wapmor_src WHERE lang = 'fr'")
      spark.sql("UPDATE graft.snap.docwapmor " +
        "SET n_chars = n_chars + 1000 WHERE lang = 'fr'")
    } finally spark.conf.unset("spark.graft.wap.branch")
    // AUDIT invariants: the branch face serves the staged changes,
    // main serves none of them — asserted here so a regression fails
    // the query itself, not just a spec
    val auditEsEven = spark.sql(
      """SELECT count(*) FROM graft.snap.docwapmor VERSION AS OF 'fix'
        |WHERE lang = 'es' AND doc_id % 2 = 0""".stripMargin)
      .head().getLong(0)
    val mainChanged = spark.sql(
      """SELECT count(*) FROM graft.snap.docwapmor
        |WHERE lang = 'fr' OR n_chars > 100000""".stripMargin)
      .head().getLong(0)
    require(auditEsEven == 0 && mainChanged == 0,
      s"staging invariant broken: auditEsEven=$auditEsEven " +
        s"mainChanged=$mainChanged")
    val pub = spark.sql("CALL graft.sys.fast_forward('docwapmor', 'fix')")
      .collect().head
    // the publish's change feed: es pre-images as deletes, UPDATED fr
    // rows as inserts, never-visible pre-update fr rows cancel
    val feed = graft.sources.ChangeFeed.tableChanges(spark,
      new java.io.File(root, "docwapmor").toString,
      pub.getLong(0) - 1, Some(pub.getLong(0)))
    val inserts = feed.filter(col("_change_type") === "insert")
    require(inserts.filter(col("lang") =!= "fr").count() == 0 &&
      feed.filter(col("_change_type") === "delete")
        .filter(col("lang") =!= "es").count() == 0,
      "the publish feed must serve fr inserts and es deletes only")
    spark.sql(
      """SELECT lang, count(*) AS n_docs, sum(n_chars) AS sum_chars
        |FROM graft.snap.docwapmor
        |GROUP BY lang""".stripMargin)
  }

  /** STREAMING WRITE-AUDIT-PUBLISH (`q_snap_branch_stream`):
    * a STREAM stages its micro-batch epochs on a WAP
    * branch — `#forbranch` next to the `#txn` replay records,
    * invisible to main until `fast_forward` publishes the adds AND
    * carries the per-writer watermarks (a post-publish replayed
    * engine epoch still detects, spec-pinned). The in-query requires
    * pin staging invisibility; the oracle is main's final state:
    * the de batch load plus the es rows the stream staged. */
  def snapBranchStream(spark: SparkSession, dir: String): DataFrame = {
    val root = snapFixture(spark, "graft_snap_wstr", dir)
    // DataStreamWriter.toTable probes TableCatalog.tableExists on the
    // CALLING thread without withActive(df.sparkSession) — the catalog
    // resolves snap.dir from the thread-local active session, so a
    // stale active left by an earlier streaming query makes the probe
    // look at the WRONG root, conclude "missing", and re-CREATE into
    // the right one (TableAlreadyExists). Pin the active session here.
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    val complete = cleanDocs(spark, dir)
    complete.createOrReplaceTempView("graft_wstr_src")
    spark.sql(
      """CREATE TABLE graft.snap.docwstr
        |  (doc_id BIGINT, lang STRING, n_chars BIGINT)""".stripMargin)
    spark.sql("INSERT INTO graft.snap.docwstr " +
      "SELECT * FROM graft_wstr_src WHERE lang = 'de'")
    spark.sql("CALL graft.sys.create_branch('docwstr', 'ingest')")
      .collect()
    val srcDir = new java.io.File(root, "src").toString
    complete.filter(col("lang") === "es").coalesce(1)
      .write.parquet(srcDir)
    val q = try {
      spark.conf.set("spark.graft.wap.branch", "ingest")
      spark.readStream
        .schema("doc_id BIGINT, lang STRING, n_chars BIGINT")
        .parquet(srcDir)
        .writeStream
        .queryName("graft_snap_wstr_sink")
        .option("checkpointLocation", new java.io.File(root, "ck").toString)
        .toTable("graft.snap.docwstr")
    } catch { case e: Throwable =>
      spark.conf.unset("spark.graft.wap.branch"); throw e
    }
    try { q.processAllAvailable(); q.stop() }
    finally {
      try q.stop() catch { case _: Exception => }
      spark.conf.unset("spark.graft.wap.branch")
    }
    // staging invariants: a regression fails the query, not just a spec
    val mainEs = spark.sql("SELECT count(*) FROM graft.snap.docwstr " +
      "WHERE lang = 'es'").head().getLong(0)
    val auditEs = spark.sql("SELECT count(*) FROM graft.snap.docwstr " +
      "VERSION AS OF 'ingest' WHERE lang = 'es'").head().getLong(0)
    require(mainEs == 0 && auditEs > 0,
      s"streamed staging invariant broken: main=$mainEs audit=$auditEs")
    spark.sql("CALL graft.sys.fast_forward('docwstr', 'ingest')").collect()
    spark.sql(
      """SELECT lang, count(*) AS n_docs, sum(n_chars) AS sum_chars
        |FROM graft.snap.docwstr
        |GROUP BY lang""".stripMargin)
  }

  /** EXPIRE SNAPSHOTS (`q_snap_expire`): five per-lang
    * loads, a tag at version 3, then count-based expiry — the sweep
    * CLAMPS at the tag (tagged snapshots survive expiry by contract),
    * travel below the new horizon refuses, and the CURRENT table is
    * value-invisible to the whole operation (the oracle is the plain
    * per-lang aggregate). In-query requires pin the clamp, the
    * surviving tag read, and the below-horizon refusal — a regression
    * fails the query, not just a spec. */
  def snapExpire(spark: SparkSession, dir: String): DataFrame = {
    snapFixture(spark, "graft_snap_exp", dir)
    val complete = cleanDocs(spark, dir)
    complete.createOrReplaceTempView("graft_exp_src")
    spark.sql(
      """CREATE TABLE graft.snap.docexp
        |  (doc_id BIGINT, lang STRING, n_chars BIGINT)
        |TBLPROPERTIES ('compact.interval'='100')""".stripMargin)
    Langs.foreach { l =>
      spark.sql("INSERT INTO graft.snap.docexp " +
        s"SELECT * FROM graft_exp_src WHERE lang = '$l'")
    }                                                   // epochs 1..5
    spark.sql("CALL graft.sys.create_tag('docexp', 'audit', 3)").collect()
    val r = spark.sql("CALL graft.sys.expire_snapshots('docexp', 1)")
      .collect().head
    require(r.getLong(0) == 3L && r.getString(2) == "tag:audit",
      s"the tag must clamp the sweep: $r")
    val tagged = spark.sql("SELECT count(*) FROM graft.snap.docexp " +
      "VERSION AS OF 'audit'").head().getLong(0)
    val first3 = spark.sql("SELECT count(*) FROM graft_exp_src " +
      "WHERE lang IN ('de', 'en', 'es')").head().getLong(0)
    require(tagged == first3,
      s"the tagged snapshot must survive expiry: $tagged vs $first3")
    val refused = try {
      spark.sql("SELECT count(*) FROM graft.snap.docexp VERSION AS OF 1")
        .collect(); false
    } catch { case e: Exception => e.getMessage.contains("3") }
    require(refused, "travel below the new horizon must refuse " +
      "with the boundary named")
    spark.sql(
      """SELECT lang, count(*) AS n_docs, sum(n_chars) AS sum_chars
        |FROM graft.snap.docexp
        |GROUP BY lang""".stripMargin)
  }

  /** CDC `_commit_timestamp` (`q_snap_cdf_ts`): the change
    * rows carry the epoch's PERSISTED `#ts` commit clock — pinned
    * here via [[graft.sources.ManifestSink.stampCommitTime]] so the
    * wall-clock column is deterministically oracle-able (the same
    * discipline as `q_snap_ts_travel`). Served through the `.changes`
    * SQL face, so the pseudo-column reader path is what's verified. */
  def snapCdfTs(spark: SparkSession, dir: String): DataFrame = {
    val root = snapFixture(spark, "graft_snap_cdft", dir)
    val complete = cleanDocs(spark, dir)
    complete.createOrReplaceTempView("graft_cdft_src")
    spark.sql(
      """CREATE TABLE graft.snap.doccdft
        |  (doc_id BIGINT, lang STRING, n_chars BIGINT)""".stripMargin)
    spark.sql("INSERT INTO graft.snap.doccdft " +
      "SELECT * FROM graft_cdft_src WHERE lang = 'de'")          // epoch 1
    spark.conf.set("spark.sql.catalog.graft.snap.doccdft.deleteMode", "mor")
    spark.sql("DELETE FROM graft.snap.doccdft " +
      "WHERE lang = 'de' AND doc_id % 4 = 0")                    // epoch 2
    val log = new java.io.File(root, "doccdft").toString
    Seq(0L -> 1000000000L, 1L -> 2000000000L, 2L -> 3000000000L)
      .foreach { case (id, us) =>
        graft.sources.ManifestSink.stampCommitTime(log, id, us) }
    spark.read.option("sinceVersion", "0")
      .table("graft.snap.doccdft.changes")
      .createOrReplaceTempView("graft_cdft_feed")
    spark.sql(
      """SELECT _commit_version AS version, _change_type AS change_type,
        |  unix_micros(_commit_timestamp) AS ts_us, count(*) AS n_rows
        |FROM graft_cdft_feed
        |GROUP BY 1, 2, 3""".stripMargin)
  }
}
