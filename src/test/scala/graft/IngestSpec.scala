package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.Materialize

/** CSV → cast/filter → partitioned parquet (the reference's S3+S4 path). */
class IngestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  lazy val csvPath: String = {
    val d = Files.createTempDirectory("graft_ingest")
    val cols = Materialize.PlayerCasts.map(_._1)
    val rows = Seq(
      // well-formed
      "1,23,2,2023-01-15,A Player,80,85,100000,500,25,1998-01-01,180,75,10,ST,7,Spain,Left,3",
      // float-like value_eur (BigQuery would error; Spark truncates) and
      // garbage wage_eur (casts to NULL); last row: null player_id
      "2,23,2,2023-01-15,B Player,70,75,1234.5,oops,30,1993-05-05,175,70,10,GK,7,Spain,Right,2",
      ",23,2,2023-01-15,Ghost,60,65,50,100,20,2003-09-09,170,65,11,CB,8,France,Left,1")
    val f = d.resolve("players.csv")
    Files.writeString(f, (cols.mkString(",") +: rows).mkString("\n"))
    f.toString
  }

  test("materializePlayers: explicit casts, null-on-garbage, null-id filter") {
    val raw = Materialize.readCsv(spark, csvPath, Materialize.PlayerCasts.map(_._1))
    val out = Materialize.materializePlayers(raw).collect()
    assert(out.length == 2) // ghost row (null player_id) filtered (P5)
    val byId = out.map(r => r.getInt(0) -> r).toMap
    assert(byId(1).getInt(7) == 100000)             // value_eur cast
    assert(byId(2).getInt(7) == 1234)               // "1234.5" truncated (non-ANSI)
    assert(byId(2).isNullAt(8))                     // "oops" → NULL
    assert(byId(1).getDate(3).toString == "2023-01-15")
  }

  test("bucketed tables join without a shuffle (CLUSTER BY analog)") {
    // a previous JVM's warehouse dirs survive while its in-memory
    // metastore doesn't — drop both table and orphaned location
    Seq("graft_b_orders", "graft_b_customer").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      graft.util.Fs.deleteRecursively(new java.io.File(s"spark-warehouse/$t"))
    }
    val orders = graft.sources.Tables.orders(spark, TestSpark.Sf0001)
    val customer = graft.sources.Tables.customer(spark, TestSpark.Sf0001)
    Materialize.writeBucketed(orders.select("o_orderkey", "o_custkey"), "graft_b_orders", "o_custkey", 4)
    Materialize.writeBucketed(customer.select("c_custkey", "c_nationkey"), "graft_b_customer", "c_custkey", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("graft_b_orders")
        .join(spark.table("graft_b_customer"),
          org.apache.spark.sql.functions.col("o_custkey") ===
            org.apache.spark.sql.functions.col("c_custkey"))
      TestSpark.assertNoShuffle(joined)
      assert(joined.count() == orders.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("checked-in malformed fixture: q_materialize cast landmines") {
    val out = Materialize.playersFromMalformedCsv(spark, "ignored").collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(out.keySet == Set(1, 2, 4, 5)) // ghost row (null player_id) dropped
    assert(out(2).getInt(7) == 1234)      // "1234.5" truncated toward zero
    assert(out(2).isNullAt(8))            // "oops" → NULL
    assert(out(4).isNullAt(3))            // "not-a-date" → NULL date
    assert(out(4).getInt(6) == -7)        // "-7.9" truncated toward zero
    assert(out(4).getString(4) == "Delta, Jr") // quoted comma field intact
    assert(out(4).isNullAt(8))            // empty wage_eur → NULL
    assert(out(5).isNullAt(1))            // "abc" fifa_version → NULL
    assert(out(5).getInt(7) == 3)         // "3.99" → 3
    assert(out(5).isNullAt(9))            // "xyz" age → NULL
  }

  test("partitioned write produces partition directories and reads back") {
    val raw = Materialize.readCsv(spark, csvPath, Materialize.PlayerCasts.map(_._1))
    val out = Files.createTempDirectory("graft_mat").toString + "/players"
    Materialize.writePartitioned(Materialize.materializePlayers(raw), out, "fifa_update_date")
    val files = new java.io.File(out).listFiles().map(_.getName)
    assert(files.exists(_.startsWith("fifa_update_date=")))
    assert(spark.read.parquet(out).count() == 2)
  }

  test("q_orc_roundtrip: the ORC read-back scan pushes the status filter") {
    val df = Materialize.orcRoundTrip(spark, TestSpark.Sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the second columnar format must keep the same scan economics:
    // the equality filter lands in the ORC scan's PushedFilters
    assert(plan.contains("PushedFilters") &&
      plan.contains("EqualTo(l_linestatus,F"), s"ORC pushdown missing:\n$plan")
  }

  test("cdcMerge applies update, delete, and insert actions exactly") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_cdc").toString
    // keys: 20 → update (+500), 21 → delete, 22 → insert clone at
    // 22+max(23)+1=46, 23 → untouched passthrough
    Seq((20L, 1.00), (21L, 2.00), (22L, 3.00), (23L, 4.00))
      .toDF("o_orderkey", "o_totalprice")
      .write.parquet(s"$d/orders.parquet")
    val out = Materialize.cdcMerge(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(20L -> 600L, 22L -> 300L, 23L -> 400L, 46L -> 300L))
  }

  test("z-order layout bounds BOTH dims per file; a 2-d box skips most files") {
    import org.apache.spark.sql.functions._
    val base = graft.sources.Tables.orders(spark, TestSpark.Sf0001)
      .filter(col("o_custkey").isNotNull && col("o_totalprice").isNotNull)
      .select(col("o_orderkey"), col("o_custkey"),
        graft.functions.Exact.cents(col("o_totalprice")).as("cents"))
    val (mk, mc) = {
      val r = base.agg(max("o_custkey"), max("cents")).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    // how many FILES a bottom-left box query must touch = files whose
    // per-file min/max envelope intersects it (exactly the parquet
    // footer stats an engine consults for data skipping)
    def filesTouched(out: String): (Int, Int) = {
      val files = new java.io.File(out).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      val touched = files.count { f =>
        val s = spark.read.parquet(f.toString)
          .agg(min("o_custkey"), min("cents")).collect()(0)
        s.getLong(0) <= mk / 4 && s.getLong(1) <= mc / 4
      }
      (touched, files.length)
    }
    val zDir = Files.createTempDirectory("graft_z").toString + "/t"
    Materialize.zorderWrite(base, "o_custkey", "cents", mk, mc, 8, zDir)
    val (zTouched, zFiles) = filesTouched(zDir)
    val flatDir = Files.createTempDirectory("graft_flat").toString + "/t"
    base.repartition(8).write.parquet(flatDir) // round-robin: no clustering
    val (fTouched, fFiles) = filesTouched(flatDir)
    assert(zFiles == 8 && fFiles == 8)
    assert(fTouched == 8, "unsorted layout should leave every file touchable")
    // z-clustering keeps both dims bounded: the quarter-by-quarter box
    // intersects only the low-z files (~1/16 of z space ⇒ ≤ 2 of 8 files)
    assert(zTouched <= 2, s"z-order box touched $zTouched of $zFiles files")
    // and the layout is value-invisible: same box rows either way
    val zRows = spark.read.parquet(zDir)
      .filter(col("o_custkey") <= mk / 4 && col("cents") <= mc / 4).count()
    val bRows = base
      .filter(col("o_custkey") <= mk / 4 && col("cents") <= mc / 4).count()
    assert(zRows == bRows)
  }

  test("q_partitioned_write: read-back scan prunes on the partition filter") {
    val df = Materialize.partitionedRoundTrip(spark, TestSpark.Sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // static partition pruning: the IN filter must land in the scan's
    // PartitionFilters (at 100 TB that is the difference between reading
    // 2 partitions and all of them), and NOT remain a post-scan Filter
    val pf = plan.linesIterator.find(_.contains("PartitionFilters:"))
    assert(pf.exists(_.contains("o_orderpriority")), s"no partition pruning:\n$plan")
  }

  test("q_dpp_join: fact scan is pruned at runtime by the dim filter") {
    val df = Materialize.dppJoin(spark, TestSpark.Sf0001)
    df.collect()
    // the dim predicate (n_regionkey = 1) cannot prune the fact at plan
    // time — only a dynamicpruningexpression in the scan's
    // PartitionFilters proves the broadcast result flowed back into the
    // fact read (at 100 TB: one region's partitions scanned, not all 25)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"),
      s"no dynamic partition pruning in:\n$plan")
    // and the pruning must have HAPPENED, not just been planned: the
    // scan's partitions-read metric stays below the partition count on
    // disk (region 1 holds 5 of the 25 nations)
    val dppDir = Materialize.processScratchDir("graft_dpp_cust", TestSpark.Sf0001)
    val onDisk = new java.io.File(dppDir).listFiles()
      .count(_.getName.startsWith("c_nationkey="))
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    val factScan = scans(df.queryExecution.executedPlan)
      .find(_.metadata.get("Location").exists(_.contains("graft_dpp_cust")))
      .getOrElse(fail(s"no fact scan found in:\n$plan"))
    val read = factScan.metrics("numPartitions").value
    assert(read < onDisk && read > 0,
      s"no runtime pruning: read $read of $onDisk partitions")
  }

  test("compaction: scattered files collapse to ≤8 sorted files with disjoint ts envelopes") {
    import org.apache.spark.sql.functions._
    Materialize.compactRoundTrip(spark, TestSpark.Sf0001).collect() // drive the writes
    def parts(d: String): Int =
      new java.io.File(d).listFiles().count(_.getName.startsWith("part-"))
    val nScatter = parts(Materialize.processScratchDir("graft_scatter_ev", TestSpark.Sf0001))
    val compactDir = Materialize.processScratchDir("graft_compact_ev", TestSpark.Sf0001)
    val nCompact = parts(compactDir)
    assert(nCompact <= 8 && nCompact < nScatter,
      s"no compaction: scatter=$nScatter compact=$nCompact")
    // range partitioning + in-file sort ⇒ pairwise-disjoint ts envelopes,
    // the property parquet min/max stats need to skip files on time filters
    val env = spark.read.parquet(compactDir)
      .select(input_file_name().as("f"), col("ts"))
      .filter(col("ts").isNotNull)
      .groupBy("f").agg(min("ts").as("lo"), max("ts").as("hi"))
      .orderBy("lo").collect()
    env.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getTimestamp(2).compareTo(b.getTimestamp(1)) < 0,
          s"file envelopes overlap: ${a.mkString(",")} vs ${b.mkString(",")}")
      case _ =>
    }
  }

  test("schema evolution: old generation lacks the column; merged read null-fills it") {
    Materialize.schemaEvolution(spark, TestSpark.Sf0001).collect() // drive the writes
    val root = Materialize.processScratchDir("graft_schemaevo", TestSpark.Sf0001)
    // generation 1 alone has no priority column at all
    assert(!spark.read.parquet(s"$root/gen1").columns.contains("o_orderpriority"))
    // the merged read surfaces it, null for every old-generation row
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(s"$root/gen1", s"$root/gen2")
    assert(merged.columns.contains("o_orderpriority"))
    import org.apache.spark.sql.functions._
    val gen1Rows = merged.filter(pmod(col("o_orderkey"), lit(2)) === 0)
    assert(gen1Rows.count() > 0)
    assert(gen1Rows.filter(col("o_orderpriority").isNotNull).count() == 0,
      "old-generation rows must null-fill the late-added column")
  }

  test("retention delete: expired partitions unlink; surviving files are untouched") {
    import org.apache.spark.sql.functions._
    // rebuild the day-partitioned table the operator writes, capture a
    // surviving file's bytes, then prune — proving the delete is pure
    // metadata (dirs unlink, no surviving file rewritten)
    val evs = graft.sources.Tables.events(spark, TestSpark.Sf0001)
    val out = Files.createTempDirectory("graft_retention_spec").toString
    evs.withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .write.mode("overwrite").partitionBy("day").parquet(out)
    val cutoff = evs
      .agg(expr("date_format(timestamp_micros((unix_micros(min(ts)) + unix_micros(max(ts))) div 2), 'yyyy-MM-dd')"))
      .collect().head.getString(0)
    val root = new java.io.File(out)
    def dayDirs = root.listFiles().map(_.getName).filter(_.startsWith("day=")).sorted
    val before = dayDirs
    assert(before.exists(_.stripPrefix("day=") < cutoff), "nothing to expire")
    val survivorFiles = root.listFiles()
      .filter(f => f.getName.startsWith("day=") && f.getName.stripPrefix("day=") >= cutoff)
      .flatMap(_.listFiles().filter(_.getName.startsWith("part-")))
      .map(p => p.toPath -> java.nio.file.Files.readAllBytes(p.toPath))
    assert(survivorFiles.nonEmpty)
    Materialize.retentionPrune(out, cutoff)
    val after = dayDirs
    assert(after.forall(_.stripPrefix("day=") >= cutoff), after.mkString(","))
    assert(after.length < before.length, "no partition was dropped")
    survivorFiles.foreach { case (p, bytes) =>
      assert(java.util.Arrays.equals(bytes, java.nio.file.Files.readAllBytes(p)),
        s"surviving file $p was rewritten by the prune")
    }
    graft.util.Fs.deleteRecursively(root.toPath)
  }

  test("empty events corpus: retention delete and sketch union degrade gracefully") {
    import org.apache.spark.sql.types._
    // an empty PARTITIONED write creates no part files at all — the
    // read-back must return the empty result, not a schema-infer error;
    // and a zero-sketch union must keep within_bound TRUE like its oracle
    val d = Files.createTempDirectory("graft_empty").toString
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .write.parquet(s"$d/events.parquet")
    assert(Materialize.retentionDelete(spark, d).collect().isEmpty)
    val r = graft.ops.EventOps.sketchUnion(spark, d).collect().head
    assert(r.getLong(0) == 0L && r.getLong(1) == 0L && r.getBoolean(2))
  }

  test("mergeAggPartials: refresh cycle after cycle ≡ full recompute") {
    import org.apache.spark.sql.functions._
    val evs = graft.sources.Tables.events(spark, TestSpark.Sf0001)
      .select(col("event_type"), col("event_id"),
        graft.functions.Exact.cents(col("value")).as("c"))
    def partials(df: org.apache.spark.sql.DataFrame) = df.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("c")).as("sum_cents"),
        max(col("c")).as("max_cents"))
    def third(i: Int) = evs.filter(pmod(col("event_id"), lit(3)) === i)
    // two successive delta merges over three disjoint slices
    val maintained = Materialize.mergeAggPartials(
      Materialize.mergeAggPartials(partials(third(0)), partials(third(1))),
      partials(third(2)))
    val full = partials(evs)
    assert(maintained.exceptAll(full).isEmpty && full.exceptAll(maintained).isEmpty,
      "incremental maintenance diverged from the full recompute")
  }

  test("rendezvousShard: minimal movement — every moved doc lands on the " +
    "NEW shard, movement ≈ 1/(n+1), placements stay in range") {
    val rows = Materialize.rendezvousShard(spark, TestSpark.Sf0001).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("shard_n"),
        r.getAs[Int]("shard_n1"), r.getAs[Boolean]("moved")))
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, s8, s9, _) =>
      s8 >= 0 && s8 < Materialize.RvShards && s9 >= 0 && s9 <= Materialize.RvShards })
    // HRW's defining property: adding a shard never reshuffles data
    // BETWEEN old shards — a doc moves only TO the new shard
    assert(rows.forall { case (_, s8, s9, moved) =>
      if (moved) s9 == Materialize.RvShards else s9 == s8 })
    // expectation 1/(n+1) ≈ 11%; wide deterministic band for the small corpus
    val frac = rows.count(_._4).toDouble / rows.length
    assert(frac > 0.02 && frac < 0.30, s"moved fraction $frac")
  }

  test("ManifestSink (DSv2 write): round trip preserves values; a re-run " +
    "atomically supersedes the manifest; uncommitted files are invisible") {
    import org.apache.spark.sql.functions.col
    import java.nio.file.{Files, Paths}
    val base = Materialize.dsv2SinkRoundTrip(spark, TestSpark.Sf0001)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val direct = graft.sources.Tables.documents(spark, TestSpark.Sf0001)
      .filter(col("doc_id").isNotNull && col("lang").isNotNull &&
        col("n_chars").isNotNull)
      .groupBy("lang").agg(
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(col("n_chars")).as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(base == direct)
    // re-run: the query starts from an empty log (its contract is one
    // run's snapshot), so the result is unchanged
    val rerun = Materialize.dsv2SinkRoundTrip(spark, TestSpark.Sf0001)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rerun == direct, "superseded part files leaked into the snapshot")
    // VERSIONED batch appends (round 11): two mode("append") writes to
    // ONE manifest dir are two epochs — the visible set is their union
    // (pre-r11 the second commit replaced the manifest, silently
    // dropping the first append), and each epoch is a servable version
    val vdir = Files.createTempDirectory("graft_manifest_ver").toString
    def appendOnce(ids: Seq[Long]): Unit = {
      import spark.implicits._
      ids.toDF("v").coalesce(1).write
        .format("graft.sources.ManifestSink")
        .option("path", vdir).mode("append").save()
    }
    appendOnce(Seq(1L, 2L))
    appendOnce(Seq(3L))
    def idsOf(files: Seq[String]): Set[Long] =
      spark.read.schema("v LONG").parquet(files: _*)
        .collect().map(_.getLong(0)).toSet
    assert(idsOf(graft.sources.ManifestSink.committedFiles(vdir)) ==
      Set(1L, 2L, 3L), "append did not union")
    assert(idsOf(graft.sources.ManifestSink.snapshot(vdir).filesAsOf(0)) ==
      Set(1L, 2L), "version 0 is the first append alone")
    assert(idsOf(graft.sources.ManifestSink.snapshot(vdir).filesBetween(0, 1)) ==
      Set(3L), "the (0,1] delta is the second append alone")
    graft.util.Fs.deleteRecursively(Paths.get(vdir))
    // CONCURRENT committers: the link(2)-exclusive epoch claim means
    // racing appends serialize onto distinct ids with nothing lost —
    // 4 threads x 5 appends of disjoint ids must all be visible and
    // the log must hold exactly 20 versions (0..19)
    val cdir = Files.createTempDirectory("graft_manifest_conc").toString
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (0 until 4).map { t =>
        pool.submit(new Runnable {
          override def run(): Unit = (0 until 5).foreach { i =>
            val id = t * 5L + i
            import spark.implicits._
            Seq(id).toDF("v").coalesce(1).write
              .format("graft.sources.ManifestSink")
              .option("path", cdir).mode("append").save()
          }
        })
      }
      futures.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(idsOf(graft.sources.ManifestSink.committedFiles(cdir)) ==
      (0L until 20L).toSet, "a racing append was lost")
    assert(graft.sources.ManifestSink.newestVersion(cdir) == 19,
      "racing appends did not serialize onto 20 distinct epochs")
    graft.util.Fs.deleteRecursively(Paths.get(cdir))
    // uncommitted task files are invisible: a writer commits its FILE,
    // but without the driver's manifest commit nothing is visible
    val lone = Files.createTempDirectory("graft_manifest_lone").toString
    val w = graft.sources.ManifestWriterFactory(lone, Array("v"), Array("long"), "t0ken")
      .createWriter(0, 999999L)
    w.write(org.apache.spark.sql.catalyst.InternalRow(42L))
    val msg = w.commit()
    assert(Files.list(Paths.get(lone, "data")).count() == 1)
    assert(graft.sources.ManifestSink.committedFiles(lone).isEmpty,
      "file visible without a manifest commit")
    // and the job-level abort removes the orphan
    graft.sources.ManifestBatchWrite(lone,
      new org.apache.spark.sql.types.StructType().add("v", "long"))
      .abort(Array(msg))
    assert(Files.list(Paths.get(lone, "data")).count() == 0)
  }

  test("manifest parquet plane: the full scalar surface round-trips " +
    "(long/int/short/byte/double/float/boolean/string/timestamp/date) " +
    "with nulls, and the long-family #stats carry micros/days payloads") {
    val dir = Files.createTempDirectory("graft_manifest_types").toString
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (1L, 10, CAST(3 AS SHORT), CAST(4 AS TINYINT), 1.5D,
        |   CAST(2.5 AS FLOAT), true, 'alpha',
        |   TIMESTAMP '2024-01-05 06:07:08.123456', DATE '2024-02-03'),
        |  (2L, CAST(NULL AS INT), CAST(NULL AS SHORT),
        |   CAST(NULL AS TINYINT), CAST(NULL AS DOUBLE),
        |   CAST(NULL AS FLOAT), CAST(NULL AS BOOLEAN),
        |   CAST(NULL AS STRING), CAST(NULL AS TIMESTAMP),
        |   CAST(NULL AS DATE))
        |AS t(l, i, s, b, d, f, bo, str, ts, dt)""".stripMargin)
    df.coalesce(1).write.format("graft.sources.ManifestSink")
      .option("path", dir).mode("append").save()
    val files = graft.sources.ManifestSink.committedFiles(dir)
    assert(files.size == 1)
    val back = spark.read.schema(df.schema).parquet(files: _*)
    assert(back.count() == 2)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty,
      "parquet round trip changed values")
    val st = graft.sources.ManifestSink.fileStats(dir)
      .apply(java.nio.file.Paths.get(files.head).getFileName.toString)
    assert(st.rows == 2)
    // long family only (floating/boolean carry no bounds); null row ignored
    assert(st.cols.keySet == Set("l", "i", "s", "b", "ts", "dt"), st.cols)
    assert(st.cols("ts") == ((1704434828123456L, 1704434828123456L)), st.cols)
    assert(st.cols("dt")._1 == java.time.LocalDate.of(2024, 2, 3).toEpochDay)
    assert(st.strCols.keySet == Set("str") &&
      st.strCols("str") == (("alpha", Some("alpha"))), st.strCols)
    graft.util.Fs.deleteRecursively(Paths.get(dir))
  }

  test("SyntheticSource (DSv2): rows follow the formulas; full scan plans " +
    "all slices") {
    val df = spark.read.format("graft.sources.SyntheticSource")
      .option("rows", 50L).option("slices", 4).load()
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getString(3))).sortBy(_._1)
    assert(rows.length == 50)
    rows.foreach { case (id, u, v, t) =>
      assert(u == graft.sources.SyntheticSource.userId(id))
      assert(v == graft.sources.SyntheticSource.valueCents(id))
      assert(t == graft.sources.SyntheticSource.eventType(id))
    }
    assert(rows.map(_._1).toSeq == (0L until 50L).toSeq)
    val info = graft.sources.SyntheticSource.lastScan.get
    assert(info.partitions == 4 && info.pushedIdLo == 0 && info.pushedIdHi == 50)
  }

  test("SyntheticSource (DSv2): the columnar path returns exactly the " +
    "row path's data and plans a ColumnarToRow transition") {
    import org.apache.spark.sql.functions.col
    def read(columnar: Boolean) =
      spark.read.format("graft.sources.SyntheticSource")
        .option("rows", 20000L).option("slices", 8)
        .option("columnar", columnar).load()
    val row = read(false)
    val vec = read(true)
    assert(vec.exceptAll(row).count() == 0 && row.exceptAll(vec).count() == 0)
    // vectorized scan feeds codegen through a ColumnarToRow transition;
    // the row path has none
    val vecPlan = vec.queryExecution.executedPlan.toString
    val rowPlan = row.queryExecution.executedPlan.toString
    assert(vecPlan.contains("ColumnarToRow"), vecPlan)
    assert(!rowPlan.contains("ColumnarToRow"), rowPlan)
    // pruning holds on the vectorized path too
    assert(vec.select("event_type").distinct().count() == 5)
    assert(graft.sources.SyntheticSource.lastScan.get.columns == Seq("event_type"))
  }

  test("SyntheticSource (DSv2): id-range filters push down and NARROW " +
    "partition planning; projections prune the generated columns") {
    import org.apache.spark.sql.functions.col
    val df = spark.read.format("graft.sources.SyntheticSource")
      .option("rows", 100000L).option("slices", 16).load()
    // 1/16th of the key space: planning narrows to [0, 6250) and the 16
    // slices re-split the SURVIVING range (reader work ∝ 6250, not 100k)
    val narrow = df.filter(col("id") < 6250).select("id")
    assert(narrow.count() == 6250)
    val info = graft.sources.SyntheticSource.lastScan.get
    assert(info.pushedIdHi == 6250, s"filter not pushed: $info")
    assert(info.partitions == 16, s"surviving range should still split: $info")
    assert(info.columns == Seq("id"), s"projection not pruned: $info")
    // conjunctive range + equality
    val one = df.filter(col("id") === 42L)
    assert(one.count() == 1)
    val info2 = graft.sources.SyntheticSource.lastScan.get
    assert(info2.pushedIdLo == 42 && info2.pushedIdHi == 43 &&
      info2.partitions == 1)
    // empty range plans nothing
    assert(df.filter(col("id") < 0).count() == 0)
    assert(graft.sources.SyntheticSource.lastScan.get.partitions == 0)
  }

  test("SyntheticSource (DSv2): count/sum/min/max push INTO the source — " +
    "the scan emits per-partition partials, and the plan says so") {
    import graft.sources.SyntheticSource
    val df = Materialize.dsv2Agg(spark, TestSpark.Sf0001)
    val got = df.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4))).sortBy(_._1)
    // brute-force recompute of the generator formulas
    val expect = (0L until 200000L).groupBy(SyntheticSource.eventType)
      .map { case (t, ids) =>
        (t, ids.size.toLong, ids.map(SyntheticSource.valueCents).sum,
          ids.map(SyntheticSource.userId).min, ids.map(SyntheticSource.userId).max)
      }.toArray.sortBy(_._1)
    assert(got.toSeq == expect.toSeq)
    // the executed plan carries the pushed aggregation...
    // (catalyst rewrites count over a non-nullable column to COUNT(*))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates: [count(*), sum(value_cents), " +
      "min(user_id), max(user_id)]"), plan)
    // ...and the scan's output schema IS the partial-aggregate schema
    // (5 narrow columns, one row per partition×group), not raw rows
    val info = SyntheticSource.lastScan.get
    assert(info.pushedAggs == Seq("count(*)", "sum(value_cents)",
      "min(user_id)", "max(user_id)"), info)
    assert(info.columns == Seq("event_type", "count(*)", "sum(value_cents)",
      "min(user_id)", "max(user_id)"), info)
    assert(info.partitions == 16)
  }

  test("SyntheticSource (DSv2): a GLOBAL pushed aggregate over an empty " +
    "range still returns the SQL one-row answer (count 0, sum null)") {
    import org.apache.spark.sql.functions.{count, col, sum}
    val df = spark.read.format("graft.sources.SyntheticSource")
      .option("rows", 0L).option("slices", 4).load()
      .agg(count(col("id")).as("n"), sum(col("value_cents")).as("s"))
    val row = df.collect().head
    assert(row.getLong(0) == 0L && row.isNullAt(1), row)
    val info = graft.sources.SyntheticSource.lastScan.get
    assert(info.pushedAggs.nonEmpty, s"global aggregate not pushed: $info")
    // one degenerate partition carries the zero/null partial
    assert(info.partitions == 1, info)
  }

  test("SyntheticSource (DSv2): runtime join-key filtering prunes slices " +
    "at execution (SupportsRuntimeFiltering)") {
    val df = Materialize.dsv2RuntimeFilter(spark, TestSpark.Sf0001)
    assert(df.collect().length == 5) // the 5 nations of region 1
    // the executed plan must carry the runtime pruning subquery on the
    // connector scan — the DSv2 face of dynamic partition pruning
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("RuntimeFilters: [dynamicpruningexpression"),
      s"no runtime filter on the BatchScan:\n$plan")
    // and it must have ACTED: the scan saw the dim's 5 join keys and
    // re-planned 1 of 16 slices (ids 0..24 all fall in [0, 12500))
    val info = graft.sources.SyntheticSource.lastScan.get
    assert(info.runtimeFilterIds.contains(5), s"filter not delivered: $info")
    assert(info.partitions == 1, s"slices not pruned: $info")
  }

  test("SyntheticSource (DSv2): ORDER BY id LIMIT k pushes as TopN and " +
    "caps the PLANNED range at k rows (SupportsPushDownTopN)") {
    import org.apache.spark.sql.functions.col
    val df = Materialize.dsv2TopN(spark, TestSpark.Sf0001)
    val ids = df.collect().map(_.getLong(0)).toSeq
    assert(ids == (199999L to 199958L by -1L).toSeq, ids)
    // the executed plan carries the pushed top-N on the connector scan,
    // and Spark's own TakeOrderedAndProject stays on top (partial push)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedTopN: ORDER BY id DESC LIMIT 42"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // the planning effect: the scan's id range IS the top-42 — no
    // partition can generate a row the limit would discard
    val info = graft.sources.SyntheticSource.lastScan.get
    assert(info.pushedIdHi - info.pushedIdLo == 42, info)
    assert(info.limitInfo == Seq("PushedTopN: ORDER BY id DESC LIMIT 42"), info)
    // ascending flavor narrows from the low end
    val asc = spark.read.format("graft.sources.SyntheticSource")
      .option("rows", 100000L).option("slices", 16).load()
      .orderBy(col("id")).limit(7)
    assert(asc.collect().map(_.getLong(0)).toSeq == (0L until 7L).toSeq)
    val ascInfo = graft.sources.SyntheticSource.lastScan.get
    assert(ascInfo.pushedIdLo == 0 && ascInfo.pushedIdHi == 7, ascInfo)
    // a sort the generator can't serve (not the id order) is refused —
    // the scan plans the full range and Spark's sort does the work
    val other = spark.read.format("graft.sources.SyntheticSource")
      .option("rows", 1000L).option("slices", 4).load()
      .orderBy(col("value_cents")).limit(3)
    assert(other.count() == 3)
    assert(graft.sources.SyntheticSource.lastScan.get.limitInfo.isEmpty)
  }

  test("SyntheticSource (DSv2): bare LIMIT and bare OFFSET push into the " +
    "scan (SupportsPushDownLimit / SupportsPushDownOffset)") {
    val df = spark.read.format("graft.sources.SyntheticSource")
      .option("rows", 200000L).option("slices", 16).load()
    // plain limit (no order): any k rows satisfy it; the scan generates
    // exactly k and Spark's GlobalLimit stays as the safety net
    assert(df.limit(9).count() == 9)
    val limInfo = graft.sources.SyntheticSource.lastScan.get
    assert(limInfo.pushedIdHi - limInfo.pushedIdLo == 9, limInfo)
    assert(limInfo.limitInfo == Seq("PushedLimit: LIMIT 9"), limInfo)
    // bare offset is the all-or-nothing contract: accepting it DELETES
    // the Offset operator, so the scan must skip exactly m rows — it
    // advances the low endpoint by m
    val off = df.offset(12345)
    assert(off.count() == 200000L - 12345L)
    val offInfo = graft.sources.SyntheticSource.lastScan.get
    assert(offInfo.pushedIdLo == 12345, offInfo)
    assert(offInfo.limitInfo == Seq("PushedOffset: OFFSET 12345"), offInfo)
    // assert on the logical OPERATOR, not the plan string — the scan's
    // own description legitimately prints "PushedOffset: OFFSET 12345"
    assert(off.queryExecution.optimizedPlan.collect {
      case o: org.apache.spark.sql.catalyst.plans.logical.Offset => o
    }.isEmpty, "Offset operator should be deleted after an exact push")
  }

  test("SyntheticSource (DSv2): reported KeyGroupedPartitioning makes " +
    "groupBy(event_type) SHUFFLE-FREE; values match the unkeyed scan") {
    val keyed = Materialize.dsv2KeyedAgg(spark, TestSpark.Sf0001)
    // the storage-partitioned contract: the scan's reported partitioning
    // satisfies the aggregation's distribution — zero exchanges anywhere
    TestSpark.assertNoShuffle(keyed)
    val info = graft.sources.SyntheticSource.lastScan.get
    assert(info.partitions == graft.sources.SyntheticSource.NumTypes, info)
    // the layout is physical only: same values as the plain sliced scan
    import org.apache.spark.sql.functions.{count, lit, min, sum, col}
    val plain = spark.read.format("graft.sources.SyntheticSource")
      .option("rows", 200000L).option("slices", 16).load()
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("value_cents")).as("sum_cents"),
        min(col("user_id")).as("min_uid"))
    assert(keyed.exceptAll(plain).isEmpty && plain.exceptAll(keyed).isEmpty,
      "keyed layout changed values")
  }

  test("SyntheticSource (DSv2): storage-partitioned JOIN — two keyed " +
    "scans, two aggs, one sort-merge join, ZERO exchanges") {
    val df = Materialize.spjJoin(spark, TestSpark.Sf0001)
    TestSpark.assertNoShuffle(df)
    // the join must be a real SortMergeJoin over the co-located
    // partitions — a broadcast would make no-shuffle trivially true
    // (plan-string match: under AQE the wrapper is a leaf, so an
    // operator collect sees nothing — same rationale as assertNoShuffle)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected a SortMergeJoin:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"), s"join got broadcast:\n$plan")
    // the whole pipeline ran at the storage partitioning: the join
    // output is exactly the 5 co-located event_type partitions
    assert(df.rdd.getNumPartitions == graft.sources.SyntheticSource.NumTypes,
      s"join did not run at the keyed width: ${df.rdd.getNumPartitions}")
  }

  test("SyntheticSource (DSv2): reported ordering — the keyed window " +
    "plans with ZERO exchanges and ZERO sorts") {
    val df = Materialize.dsv2Window(spark, TestSpark.Sf0001)
    TestSpark.assertNoShuffle(df)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Window "), s"expected a Window operator:\n$plan")
    // reported (event_type, id) ordering must eliminate the sort the
    // window would otherwise insert ("Sort [" is the operator's render;
    // SortMergeJoin et al. don't match)
    assert(!plan.contains("Sort ["), s"window inserted a sort:\n$plan")
  }

  test("SyntheticSource (DSv2): _slice metadata column is hidden from " +
    "SELECT *, resolves when named, identical on row and columnar paths") {
    val load = spark.read.format("graft.sources.SyntheticSource")
      .option("rows", 200000L).option("slices", 16).load()
    // hidden: the metadata column never widens the table schema
    assert(!load.columns.contains("_slice"), load.columns.toSeq)
    val df = Materialize.dsv2Meta(spark, TestSpark.Sf0001)
    val rows = df.collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    // 16 even slices of 12500 ids each
    assert(rows == (0 until 16).map(s => s -> 12500L).toMap, rows)
    // the scan prunes to exactly the referenced columns + the metadata col
    val info = graft.sources.SyntheticSource.lastScan.get
    assert(info.columns.toSet == Set("value_cents", "_slice"), info)
    // the vectorized path serves the same values
    val vec = spark.read.format("graft.sources.SyntheticSource")
      .option("rows", 200000L).option("slices", 16).option("columnar", "true")
      .load()
      .select(org.apache.spark.sql.functions.col("_slice").as("slice"),
        org.apache.spark.sql.functions.col("value_cents"))
      .groupBy("slice")
      .agg(org.apache.spark.sql.functions.sum("value_cents").as("sum_cents"))
    assert(vec.exceptAll(df.select("slice", "sum_cents")).isEmpty &&
      df.select("slice", "sum_cents").exceptAll(vec).isEmpty,
      "columnar _slice diverged from the row path")
  }

  test("SyntheticSource (DSv2): reported statistics — the narrowed scan " +
    "costs rows×width (not the default 'huge') and broadcasts STATICALLY") {
    // a child session with AQE off: only static planning can pick the
    // broadcast, so the choice provably came from the reported stats
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val df = Materialize.dsv2Stats(s, TestSpark.Sf0001)
    // logical stats: the narrowed scan (2000 rows) reports ~rows×width,
    // orders of magnitude under defaultSizeInBytes
    val scanStats = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
          if r.scan.isInstanceOf[graft.sources.SyntheticScan] =>
        r.stats.sizeInBytes
    }
    assert(scanStats.nonEmpty, df.queryExecution.optimizedPlan.toString)
    assert(scanStats.head < BigInt(1000000),
      s"narrowed scan did not report its true size: ${scanStats.head}")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"stats did not drive a static broadcast:\n$plan")
  }

  test("avro + xml round trips really write their formats (row-oriented " +
    "landing files on disk) and aggregate to the original values") {
    assert(Materialize.avroRoundTrip(spark, TestSpark.Sf0001).collect().nonEmpty)
    assert(Materialize.xmlRoundTrip(spark, TestSpark.Sf0001).count() == 5)
    def landed(prefix: String, ext: String): Boolean = {
      val tmp = new java.io.File(sys.props("java.io.tmpdir"))
      tmp.listFiles().filter(f => f.isDirectory && f.getName.startsWith(prefix))
        .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
        .exists(_.getName.endsWith(ext))
    }
    assert(landed("graft_avro_ord_", ".avro"), "no .avro part files landed")
    assert(landed("graft_xml_nat_", ".xml"), "no .xml part files landed")
  }

  test("SyntheticSource (DSv2): JOIN PUSHDOWN — the inner equi-join on " +
    "id collapses into ONE PushedJoin scan; values match the unpushed plan") {
    val df = Materialize.dsv2JoinPush(spark, TestSpark.Sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedJoin: INNER ON id"),
      s"join not pushed into the scan:\n$plan")
    Seq("SortMergeJoin", "HashJoin", "NestedLoopJoin").foreach(op =>
      assert(!plan.contains(op), s"a $op operator survived:\n$plan"))
    assert(graft.sources.SyntheticSource.lastScan.exists(_.pushedJoin))
    // the pushed plan is a physical contract only: same values as the
    // engine-joined plan with pushdown disabled (same query inlined —
    // dsv2JoinPush itself re-enables the conf)
    spark.conf.set("spark.sql.optimizer.datasourceV2JoinPushdown", "false")
    try {
      import org.apache.spark.sql.functions.{count, lit, sum}
      def syn(rows: Long) = spark.read
        .format("graft.sources.SyntheticSource")
        .option("rows", rows).option("slices", 16).load()
      val l = syn(200000L)
      val r = syn(120000L)
      val unpushed = l.join(r, l("id") === r("id"))
        .groupBy(r("event_type").as("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(l("value_cents")).as("cents_l"),
          sum(r("value_cents")).as("cents_r"))
      val up = unpushed.collect()
      val upPlan = unpushed.queryExecution.executedPlan.toString
      assert(!upPlan.contains("PushedJoin"), upPlan)
      assert(up.toSet == df.collect().toSet, "pushed join changed values")
    } finally
      spark.conf.set("spark.sql.optimizer.datasourceV2JoinPushdown", "false")
  }

  test("GraftCatalog mut: DELETE WHERE on the partition column is " +
    "METADATA-ONLY (survivors byte-identical); row predicates refused") {
    import java.nio.file.{Files => JFiles}
    val root = JFiles.createTempDirectory("graft_mut_spec").toFile
    val tbl = new java.io.File(root, "events")
    graft.sources.Tables.events(spark, TestSpark.Sf0001)
      .filter(org.apache.spark.sql.functions.col("event_type").isNotNull)
      .select("event_id", "user_id", "event_type", "value")
      .write.mode("overwrite").partitionBy("event_type")
      .parquet(tbl.toString)
    graft.sources.GraftCatalog.register(spark, TestSpark.Sf0001)
    spark.conf.set("spark.sql.catalog.graft.mut.dir", root.toString)
    def files(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(tbl).map(f => f.getPath ->
        ((f.length, f.lastModified))).toMap
    }
    val before = files()
    assert(before.keys.exists(_.contains("event_type=error")), before.keys)
    val nBefore = spark.sql("SELECT count(*) FROM graft.mut.events")
      .head().getLong(0)
    spark.sql("DELETE FROM graft.mut.events WHERE event_type = 'error'")
    // survivors untouched byte-for-byte (same length, same mtime — no
    // rewrite happened); the dropped partition's files are gone
    val after = files()
    assert(after == before.filter(!_._1.contains("event_type=error")),
      "delete rewrote surviving files")
    val nAfter = spark.sql("SELECT count(*) FROM graft.mut.events")
      .head().getLong(0)
    assert(nAfter < nBefore && nAfter > 0, s"$nBefore -> $nAfter")
    // a row-level predicate cannot be answered in metadata: REFUSE,
    // don't silently rewrite
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("DELETE FROM graft.mut.events WHERE user_id = 3")
    }
    assert(files() == after, "refused delete still mutated the table")
  }

  test("GraftCatalog: catalog-provided functions resolve by name; the " +
    "scalar compiles to the magic-method Invoke, the agg to v2aggregator") {
    val df = Materialize.catalogFunctions(spark, TestSpark.Sf0001)
    assert(df.collect().nonEmpty)
    val plan = df.queryExecution.executedPlan.toString
    // magic-method codegen path, NOT the row-boxed produceResult fallback
    assert(plan.contains("invoke(graft.sources.CatalogFunctions"),
      s"band did not take the magic-method Invoke path:\n$plan")
    assert(plan.contains("v2aggregator"),
      s"xsum did not plan as a V2 aggregate:\n$plan")
    // the catalog lists its functions; unknown names miss cleanly
    val listed = spark.sql("SHOW FUNCTIONS IN graft.fn")
      .collect().map(_.getString(0)).toSet
    assert(graft.sources.GraftCatalog.FnNames.forall(f =>
      listed.exists(_.endsWith(f))), listed)
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft.fn.nope(1)").collect()
    }
  }

  test("GraftCatalog: q_catalog_sql resolves by name to the SAME scan " +
    "machinery a path read gets (pushdown + pruned columns)") {
    val df = Materialize.catalogSql(spark, TestSpark.Sf0001)
    assert(df.collect().length == 25)
    // the catalog must add naming, not a read path: each catalog scan is
    // the parquet DSv2 BatchScan with the join filters pushed and the
    // read schema pruned to the referenced columns
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan parquet"), plan)
    assert(plan.contains("PushedFilters: [IsNotNull(o_custkey)]"), plan)
    assert(plan.contains("ReadSchema: struct<o_custkey:bigint,o_totalprice:double>"),
      s"orders scan not pruned to 2 columns:\n$plan")
  }

  test("GraftCatalog: SHOW TABLES lists the sf namespace; the gen " +
    "namespace serves the synthetic connector by name") {
    graft.sources.GraftCatalog.register(spark, TestSpark.Sf0001)
    val names = spark.sql("SHOW TABLES IN graft.sf")
      .collect().map(_.getString(1)).toSet
    assert(names == graft.sources.GraftCatalog.SfTables.toSet, names)
    // a computed (non-storage) table under the same catalog: the
    // synthetic DSv2 connector with conf-provided geometry
    spark.conf.set("spark.sql.catalog.graft.gen.rows", "2000")
    val Array(n, sumId) = spark.sql(
      "SELECT count(*), CAST(sum(id) AS BIGINT) FROM graft.gen.numbers")
      .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
    assert(n == 2000L && sumId == 1999L * 2000 / 2, s"$n, $sumId")
  }

  test("GraftCatalog: read-only outside snap — DDL on sf refuses; " +
    "unknown tables fail resolution cleanly") {
    graft.sources.GraftCatalog.register(spark, TestSpark.Sf0001)
    // round 15: DDL is supported ONLY in the snap namespace — every
    // other namespace keeps the refusal (layout owned by Materialize)
    val ddl = intercept[Exception](spark.sql("DROP TABLE graft.sf.orders"))
    assert(ddl.getMessage.contains("snap namespace"), ddl.getMessage)
    // an unknown table must be a clean resolution miss, not a crash
    val miss = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT * FROM graft.sf.no_such_table"))
    assert(miss.getMessage.toLowerCase.contains("cannot be found") ||
      miss.getMessage.toLowerCase.contains("not found"), miss.getMessage)
  }

  test("GraftCatalog: events serves BY NAME with the ts normalization — " +
    "schema says TIMESTAMP and values ≡ Tables.events, pushdown intact") {
    graft.sources.GraftCatalog.register(spark, TestSpark.Sf0001)
    val cat = spark.table("graft.sf.events")
    assert(cat.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType, cat.schema)
    val base = graft.sources.Tables.events(spark, TestSpark.Sf0001)
    assert(cat.schema.fieldNames.sameElements(base.schema.fieldNames))
    assert(cat.exceptAll(base).isEmpty && base.exceptAll(cat).isEmpty,
      "catalog events diverged from Tables.events")
    // the user-specified schema must not cost the scan its machinery:
    // filters still push, the read schema still prunes
    val q = cat.filter(org.apache.spark.sql.functions.col("user_id") === 7L)
      .select("event_id", "user_id")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan parquet"), plan)
    assert(plan.contains("PushedFilters: [IsNotNull(user_id), EqualTo(user_id,7)]"),
      plan)
    assert(plan.contains("ReadSchema: struct<event_id:bigint,user_id:bigint>"),
      s"events scan not pruned:\n$plan")
  }

  test("stored VARIANT: files land SHREDDED (typed_value subcolumns in " +
    "the parquet footer), variant_get paths rewrite INTO the scan, and " +
    "values match the rule-off read") {
    import org.apache.spark.sql.functions.col
    // materialize once (writes the shredded parquet), keep the child
    // session that carries the variant confs
    val pushed = graft.ingest.Materialize.variantStore(spark, TestSpark.Sf0001)
    // recompute the exact output path (same process → same pid suffix)
    // instead of scanning tmpdir by mtime, which a concurrent/stale run
    // from another pid could win — advisor r10
    val out = graft.ingest.Materialize.processScratchDir("graft_var_ev", TestSpark.Sf0001)
    // 1) the files are SHREDDED: the parquet schema of the variant group
    // carries a typed_value subcolumn next to metadata/value (that typed
    // subcolumn — with its min/max stats — is what the scan serves
    // extractions from at 100 TB, never re-parsing JSON)
    val part = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(part.toString),
        spark.sessionState.newHadoopConf()))
    val fileSchema =
      try footer.getFooter.getFileMetaData.getSchema.toString
      finally footer.close()
    assert(fileSchema.contains("typed_value"),
      s"variant column not shredded on disk:\n$fileSchema")
    // 2) extraction pushdown: the scan's ReadSchema replaces the variant
    // binary with a struct of the two requested typed fields
    val s = pushed.sparkSession
    assert(s.conf.get("spark.sql.variant.pushVariantIntoScan") == "true")
    val pushedPlan = graft.ingest.Materialize.variantStoreRead(s, out)
      .queryExecution.executedPlan.toString
    assert(pushedPlan.contains("v:struct<0:bigint,1:bigint>"),
      s"variant_get not pushed into the scan:\n$pushedPlan")
    assert(!pushedPlan.contains("v:variant"), pushedPlan)
    // 3) rule off: the scan reads the variant binary and extracts above
    // it — and the VALUES are identical either way
    val off = spark.newSession()
    off.conf.set("spark.sql.variant.pushVariantIntoScan", "false")
    val offDf = graft.ingest.Materialize.variantStoreRead(off, out)
    val offPlan = offDf.queryExecution.executedPlan.toString
    assert(offPlan.contains("v:variant"),
      s"rule-off scan should read the variant column:\n$offPlan")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("event_type")).collect().map(_.toSeq).toSeq
    assert(rows(pushed) == rows(offDf),
      "pushdown changed values — the rewrite must be value-invisible")
  }

  test("inParallel: the first failure cancels a running sibling's jobs, " +
      "its later jobs too, and is rethrown once it has stopped; no closures " +
      "is a no-op") {
    Materialize.inParallel(spark)() // must not throw
    val sc = spark.sparkContext
    val siblingErrors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val siblingDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    @volatile var siblingJobs = Seq.empty[Int]
    // a job that runs until it is cancelled (or 120 s pass)
    def longJob(): Unit = sc.parallelize(1 to 2, 2).foreach { _ =>
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (!org.apache.spark.TaskContext.get().isInterrupted() &&
        System.nanoTime() < deadline) Thread.sleep(20)
    }
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Materialize.inParallel(spark)(
        // two long jobs in a row: the second starts after the first is
        // cancelled, like the next step of a multi-job write
        () => try {
          try longJob() catch { case t: Throwable => siblingErrors.add(t) }
          longJob()
        } catch { case t: Throwable => siblingErrors.add(t) }
        finally siblingDone.set(true),
        () => {
          while (siblingJobs.isEmpty) {
            siblingJobs = sc.statusTracker.getActiveJobIds().toSeq
            Thread.sleep(20)
          }
          throw new IllegalStateException("boom")
        })
    }
    assert(e.getMessage == "boom")
    // by the time the failure surfaces the sibling has stopped: both of
    // its jobs ended cancelled (FAILED), long before their 120 s deadline
    assert(siblingDone.get())
    assert(siblingErrors.size == 2, siblingErrors)
    // the wait on a job is interrupted, or the job is cancelled under it
    siblingErrors.forEach(t => assert(t.isInstanceOf[InterruptedException] ||
      String.valueOf(t.getMessage).contains("cancelled"), t))
    assert(sc.statusTracker.getActiveJobIds().isEmpty)
    assert(siblingJobs.nonEmpty && siblingJobs.forall(id => sc.statusTracker.getJobInfo(id)
      .map(_.status()).contains(org.apache.spark.JobExecutionStatus.FAILED)))
    assert((System.nanoTime() - t0) / 1e9 < 60)
  }

  test("Tables: a warm read over unchanged files starts no Spark job, an " +
      "overwritten table file is re-read with its new schema, and sessions " +
      "with different parquet inference confs each get their own schema") {
    // jobs started by `body`, counted by a listener scoped to its job group
    def jobsOf(body: => Unit): Int = CcStructure.measureRun(spark, "tables")(body)._1
    val dir = Files.createTempDirectory("graft_tables_schema").toString
    val docs = s"$dir/documents.parquet"
    import spark.implicits._
    Seq((1L, "a")).toDF("doc_id", "lang").write.parquet(docs)
    // the first read infers the schema (the listener sees that job), the
    // second reuses it
    assert(jobsOf(graft.sources.Tables.documents(spark, dir)) >= 1)
    assert(jobsOf(graft.sources.Tables.documents(spark, dir)) == 0)
    Seq((2L, "b", 7L)).toDF("doc_id", "lang", "n_chars")
      .write.mode("overwrite").parquet(docs)
    val evolved = graft.sources.Tables.documents(spark, dir)
    assert(evolved.columns.toSeq == Seq("doc_id", "lang", "n_chars"))
    assert(evolved.collect().map(_.getLong(2)).toSeq == Seq(7L))
    graft.util.Fs.deleteRecursively(Paths.get(dir))
    // o_orderdate is a naive parquet timestamp: NTZ unless the session
    // turns NTZ inference off
    val ntz = spark.newSession()
    val ltz = spark.newSession()
    ltz.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    def orderDate(s: org.apache.spark.sql.SparkSession) =
      graft.sources.Tables.orders(s, TestSpark.Sf0001).schema("o_orderdate").dataType
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    assert(orderDate(ntz) == TimestampNTZType)
    assert(orderDate(ltz) == TimestampType)
    assert(orderDate(ntz) == TimestampNTZType)
  }
}
