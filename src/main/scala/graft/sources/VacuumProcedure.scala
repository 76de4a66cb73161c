package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** VACUUM as a catalog STORED PROCEDURE — the retention story operable
  * from pure SQL (it was library-only before):
  *
  * {{{ CALL graft.sys.vacuum('ev', 86400000) }}}
  *
  * resolves through Spark's `ProcedureCatalog` face on
  * [[GraftCatalog]], runs [[ManifestSink.vacuum]] on the
  * `<snap.dir>/<table>` manifest log, and returns the reclaimed file
  * names as a one-column result set (a [[LocalScan]] — the names are
  * driver-side metadata, never a distributed read). The semantics are
  * the library call's, unchanged: only files NO committed manifest
  * fragment references AND older than `older_than_ms` are deleted —
  * age-gating keeps a mid-commit epoch's task files safe, and committed
  * files are never candidates regardless of age (SnapshotSpec pins both
  * invariants through this SQL path). This is the Delta `VACUUM`
  * shape: storage reclamation is an operator-invoked, retention-gated
  * command, not a side effect of reads or writes. */
/** Small-file COMPACTION as a catalog STORED PROCEDURE —
  * the bin-packing maintenance op a long-lived streaming table needs
  * (every micro-batch lands a file; a year of 1-minute triggers is
  * half a million tiny files whose per-file open/footer cost dominates
  * the scan at 100 TB):
  *
  * {{{ CALL graft.sys.compact_data('ev', 1000000) }}}
  *
  * rewrites every committed file whose `#stats` row count is below
  * `target_rows` into `ceil(totalRows / target_rows)` combined files
  * via a distributed read→repartition→write job, and publishes the
  * new files + `#remove`s of the old ones as ONE atomic epoch — the
  * same copy-on-write commit a row-level DELETE uses, so readers never
  * see both layouts, time travel keeps serving the pre-compaction
  * snapshot, incremental windows crossing the rewrite refuse, and the
  * dead small files age into VACUUM candidates. Content is
  * value-invisible (SnapshotSpec pins row-set equality across the
  * call). Files without stats are left alone (they cannot be sized);
  * fewer than two undersized files is a no-op. Returns one row:
  * (compacted_files, new_files, n_rows).
  *
  * CLUSTERED compaction (the Delta `OPTIMIZE ... ZORDER BY` /
  * clustering-columns shape):
  *
  * {{{ CALL graft.sys.compact_data('ev', 1000000, 'user_id') }}}
  *
  * range-partitions + sorts the rewritten rows by the named columns
  * before the write, so each combined file covers a DISJOINT key range
  * and its `#stats` envelope turns point/range predicates into
  * single-file plans — where the default `repartition(parts)` places
  * rows randomly and every post-compaction file's envelope spans the
  * whole key space (compaction would IMPROVE file counts but DESTROY
  * skipping; SnapshotSpec pins that a point read plans FEWER files
  * after clustered compaction than before). At 100 TB this is the
  * difference between maintenance that helps reads and maintenance
  * that quietly makes every filtered scan a full pass.
  *
  * The rewrite reads under the conf-declared schema, VERIFIED against
  * the log's `#schema` records first: a stale narrow
  * conf would otherwise silently destroy an evolved column across
  * every undersized file in the table. Concurrency: the COW commit
  * carries `#remove`s, so [[ManifestSink.claimEpoch]]'s conflict check
  * aborts this compaction if a racing DELETE already removed one of
  * its victims. */
class CompactProcedure(snapDir: () => String,
    schemaOf: String => StructType) extends UnboundProcedure {
  override def name(): String = "compact_data"
  override def description(): String =
    "bin-pack committed data files smaller than target_rows into " +
      "combined files, swapped in as one atomic epoch; optional " +
      "sort_cols range-clusters the rewrite for data skipping; returns " +
      "(compacted_files, new_files, n_rows)"

  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = CompactProcedure.this.name()
    override def description(): String = CompactProcedure.this.description()
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("table name under the snap.dir catalog conf").build(),
      ProcedureParameter.in("target_rows", LongType)
        .comment("files below this row count are rewritten; also the " +
          "packing size of the combined files").build(),
      ProcedureParameter.in("sort_cols", StringType).defaultValue("''")
        .comment("optional comma-separated clustering columns: the " +
          "rewrite is range-partitioned and sorted by them so the " +
          "combined files' stats envelopes stay disjoint").build())
    override def isDeterministic: Boolean = false // rewrites files

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      require(!input.isNullAt(0) && !input.isNullAt(1),
        "compact_data(table, target_rows[, sort_cols]): table and " +
          "target_rows must not be null")
      val table = input.getUTF8String(0).toString
      GraftCatalog.requireValidTableName(table)
      val target = input.getLong(1)
      require(target >= 1, s"target_rows must be >= 1, got $target")
      val schema = schemaOf(table)
      val dir = new java.io.File(snapDir(), table)
      require(dir.isDirectory, s"graft.snap.$table: no manifest table at $dir")
      // sort_cols arrive in LOGICAL names; the rewrite reads/writes
      // the physical schema, so translate through the column mapping
      // ONE snapshot: the rewrite's candidates, dvs, tuples, equality
      // deletes and row ids are one version, which the commit's fences
      // re-verify at claim time
      val snap = ManifestSink.snapshot(dir.toString)
      val toPhys = snap.colmap.map { case (p, l) => l.toLowerCase -> p }
      val sortCols =
        if (input.numFields < 3 || input.isNullAt(2)) Seq.empty[String]
        else input.getUTF8String(2).toString.split(",").toSeq
          .map(_.trim).filter(_.nonEmpty)
          .map(c => toPhys.getOrElse(c.toLowerCase, c))
      sortCols.foreach(c => require(
        schema.fields.exists(_.name.equalsIgnoreCase(c)),
        s"compact_data sort_cols: '$c' is not a column of " +
          s"graft.snap.$table (${schema.fieldNames.mkString(", ")})"))
      // refuse to rewrite under a conf schema narrower than what the
      // log records — this path is DESTRUCTIVE (a stale
      // conf would drop an evolved column from every rewritten file)
      snap.verifyDeclared(s"graft.snap.$table compact_data", schema)
      val files = snap.files
      val stats = snap.stats
      def fname(f: String) = java.nio.file.Paths.get(f).getFileName.toString
      // candidates: undersized files, plus any file carrying live
      // POSITION DELETES — compaction is what RESOLVES a
      // merge-on-read delete into rewritten files, regardless of size
      val dvMap = snap.dvs
      // ... and any file whose partition tuple is under a RETIRED spec
      // id — compaction is the declared migration step
      // after a spec evolution: the rewrite fans out (and stamps
      // tuples) under the CURRENT spec, which is what re-enables
      // dynamic partition overwrite on the table
      val book = snap.specs
      val parts = snap.parts
      // gate on EVOLUTION HAVING HAPPENED (currentId > 0), not record
      // count: an unpartitioned CREATE writes no #spec
      // record, so its first evolution leaves byId = {1: spec} — size
      // 1 — yet its tuple-less pre-evolution files are exactly the
      // migration candidates dynamic partition overwrite's refusal
      // names compaction as the fix for
      def staleSpec(f: String): Boolean = book.currentId > 0 && {
        parts.get(fname(f)) match {
          case Some(t) => t.specId != book.currentId
          case None => book.current.nonEmpty
        }
      }
      // EQUALITY DELETES: compaction is the RESOLUTION —
      // every file a live `#eqdel` applies to is a rewrite candidate
      // (the keys anti-join out during the read), and the commit
      // publishes `#eqdrop` records releasing the sweep clamp and the
      // COW/MOR refusals. Files exempt from every record (added after
      // the newest delete) stay put.
      val eqLive = snap.eqDeletes
      val eqAddEp: Map[String, Long] =
        if (eqLive.isEmpty) Map.empty else snap.looseAddEpochs
      def applEq(n: String): Seq[ManifestSink.EqDelete] =
        eqLive.filter(e => eqAddEp.get(n).forall(_ < e.epoch))
      val small = files.filter(f =>
        stats.get(fname(f)).exists(_.rows < target) ||
          dvMap.get(fname(f)).exists(_.nonEmpty) || staleSpec(f) ||
          applEq(fname(f)).nonEmpty)
      val worthIt = small.size >= 2 ||
        small.exists(f => dvMap.get(fname(f)).exists(_.nonEmpty) ||
          staleSpec(f) || applEq(fname(f)).nonEmpty)
      if (!worthIt && eqLive.nonEmpty) {
        // no applicable file left (all rewritten or exempt): the
        // records are dead weight — drop them in one metadata epoch
        // (the claim fence verifies coverage per attempt)
        ManifestSink.commitEqDropEpoch(dir.toString, snap.compactInterval)
      }
      val result: (Long, Long, Long) =
        if (!worthIt) (0L, 0L, 0L)
        else {
          // candidates without a #stats record (dv-carrying files from
          // pre-stats logs) fall back to the parquet footer's row count
          // (counting them as 0 undersized the repartition
          // target, so output files could exceed the requested size)
          val totalRows = small.map(f =>
            stats.get(fname(f)).map(_.rows).getOrElse {
              val fr = org.apache.parquet.hadoop.ParquetFileReader.open(
                new org.apache.parquet.io.LocalInputFile(
                  java.nio.file.Paths.get(f)))
              try fr.getRecordCount finally fr.close()
            }).sum
          val parts = math.max(1L, (totalRows + target - 1) / target).toInt
          val spark = org.apache.spark.sql.SparkSession.active
          // the rewrite read EXCLUDES live dv positions — this is the
          // resolution step; the commit declares them consumed. ROW
          // TRACKING: each carried row's id rides the
          // rewrite as the hidden materialized column, so identity
          // survives compaction — a later CDC pairing or rollback
          // still recognizes the row. Untracked (pre-r19) rows carry
          // null and take fresh ids from the commit's `#rowid` base.
          // per APPLICABILITY class (files between two eqdel epochs
          // take different record subsets): read each class with its
          // own key anti-joins, then union — classes are bounded by
          // the (small) live record count
          def antiEq(d0: org.apache.spark.sql.DataFrame,
              eqs: Seq[ManifestSink.EqDelete])
              : org.apache.spark.sql.DataFrame =
            eqs.groupBy(_.cols).foldLeft(d0) { case (d, (cols, group)) =>
              val keys = spark.read.parquet(group.map(e =>
                new java.io.File(new java.io.File(dir, "data"),
                  e.file).toString): _*)
                .select(cols.map(org.apache.spark.sql.functions.col): _*)
              d.join(keys, cols, "left_anti")
            }
          val bases = snap.rowids
          val df = small.groupBy(f => applEq(fname(f)).map(_.file).sorted)
            .toSeq.sortBy(_._1.mkString(","))
            .map { case (_, fs) =>
              antiEq(DvOps.readWithRowIds(spark, schema,
                dir.toString, fs, Some(dvMap), bases),
                applEq(fname(fs.head)))
            }.reduce(_ unionAll _)
            .withColumnRenamed("_rid", ManifestSink.RowIdColumnName)
          val packed =
            if (sortCols.isEmpty) df.repartition(parts)
            else {
              val keys = sortCols.map(org.apache.spark.sql.functions.col)
              df.repartitionByRange(parts, keys: _*)
                .sortWithinPartitions(keys: _*)
            }
          val consumed = small.map(f => fname(f) ->
            dvMap.getOrElse(fname(f), Seq.empty).map(_._1).toSet).toMap
          val w = packed
            .write.format("graft.sources.ManifestSink")
            .option("path", dir.toString)
            .option("removeFiles", small.map(fname).mkString(","))
            .option("consumedDvs", ManifestSink.encodeConsumedDvs(consumed))
            .option("graft.op", "compact") // file rewrite ≠ row change:
                                           // the change feed skips it
          (if (eqLive.isEmpty) w
           else w.option("eqDrops", eqLive.map(_.file).mkString(",")))
            .mode("append").save()
          (small.size.toLong, parts.toLong, totalRows)
        }
      val scan: Scan = new LocalScan {
        override def readSchema(): StructType = new StructType()
          .add("compacted_files", LongType, nullable = false)
          .add("new_files", LongType, nullable = false)
          .add("n_rows", LongType, nullable = false)
        override def rows(): Array[InternalRow] =
          Array(InternalRow(result._1, result._2, result._3))
      }
      java.util.List.of(scan).iterator()
    }
  }
}

class VacuumProcedure(snapDir: () => String) extends UnboundProcedure {
  override def name(): String = "vacuum"
  override def description(): String =
    "reclaim data files unreferenced by any committed epoch manifest " +
      "and older than older_than_ms from a graft.snap manifest table; " +
      "returns the deleted file names"

  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = VacuumProcedure.this.name()
    override def description(): String = VacuumProcedure.this.description()
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("table name under the snap.dir catalog conf").build(),
      ProcedureParameter.in("older_than_ms", LongType)
        .comment("minimum age of an unreferenced file before reclaim").build())
    override def isDeterministic: Boolean = false // deletes files

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      require(!input.isNullAt(0) && !input.isNullAt(1),
        "vacuum(table, older_than_ms): arguments must not be null")
      val table = input.getUTF8String(0).toString
      GraftCatalog.requireValidTableName(table)
      val dir = new java.io.File(snapDir(), table)
      require(dir.isDirectory, s"graft.snap.$table: no manifest table at $dir")
      val deleted = ManifestSink.vacuum(dir.toString, input.getLong(1))
      val scan: Scan = new LocalScan {
        override def readSchema(): StructType =
          new StructType().add("deleted", StringType, nullable = false)
        override def rows(): Array[InternalRow] =
          deleted.map(n => InternalRow(UTF8String.fromString(n))).toArray
      }
      java.util.List.of(scan).iterator()
    }
  }
}

/** PARTITION-SPEC EVOLUTION as a catalog STORED PROCEDURE (
  * the Iceberg spec-evolution shape — a table that outgrows its layout
  * no longer has to be rebuilt):
  *
  * {{{ CALL graft.sys.set_partition_spec('ev', 'days(ts), bucket(8, user_id)') }}}
  *
  * appends ONE pure-metadata `#spec <id>=…` epoch claiming the next
  * spec id; zero data bytes move. Files written before the evolution
  * keep the tuples of the spec they were written under (their `#part`
  * records carry that spec's id) and stay exactly prunable under THAT
  * spec; files written after fan out — and prune — under the new one.
  * Tuples of different specs are not comparable, so DYNAMIC partition
  * overwrite refuses on a mixed-spec table until
  * `CALL graft.sys.compact_data` migrates it (stale-spec files are
  * compaction candidates regardless of size — compaction is the
  * declared resolution step, exactly as it is for merge-on-read dvs).
  *
  * Spec grammar: comma-separated `identity(col)` | `days(col)` |
  * `bucket(n, col)` | bare `col` (= identity); the EMPTY string
  * evolves to unpartitioned. Column names are LOGICAL (they translate
  * through the live column mapping to the physical names the log
  * records); types validate with CREATE TABLE's own rules. Two racing
  * evolutions serialize on the claimed id — the loser re-derives and
  * takes the next one — so one id can never bind two layouts. */
class SetPartitionSpecProcedure(snapDir: () => String,
    schemaOf: String => StructType) extends UnboundProcedure {
  override def name(): String = "set_partition_spec"
  override def description(): String =
    "evolve a graft.snap table's partition spec (one metadata epoch, " +
      "zero bytes rewritten); existing files keep pruning under the " +
      "spec they were written under; returns (spec_id, spec)"

  /** Split at top-level commas only — `bucket(8, id)` is one item. */
  private def splitTop(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val sb = new StringBuilder
    var depth = 0
    s.foreach {
      case '(' => depth += 1; sb += '('
      case ')' => depth -= 1
        require(depth >= 0, s"unbalanced ')' in partition spec '$s'")
        sb += ')'
      case ',' if depth == 0 => out += sb.toString; sb.clear()
      case c => sb += c
    }
    require(depth == 0, s"unbalanced '(' in partition spec '$s'")
    out += sb.toString
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  private val Fn = """([A-Za-z]+)\s*\(\s*([^()]*?)\s*\)""".r

  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = SetPartitionSpecProcedure.this.name()
    override def description(): String =
      SetPartitionSpecProcedure.this.description()
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("table name under the snap.dir catalog conf").build(),
      ProcedureParameter.in("spec", StringType)
        .comment("comma-separated identity(col)|days(col)|bucket(n, col)" +
          "|col; empty = unpartitioned").build())
    override def isDeterministic: Boolean = false // appends an epoch

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      require(!input.isNullAt(0) && !input.isNullAt(1),
        "set_partition_spec(table, spec): arguments must not be null")
      val table = input.getUTF8String(0).toString
      GraftCatalog.requireValidTableName(table)
      val specStr = input.getUTF8String(1).toString
      val dir = new java.io.File(snapDir(), table)
      require(dir.isDirectory, s"graft.snap.$table: no manifest table at $dir")
      val schema = schemaOf(table) // PHYSICAL names (the log's own)
      // the caller names LOGICAL columns; the recorded spec is physical
      val snap = ManifestSink.snapshot(dir.toString)
      val colmap = snap.colmap
      def physOf(logical: String): String = schema.fields.map(_.name)
        .find { p =>
          val l = colmap.getOrElse(p, p)
          l != ManifestSink.DroppedColumn && l.equalsIgnoreCase(logical)
        }
        .getOrElse(throw new IllegalArgumentException(
          s"graft.snap.$table: partition column '$logical' is not in " +
            s"the schema"))
      def typeOf(phys: String): String = schema.fields
        .find(_.name.equalsIgnoreCase(phys)).get.dataType.typeName
      val longFamily =
        Set("long", "integer", "short", "byte", "timestamp", "date")
      val spec: Seq[PartField] = splitTop(specStr).map {
        case Fn("identity", c) =>
          val p = physOf(c)
          require(longFamily.contains(typeOf(p)) || typeOf(p) == "string",
            s"graft.snap.$table: identity($c) needs a long-family or " +
              s"string column, got ${typeOf(p)}")
          IdentityPart(p)
        case Fn("days", c) =>
          val p = physOf(c)
          require(typeOf(p) == "timestamp" || typeOf(p) == "date",
            s"graft.snap.$table: days($c) needs a timestamp/date " +
              s"column, got ${typeOf(p)}")
          DaysPart(p)
        case Fn("bucket", args) => args.split(",").map(_.trim) match {
          case Array(nStr, c) if nStr.toIntOption.exists(_ > 0) =>
            val p = physOf(c)
            require(longFamily.contains(typeOf(p)) || typeOf(p) == "string",
              s"graft.snap.$table: bucket($c) needs a long-family or " +
                s"string column, got ${typeOf(p)}")
            BucketPart(nStr.toInt, p)
          case _ => throw new IllegalArgumentException(
            s"graft.snap.$table: bucket needs (n, col) with n > 0, " +
              s"got bucket($args)")
        }
        case Fn(other, args) => throw new IllegalArgumentException(
          s"graft.snap.$table: unsupported partition transform " +
            s"$other($args) (identity, days, bucket)")
        case bare =>
          require(bare.matches("[A-Za-z_][A-Za-z0-9_.]*"),
            s"graft.snap.$table: unparsable partition-spec item '$bare'")
          val p = physOf(bare)
          require(longFamily.contains(typeOf(p)) || typeOf(p) == "string",
            s"graft.snap.$table: identity($bare) needs a long-family " +
              s"or string column, got ${typeOf(p)}")
          IdentityPart(p)
      }
      val cur = snap.specs
      require(PartField.render(spec) != PartField.render(cur.current),
        s"graft.snap.$table: '${specStr}' is already the current " +
          s"partition spec (id ${cur.currentId})")
      val (_, specId) = ManifestSink.commitSpecEpoch(dir.toString, spec)
      val scan: Scan = new LocalScan {
        override def readSchema(): StructType = new StructType()
          .add("spec_id", LongType, nullable = false)
          .add("spec", StringType, nullable = false)
        override def rows(): Array[InternalRow] = Array(InternalRow(
          specId.toLong,
          UTF8String.fromString(PartField.render(spec))))
      }
      java.util.List.of(scan).iterator()
    }
  }
}

/** ROLLBACK / RESTORE as a catalog STORED PROCEDURE (the
  * Delta `RESTORE TABLE … VERSION AS OF` / Iceberg
  * `rollback_to_snapshot` shape — the operational undo every lake
  * needs after a bad load):
  *
  * {{{ CALL graft.sys.rollback('ev', 42) }}}
  *
  * restores the CURRENT snapshot to exactly version 42's content as
  * ONE new epoch ([[ManifestSink.rollbackTo]]): metadata-only —
  * removed files come back by reference (their bytes survive until
  * vacuum's remove-time age gate), newer files are `#remove`d, and
  * re-added files' merge-on-read dv records restore AS OF the target
  * version. History is preserved: the restore lands as a NEW version,
  * pre-restore snapshots stay time-travelable, and a second call can
  * roll FORWARD again. Returns (restored_version, files_added,
  * files_removed). */
class RollbackProcedure(snapDir: () => String,
    schemaOf: String => StructType) extends UnboundProcedure {
  override def name(): String = "rollback"
  override def description(): String =
    "restore a graft.snap table to a historical version as one new " +
      "epoch (metadata-only; history preserved); returns " +
      "(restored_version, files_added, files_removed)"

  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = RollbackProcedure.this.name()
    override def description(): String = RollbackProcedure.this.description()
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("table name under the snap.dir catalog conf").build(),
      ProcedureParameter.in("version", LongType)
        .comment("the epoch id to restore the table's content to").build())
    override def isDeterministic: Boolean = false // appends an epoch

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      require(!input.isNullAt(0) && !input.isNullAt(1),
        "rollback(table, version): arguments must not be null")
      val table = input.getUTF8String(0).toString
      GraftCatalog.requireValidTableName(table)
      val version = input.getLong(1)
      require(version >= 0, s"version must be >= 0, got $version")
      val dir = new java.io.File(snapDir(), table)
      require(dir.isDirectory, s"graft.snap.$table: no manifest table at $dir")
      val schema = schemaOf(table)
      // the restore is a (metadata-only) rewrite of the snapshot: the
      // same stale-conf guard every destructive path runs
      val snap = ManifestSink.snapshot(dir.toString)
      snap.verifyDeclared(s"graft.snap.$table rollback", schema)
      val (added, removed) = ManifestSink.rollbackTo(dir.toString, version,
        schema.toDDL, snap.compactInterval)
      val scan: Scan = new LocalScan {
        override def readSchema(): StructType = new StructType()
          .add("restored_version", LongType, nullable = false)
          .add("files_added", LongType, nullable = false)
          .add("files_removed", LongType, nullable = false)
        override def rows(): Array[InternalRow] =
          Array(InternalRow(version, added.toLong, removed.toLong))
      }
      java.util.List.of(scan).iterator()
    }
  }
}

/** SNAPSHOT TAGS as catalog STORED PROCEDURES (the Iceberg
  * create_tag/drop_tag shape — deployments name the snapshots they
  * bless instead of passing epoch ids around):
  *
  * {{{
  * CALL graft.sys.create_tag('ev', 'release-1')       -- tags the newest
  * CALL graft.sys.create_tag('ev', 'audited', 42)     -- tags version 42
  * CALL graft.sys.drop_tag('ev', 'audited')
  * }}}
  *
  * Each call appends one pure-metadata `#tag` epoch; reads go through
  * `SELECT … FROM graft.snap.ev VERSION AS OF 'release-1'`. Tag names
  * must be token-safe and non-numeric (integers stay epoch ids).
  * Re-tagging an existing name moves it (last record wins). Tags are
  * POINTERS, not retention pins: one whose version falls below the
  * compaction horizon refuses at read with the standard retention
  * message. The target version is validated inside the claim, so a
  * tag can never be born dangling. */
class TagProcedure(snapDir: () => String, create: Boolean)
    extends UnboundProcedure {
  override def name(): String = if (create) "create_tag" else "drop_tag"
  override def description(): String =
    if (create) "name a snapshot version (default: the newest) so " +
      "VERSION AS OF '<tag>' reads it; returns (tag, version)"
    else "drop a snapshot tag; returns (tag, version) of the dropped tag"

  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = TagProcedure.this.name()
    override def description(): String = TagProcedure.this.description()
    override def parameters(): Array[ProcedureParameter] =
      if (create) Array(
        ProcedureParameter.in("table", StringType)
          .comment("table name under the snap.dir catalog conf").build(),
        ProcedureParameter.in("tag", StringType)
          .comment("token-safe, non-numeric tag name").build(),
        ProcedureParameter.in("version", LongType).defaultValue("-1")
          .comment("epoch id to tag; -1 (default) = the newest").build())
      else Array(
        ProcedureParameter.in("table", StringType)
          .comment("table name under the snap.dir catalog conf").build(),
        ProcedureParameter.in("tag", StringType)
          .comment("the tag to drop").build())
    override def isDeterministic: Boolean = false // appends an epoch

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      require(!input.isNullAt(0) && !input.isNullAt(1),
        s"${name()}(table, tag[, version]): arguments must not be null")
      val table = input.getUTF8String(0).toString
      GraftCatalog.requireValidTableName(table)
      val tag = input.getUTF8String(1).toString
      val dir = new java.io.File(snapDir(), table)
      require(dir.isDirectory, s"graft.snap.$table: no manifest table at $dir")
      val snap = ManifestSink.snapshot(dir.toString)
      val version: Long =
        if (!create) snap.tags.getOrElse(tag, -1L)
        else {
          val v = if (input.numFields < 3 || input.isNullAt(2)) -1L
                  else input.getLong(2)
          if (v == -1L) snap.newestVersion else v
        }
      ManifestSink.commitTagEpoch(dir.toString, tag,
        if (create) Some(version) else None)
      val scan: Scan = new LocalScan {
        override def readSchema(): StructType = new StructType()
          .add("tag", StringType, nullable = false)
          .add("version", LongType, nullable = false)
        override def rows(): Array[InternalRow] = Array(InternalRow(
          UTF8String.fromString(tag), version))
      }
      java.util.List.of(scan).iterator()
    }
  }
}

/** `CALL graft.sys.create_branch(table, name)` / `drop_branch`
  * (write-audit-publish): a branch is a `#branch <name> <base>` ref
  * — writes staged under `spark.graft.wap.branch` land as
  * `#forbranch` epochs invisible to main, `VERSION AS OF '<name>'`
  * reads main + the staged adds for auditing, and
  * [[FastForwardProcedure]] publishes. Dropping an unpublished branch
  * abandons its staged epochs (the next sweep absorbs them as
  * nothing; vacuum ages the files out). */
class BranchProcedure(snapDir: () => String, create: Boolean)
    extends UnboundProcedure {
  override def name(): String = if (create) "create_branch" else "drop_branch"
  override def description(): String =
    if (create) "fork a write-audit-publish branch at the current " +
      "version; returns (branch, base_version)"
    else "drop a branch ref, abandoning unpublished staged epochs; " +
      "returns (branch, base_version)"

  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = BranchProcedure.this.name()
    override def description(): String = BranchProcedure.this.description()
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("table name under the snap.dir catalog conf").build(),
      ProcedureParameter.in("branch", StringType)
        .comment("token-safe, non-numeric branch name").build())
    override def isDeterministic: Boolean = false // appends an epoch

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      require(!input.isNullAt(0) && !input.isNullAt(1),
        s"${name()}(table, branch): arguments must not be null")
      val table = input.getUTF8String(0).toString
      GraftCatalog.requireValidTableName(table)
      val branch = input.getUTF8String(1).toString
      val dir = new java.io.File(snapDir(), table)
      require(dir.isDirectory, s"graft.snap.$table: no manifest table at $dir")
      val base: Long =
        if (create) -1L // recorded inside the claim; reported below
        else ManifestSink.snapshot(dir.toString).branches.getOrElse(branch, -1L)
      ManifestSink.commitBranchEpoch(dir.toString, branch, create)
      val reported =
        if (create) ManifestSink.snapshot(dir.toString).branches(branch)
        else base
      val scan: Scan = new LocalScan {
        override def readSchema(): StructType = new StructType()
          .add("branch", StringType, nullable = false)
          .add("base_version", LongType, nullable = false)
        override def rows(): Array[InternalRow] = Array(InternalRow(
          UTF8String.fromString(branch), reported))
      }
      java.util.List.of(scan).iterator()
    }
  }
}

/** `CALL graft.sys.fast_forward(table, branch)` — publish: the staged
  * epochs' files re-list as ONE ordinary append epoch, the ref drops
  * atomically with it, and main sees the audited rows exactly once.
  * Refuses when main's data state moved past the branch base. */
class FastForwardProcedure(snapDir: () => String) extends UnboundProcedure {
  override def name(): String = "fast_forward"
  override def description(): String =
    "publish a branch: staged adds become one main epoch, the ref " +
      "drops; returns (published_version, staged_epochs, published_files)"

  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = FastForwardProcedure.this.name()
    override def description(): String = FastForwardProcedure.this.description()
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("table name under the snap.dir catalog conf").build(),
      ProcedureParameter.in("branch", StringType)
        .comment("the branch to publish").build())
    override def isDeterministic: Boolean = false

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      require(!input.isNullAt(0) && !input.isNullAt(1),
        "fast_forward(table, branch): arguments must not be null")
      val table = input.getUTF8String(0).toString
      GraftCatalog.requireValidTableName(table)
      val branch = input.getUTF8String(1).toString
      val dir = new java.io.File(snapDir(), table)
      require(dir.isDirectory, s"graft.snap.$table: no manifest table at $dir")
      val (v, nEpochs, nFiles) = ManifestSink.fastForward(dir.toString,
        branch, ManifestSink.snapshot(dir.toString).compactInterval)
      val scan: Scan = new LocalScan {
        override def readSchema(): StructType = new StructType()
          .add("published_version", LongType, nullable = false)
          .add("staged_epochs", LongType, nullable = false)
          .add("published_files", LongType, nullable = false)
        override def rows(): Array[InternalRow] = Array(InternalRow(
          v, nEpochs.toLong, nFiles.toLong))
      }
      java.util.List.of(scan).iterator()
    }
  }
}

/** `CALL graft.sys.register_feed(table, consumer, min_window)` /
  * `unregister_feed(table, consumer)`: RESERVE a minimum
  * retained epoch window for a named change-feed consumer. Every sweep
  * — routine compaction and `expire_snapshots` — then clamps its
  * horizon at `newest - min_window` (result names `feed:<consumer>`
  * as the binding ref, like tags and branches), so a consumer lagging
  * at most `min_window` epochs can never hit the below-horizon CDC
  * retention refusal; at 100 TB this replaces hand-coordinating
  * retention sweeps against consumer lag. The reservation is a
  * `feed.reserve.<consumer>` table property (one metadata epoch;
  * unregister tombstones it), so it survives compaction and serves
  * from the plan-state cache. */
class FeedProcedure(snapDir: () => String, register: Boolean)
    extends UnboundProcedure {
  override def name(): String =
    if (register) "register_feed" else "unregister_feed"
  override def description(): String =
    if (register) "reserve a minimum retained epoch window for a " +
      "change-feed consumer; sweeps clamp at newest - min_window"
    else "drop a change-feed consumer's retention reservation; sweeps " +
      "proceed unclamped by it"

  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = FeedProcedure.this.name()
    override def description(): String = FeedProcedure.this.description()
    override def parameters(): Array[ProcedureParameter] =
      if (register) Array(
        ProcedureParameter.in("table", StringType)
          .comment("table name under the snap.dir catalog conf").build(),
        ProcedureParameter.in("consumer", StringType)
          .comment("token-safe consumer name").build(),
        ProcedureParameter.in("min_window", LongType)
          .comment("minimum epoch count kept loose for this consumer " +
            "(>= 1)").build())
      else Array(
        ProcedureParameter.in("table", StringType)
          .comment("table name under the snap.dir catalog conf").build(),
        ProcedureParameter.in("consumer", StringType)
          .comment("the consumer to unregister").build())
    override def isDeterministic: Boolean = false // appends an epoch

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      require(!input.isNullAt(0) && !input.isNullAt(1),
        s"${name()}(table, consumer[, min_window]): arguments must " +
          "not be null")
      val table = input.getUTF8String(0).toString
      GraftCatalog.requireValidTableName(table)
      val consumer = input.getUTF8String(1).toString
      val dir = new java.io.File(snapDir(), table)
      require(dir.isDirectory, s"graft.snap.$table: no manifest table at $dir")
      val window: Long =
        if (register) {
          require(!input.isNullAt(2) && input.getLong(2) >= 1,
            "register_feed: min_window must be >= 1")
          input.getLong(2)
        } else {
          val cur = ManifestSink.snapshot(dir.toString).feeds
          require(cur.contains(consumer),
            s"no registered feed consumer '$consumer' on graft.snap." +
              s"$table (registered: ${cur.keys.toSeq.sorted.mkString(", ")
                match { case "" => "none"; case r => r }})")
          -1L
        }
      ManifestSink.commitPropsEpoch(dir.toString, Seq(
        s"feed.reserve.$consumer" ->
          (if (register) window.toString else "-")))
      val scan: Scan = new LocalScan {
        override def readSchema(): StructType = new StructType()
          .add("consumer", StringType, nullable = false)
          .add("min_window", LongType, nullable = false)
        override def rows(): Array[InternalRow] = Array(InternalRow(
          UTF8String.fromString(consumer), window))
      }
      java.util.List.of(scan).iterator()
    }
  }
}

/** `CALL graft.sys.expire_snapshots(table, keep_last := N)` /
  * `(table, older_than_ms := T)`: retire history by count
  * or age via a forced bounded sweep — travel below the new horizon
  * refuses with the boundary named, the retired epochs' unreferenced
  * bytes become vacuum candidates, and TAG targets / BRANCH bases
  * clamp the sweep (a tagged snapshot survives expiry by contract).
  * Returns (horizon, expired_epochs, protected_by). */
class ExpireSnapshotsProcedure(snapDir: () => String)
    extends UnboundProcedure {
  override def name(): String = "expire_snapshots"
  override def description(): String =
    "retire snapshot history by count (keep_last) or age " +
      "(older_than_ms, by the persisted commit clock); tag/branch " +
      "refs clamp the sweep; returns (horizon, expired_epochs, " +
      "protected_by)"

  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = ExpireSnapshotsProcedure.this.name()
    override def description(): String =
      ExpireSnapshotsProcedure.this.description()
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("table name under the snap.dir catalog conf").build(),
      ProcedureParameter.in("keep_last", LongType).defaultValue("-1")
        .comment("keep this many newest versions travel-servable").build(),
      ProcedureParameter.in("older_than_ms", LongType).defaultValue("-1")
        .comment("retire epochs committed at or before now - this " +
          "(persisted #ts commit clock)").build())
    override def isDeterministic: Boolean = false

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      require(!input.isNullAt(0),
        "expire_snapshots(table, ...): table must not be null")
      val table = input.getUTF8String(0).toString
      GraftCatalog.requireValidTableName(table)
      val dir = new java.io.File(snapDir(), table)
      require(dir.isDirectory, s"graft.snap.$table: no manifest table at $dir")
      val keepLast =
        if (input.numFields < 2 || input.isNullAt(1)) -1L else input.getLong(1)
      val olderMs =
        if (input.numFields < 3 || input.isNullAt(2)) -1L else input.getLong(2)
      val (horizon, expired, protectedBy) = ManifestSink.expireSnapshots(
        dir.toString,
        Some(keepLast).filter(_ >= 0),
        Some(olderMs).filter(_ >= 0)
          .map(ms => (System.currentTimeMillis() - ms) * 1000L))
      val scan: Scan = new LocalScan {
        override def readSchema(): StructType = new StructType()
          .add("horizon", LongType, nullable = false)
          .add("expired_epochs", LongType, nullable = false)
          .add("protected_by", StringType, nullable = false)
        override def rows(): Array[InternalRow] = Array(InternalRow(
          horizon, expired, UTF8String.fromString(protectedBy)))
      }
      java.util.List.of(scan).iterator()
    }
  }
}
