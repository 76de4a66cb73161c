package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortDirection, SortOrder}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{DataWriter, DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, RowLevelOperation, SupportsDelta, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** MERGE-ON-READ row-level UPDATE / MERGE on a manifest table
  * — Spark's `SupportsDelta` position-delta contract (the
  * Iceberg `SparkPositionDeltaOperation` shape), selected when the
  * table's `delete.mode` is `mor`:
  *
  *  1. the scan serves matched rows carrying their (`_file`, `_pos`)
  *     row identity — the physical (data file, row ordinal) pair the
  *     dv format already keys on ([[SnapFileColumn]]/[[SnapPosColumn]];
  *     live dvs are applied at read, so an already-deleted row can
  *     never be re-targeted);
  *  2. Spark plans a `WriteDelta`: UPDATEs arrive split as DELETE +
  *     INSERT rows ([[SnapDeltaOperation.representUpdateAsDeleteAndInsert]]),
  *     clustered by `_file` and sorted by (`_file`, `_pos`) through
  *     `RequiresDistributionAndOrdering`, so each task streams ONE
  *     ascending dv file per data-file run while inserted rows land as
  *     ordinary stats-carrying (and spec-fanned-out) task files;
  *  3. the commit publishes `#dv` records + appended files as ONE
  *     atomic epoch ([[ManifestSink.commitDeltaEpoch]]): write cost is
  *     O(changed rows), ZERO data files move — at 100 TB the
  *     difference between a feasible CDC trickle-upsert and rewriting
  *     whole files per touched row (the verdict-r15 top item). Both dv
  *     fences run at claim time: a racing COW that removed a target
  *     file, or a racing dv that landed after this operation pinned
  *     its snapshot, aborts the commit with a retryable
  *     [[ManifestConflictException]] — nothing was published.
  *
  * Compaction remains the resolution step: `CALL graft.sys.compact_data`
  * folds accumulated dvs back into plain files and the scan's
  * vectorized parquet delegate path returns. */
private[sources] class SnapDeltaOperation(val tname: String,
    val dir: String, val tschema: StructType, cmd: Command,
    cols: ColumnMap,
    /** Write-audit-publish: stage this operation on a
      * BRANCH — the scan targets the branch's visible state (main +
      * staged adds, staged dvs applied) and the dv epoch carries
      * `#forbranch`, invisible to main until `fast_forward`. */
    val forBranch: Option[String] = None)
    extends RowLevelOperation with SupportsDelta {
  /** The snapshot this operation reads and dv-marks — pinned once, for
    * the operation's lifetime. */
  private[sources] val pinned = ManifestSink.snapshot(dir)
  pinned.verifyDeclared(s"graft.snap.$tname $cmd (merge-on-read)", tschema)
  // EQUALITY DELETES: a MOR delta's replacement rows land
  // in files EXEMPT from live `#eqdel` records — racing a keyed
  // upsert would resurrect deleted keys (claim fence backstops).
  require(pinned.eqDeletes.isEmpty,
    s"graft.snap.$tname $cmd: the table carries live equality " +
      "deletes (a keyed streaming upsert is active) — CALL " +
      "graft.sys.compact_data to resolve them first")

  // column-mapping boundary: same contract as the COW op — `tschema`
  // is PHYSICAL, Spark speaks LOGICAL, translation lives here
  private[sources] def physOfLogical: Map[String, String] = cols.physOfLogical
  private[sources] def logicalSchema: StructType = cols.logicalize(tschema)
  private[sources] def physicalize(st: StructType): StructType =
    cols.physicalize(st)

  /** The pinned files — under a WAP branch, the branch's VISIBLE
    * state. */
  private[sources] val snapshotFiles: Seq[String] =
    forBranch.fold(pinned.files)(pinned.branchFiles)
  private[sources] val stats: Map[String, FileStat] = pinned.stats
  private[sources] val specBook: SpecBook = pinned.specs
  private[sources] def spec: Seq[PartField] = specBook.current
  private[sources] val parts: Map[String, PartTuple] = pinned.parts
  /** Live dvs at pin time: the scan applies them (a marked row never
    * re-matches), and the commit passes them as the OBSERVED state the
    * dv-vs-dv fence compares against. */
  private[sources] val dvs: Map[String, Seq[(String, Long)]] =
    forBranch.fold(pinned.dvs)(pinned.branchDvs)
  private[sources] def dvPathsOf(name: String): Seq[String] =
    dvs.getOrElse(name, Seq.empty).map(e =>
      new java.io.File(new java.io.File(dir, "data"), e._1).toString)

  override def command(): Command = cmd
  override def description(): String = s"graft.snap.$tname $cmd (merge-on-read)"

  /** (`_file`, `_pos`) IS the row identity — what the delta writer's
    * delete() receives and the dv files record. */
  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(SnapFileColumn.name),
      Expressions.column(SnapPosColumn.name))

  /** UPDATE rows arrive WHOLE: the writer's update() gets
    * the pre-image position and the replacement row together, which is
    * what lets the commit tag the two halves (`#cdc pre`/`#cdc post`)
    * so a MERGE's change feed serves update_pre/postimage instead of
    * collapsing every match to net delete + insert. */
  override def representUpdateAsDeleteAndInsert(): Boolean = false

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SnapDeltaScanBuilder(this)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new SnapDeltaWrite(this, info)
}

/** Scan builder for the delta read face: static `#part`/`#stats`
  * pruning from the pushed command condition (a trickle UPDATE over a
  * partitioned/clustered table reads only the may-match files), column
  * pruning, everything residual — the same conservative skipping
  * contract as every other snap face. No runtime group filtering:
  * delta plans narrow by ROW (the condition/join filters rows), not by
  * rewriting whole groups. */
private[sources] class SnapDeltaScanBuilder(op: SnapDeltaOperation)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {
  private var pushed: Array[Filter] = Array.empty
  private var required: Option[StructType] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // arrive LOGICAL; the pruning faces below are physical
    pushed = filters.map(ManifestSink.renameFilterCols(_, op.physOfLogical))
    filters // all residual: Spark re-applies, file skipping is bonus
  }
  override def pushedFilters(): Array[Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = Some(requiredSchema)

  override def build(): Scan = {
    val candidates = op.snapshotFiles.filter { f =>
      val n = Paths.get(f).getFileName.toString
      val partOk = op.parts.get(n).forall(t =>
        pushed.forall(op.specBook.mayMatch(t, _)))
      partOk && (op.stats.get(n) match {
        case None => true // no stats recorded: cannot skip
        case Some(st) => st.rows > 0 && pushed.forall(SnapStats.mayMatch(st, _))
      })
    }
    SnapTable.recordPrune(op.tname, op.snapshotFiles.size, candidates.size)
    new SnapDeltaScan(op, candidates, required.getOrElse(op.logicalSchema))
  }
}

/** One scan over the operation's pinned snapshot: a partition per
  * candidate file, served through the shared by-name group reader with
  * the file's live dvs applied and (`_file`, `_pos`) alongside. */
private[sources] class SnapDeltaScan(op: SnapDeltaOperation,
    candidates: Seq[String], rs: StructType) extends Scan with Batch {
  override def readSchema(): StructType = rs
  override def toBatch: Batch = this
  override def description(): String =
    s"graft.snap.${op.tname} position-delta scan (${candidates.size} files)"
  override def planInputPartitions(): Array[InputPartition] =
    candidates.map(f => ManifestFilePartition(f,
      op.dvPathsOf(Paths.get(f).getFileName.toString)): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    // physical lookup names (incl. struct inner names, round 17);
    // logical (positional) readSchema
    locally {
      val prs = op.physicalize(rs)
      ManifestReadFactory(prs.fields.map(_.name),
        prs.fields.map(f => graft.sources.ManifestSink.typeTokOf(f.dataType)))
    }
}

/** The position-delta write: dv files for deleted/replaced positions,
  * ordinary stats-carrying task files for inserted/replacement rows,
  * ONE atomic epoch. Requests clustering by `_file` and ordering by
  * (`_file`, `_pos`) so each task streams one ascending dv file per
  * data-file run (the dv format's contract) instead of a dv file per
  * (task × data file). */
private[sources] class SnapDeltaWrite(op: SnapDeltaOperation,
    info: LogicalWriteInfo) extends DeltaWriteBuilder with DeltaWrite
    with DeltaBatchWrite with RequiresDistributionAndOrdering {

  /** The replacement/insert row schema — must carry every declared
    * column: inserted rows are full table rows, and a narrower schema
    * would silently drop data (same check as the COW write face). */
  private val rowSchema: StructType = {
    // logical width check; physical form for the writer + #schema.
    // A pure DELETE writes NO rows (positions only), and Spark hands
    // it an EMPTY row schema — a predicate the filter-pushdown face
    // cannot express (`doc_id % 3 = 0`) plans this delta
    // DELETE instead of [[SnapTable.deleteWhere]], so empty is legal
    // exactly for DELETE; the insert-carrying commands keep the strict
    // full-width check (a narrower schema would silently drop data).
    val s = info.schema()
    val logical = op.logicalSchema
    val deleteOnly = op.command() == Command.DELETE && s.fields.isEmpty
    val ok = deleteOnly ||
      logical.fields.forall(tf => s.fields.exists(wf =>
        wf.name.equalsIgnoreCase(tf.name) && wf.dataType == tf.dataType))
    if (!ok) throw new IllegalStateException(
      s"graft.snap.${op.tname} ${op.command()}: delta row schema " +
        s"'${s.toDDL}' does not carry every declared column " +
        s"('${logical.toDDL}') — refusing a write that would drop data")
    op.physicalize(s)
  }

  /** Where `_file`/`_pos` sit in the rowId rows the writer receives —
    * resolved from the rowIdSchema Spark passes, not assumed. */
  private val (fileIdx, posIdx): (Int, Int) = {
    val ids = info.rowIdSchema().orElseThrow(() => new IllegalStateException(
      s"graft.snap.${op.tname} ${op.command()}: delta write carries no " +
        "rowId schema"))
    val fi = ids.fields.indexWhere(_.name.equalsIgnoreCase(SnapFileColumn.name))
    val pi = ids.fields.indexWhere(_.name.equalsIgnoreCase(SnapPosColumn.name))
    require(fi >= 0 && pi >= 0,
      s"graft.snap.${op.tname} ${op.command()}: rowId schema " +
        s"'${ids.toDDL}' lacks ${SnapFileColumn.name}/${SnapPosColumn.name}")
    (fi, pi)
  }

  override def build(): DeltaWrite = this
  override def toBatch(): DeltaBatchWrite = this
  override def description(): String =
    s"graft.snap.${op.tname} ${op.command()} merge-on-read delta"

  override def requiredDistribution(): Distribution =
    Distributions.clustered(Array(Expressions.column(SnapFileColumn.name)))
  /** Non-strict: a small delta may skip the shuffle (AQE's call); the
    * ORDERING below is always enforced, which is what the streaming
    * dv writer actually relies on. */
  override def distributionStrictlyRequired(): Boolean = false
  override def requiredOrdering(): Array[SortOrder] = Array(
    Expressions.sort(Expressions.column(SnapFileColumn.name),
      SortDirection.ASCENDING),
    Expressions.sort(Expressions.column(SnapPosColumn.name),
      SortDirection.ASCENDING))

  override def createBatchWriterFactory(pinfo: PhysicalWriteInfo): DeltaWriterFactory = {
    val (bloomCols, bloomBits) = BloomSkip.configOf(op.pinned)
    SnapDeltaWriterFactory(op.dir, rowSchema.fields.map(_.name),
      rowSchema.fields.map(f => graft.sources.ManifestSink.typeTokOf(f.dataType)), fileIdx, posIdx,
      java.util.UUID.randomUUID.toString.take(8), op.spec,
      bloomCols, bloomBits, BloomSkip.rowGroupBytesOf(op.pinned),
      NdvSketch.configOf(op.pinned))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val results = messages.collect { case m: SnapDeltaCommit => m }
    val adds = results.flatMap(_.adds) ++ results.flatMap(_.postAdds)
    val dvRecords = results.flatMap(_.dvs) ++ results.flatMap(_.preDvs)
    if (adds.isEmpty && dvRecords.isEmpty) return // nothing matched
    // CDC role tags: update halves label as
    // update_pre/postimage in the feed; everything untagged keeps the
    // epoch op's default labels (delete / insert)
    val roles = results.flatMap(_.preDvs).map(r => r._2 -> "pre") ++
      results.flatMap(_.postAdds).map(f => f.name -> "post")
    SnapTable.recordRewrite(op.tname, op.snapshotFiles.size, 0)
    val observed = dvRecords.map(_._1).distinct.map(n =>
      n -> op.dvs.getOrElse(n, Seq.empty).map(_._1).toSet).toMap
    // a delete-only plan has an empty row schema — the epoch records
    // the TABLE's schema (an empty `#schema` would poison the log's
    // recorded-schema containment set)
    ManifestSink.commitDeltaEpoch(op.dir,
      (if (rowSchema.fields.isEmpty) op.tschema else rowSchema).toDDL,
      dvRecords.toSeq, adds.toSeq,
      op.pinned.compactInterval,
      observed, op.specBook.currentId,
      op.command() match {
        case Command.UPDATE => "update"
        case Command.MERGE => "merge"
        case _ => "delete"
      },
      forBranch = op.forBranch,
      cdcRoles = roles)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case m: SnapDeltaCommit =>
        (m.adds.map(_.name) ++ m.dvs.map(_._2) ++
          m.postAdds.map(_.name) ++ m.preDvs.map(_._2)).foreach(n =>
          Files.deleteIfExists(Paths.get(op.dir, "data", n)))
      case _ =>
    }
}

/** One delta task's contribution: the dv records it wrote (one or more
  * per touched data file) plus the inserted/replacement task files.
  * Round 18 splits UPDATE halves out — `postAdds` carry the update
  * postimages, `preDvs` the replaced positions — so the commit can tag
  * them `#cdc post`/`#cdc pre` for the change feed's update labels. */
private[sources] case class SnapDeltaCommit(adds: Seq[CommittedFile],
    dvs: Seq[(String, String, Long)],
    postAdds: Seq[CommittedFile] = Seq.empty,
    preDvs: Seq[(String, String, Long)] = Seq.empty)
    extends WriterCommitMessage

private[sources] case class SnapDeltaWriterFactory(path: String,
    fieldNames: Array[String], fieldTypes: Array[String],
    fileIdx: Int, posIdx: Int, runToken: String,
    spec: Seq[PartField],
    bloomCols: Seq[String] = Seq.empty,
    bloomBits: Int = BloomSkip.DefaultBits,
    rowGroupBytes: Int = 0,
    ndvCols: Seq[String] = Seq.empty) extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      private val base = f"part-$partitionId%05d-$taskId-$runToken"
      private val dataDir = Files.createDirectories(Paths.get(path, "data"))

      // inserted/updated rows: ordinary stats-carrying task writers
      // (spec fan-out for partitioned tables), opened on first row.
      // UPDATE postimages land in SEPARATE files from NOT-MATCHED
      // inserts: the commit tags them `#cdc <file> post` so
      // the change feed serves update_postimage instead of insert.
      private var inserts: DataWriter[InternalRow] = _
      private var updates: DataWriter[InternalRow] = _
      private def rowWriter(suffix: String): DataWriter[InternalRow] =
        if (spec.isEmpty)
          ManifestWriters.create(path, fieldNames, fieldTypes,
            s"$base$suffix.parquet", bloomCols, bloomBits, rowGroupBytes,
            ndvCols)
        else
          ManifestWriters.createFanOut(path, fieldNames, fieldTypes,
            spec, k => s"$base$suffix-p$k.parquet", bloomCols, bloomBits,
            rowGroupBytes, ndvCols)
      private def insertWriter(): DataWriter[InternalRow] = {
        if (inserts == null) inserts = rowWriter("")
        inserts
      }
      private def updateWriter(): DataWriter[InternalRow] = {
        if (updates == null) updates = rowWriter("-u")
        updates
      }

      // deleted/replaced positions: rows arrive clustered by data file
      // and sorted by (_file, _pos) — stream one ascending dv file per
      // file run (a file reappearing after a run break simply opens a
      // SECOND dv file, which the format supports). DELETE positions
      // and UPDATE pre-image positions stream as SEPARATE dv files
      //: the commit tags the latter `#cdc <file> pre` so
      // the feed serves update_preimage instead of delete. A failed/
      // retried attempt leaves orphan dv files no manifest references —
      // vacuum's age gate reclaims them, the task-file convention.
      private class DvStream(role: String) {
        val out = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
        private var curFile: String = _
        private var w: java.io.BufferedWriter = _
        private var name: String = _
        private var n = 0L
        private var lastPos = -1L
        def mark(id: InternalRow): Boolean = {
          val f = id.getUTF8String(fileIdx).toString
          val p = id.getLong(posIdx)
          if (f != curFile) {
            close()
            curFile = f
            name = s"dv-${java.util.UUID.randomUUID.toString.take(16)}.txt"
            w = Files.newBufferedWriter(dataDir.resolve(name),
              java.nio.charset.StandardCharsets.UTF_8)
            n = 0L
            lastPos = -1L
          } else if (p == lastPos) {
            // a MERGE source with duplicate keys can target one row
            // twice in a single operation; mark it once so counts stay
            // exact
            return false
          }
          w.write(p.toString); w.newLine()
          n += 1; lastPos = p
          true
        }
        def close(): Unit = if (w != null) {
          w.close()
          out += ((curFile, name, n))
          w = null
          curFile = null
        }
        def abort(): Unit = {
          try { if (w != null) w.close() } catch { case _: Exception => }
          (Option(name).toSeq ++ out.map(_._2)).foreach(nm =>
            Files.deleteIfExists(dataDir.resolve(nm)))
        }
      }
      private val delDvs = new DvStream("delete")
      private val updDvs = new DvStream("pre")

      override def delete(meta: InternalRow, id: InternalRow): Unit =
        delDvs.mark(id)

      override def insert(row: InternalRow): Unit = {
        // a delete-only plan (empty row schema) must never insert —
        // writing zero-column rows would be silent data loss
        require(fieldNames.nonEmpty,
          s"delta write on $path: insert row arrived under an empty " +
            "row schema (delete-only plan)")
        insertWriter().write(row)
      }

      /** UPDATE arrives WHOLE (
        * `representUpdateAsDeleteAndInsert = false`): the pre-image
        * position and the replacement row in one call — which is what
        * lets the commit tag both sides for the change feed's
        * update_pre/postimage labels. A duplicate-key source updating
        * one row twice marks the position once and keeps only the
        * first postimage (counts stay exact). */
      override def update(meta: InternalRow, id: InternalRow,
          row: InternalRow): Unit = {
        require(fieldNames.nonEmpty,
          s"delta write on $path: update row arrived under an empty " +
            "row schema")
        if (updDvs.mark(id)) updateWriter().write(row)
      }

      private def committedOf(w: DataWriter[InternalRow]): Seq[CommittedFile] =
        if (w == null) Seq.empty
        else w.commit() match {
          case f: CommittedFile => Seq(f)
          case s: CommittedFileSet => s.files
          case other => throw new IllegalStateException(
            s"unexpected row-writer commit message $other")
        }

      override def commit(): WriterCommitMessage = {
        delDvs.close()
        updDvs.close()
        SnapDeltaCommit(committedOf(inserts), delDvs.out.toSeq,
          committedOf(updates), updDvs.out.toSeq)
      }

      override def abort(): Unit = {
        delDvs.abort()
        updDvs.abort()
        if (inserts != null) inserts.abort()
        if (updates != null) updates.abort()
      }

      override def close(): Unit = {
        if (inserts != null) inserts.close()
        if (updates != null) updates.close()
      }
    }
}
