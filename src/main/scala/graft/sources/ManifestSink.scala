package graft.sources

import java.io.IOException
import java.nio.file.{Files, Path, Paths}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.ManifestLog._

/** A DataSource V2 SINK with a manifest-based two-phase commit — the
  * atomic-visibility primitive every lake table format is built on,
  * spelled out as connector code:
  *
  *  1. each task's [[DataWriter]] writes its partition to a uniquely
  *     named data file and returns the name (plus row count and per-long-
  *     column min/max) in its [[WriterCommitMessage]] (nothing is visible
  *     yet — a file on disk is NOT data);
  *  2. the driver's commit publishes the file list as ONE epoch manifest,
  *     CLAIMING the next epoch id on the shared append-only log with
  *     `Files.createLink` — link(2) is atomic-EXCLUSIVE (fails on an
  *     existing target, no TOCTOU window) and the link carries the fully
  *     written content, so the claim and the publish are one operation.
  *     BOTH faces (batch `mode("append")` and streaming micro-batches)
  *     claim ids this way, so mixed batch+streaming writers serialize
  *     onto distinct epochs instead of colliding (a batch append must
  *     never claim the id a restarted stream's engine epoch would reuse,
  *     or the stream's commit is mis-read as a replay and its rows
  *     deleted);
  *  3. abort deletes the orphaned task files — a failed job leaves no
  *     visible trace because visibility IS the manifest log.
  *
  * The COMMITTED SNAPSHOT is derived purely from the log fragments (the
  * newest compact file plus the loose epochs after it — O(epochs/
  * compactInterval) small metadata reads, the `_spark_metadata`
  * compaction pattern). There is deliberately NO derived top-level
  * listing rewritten per commit — that would be O(total files) metadata
  * bytes per epoch and cumulatively quadratic over a long-lived table;
  * readers pay O(fragments), and a commit writes only its own delta.
  *
  * The log's record kinds and their grammar are [[ManifestLog]]'s.
  *
  * Task files are named by taskId plus a RUN-unique token on both
  * faces, so a speculative/retried attempt — or a second application
  * appending to the same table — writes a DIFFERENT file and the loser
  * is aborted and deleted. The path must be storage shared by driver
  * and executors. The DATA PLANE is parquet ([[ManifestWriters]]) —
  * columnar, compressed, self-describing — so committed files read
  * back through Spark's vectorized parquet scan with column pruning and
  * row-group stats, the reference's own materialization shape.
  * IngestSpec drives write→read round trips, manifest-miss
  * invisibility, abort cleanup and the 4-thread concurrent-append race;
  * SnapshotSpec drives time travel, incremental windows, mixed
  * batch+streaming interleavings and VACUUM. */
class ManifestSink extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new UnsupportedOperationException(
      "graft manifest sink is write-only; read the manifest-listed files")
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val path = opts.get("path")
    require(path != null && path.nonEmpty, "manifest sink needs a path option")
    val interval = Option(opts.get("compactInterval"))
      .map(_.toInt).getOrElse(ManifestSink.DefaultCompactInterval)
    require(interval >= 2, s"compactInterval must be >= 2, got $interval")
    // a copy-on-write rewrite (row-level DELETE) passes the files its
    // survivors REPLACE; the commit publishes adds + removes as ONE
    // atomic epoch (batch face only)
    val removes = Option(opts.get("removeFiles"))
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Seq.empty)
    removes.foreach(n => require(
      !n.exists(c => c == ' ' || c == '\n' || c == '\r' || c == '/'),
      s"removeFiles entries must be bare data-file names, got '$n'"))
    // the table's partition spec rides in the log, so even a path-based
    // append (or a COW rewrite through the DataFrameWriter face) fans
    // out and records `#part` tuples for the files it lands
    val book = ManifestSink.snapshot(path).specs
    ManifestTable(path, schema, interval, removes, book.current,
      Option(opts.get("consumedDvs")).map(ManifestSink.decodeConsumedDvs),
      specId = book.currentId,
      declaredOp = Option(opts.get("graft.op")),
      eqDrops = Option(opts.get("eqDrops"))
        .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
        .getOrElse(Seq.empty),
      // path-based face: streaming writer options arrive as TABLE
      // properties (keyed upsert)
      upsertKeysOpt = Option(opts.get("upsertKeys")).toSeq
        .flatMap(_.split(",").toSeq).map(_.trim).filter(_.nonEmpty))
  }
}

/** An OPTIMISTIC-CONCURRENCY conflict: a copy-on-write
  * commit (row-level DELETE/UPDATE/MERGE, `compact_data`) tried to
  * `#remove` files that a commit landing first already removed — two
  * COW operations raced over shared files, and letting both publish
  * would resurrect the winner's deleted rows through the loser's
  * survivor files. The check runs at CLAIM time inside
  * [[ManifestSink.claimEpoch]], so the losing operation committed
  * NOTHING (its task files are aborted by Spark's write path): re-plan
  * against the refreshed snapshot and retry — the Delta
  * `ConcurrentDeleteDeleteException` shape. */
class ManifestConflictException(val conflictingFiles: Seq[String], where: String)
    extends RuntimeException(
      s"concurrent write conflict on $where: file(s) " +
        s"${conflictingFiles.mkString(", ")} were removed by a commit that " +
        "landed first; this operation committed nothing — re-plan against " +
        "the current snapshot and retry")

/** The manifest log's reader and committer.
  *
  * SNAPSHOT: every read goes through ONE [[ManifestSink.Snapshot]] per
  * table version — the log directory listed once, split into the newest
  * compact file and the loose epoch tail, with every reader facet
  * answered from that listing.
  *
  *  - LIFETIME: a snapshot never outlives the call that took it — a
  *    scan build, a write, a DELETE attempt, a metadata-table read, one
  *    claim attempt — so it never spans a commit. The one exception is
  *    the catalog's load-time snapshot, which serves only table METADATA
  *    (schema, properties, partitioning, column mapping). Snapshots are
  *    not serializable: a closure shipped to executors carries the
  *    facets it needs, never the snapshot. Streams tail the live log.
  *  - VANISH: a compaction sweep may delete a listed fragment before a
  *    lazy facet reads it. The facet then throws, and [[read]] re-runs
  *    the WHOLE read against a fresh snapshot; a facet never re-lists on
  *    its own, which would mix two versions.
  *  - SIDECAR: the table-level facets (properties, schemas, specs,
  *    column mapping, tags, branches) come from the checkpoint META
  *    sidecar plus the tail when a sidecar matches the horizon — O(tail)
  *    reads, the O(files) compact text never parsed. Facets are lazy:
  *    taking a snapshot costs one listing, one stat per live fragment
  *    and the (cached) decode of the loose tail. */
object ManifestSink {
  /** Compact once this many LOOSE epoch manifests accumulate (table
    * option `compactInterval`). Keeps every snapshot derivation at
    * O(epochs/N) metadata reads instead of O(epochs) — the
    * `_spark_metadata` compaction pattern of the built-in file sink. */
  val DefaultCompactInterval = 10

  /** Total metadata bytes ever written to epoch/compact manifests by
    * this JVM — observability for the at-scale metadata-cost contract
    * (LakeLadder pins that a non-compacting commit writes O(its own
    * delta), independent of table age). */
  private[graft] val metadataBytes = new java.util.concurrent.atomic.AtomicLong

  /** Tombstone marker a RENAME TABLE leaves at the OLD path (round
    * 16): its content is the new directory's absolute path. A claim on
    * a dir whose marker points ELSEWHERE refuses (the table moved); a
    * marker pointing at the dir itself is the rename's own residue at
    * the new location and is tidied by the first claim there. */
  private[sources] val RenamedMarker = ".renamed-to"

  /** Refuse (or tidy) under a rename tombstone — called per claim
    * attempt so a writer that resolved the old path mid-rename aborts
    * cleanly instead of splitting the log. */
  private def checkRenamed(dir: Path): Unit = {
    val m = dir.resolve(RenamedMarker)
    if (Files.exists(m)) {
      val target = new String(Files.readAllBytes(m),
        java.nio.charset.StandardCharsets.UTF_8).trim
      if (target == dir.toAbsolutePath.toString)
        Files.deleteIfExists(m) // we ARE the rename target: tidy
      else throw new IllegalStateException(
        s"manifest table $dir was renamed to $target — re-resolve the " +
          "table by its new name and retry (nothing was committed)")
    }
  }

  /** [[ManifestWriters.typeTok]], the type token a field travels the
    * writer/reader plumbing as (structs ride as JSON). */
  private[sources] def typeTokOf(
      dt: org.apache.spark.sql.types.DataType): String =
    ManifestWriters.typeTok(dt)

  /** Zero-padded so lexicographic directory order IS epoch order. */
  private[sources] def epochName(epochId: Long): String = f"epoch-$epochId%020d"

  /** A compacted manifest carrying the union of every epoch manifest
    * with id <= epochId; its id ordering is name ordering, same as
    * epochs. */
  private[sources] def compactName(epochId: Long): String = f"compact-$epochId%020d"

  private def idOf(p: Path): Long =
    p.getFileName.toString.dropWhile(!_.isDigit).toLong

  /** FRAGMENT RECORD CACHE: epoch/compact manifests are IMMUTABLE once
    * linked (the claim publishes fully written content; nothing ever
    * appends), so their decoded records are cached keyed by (absolute
    * path, fileKey, size, mtime) — fileKey is the device+inode pair, so
    * a table directory deleted and recreated at the same path (same
    * epoch names, different content) can never serve stale records. A
    * workload re-plans the same table every query, so without the cache
    * the driver would re-read every fragment per planning cycle; with
    * it, one decode per fragment per lifetime. Bounded by entry count
    * (clear-all past the cap — fragments re-read cheaply); memory is
    * O(one snapshot's listing), the same class as the planning keep-set.
    * Files with a null fileKey (filesystems without stable inode
    * identity) are never cached: size+mtime alone cannot tell a
    * recreated same-size fragment apart. */
  private val FragmentCacheCap = 256
  private val fragmentCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Object, Long, java.nio.file.attribute.FileTime, Seq[LogRecord])]()
  /** Parses performed (cache misses) — observability for the spec. */
  private[graft] val fragmentParses = new java.util.concurrent.atomic.AtomicLong

  private type Attrs = java.nio.file.attribute.BasicFileAttributes
  private def attrsOf(p: Path): Attrs = Files.readAttributes(p, classOf[Attrs])

  /** The decoded records of one fragment, in line order; lines that do
    * not decode (unknown or malformed `#` records) are skipped. */
  private def records(p: Path, attrs: Attrs): Seq[LogRecord] = {
    val key = p.toAbsolutePath.toString
    val cached = fragmentCache.get(key)
    if (cached != null && cached._1 == attrs.fileKey &&
        cached._2 == attrs.size && cached._3 == attrs.lastModifiedTime)
      cached._4
    else {
      val recs = Files.readAllLines(p, java.nio.charset.StandardCharsets.UTF_8)
        .asScala.toSeq.flatMap(ManifestLog.decode)
      fragmentParses.incrementAndGet()
      if (attrs.fileKey != null) {
        if (fragmentCache.size >= FragmentCacheCap) fragmentCache.clear()
        fragmentCache.put(key,
          (attrs.fileKey, attrs.size, attrs.lastModifiedTime, recs))
      }
      recs
    }
  }

  /** DERIVED SNAPSHOT STATE, memoized per table on a fragment-set
    * fingerprint: every scan build needs the committed union, the
    * stats/partition/dv maps and the properties; one [[Replay]] builds
    * them all at once and the result is reused until the fragment set
    * changes. The fingerprint is the same (path, fileKey, size, mtime)
    * identity the record cache trusts, so a commit, sweep, or
    * delete-recreate invalidates it exactly when it invalidates the
    * records. A fragment with a null fileKey is never fingerprintable —
    * such tables simply rebuild per snapshot. Per-plan driver CPU is
    * O(fragments) stat calls + map reuse — the "O(tail), not O(files)"
    * planning contract. */
  private final class PlanState(
      val files: Seq[String], // committed file NAMES, union order
      val stats: Map[String, FileStat],
      val parts: Map[String, PartTuple],
      val dvs: Map[String, Seq[(String, Long)]],
      val meta: TableMeta,
      /** file → base row id: collected WITHOUT remove-drops — bases are
        * immutable and names never reused, and a CDC window's removed
        * files need their bases after the remove. Records die only at
        * compaction, below every readable window. */
      val rowids: Map[String, Long],
      mergeNdv: () => Map[String, (Long, Long)]) {
    /** MERGED per-column NDV ([[NdvSketch]]), derived on first use and
      * memoized with the rest of the state: physical column → (files
      * sketched, estimate). */
    lazy val ndv: Map[String, (Long, Long)] = mergeNdv()
  }

  /** The table-level records of a replay. */
  private case class TableMeta(props: Map[String, String],
      schemas: Seq[String], specs: Seq[Spec], colmap: Map[String, String],
      tags: Map[String, Long], branches: Map[String, Long])
  private object TableMeta {
    def of(r: Replay): TableMeta = TableMeta(r.props.toMap, r.schemas.toSeq,
      r.specs.toSeq, r.colmap.fold(Map.empty[String, String])(_.entries.toMap),
      r.tags.toMap, r.branches.toMap)
  }

  /** A replay's skipping index: conflicting duplicate `#stats`/`#part`
    * records lose their entry (an unpruned file is a slow read, a
    * mispruned file is a wrong answer), and a file's `#bloom` payloads
    * attach AFTER the conflict check (blooms never take part in record
    * equality). */
  private def skippingIndex(r: Replay,
      blooms: scala.collection.Map[String, Map[String, String]])
      : (Map[String, FileStat], Map[String, PartTuple]) =
    (r.stats.iterator.filterNot(e => r.statConflicts(e._1)).map { case (n, st) =>
      n -> blooms.get(n).fold(st)(b => st.copy(blooms = b)) }.toMap,
      r.parts.iterator.filterNot(e => r.partConflicts(e._1)).toMap)

  private type Fingerprint = Seq[(String, Object, Long, java.nio.file.attribute.FileTime)]
  private val PlanCacheCap = 64
  private val planCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Fingerprint, PlanState)]()

  /** Default cap on driver-RESIDENT bloom payload bytes per table:
    * ~1500 default-size (44 KiB b64) filters. Overridable via the
    * `bloom.resident.bytes` table property. */
  private[graft] val DefaultResidentBloomBytes: Long = 64L << 20

  /** Full snapshot-state derivations performed — observability: a
    * re-plan of an unchanged table must not increment this. */
  private[graft] val planDerivations = new java.util.concurrent.atomic.AtomicLong
  /** Log-directory listings performed — observability: every
    * [[Snapshot]] lists the log once, so a warm read of an unchanged
    * table lists it once per snapshot it takes. */
  private[graft] val logListings = new java.util.concurrent.atomic.AtomicLong

  /** Directory entries by name prefix, in name order; a missing table
    * directory is simply an empty log. */
  private def listPrefixed(dir: Path, prefix: String): Seq[Path] = {
    if (!Files.isDirectory(dir)) return Seq.empty
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith(prefix))
      .sortBy(_.getFileName.toString)
    finally s.close()
  }

  /** Bounded retry for metadata reads racing a concurrent compaction
    * sweep: a listed fragment vanishing mid-read means a compaction just
    * absorbed it — the committed union only grows, so re-deriving from a
    * fresh listing is always a consistent (newer) snapshot. */
  private def retryVanish[T](attempts: Int = 8)(f: => T): T =
    try f catch {
      case _: java.nio.file.NoSuchFileException if attempts > 1 =>
        retryVanish(attempts - 1)(f)
    }

  /** The table at `path` as of ONE listing of its log: see [[Snapshot]]. */
  def snapshot(path: String): Snapshot = retryVanish() {
    logListings.incrementAndGet()
    new Snapshot(path, listPrefixed(Paths.get(path), ""))
  }

  /** Run `f` against one snapshot of `path`. A fragment vanishing under
    * a compaction sweep while `f` derives a facet re-runs the WHOLE read
    * against a fresh snapshot — never one facet against a newer listing,
    * which would mix two versions. */
  private[graft] def read[T](path: String)(f: Snapshot => T): T =
    retryVanish()(f(snapshot(path)))

  def committedFiles(path: String): Seq[String] = read(path)(_.files)
  def fileStats(path: String): Map[String, FileStat] = read(path)(_.stats)
  def newestVersion(path: String): Long = read(path)(_.newestVersion)

  /** The COMMIT TIME of a fragment in micros: the persisted `#ts`
    * header when present (it survives mtime-disturbing copies), the
    * fragment mtime for logs without one. */
  private def commitTimeMicros(rs: Seq[LogRecord], a: Attrs): Long =
    rs.collectFirst { case Ts(m) => m }
      .getOrElse(a.lastModifiedTime.toMillis * 1000L)

  /** One loose epoch manifest of a snapshot's tail, decoded at listing
    * time, with the branch it is staged on (if any). */
  private[sources] final case class Loose(id: Long, path: Path, attrs: Attrs,
      recs: Seq[LogRecord]) {
    val branch: Option[String] = recs.collectFirst { case ForBranch(b) => b }
  }

  /** ONE TABLE VERSION (the Delta `Snapshot` / Iceberg `TableMetadata`
    * shape): the log directory listed ONCE, split into the newest
    * compact file and the loose epoch tail after it, and every reader
    * facet — files, stats, partitions, dvs, row ids, properties,
    * schemas, specs, column mapping, tags, branches, time travel,
    * windows, history — answered from that one listing. Lifetime,
    * vanish and sidecar rules: the [[ManifestSink]] object doc. */
  final class Snapshot private[ManifestSink] (val path: String,
      listing: Seq[Path]) {
    private val dir = Paths.get(path)
    private def named(prefix: String): Seq[Path] =
      listing.filter(_.getFileName.toString.startsWith(prefix))
    private def listed(name: String): Boolean =
      listing.exists(_.getFileName.toString == name)
    private val compactFile: Option[(Path, Attrs)] =
      named("compact-").lastOption.map(p => (p, attrsOf(p)))

    /** The compaction horizon as a VERSION (-1 if never swept) — the
      * default exclusive lower bound of a `.changes` read: epochs at or
      * below it are unrecoverable per-epoch. */
    val horizon: Long = compactFile.fold(-1L)(c => idOf(c._1))

    /** Every listed epoch manifest in id order, including stale ones at
      * or below the horizon (a crash mid-sweep leaves them; they are
      * subsets of the compact file and the next sweep removes them). */
    private val epochs: Seq[(Long, Path)] = named("epoch-").map(p => (idOf(p), p))

    /** Newest committed epoch id — the snapshot's version; -1 for an
      * empty or absent log. */
    val version: Long = (horizon +: epochs.map(_._1)).max

    /** [[version]], refusing an empty log. */
    def newestVersion: Long =
      if (version >= 0) version
      else throw new IllegalArgumentException(
        s"manifest table $path has no committed epochs")

    /** The loose (not-yet-compacted) epochs NEWER than the horizon, in
      * epoch order: with the compact file, the fragments whose union is
      * the committed snapshot — O(epochs/compactInterval) files. */
    private val tail: Seq[Loose] = epochs.filter(_._1 > horizon).map {
      case (id, p) => val a = attrsOf(p); Loose(id, p, a, records(p, a))
    }
    private val tailOf: Map[Path, Loose] = tail.map(l => l.path -> l).toMap
    /** The tail's MAIN epochs: branch-staged ones are invisible to every
      * main face until published. */
    private def mainTail: Seq[Loose] = tail.filter(_.branch.isEmpty)

    /** The compact file's records (parsed on first use, then cached). */
    private[sources] def compactRecs: Seq[LogRecord] =
      compactFile.fold(Seq.empty[LogRecord]) { case (p, a) => records(p, a) }
    private def recsOf(p: Path): Seq[LogRecord] =
      tailOf.get(p).map(_.recs).getOrElse {
        compactFile.filter(_._1 == p).fold(records(p, attrsOf(p)))(c =>
          records(c._1, c._2))
      }
    private def branchOf(p: Path): Option[String] =
      tailOf.get(p).fold(recsOf(p).collectFirst { case ForBranch(b) => b })(_.branch)
    private def dataPath(n: String): String = Paths.get(path, "data", n).toString

    private val fingerprint: Option[Fingerprint] = {
      val entries = (compactFile.toSeq ++ tail.map(l => (l.path, l.attrs)))
        .map { case (p, a) =>
          (p.toAbsolutePath.toString, a.fileKey, a.size, a.lastModifiedTime) }
      if (entries.exists(_._2 == null)) None else Some(entries)
    }

    private lazy val state: PlanState = {
      val key = dir.toAbsolutePath.toString
      fingerprint.flatMap { f =>
        Option(planCache.get(key)).collect { case (k, st) if k == f => st }
      }.getOrElse {
        planDerivations.incrementAndGet()
        val r = replay(compactRecs +: mainTail.map(_.recs))
        // BLOOM RESIDENCY CAP: the cached state would otherwise hold
        // every file's base64 payload — at the default 2^18 bits (~44 KiB
        // b64) × 10⁵–10⁶ files, GBs of driver heap for a table that still
        // plans via the driver walk. `bloom.resident.bytes` (table
        // property; default 64 MiB) bounds it: the NEWEST files' payloads
        // stay resident up to the cap — the hot probe set of an
        // append-mostly lake — and older files fall back to min/max-only
        // pruning (blooms are false-positives-only, so eviction costs
        // pruning, never correctness). The distributed checkpoint planner
        // is unaffected: it probes each file's record from the
        // checkpoint's own bloom column in tasks.
        val bloomCap = r.props.get("bloom.resident.bytes")
          .flatMap(_.toLongOption).getOrElse(DefaultResidentBloomBytes)
        val residentBlooms: scala.collection.Map[String, Map[String, String]] = {
          val keep = scala.collection.mutable.HashMap[String, Map[String, String]]()
          var budget = bloomCap
          val it = r.blooms.toSeq.reverseIterator // newest fragment order last
          var full = false
          while (it.hasNext && !full) {
            val (f, m) = it.next()
            val sz = m.valuesIterator.map(_.length.toLong).sum
            if (sz <= budget) { budget -= sz; keep(f) = m }
            else full = true // strict newest-suffix: predictable residency
          }
          keep
        }
        val (statMap, partMap) = skippingIndex(r, residentBlooms)
        val live = r.files.toSet
        val frags = (() => compactRecs) +: mainTail.map(l => () => l.recs)
        val st = new PlanState(r.files.toSeq, statMap, partMap, r.dvs.toMap,
          TableMeta.of(r), r.rowids.toMap, () => mergedNdv(live, frags))
        fingerprint.foreach { f =>
          if (planCache.size >= PlanCacheCap) planCache.clear()
          planCache.put(key, (f, st))
        }
        st
      }
    }

    /** Committed file NAMES, union order: each epoch's adds and
      * `#remove`s applied IN EPOCH ORDER (a remove always targets a
      * file added strictly earlier; removing an absent name is a no-op,
      * which makes the crash window where a loose epoch survives
      * alongside the compact that absorbed it idempotent). */
    private[sources] def names: Seq[String] = state.files
    /** The committed files (absolute paths) — empty if no commit ever
      * published. Derived straight from the manifest fragments (no
      * mutable derived listing to go stale or to pay O(total) rewrites
      * for). */
    def files: Seq[String] = names.map(dataPath)
    /** Per-file statistics recorded at write time — the data-skipping
      * index, keyed by file NAME; files without a record simply cannot
      * be pruned, and a CONFLICTING duplicate loses its entry: an
      * unpruned file is a slow read, a mispruned file is a wrong
      * answer. */
    def stats: Map[String, FileStat] = state.stats
    /** Encoded partition-value tuples per committed file name, from the
      * `#part <file> [<specId>@]<tok1,tok2>` records (absent spec id
      * means spec 0). Files without a record have no tuple: pruning
      * treats them as unprunable and partition-scoped overwrite refuses
      * to touch them. */
    def parts: Map[String, PartTuple] = state.parts
    /** The LIVE delete vectors per data file: `#dv` records accumulated
      * in fragment order, cleared when the data file itself is
      * `#remove`d (a rewrite resolves the deletes). Values are
      * (dvFile, nDeleted) in record order. */
    def dvs: Map[String, Seq[(String, Long)]] = state.dvs
    /** Every live file's base row id (immutable once assigned; records
      * of removed files survive until a compaction drops them, which is
      * at or below every CDC-readable window by construction). */
    def rowids: Map[String, Long] = state.rowids
    /** MERGED per-column NDV of the live files' HLL sketches (HLL union
      * is lossless): physical column → (files sketched, estimate). */
    def ndv: Map[String, (Long, Long)] = state.ndv
    /** Total base64 bloom payload bytes the table's cached plan state
      * holds — observability for the residency cap (LakeLadder pins it
      * flat as the bloomed-file count grows). */
    private[graft] def residentBloomBytes: Long =
      stats.valuesIterator.flatMap(_.blooms.valuesIterator).map(_.length.toLong).sum

    /** The table-level records via the checkpoint META sidecar plus the
      * tail when a sidecar matching the horizon is listed; otherwise the
      * memoized state's (identical values, derived the expensive way).
      * With no compact at all, the loose log IS the tail. */
    private lazy val meta: TableMeta =
      if (compactFile.isDefined && listed(checkpointMetaName(horizon))) {
        val mp = dir.resolve(checkpointMetaName(horizon))
        TableMeta.of(replay(records(mp, attrsOf(mp)) +: mainTail.map(_.recs)))
      } else state.meta

    /** TABLE PROPERTIES from `#prop <key> <value>` records, last record
      * per key winning — `ALTER TABLE SET TBLPROPERTIES` is an appended
      * record. Known keys: `delete.mode` (cow|mor), `compact.interval`,
      * the bloom/ndv/row-group keys and `feed.reserve.*`; unknown keys
      * round-trip for the user. */
    def props: Map[String, String] = meta.props
    /** The distinct schema DDLs the live fragments record, in fragment
      * order (oldest compact record first). */
    def schemas: Seq[String] = meta.schemas
    /** The live physical→logical column mapping (empty = identity). */
    def colmap: Map[String, String] = meta.colmap
    /** SNAPSHOT TAGS: name → epoch id, for `VERSION AS OF 'name'`. Tags
      * are pointers, not retention pins. */
    def tags: Map[String, Long] = meta.tags
    /** Live branch refs: name → base version. */
    def branches: Map[String, Long] = meta.branches
    /** The table's compaction cadence: `compact.interval`, else the
      * default. */
    def compactInterval: Int = props.get("compact.interval")
      .flatMap(_.toIntOption).getOrElse(DefaultCompactInterval)

    /** CDC RETENTION RESERVATIONS: `feed.reserve.<consumer>` properties
      * (`CALL graft.sys.register_feed`) — each names a change-feed
      * consumer and the MINIMUM epoch window every sweep keeps loose for
      * it. Unregistering tombstones the value to `-`; non-numeric values
      * never reserve. Consumer → minimum window. */
    def feeds: Map[String, Long] = props.collect {
      case (k, v) if k.startsWith("feed.reserve.") &&
          v.toLongOption.exists(_ >= 1) =>
        k.stripPrefix("feed.reserve.") -> v.toLong
    }

    /** The recorded `#schema` DDL that CONTAINS every other recorded one
      * — the log's self-describing declared schema: under additive
      * evolution the newest record is the widest and wins; a log whose
      * records have no single containing schema (mixed subset-schema
      * writers through the path face), or with an unparsable record
      * (hand-built fixtures), resolves to None and the caller falls back
      * to the conf. */
    lazy val widestSchema: Option[String] = {
      val parsed = schemas.flatMap { d =>
        try Some(d -> StructType.fromDDL(d)) catch { case _: Exception => None }
      }
      if (parsed.size != schemas.size) None
      else parsed.find { case (_, cand) =>
        parsed.forall { case (_, other) => containsSchema(cand, other) }
      }.map(_._1)
    }

    /** The partition-spec HISTORY: every `#spec` record, parsed into a
      * [[SpecBook]] whose highest id is the CURRENT spec new writes fan
      * out under. Record grammar is `#spec [<id>=]t1;t2` with t ∈
      * `identity:<col>` | `days:<col>` | `bucket:<n>:<col>`; the CREATE
      * epoch writes the id-less form (spec 0). Two distinct records
      * claiming ONE id is a corruption and refuses — files carry that id
      * and pruning must not guess their layout. */
    lazy val specs: SpecBook = {
      val parsed = meta.specs.map(r => (r.specId, r.body))
      val dup = parsed.groupBy(_._1)
        .collect { case (id, rs) if rs.map(_._2).distinct.size > 1 => id }
      if (dup.nonEmpty) throw new IllegalStateException(
        s"manifest table $path records conflicting partition specs for " +
          s"id(s) ${dup.toSeq.sorted.mkString(", ")} — files carry these " +
          "ids; refusing to guess which layout their tuples follow")
      SpecBook(parsed.map { case (id, s) =>
        id -> (if (s == "-") Seq.empty[PartField]
               else s.split(";").toSeq.map(PartField.parse)) }.toMap)
    }

    /** Enforce the additive-evolution CONTAINMENT contract before
      * trusting a declared (catalog-conf) schema: every field the log's
      * `#schema` records carry must appear in `declared` with its
      * recorded type (appending NEW nullable columns is the one
      * supported evolution). One shared check for every face: the scan
      * refuses to SERVE under a stale narrow conf, and the copy-on-write
      * rewriters refuse to REWRITE under one — a rewrite through a narrow
      * conf would silently drop an evolved column from the survivors. */
    def verifyDeclared(what: String, declared: StructType): Unit =
      schemas.foreach { ddl =>
        if (!containsSchema(declared, StructType.fromDDL(ddl)))
          throw new IllegalArgumentException(
            s"$what: declared schema '${declared.toDDL}' does not match the " +
              s"schema the log records for committed epochs ('$ddl') — every " +
              "recorded column must appear in the declared schema with its " +
              "recorded type (appending NEW nullable columns is the one " +
              "supported evolution); update the catalog schema conf (the log " +
              "refuses rather than drop or reinterpret committed data)")
      }

    /** LIVE equality deletes: records in loose main epochs minus the
      * `#eqdrop`-consumed set, with their epoch ids — O(tail). Live
      * records exist only in the tail by construction (sweeps clamp
      * below them). */
    lazy val eqDeletes: Seq[EqDelete] = eqDeletesAsOf(Long.MaxValue)

    /** Equality deletes visible AS OF `version` (time travel): records
      * at or below it, minus drops at or below it. */
    def eqDeletesAsOf(version: Long): Seq[EqDelete] = {
      val recs = scala.collection.mutable.ArrayBuffer[EqDelete]()
      val dropped = scala.collection.mutable.HashSet[String]()
      mainTail.filter(_.id <= version).foreach { l =>
        l.recs.foreach {
          case EqDel(f, cols, n) => recs += EqDelete(l.id, f, cols, n)
          case EqDrop(f) => dropped += f
          case _ =>
        }
      }
      recs.toSeq.filterNot(e => dropped.contains(e.file))
    }

    /** Add-epoch of every LOOSE-added data file — the sequence info
      * equality-delete applicability needs. A file absent here was added
      * at or below the horizon (every live eqdel applies to it). Branch-
      * staged adds are included: main reads never plan them, and the
      * branch AUDIT face needs their epochs so a main eqdel landing after
      * a staged add cannot mis-apply to it. */
    lazy val looseAddEpochs: Map[String, Long] = {
      val acc = scala.collection.mutable.LinkedHashMap[String, Long]()
      tail.foreach(l => l.recs.foreach {
        case Data(n) => acc.getOrElseUpdate(n, l.id)
        case _ =>
      })
      acc.toMap
    }

    /** The records of a branch's staged epochs, in epoch order. */
    private def stagedOn(name: String): Seq[Seq[LogRecord]] =
      tail.filter(_.branch.contains(name)).map(_.recs)
    private def requireBranch(name: String): Unit =
      require(branches.contains(name), s"no branch '$name' on $path")

    /** The files a BRANCH read serves: the main union FOLDED with the
      * branch's staged epochs in order — adds join, staged `#remove`s
      * (a staged OVERWRITE) leave. Absolute paths. */
    def branchFiles(name: String): Seq[String] = {
      requireBranch(name)
      val acc = scala.collection.mutable.LinkedHashSet[String]()
      names.foreach(acc.add)
      stagedOn(name).foreach(_.foreach {
        case Remove(n) => acc.remove(n)
        case Data(n) => acc.add(n)
        case _ =>
      })
      acc.toSeq.map(dataPath)
    }

    /** The partition tuples a BRANCH-staged overwrite decides on: main's
      * tuples plus the staged epochs' own `#part` records. */
    def branchParts(name: String): Map[String, PartTuple] =
      parts ++ stagedOn(name).flatten.collect { case Part(f, t) => f -> t }

    /** The dv state a BRANCH read applies: main's live vectors plus the
      * branch's staged `#dv` records in epoch order; a staged
      * overwrite's removes clear the victims' dv state. */
    def branchDvs(name: String): Map[String, Seq[(String, Long)]] = {
      val acc = scala.collection.mutable.LinkedHashMap[String, Seq[(String, Long)]]()
      dvs.foreach { case (d, l) => acc(d) = l }
      stagedOn(name).foreach(_.foreach {
        case Remove(n) => acc.remove(n)
        case Dv(d, v, n) => acc(d) = acc.getOrElse(d, Seq.empty) :+ ((v, n))
        case _ =>
      })
      acc.toMap
    }

    /** Per-branch (staged epoch count, staged file count) of the loose
      * tail — the `.branches` metadata table's footprint columns. */
    lazy val stagedFootprint: Map[String, (Long, Long)] =
      tail.flatMap(l => l.branch.map(b => (b, l.recs.count(_.isInstanceOf[Data]))))
        .groupBy(_._1).view
        .mapValues(es => (es.size.toLong, es.map(_._2).sum.toLong)).toMap

    private def requireVersion(v: Long): Unit =
      if (version < 0 || v > version) throw new IllegalArgumentException(
        s"manifest table $path has no version $v " +
          s"(newest committed epoch: ${if (version < 0) "none" else version})")

    /** The fragments serving epoch `v`: the compact (a union through the
      * horizon) plus the loose epochs up to `v` when `v` is at or above
      * the horizon; below it only the pre-sweep crash window can serve —
      * the loose epochs at or below the horizon, provably complete when
      * they hold no remove and union to EXACTLY the compact's content
      * (every task file is listed by exactly one epoch manifest, so a
      * missing non-empty epoch shrinks the union). Once the sweep lands
      * the version is refused: log retention bounds time travel. */
    private def fragmentsAsOf(v: Long): Seq[Path] =
      if (v >= horizon)
        compactFile.map(_._1).toSeq ++ tail.filter(_.id <= v).map(_.path)
      else {
        val looseBelow = epochs.filter(_._1 <= horizon).map(_._2)
        val removesBelow = looseBelow.exists(p =>
          recsOf(p).exists(_.isInstanceOf[Remove]))
        val compactContent = compactRecs.collect { case Data(n) => n }.toSet
        if (!removesBelow && unionOf(looseBelow).toSet == compactContent)
          epochs.filter(_._1 <= v).map(_._2)
        else throw new IllegalStateException(
          s"version $v predates the compaction horizon $horizon " +
            "and its epoch manifests were swept — retained time travel " +
            s"starts at epoch $horizon")
      }
    private def replayOf(fragments: Seq[Path]): Replay =
      replay(fragments.filter(branchOf(_).isEmpty).map(recsOf))
    private def unionOf(fragments: Seq[Path]): Seq[String] =
      replayOf(fragments).files.toSeq

    /** TIME TRAVEL: the committed files (absolute paths) AS OF epoch
      * `version` — every historical snapshot is reconstructible as long
      * as its epochs survive; versions below the compaction horizon whose
      * epochs were swept, and versions past the newest commit, refuse
      * (the Delta/Iceberg contract that log retention bounds time
      * travel, surfaced instead of silently serving a wrong snapshot). */
    def filesAsOf(version: Long): Seq[String] = {
      require(version >= 0, s"version must be >= 0, got $version")
      requireVersion(version)
      unionOf(fragmentsAsOf(version)).map(dataPath)
    }

    /** [[dvs]] as of epoch `version` — the dv state a `VERSION AS OF`
      * read applies, with [[filesAsOf]]'s fragment selection (and
      * refusal). */
    def dvsAsOf(version: Long): Map[String, Seq[(String, Long)]] =
      replayOf(fragmentsAsOf(version)).dvs.toMap

    /** INCREMENTAL READ (the Delta CDF / Iceberg incremental-scan
      * analog): the files appended by epochs in (`since`, `asOf`] — each
      * epoch manifest IS that epoch's append delta. `since` = -1 reads
      * from the beginning. A swept epoch's delta is unrecoverable from
      * the compact union, so a window reaching past the sweep REFUSES
      * naming the missing epochs, as does a window crossing a row-level
      * delete/rewrite/upsert epoch (not an append delta). */
    def filesBetween(since: Long, asOf: Long): Seq[String] = {
      require(since >= -1, s"since must be >= -1 (exclusive lower bound), got $since")
      require(since <= asOf, s"empty window: since $since > asOf $asOf")
      requireVersion(asOf)
      val window = epochs.filter(e => e._1 > since && e._1 <= asOf)
      // an absent epoch id is fine only if it NEVER EXISTED: above the
      // horizon and below the first loose epoch (ids start wherever a
      // restarted query's first batch lands, and commit contiguously
      // from there)
      val firstLoose = epochs.map(_._1).minOption.getOrElse(Long.MaxValue)
      val missing = ((since + 1) to asOf)
        .filterNot(window.map(_._1).toSet)
        .filterNot(id => id > horizon && id < firstLoose)
      if (missing.nonEmpty)
        throw new IllegalStateException(
          s"incremental read ($since, $asOf] needs epoch manifests " +
            s"${missing.mkString(", ")} which are gone " +
            s"(compaction horizon $horizon) — per-epoch deltas are " +
            "unrecoverable from the compact union; re-read the full " +
            "snapshot instead")
      val main = window.map(_._2).filter(branchOf(_).isEmpty)
      val removing = main.filter(p => recsOf(p).exists {
        case _: Remove | _: Dv | _: EqDel => true
        case _ => false
      }).map(idOf)
      if (removing.nonEmpty)
        throw new IllegalStateException(
          s"incremental read ($since, $asOf] crosses row-level " +
            s"DELETE/rewrite/upsert epoch(s) ${removing.mkString(", ")} — " +
            "a delete rewrites or retro-deletes rather than appending; " +
            "re-read the full snapshot instead")
      main.flatMap(p => recsOf(p).collect { case Data(n) => n }).distinct
        .map(dataPath)
    }

    /** (id, commit micros) of each loose epoch, in epoch order. */
    private[sources] lazy val commitTimes: Seq[(Long, Long)] =
      tail.map(l => (l.id, commitTimeMicros(l.recs, l.attrs)))

    /** TIMESTAMP AS OF resolution: the newest epoch whose COMMIT time
      * (the persisted `#ts`, mtime for logs without one) is <= `micros`.
      * The compact is itself a candidate at the SWEEP time (every
      * absorbed commit happened at or before it); a timestamp below the
      * oldest live epoch refuses with the retention boundary spelled
      * out. */
    def versionAt(micros: Long): Long = {
      val loose = commitTimes
      if (loose.isEmpty && horizon < 0) throw new IllegalArgumentException(
        s"manifest table $path has no committed version")
      val compactCand = compactFile.map { case (p, a) =>
        (idOf(p), a.lastModifiedTime.toMillis * 1000L) }
      (compactCand.toSeq ++ loose).filter(_._2 <= micros).map(_._1)
        .maxOption.getOrElse {
          val boundary = loose.headOption.map(_._2)
          throw new IllegalArgumentException(
            s"manifest table $path: no live epoch committed at or before " +
              s"timestamp $micros us — " +
              (if (horizon >= 0)
                s"epochs <= $horizon were compacted (their commit times are " +
                  "gone with them); timestamp travel covers the un-swept " +
                  s"tail${boundary.map(b => s" from $b us").getOrElse("")}"
              else s"the first commit landed at ${boundary.getOrElse(-1L)} us"))
        }
    }

    /** Per-epoch CHANGE DELTAS of the window `(since, asOf]` (the CDC
      * read): each epoch's adds, `#remove`s and `#dv` records plus its
      * `#op` classification — the raw material [[ChangeFeed]] turns into
      * labeled change rows. A window reaching below the horizon, or a
      * gap in the loose tail, refuses loudly. Epochs without `#op`
      * classify structurally: remove-carrying → `rewrite`, dv-carrying
      * → `delete`, adds-only → `append`, else `metadata`. */
    def epochDeltas(since: Long, asOf: Long): Seq[EpochDelta] = {
      require(since >= -1, s"since must be >= -1 (exclusive lower bound), got $since")
      require(since <= asOf, s"empty window: since $since > asOf $asOf")
      requireVersion(asOf)
      if (since < horizon)
        throw new IllegalStateException(
          s"change feed ($since, $asOf] reaches below the compaction " +
            s"horizon $horizon — per-epoch changes are unrecoverable " +
            "from the compact union; start the feed at or after the " +
            "horizon (or re-read the full snapshot)")
      val window = tail.filter(l => l.id > since && l.id <= asOf)
      val missing = ((since + 1) to asOf).filterNot(window.map(_.id).toSet)
      if (missing.nonEmpty)
        throw new IllegalStateException(
          s"change feed ($since, $asOf] needs epoch manifests " +
            s"${missing.mkString(", ")} which are gone " +
            s"(compaction horizon $horizon)")
      window.map { l =>
        if (l.branch.isDefined)
          // staged on a branch: invisible to the main feed until the
          // publish epoch re-lists the rows (the WAP contract)
          EpochDelta(l.id, "metadata", Seq.empty, Seq.empty, Seq.empty)
        else {
          val rs = l.recs
          val removes = rs.collect { case Remove(n) => n }
          val dvs = rs.collect { case Dv(d, v, n) => (d, v, n) }
          val adds = rs.collect { case Data(n) => n }
          val op = rs.collectFirst { case Op(k) => k }.getOrElse {
            if (removes.nonEmpty) "rewrite"
            else if (dvs.nonEmpty) "delete"
            else if (adds.nonEmpty) "append"
            else "metadata"
          }
          EpochDelta(l.id, op, adds, removes, dvs, commitTimeMicros(rs, l.attrs),
            rs.collect { case Cdc(f, r) => f -> r }.toMap,
            paired = rs.contains(CdcPair),
            eqdels = rs.collect { case EqDel(f, c, n) => (f, c, n) })
        }
      }
    }

    /** The window `(since, asOf]` as CHANGE PARTITIONS — the per-file
      * read specs both the `.changes` batch face and the streaming faces
      * plan from, so batch CDF, streaming CDF and the rate-limited tail
      * agree on semantics by construction:
      *
      *  - `cdf = true`: append adds → `insert` partitions; a
      *    merge-on-read epoch's new dv files → KEEP-position partitions
      *    over the targeted data files (`delete` / `update_preimage` by
      *    `#op`) plus its adds (`insert` / `update_postimage`);
      *    `#op compact` epochs → nothing (file rewrite ≠ row change);
      *    copy-on-write epochs REFUSE — their change set is a multiset
      *    diff (a join), not a per-file read; [[ChangeFeed.tableChanges]]
      *    serves it exactly — unless `onChange = ignoreChanges`
      *    re-delivers their adds as `insert`s (the Delta opt-out).
      *  - `cdf = false` (the plain tail): append adds pass through;
      *    remove/dv-carrying epochs REFUSE with the options named —
      *    `ignoreDeletes` skips DELETE-ONLY epochs (no adds), and
      *    `ignoreChanges` additionally re-delivers rewrite epochs' adds
      *    (consumers must tolerate duplicates, exactly Delta's
      *    contract). */
    def changePartitions(since: Long, asOf: Long, cdf: Boolean,
        onChange: String): Seq[ManifestFilePartition] = {
      def adds(d: EpochDelta, label: String): Seq[ManifestFilePartition] =
        d.adds.map(n => ManifestFilePartition(dataPath(n),
          changeType = if (cdf) label else null,
          commitVersion = if (cdf) d.id else -1L,
          commitTsMicros = if (cdf) d.tsMicros else -1L))
      def refuse(d: EpochDelta): Nothing = throw new IllegalStateException(
        s"${if (cdf) "change-feed" else "incremental"} read ($since, " +
          s"$asOf] on $path crosses a non-append epoch ${d.id} " +
          s"(#op ${d.op}: ${d.removes.size} removes, ${d.dvs.size} dv " +
          s"records, ${d.eqdels.size} equality-delete records)" + (if (cdf)
            " whose change set is a multiset diff — serve it exactly " +
              "with ChangeFeed.tableChanges, or set ignoreChanges=true " +
              "to re-deliver its added files as inserts"
          else
            " — set ignoreDeletes=true to skip delete-only epochs, or " +
              "ignoreChanges=true to also re-deliver rewrite epochs' " +
              "added files (duplicates possible); for exact row-level " +
              "changes read the change feed"))
      epochDeltas(since, asOf).flatMap { d =>
        val deleteOnly = d.adds.isEmpty && (d.removes.nonEmpty || d.dvs.nonEmpty)
        d.op match {
          case "compact" | "metadata" => Seq.empty
          case _ if d.eqdels.nonEmpty =>
            // a keyed-upsert epoch's delete half is a key anti-join —
            // not a per-file read; ChangeFeed.tableChanges serves it
            // exactly
            if (onChange == "ignoreChanges") adds(d, "insert")
            else refuse(d)
          case "append" => adds(d, "insert")
          case _ if d.removes.nonEmpty || (!cdf && d.dvs.nonEmpty) =>
            if (onChange == "ignoreChanges") adds(d, "insert")
            else if (onChange == "ignoreDeletes" && deleteOnly) Seq.empty
            else refuse(d)
          case op => // merge-on-read epoch under cdf: exact per-file reads
            val (preLabel, postLabel) =
              if (op == "update") ("update_preimage", "update_postimage")
              else ("delete", "insert")
            // dvs targeting THE EPOCH'S OWN adds (a published branch's
            // staged update of its own staged append) mark rows that were
            // never visible — no pre-image partition, and the add reads
            // with those positions as a SKIP set. `#cdc` role tags
            // override the defaults (a merge's update halves serve
            // update_pre/postimage); one data file's delete-dvs and
            // pre-dvs split into separately-labeled partitions.
            val addSet = d.adds.toSet
            def dvLabel(dv: String): String =
              if (d.cdcRoles.get(dv).contains("pre")) "update_preimage"
              else preLabel
            def addLabel(n: String): String =
              if (d.cdcRoles.get(n).contains("post")) "update_postimage"
              else postLabel
            val pre = d.dvs.filterNot(r => addSet.contains(r._1))
              .groupBy(r => (r._1, dvLabel(r._2))).toSeq
              .sortBy { case ((data, label), _) => (data, label) }.map {
              case ((data, label), recs) => ManifestFilePartition(
                dataPath(data),
                recs.map(r => dataPath(r._2)), keepPositions = true,
                changeType = label, commitVersion = d.id,
                commitTsMicros = d.tsMicros)
            }
            val selfDvd = d.dvs.filter(r => addSet.contains(r._1))
              .groupBy(_._1).view.mapValues(_.map(r => dataPath(r._2))).toMap
            val post = d.adds.map(n => ManifestFilePartition(dataPath(n),
              selfDvd.getOrElse(n, Seq.empty),
              changeType = if (cdf) addLabel(n) else null,
              commitVersion = if (cdf) d.id else -1L,
              commitTsMicros = if (cdf) d.tsMicros else -1L))
            pre ++ post
        }
      }
    }

    /** One row per LIVE log fragment, for the `.history` metadata table:
      * (version, kind, nAdded, nRemoved, commit millis). Loose epochs
      * classify by their records — `append`, `rewrite` (carries
      * `#remove`s), `upsert` (`#eqdel`), `delete` (`#dv` only), `branch`
      * (staged), `metadata` — and the compact reports as one
      * `checkpoint` row at the horizon carrying the resolved union size:
      * history below the horizon is collapsed into it, the log retains
      * exactly what time travel can still serve. */
    def history: Seq[(Long, String, Long, Long, Long)] = {
      val compactRow = compactFile.map { case (p, a) =>
        (horizon, "checkpoint", compactRecs.count(_.isInstanceOf[Data]).toLong,
          0L, a.lastModifiedTime.toMillis)
      }
      val looseRows = tail.map { l =>
        val rs = l.recs
        val adds = rs.count(_.isInstanceOf[Data]).toLong
        val removes = rs.count(_.isInstanceOf[Remove]).toLong
        val kind =
          if (l.branch.isDefined) "branch" // staged, not yet visible
          else if (removes > 0) "rewrite"
          else if (rs.exists(_.isInstanceOf[EqDel])) "upsert"
          else if (rs.exists(_.isInstanceOf[Dv])) "delete"
          else if (adds > 0) "append"
          else "metadata"
        (l.id, kind, adds, removes, commitTimeMicros(rs, l.attrs) / 1000L)
      }
      compactRow.toSeq ++ looseRows
    }

    /** Every listed epoch as (id, fileCount, rowCount-if-known) in epoch
      * order — the admission-control view a rate-limited tailing stream
      * sizes its next batch with. rowCount is None when any listed file
      * lacks a `#stats` record; branch-staged epochs count as empty. */
    def epochSizes: Seq[(Long, Int, Option[Long])] = epochs.map { case (id, p) =>
      if (branchOf(p).isDefined) (id, 0, Some(0L))
      else {
        val rs = recsOf(p)
        val data = rs.collect { case Data(n) => n }
        val stats = rs.collect { case s: Stats => s.file -> s.stat }.toMap
        (id, data.size,
          if (data.forall(stats.contains)) Some(data.map(stats(_).rows).sum)
          else None)
      }
    }

    /** A streaming writer's committed ENGINE-epoch watermark: the max
      * `#txn <writerId> <e>` record across the live fragments, -1 if the
      * writer never committed. `#txn` records LEAD every fragment, so
      * the compact is read only up to its first non-txn line —
      * O(writers) bytes, never O(committed files), which keeps the
      * per-commit replay check flat as the table ages. */
    def txnWatermark(writerId: String): Long = {
      val compactTxns = compactFile.toSeq.flatMap { case (p, _) =>
        val in = Files.newBufferedReader(p, java.nio.charset.StandardCharsets.UTF_8)
        try leadingTxns(in.lines.iterator.asScala) finally in.close()
      }
      (compactTxns ++ tail.flatMap(_.recs)).collect {
        case Txn(w, e) if w == writerId => e
      }.maxOption.getOrElse(-1L)
    }

    /** Every file name ANY live fragment lists as an add — the
      * REFERENCED set vacuum keeps, removes deliberately NOT applied: a
      * `#remove`d file stays referenced while its remove epoch is still
      * loose (every retained pre-delete version still serves it), and
      * becomes reclaimable once compaction resolves the remove. Dv files
      * and equality-delete key files are referenced on the same terms;
      * branch-staged adds are referenced too. */
    lazy val referenced: Set[String] =
      (compactRecs ++ tail.flatMap(_.recs)).collect {
        case Data(n) => n
        case Dv(_, dv, _) => dv
        case EqDel(f, _, _) => f
      }.toSet

    /** The row-id HIGH WATERMARK: the max `#rowidhwm` across ALL live
      * fragments — branch-staged epochs included, whose reserved ids must
      * never be reissued. 0 on a log that never assigned. */
    def rowIdHwm: Long = (compactRecs ++ tail.flatMap(_.recs))
      .collect { case RowIdHwm(n) => n }.maxOption.getOrElse(0L)

    /** Did a commit carrying `cow` land in a live fragment? */
    private[sources] def carriesCow(cow: Cow): Boolean =
      compactRecs.contains(cow) || tail.exists(_.recs.contains(cow))

    /** The planning checkpoint matching the horizon — (horizon,
      * parquetPath, rowCount). None when absent or stale (a newer
      * compact landed without one): strictly a fallback decision, never
      * a correctness one. */
    lazy val checkpoint: Option[(Long, Path, Long)] =
      if (compactFile.isEmpty || !listed(checkpointParquetName(horizon))) None
      else {
        val p = dir.resolve(checkpointParquetName(horizon))
        try {
          val fr = org.apache.parquet.hadoop.ParquetFileReader.open(
            new org.apache.parquet.io.LocalInputFile(p))
          val n = try fr.getRecordCount finally fr.close()
          Some((horizon, p, n))
        } catch { case _: Exception => None }
      }

    /** DISTRIBUTED PLANNING (the Iceberg distributed-manifest shape):
      * prune the CHECKPOINTED portion with a Spark job over the parquet
      * checkpoint — executors decode each row's `#stats`/`#part` lines
      * with the codec the text path uses and apply the SAME `mayMatch`
      * model, so the two planners cannot disagree — while the loose tail
      * is applied driver-side in epoch order, O(tail). Driver cost:
      * O(tail) + O(kept) collected names, never O(all files).
      *
      * Returns (kept absolute paths in checkpoint-then-tail order, live
      * dv paths per kept file name, listedCount for the prune record). */
    private[sources] def distributedPlan(spark: org.apache.spark.sql.SparkSession,
        parquet: Path, ckptRows: Long,
        filters: Seq[org.apache.spark.sql.sources.Filter], book: SpecBook)
        : (Seq[String], Map[String, Seq[String]], Int) = {
      // —— the tail, applied in epoch order; its removes of checkpointed
      // files are the replay's `removedElsewhere`
      val tailReplay = replay(mainTail.map(_.recs))
      val (tailStats, tailParts) = skippingIndex(tailReplay, tailReplay.blooms)
      val removedCkpt = tailReplay.removedElsewhere
      // —— the checkpointed portion: one job, collect (kept name, dv lines)
      val keptCkpt = prunedCheckpoint(spark, parquet, removedCkpt.toSet,
        filters, book)
      // —— tail adds pruned driver-side with the same rule
      val keptTail = tailReplay.files.toSeq.filter { n =>
        val partOk = tailParts.get(n).forall(t =>
          filters.forall(book.mayMatch(t, _)))
        partOk && (tailStats.get(n) match {
          case None => true
          case Some(st) => st.rows > 0 && filters.forall(SnapStats.mayMatch(st, _))
        })
      }
      // —— live dvs per kept file: checkpoint rows carry their own, the
      // tail may have landed more (on checkpointed AND tail files)
      val dvByName = scala.collection.mutable.HashMap[String, Seq[String]]()
      keptCkpt.foreach { case (f, dvLines) =>
        val own = dvLines.split("\n").toSeq.flatMap(decode)
          .collect { case Dv(_, v, _) => v }
        val all = own ++ tailReplay.dvs.getOrElse(f, Seq.empty).map(_._1)
        if (all.nonEmpty) dvByName(f) = all.map(dataPath)
      }
      keptTail.foreach { n =>
        val dvs = tailReplay.dvs.getOrElse(n, Seq.empty).map(_._1)
        if (dvs.nonEmpty) dvByName(n) = dvs.map(dataPath)
      }
      val listedCount = (ckptRows - removedCkpt.size + tailReplay.files.size).toInt
      val kept = (keptCkpt.map(_._1).toSeq ++ keptTail).map(dataPath)
      (kept, dvByName.toMap, listedCount)
    }

    /** The loose tail (branch-staged epochs included), for a sweep or
      * a publish. */
    private[sources] def looseTail: Seq[Loose] = tail
    /** The listed entries a sweep through `upTo` supersedes: every epoch
      * at or below it, every older compact and its checkpoint artifacts. */
    private[sources] def supersededBy(upTo: Long): Seq[Path] =
      epochs.filter(_._1 <= upTo).map(_._2) ++ listing.filter { p =>
        val n = p.getFileName.toString
        (n.startsWith("compact-") || n.startsWith("checkpoint-")) &&
          n.dropWhile(!_.isDigit).takeWhile(_.isDigit).toLongOption.exists(_ < upTo)
      }
  }

  /** The checkpoint rows that survive partition and stats pruning (and
    * were not removed by the tail): one Spark job whose closure carries
    * only the removed set, the filters and the spec book. Returns (kept
    * file name, its encoded dv lines). */
  private def prunedCheckpoint(spark: org.apache.spark.sql.SparkSession,
      parquet: Path, removed: Set[String],
      filters: Seq[org.apache.spark.sql.sources.Filter], book: SpecBook)
      : Array[(String, String)] = {
    val removedB = spark.sparkContext.broadcast(removed)
    import org.apache.spark.sql.Encoders
    val enc5 = Encoders.tuple(Encoders.STRING, Encoders.STRING,
      Encoders.STRING, Encoders.STRING, Encoders.STRING)
    val enc2 = Encoders.tuple(Encoders.STRING, Encoders.STRING)
    spark.read
      .schema("file STRING, stats STRING, part STRING, dvs STRING, " +
        "bloom STRING") // checkpoints without bloom: by-name null = no filter
      .parquet(parquet.toString)
      .as(enc5)
      .mapPartitions { it =>
        it.flatMap { case (f, statLine, partLine, dvLines, bloomLine) =>
          if (removedB.value.contains(f)) None
          else {
            val partOk = Option(partLine).flatMap(decode) match {
              case Some(Part(_, t)) => filters.forall(book.mayMatch(t, _))
              case _ => true
            }
            val statsOk = Option(statLine).flatMap(decode) match {
              case Some(s: Stats) =>
                val st = Option(bloomLine).flatMap(decode) match {
                  case Some(Bloom(_, b)) => s.stat.copy(blooms = b.toMap)
                  case _ => s.stat
                }
                st.rows > 0 && filters.forall(SnapStats.mayMatch(st, _))
              case _ => true
            }
            if (partOk && statsOk) Some((f, Option(dvLines).getOrElse("")))
            else None
          }
        }
      }(enc2)
      .collect()
  }

  /** MERGED per-column NDV of the live files ([[NdvSketch]]): their HLL
    * sketches unioned in fragment order, each payload heapified
    * TRANSIENTLY (never retained — the bloom-residency lesson) at
    * O(live sketched files) CPU. */
  private def mergedNdv(live: Set[String], frags: Seq[() => Seq[LogRecord]])
      : Map[String, (Long, Long)] = {
    val seen = scala.collection.mutable.HashSet[(String, String)]()
    val unions = scala.collection.mutable.LinkedHashMap[String,
      (Long, org.apache.datasketches.hll.Union)]()
    frags.foreach(_().foreach {
      case Ndv(f, m) if live.contains(f) => m.foreach { case (c, b64) =>
        if (seen.add((c, f)))
          NdvSketch.fromB64(b64).foreach { sk =>
            val (n, u) = unions.getOrElseUpdate(c,
              (0L, new org.apache.datasketches.hll.Union(NdvSketch.LgK)))
            u.update(sk)
            unions(c) = (n + 1, u)
          }
      }
      case _ =>
    })
    unions.map { case (c, (n, u)) => c -> ((n, math.round(u.getEstimate))) }.toMap
  }

  private[sources] def commitBranchEpoch(path: String, name: String,
      create: Boolean): Long = {
    val dir = Files.createDirectories(Paths.get(path))
    claimEpoch(dir, snap => {
      if (create) {
        require(!snap.branches.contains(name),
          s"branch '$name' already exists on $path")
        require(!snap.tags.contains(name),
          s"'$name' names a TAG on $path — branches and tags share " +
            "the VERSION AS OF namespace")
        Seq(Branch(name, Some(snap.version)))
      } else {
        require(snap.branches.contains(name),
          s"no branch '$name' on $path to drop " +
            s"(branches: ${snap.branches.keys.toSeq.sorted.mkString(", ") match {
              case "" => "none"; case b => b }})")
        Seq(Branch(name, None))
      }
    })
  }

  /** PUBLISH a branch (the Iceberg `fast_forward` shape):
    * re-list every staged epoch's adds (with their `#stats`/`#part`
    * records, verbatim) as ONE ordinary append epoch and drop the
    * branch ref in the same atomic claim — main sees the audited rows
    * exactly once, at the publish version (which is also where the
    * change feed serves them as inserts). REFUSES, re-checked per
    * claim attempt, when main's DATA state moved past the branch base
    * (a data epoch landed, or a sweep advanced the horizon past it):
    * the branch no longer fast-forwards — nothing is published.
    * Returns (publish version, staged epochs, published files). */
  private[graft] def fastForward(path: String, name: String,
      compactInterval: Int): (Long, Int, Int) = {
    val dir = Paths.get(path)
    var nEpochs = 0
    var nFiles = 0
    // one token per publish OPERATION (stable across claim attempts):
    // lets a dv-only publish racing a compaction sweep recognize its
    // own absorbed commit (the claimEpoch absorbed-check) even with
    // zero published file names
    val pubToken = java.util.UUID.randomUUID.toString
    var lastPublishedRemoves: Seq[String] = Seq.empty
    val id = claimEpoch(dir, snap => {
      val base = snap.branches.getOrElse(name,
        throw new IllegalArgumentException(
          s"no branch '$name' on $path to publish"))
      if (snap.horizon > base) throw new IllegalStateException(
        s"fast_forward('$name') on $path: the compaction horizon " +
          s"(${snap.horizon}) moved past the branch base ($base) — main's " +
          "state changed since the fork; nothing was published")
      val tail = snap.looseTail.filter(_.id > base)
      val moved = tail.filter { e =>
        e.branch.isEmpty && e.recs.exists {
          case _: Data | _: Remove | _: Dv => true
          case _ => false
        }
      }
      if (moved.nonEmpty) throw new IllegalStateException(
        s"fast_forward('$name') on $path: main data epoch(s) " +
          s"${moved.map(_.id).mkString(", ")} landed after the branch " +
          s"base $base — the branch no longer fast-forwards; re-stage " +
          "against the current snapshot (nothing was published)")
      val mine = tail.filter(_.branch.contains(name))
      nEpochs = mine.size
      // RESOLVE staged epochs in order (staged OVERWRITE):
      // a staged remove of a MAIN file publishes as a `#remove`; a
      // staged remove of an EARLIER STAGED add cancels it (the add
      // never reaches main — its rows were audited away). Staged dv
      // records on a later-removed file die with it.
      val addAcc = scala.collection.mutable.LinkedHashSet[String]()
      val removesOfMain = scala.collection.mutable.LinkedHashSet[String]()
      val dvAcc = scala.collection.mutable.ArrayBuffer[Dv]()
      mine.foreach { e =>
        val rs = e.recs
        rs.foreach {
          case Remove(r) =>
            if (addAcc.contains(r)) addAcc.remove(r)
            else removesOfMain.add(r)
            dvAcc.filterInPlace(_.data != r)
          case _ =>
        }
        rs.foreach { case d: Dv => dvAcc += d; case _ => }
        rs.foreach { case Data(n) => addAcc.add(n); case _ => }
      }
      val adds = addAcc.toSeq
      nFiles = adds.size
      // A publish carrying BOTH overwrite removes and dv records on
      // SURVIVING MAIN files cannot classify exactly for the change
      // feed (the remove-carrying serving would drop the dv deletes) —
      // refuse loudly; the audit face showed both, so re-stage them as
      // separate branches.
      if (removesOfMain.nonEmpty &&
          dvAcc.exists(d => !addAcc.contains(d.data)))
        throw new UnsupportedOperationException(
          s"fast_forward('$name') on $path: the branch stages both an " +
            "overwrite's #remove of main files and row-level #dv " +
            "records on surviving main files — one epoch cannot serve " +
            "both exactly to the change feed; stage and publish these " +
            "operations on separate branches (nothing was published)")
      // `#cdc` role tags carry per staged epoch — EXCEPT
      // when that epoch's update pre-images target the branch's OWN
      // staged adds: those rows were never visible to main, so the
      // update halves collapse to the documented net-effect labels
      // (the pre side cancels via self-dv, the post side serves as a
      // plain insert). Tags are file-level, so a mixed epoch (one
      // UPDATE touching main rows AND staged rows) drops its tags
      // whole rather than mislabel either side.
      val branchAdds = adds.toSet
      // records of a staged-then-overwritten add die with it: only
      // PUBLISHED files' records replay. `#cdc` tags name adds (post) OR
      // dv files (pre) — a pre-tag survives with its dv record.
      val surviveDvNames = dvAcc.map(_.dv).toSet
      val carried = mine.flatMap { e =>
        val rs = e.recs
        val selfUpdating = rs.exists {
          case Cdc(f, "pre") => rs.exists {
            case Dv(d, v, _) => v == f && branchAdds.contains(d)
            case _ => false
          }
          case _ => false
        }
        rs.filter {
          case s: Stats => branchAdds.contains(s.file)
          case Part(f, _) => branchAdds.contains(f)
          case Bloom(f, _) => branchAdds.contains(f)
          case Ndv(f, _) => branchAdds.contains(f)
          case Cdc(f, _) => !selfUpdating &&
            (branchAdds.contains(f) || surviveDvNames.contains(f))
          case _ => false
        }
      }
      // STAGED ROW-LEVEL writes: the branch's `#dv` records
      // replay verbatim in epoch order. Safe by the fences above: no
      // main data/dv epoch landed past the base and the horizon never
      // crossed it, so every main-file target is live with exactly the
      // dv state the staged op computed against; targets on staged
      // adds flip visibility WITH their files in this one claim. A
      // dv-carrying publish classifies `merge` (net delete+insert at
      // the publish version — the change feed's exact contract for it).
      lastPublishedRemoves = removesOfMain.toSeq
      // STAGED STREAMING epochs carry per-writer `#txn`
      // replay records; the publish re-declares the MAX watermark per
      // writer (leading the content — the records-lead contract), so a
      // post-publish restart's replayed engine epochs still detect
      // even after the sweep absorbs the dropped branch epochs.
      val txns = mine.flatMap(_.recs)
        .collect { case Txn(w, e) => (w, e) }
        .groupMapReduce(_._1)(_._2)(math.max)
        .toSeq.sortBy(_._1).map { case (w, e) => Txn(w, e) }
      val ddl = snap.widestSchema.getOrElse(
        throw new IllegalStateException(
          s"manifest table $path records no #schema"))
      // the #cow token rides UNCONDITIONALLY: with carried
      // #txn lines, the claim's absorbed-check txn arm could in
      // principle match the still-loose STAGED epoch's watermark — the
      // sweep cap below live staged epochs makes that race unreachable,
      // and the op-unique token keeps detection exact regardless
      // classification: a remove-carrying publish is the
      // staged overwrite's full replacement of exactly those files —
      // the feed serves every pre row a delete, every published row an
      // insert (self-dv'd positions excluded), which IS the net truth
      // of an audited backfill; dv-only stays `merge`, adds-only stays
      // `append`.
      val op =
        if (removesOfMain.nonEmpty) "overwrite"
        else if (dvAcc.nonEmpty) "merge"
        else "append"
      txns ++ Seq(Schema(ddl), Op(op), Cow(pubToken)) ++
        carried ++ Seq(Branch(name, None)) ++
        removesOfMain.toSeq.sorted.map(Remove(_)) ++
        dvAcc ++ adds.map(Data(_))
    })
    // remove-time mtime stamp (the main overwrite path's vacuum-grace
    // contract) for files the publish replaced
    val now = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis())
    lastPublishedRemoves.foreach { n =>
      try Files.setLastModifiedTime(Paths.get(path, "data", n), now)
      catch { case _: IOException => } // already reclaimed
    }
    maybeCompact(dir, compactInterval)
    (id, nEpochs, nFiles)
  }

  /** EQUALITY DELETES (the Iceberg-v2 equality-delete /
    * Flink-CDC-sink shape): `#eqdel <file> <col1[,col2…]> <n>` names a
    * small parquet KEY file — rows matching any of its key tuples are
    * deleted from every data file committed in an EARLIER epoch (the
    * sequence-number contract: the committing epoch's own appends are
    * exempt, which is exactly what lets a keyed streaming UPSERT
    * commit delete-by-key + append per micro-batch WITHOUT reading
    * the target). Readers apply them as key anti-sets in the group
    * reader; `compact_data` is the RESOLUTION step — it rewrites
    * every applicable file with the keys anti-joined out and marks
    * the key files consumed with `#eqdrop <file>`. While any eqdel is
    * LIVE (recorded, not dropped): metadata sweeps clamp below its
    * epoch (per-epoch applicability must stay derivable), and
    * remove/dv-carrying commits that do not resolve them refuse at
    * claim time (a rewrite would carry old rows into exempt new
    * files — resurrecting deleted keys). */
  private[graft] case class EqDelete(epoch: Long, file: String,
      cols: Seq[String], rows: Long)

  /** Drop every live equality-delete record in ONE metadata epoch
    * — the no-applicable-files resolution arm of
    * `compact_data` (every row the records could delete is already
    * gone or rewritten): releases the sweep clamp and the COW/MOR
    * refusals without moving a byte. Re-derived per claim attempt;
    * the claim fence verifies coverage. */
  private[graft] def commitEqDropEpoch(path: String,
      compactInterval: Int): Unit = {
    val dir = Paths.get(path)
    claimEpoch(dir, snap =>
      Op("metadata") +: snap.eqDeletes.map(e => EqDrop(e.file)))
    maybeCompact(dir, compactInterval)
  }

  /** ROW TRACKING (the Delta row-tracking / Iceberg-v3
    * row-lineage shape): every data-carrying commit assigns each added
    * file a fresh BASE ROW ID — `#rowid <file> <base>` — from a
    * monotone per-table watermark (`#rowidhwm <next>`), reserving
    * `rows` ids per file. A row's id is then
    * `coalesce(materialized _graft_rowid, base + row_index)`: fresh
    * appends never store ids (zero data-plane cost — the id IS the
    * position), and a COW rewrite/compaction MATERIALIZES each carried
    * row's id into a hidden `_graft_rowid` parquet column so identity
    * survives the move. That per-row identity is what lets the CDC
    * feed serve a COW UPDATE/MERGE — and a rollback — as per-row
    * PAIRED `update_pre/postimage` labels (`#cdcpair` epochs,
    * [[ChangeFeed]]) instead of a multiset diff's net effect.
    * Metadata cost: O(1) per add record; ids of removed files die at
    * compaction (the records ride like `#stats`), the watermark rides
    * as one line. */
  private[sources] val RowIdColumnName = "_graft_rowid"

  /** COLUMN MAPPING (the Delta column-mapping shape for
    * RENAME COLUMN without rewriting a byte): the `#colmap
    * <physical>=<logical>[;…]` record maps the PHYSICAL column names —
    * which stay fixed forever in data files, `#stats` keys, `#schema`
    * records and the partition `#spec` — to the LOGICAL names users
    * query. Last record wins wholesale; columns without an entry are
    * identity-mapped. Because every persisted artifact stays keyed by
    * physical name, renames never invalidate the skipping index, the
    * null-absence inference, partition tuples or old files — the whole
    * translation lives at the session boundary (filters logical→
    * physical on the way in, schemas physical→logical on the way out,
    * writers always write physical). */
  /** A `#colmap` value of `-` marks the physical column DROPPED: the
    * logical schema omits it, reads never request it, new files simply
    * lack it — zero bytes rewritten — and because the
    * physical name stays in the `#schema` records forever, ADD COLUMN
    * can never rebind the old bytes (re-adding the LOGICAL name is
    * safe: it gets a fresh physical name). */
  val DroppedColumn = "-"

  /** Append a pure-metadata epoch carrying the full `#colmap` record —
    * the ALTER TABLE RENAME COLUMN commit. */
  private[sources] def commitColmapEpoch(path: String,
      mapping: Map[String, String]): Long =
    claimEpoch(Files.createDirectories(Paths.get(path)),
      _ => Seq(Colmap(mapping.toSeq.sortBy(_._1))))

  /** Rename v1 filter column references through `m` (case-insensitive
    * keys) — how a LOGICAL predicate becomes the PHYSICAL one every
    * stats/partition/pushdown face evaluates. Unmapped names pass
    * through. */
  private[sources] def renameFilterCols(
      f: org.apache.spark.sql.sources.Filter,
      m: Map[String, String]): org.apache.spark.sql.sources.Filter = {
    import org.apache.spark.sql.sources._
    def t(c: String): String = m.getOrElse(c.toLowerCase, c)
    f match {
      case EqualTo(c, v) => EqualTo(t(c), v)
      case EqualNullSafe(c, v) => EqualNullSafe(t(c), v)
      case GreaterThan(c, v) => GreaterThan(t(c), v)
      case GreaterThanOrEqual(c, v) => GreaterThanOrEqual(t(c), v)
      case LessThan(c, v) => LessThan(t(c), v)
      case LessThanOrEqual(c, v) => LessThanOrEqual(t(c), v)
      case In(c, vs) => In(t(c), vs)
      case IsNull(c) => IsNull(t(c))
      case IsNotNull(c) => IsNotNull(t(c))
      case StringStartsWith(c, p) => StringStartsWith(t(c), p)
      case StringEndsWith(c, p) => StringEndsWith(t(c), p)
      case StringContains(c, p) => StringContains(t(c), p)
      case And(l, r) => And(renameFilterCols(l, m), renameFilterCols(r, m))
      case Or(l, r) => Or(renameFilterCols(l, m), renameFilterCols(r, m))
      case Not(x) => Not(renameFilterCols(x, m))
      case other => other
    }
  }

  /** May a column recorded as `from` be SERVED as `to` without
    * reinterpreting committed bytes (type widening — the
    * Iceberg safe-promotion set restricted to what both of Spark's
    * parquet readers and this sink's own group reader promote
    * exactly)? Integrals widen up to long; float widens to double.
    * Timestamps/dates/strings never change — each would re-scale or
    * re-encode, not widen. */
  private[sources] def widens(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      // NESTED evolution: a struct widens to one that
      // CONTAINS it — inner fields widened and/or appended; removed
      // inner fields never widen (that would drop data)
      case (f: StructType, t: StructType) => f != t && containsSchema(t, f)
      // ARRAY element evolution: an array widens when its
      // element type does (primitive widening or struct containment)
      case (f: ArrayType, t: ArrayType) =>
        f != t && widens(f.elementType, t.elementType)
      // MAP value evolution: keys are identity (key
      // reinterpretation would re-bucket committed lookups), values
      // widen like array elements
      case (f: MapType, t: MapType) =>
        f != t && f.keyType == t.keyType &&
          widens(f.valueType, t.valueType)
      case _ => false
    }
  }

  /** NESTED column mapping: `#colmap` keys may be DOTTED
    * physical paths (`s.a=b` renames struct field, `s.a=-` drops it) —
    * the same zero-bytes-rewritten contract as top-level, applied
    * recursively, and through ARRAY elements: an
    * `array<struct<…>>` column's inner fields key as
    * `col.element.field` (the Spark field-path convention). These two
    * are the single translation pair every face uses: physical schema
    * → logical (serving) and a logical-named schema → physical
    * (writes), resolved per level by the mapping so files/stats/spec
    * stay keyed by fixed physical names forever. */
  private[sources] def logicalizeStruct(
      phys: org.apache.spark.sql.types.StructType,
      colmap: Map[String, String], prefix: String = "")
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(phys.fields.flatMap { f =>
      val key = (prefix + f.name).toLowerCase
      colmap.get(key) match {
        case Some(DroppedColumn) => None
        case mapped =>
          val dt = f.dataType match {
            case s: org.apache.spark.sql.types.StructType =>
              logicalizeStruct(s, colmap, prefix + f.name + ".")
            case a: org.apache.spark.sql.types.ArrayType =>
              a.elementType match {
                case es: org.apache.spark.sql.types.StructType =>
                  a.copy(elementType = logicalizeStruct(es, colmap,
                    prefix + f.name + ".element."))
                case _ => a
              }
            case m: org.apache.spark.sql.types.MapType =>
              m.valueType match {
                case vs: org.apache.spark.sql.types.StructType =>
                  m.copy(valueType = logicalizeStruct(vs, colmap,
                    prefix + f.name + ".value."))
                case _ => m
              }
            case other => other
          }
          Some(f.copy(name = mapped.getOrElse(f.name), dataType = dt))
      }
    })

  /** Inverse of [[logicalizeStruct]] for a (possibly pruned)
    * LOGICAL-named schema: each field resolves to the physical field
    * whose logical name matches at this level; unmatched fields (a
    * just-added column) keep their name — logical IS physical at
    * birth. */
  private[sources] def physicalizeStruct(
      logical: org.apache.spark.sql.types.StructType,
      phys: org.apache.spark.sql.types.StructType,
      colmap: Map[String, String], prefix: String = "")
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(logical.fields.map { lf =>
      phys.fields.find { pf =>
        val key = (prefix + pf.name).toLowerCase
        !colmap.get(key).contains(DroppedColumn) &&
          colmap.get(key).getOrElse(pf.name).equalsIgnoreCase(lf.name)
      } match {
        case Some(pf) =>
          val dt = (lf.dataType, pf.dataType) match {
            case (ls: org.apache.spark.sql.types.StructType,
                ps: org.apache.spark.sql.types.StructType) =>
              physicalizeStruct(ls, ps, colmap, prefix + pf.name + ".")
            case (la: org.apache.spark.sql.types.ArrayType,
                pa: org.apache.spark.sql.types.ArrayType) =>
              (la.elementType, pa.elementType) match {
                case (ls: org.apache.spark.sql.types.StructType,
                    ps: org.apache.spark.sql.types.StructType) =>
                  la.copy(elementType = physicalizeStruct(ls, ps, colmap,
                    prefix + pf.name + ".element."))
                case _ => la
              }
            case (lm: org.apache.spark.sql.types.MapType,
                pm: org.apache.spark.sql.types.MapType) =>
              (lm.valueType, pm.valueType) match {
                case (ls: org.apache.spark.sql.types.StructType,
                    ps: org.apache.spark.sql.types.StructType) =>
                  lm.copy(valueType = physicalizeStruct(ls, ps, colmap,
                    prefix + pf.name + ".value."))
                case _ => lm
              }
            case _ => lf.dataType
          }
          lf.copy(name = pf.name, dataType = dt)
        case None => lf
      }
    })

  /** Does `outer` contain every field of `inner` (case-insensitive
    * name; equal type or a recorded-narrow type the declared one
    * WIDENS — nullability aside)? The additive-evolution containment
    * test shared by [[Snapshot.verifyDeclared]] and the widest-schema
    * resolution. */
  private[sources] def containsSchema(outer: StructType, inner: StructType): Boolean =
    inner.fields.forall(rf => outer.fields.exists(df =>
      df.name.equalsIgnoreCase(rf.name) &&
        (df.dataType == rf.dataType || widens(rf.dataType, df.dataType))))

  /** Append a pure-metadata epoch evolving the partition spec — the
    * `CALL graft.sys.set_partition_spec` commit. The next
    * spec id is derived INSIDE the claim's content generator, so two
    * racing evolutions serialize (the loser's retry sees the winner's
    * record and takes the following id) and one id can never bind two
    * layouts. Returns (epoch id, the claimed spec id). */
  private[sources] def commitSpecEpoch(path: String,
      spec: Seq[PartField]): (Long, Int) = {
    val dir = Files.createDirectories(Paths.get(path))
    val claimedSpecId = new java.util.concurrent.atomic.AtomicInteger(-1)
    // `-` encodes the EMPTY spec (evolving to unpartitioned): the
    // record must still occupy its id — files never carry it (no
    // tuples under an empty spec), but the id sequence stays dense
    val body = if (spec.isEmpty) "-" else PartField.render(spec)
    val epoch = claimEpoch(dir, snap => {
      val id = snap.specs.currentId + 1
      claimedSpecId.set(id)
      Seq(Spec(Some(id), body))
    })
    (epoch, claimedSpecId.get)
  }

  /** The `#forbranch` header of an epoch staged on `forBranch`,
    * validated against the live refs per claim attempt — writing to a
    * dropped branch refuses. */
  private[sources] def stagedHeader(snap: Snapshot,
      forBranch: Option[String]): Seq[ForBranch] =
    forBranch.map { b =>
      require(snap.branches.contains(b),
        s"no branch '$b' on ${snap.path} — create it with " +
          "CALL graft.sys.create_branch first")
      ForBranch(b)
    }.toSeq

  /** The per-file records of freshly written files: `#stats`, `#bloom`,
    * `#ndv`, then `#part` tuples under spec `specId`. */
  private[sources] def fileRecords(files: Seq[CommittedFile],
      specId: Int): Seq[LogRecord] =
    files.map(statsOf) ++ files.flatMap(bloomOf) ++ files.flatMap(ndvOf) ++
      files.collect { case f if f.part.nonEmpty =>
        Part(f.name, PartTuple(specId, f.part)) }

  /** Publish a MERGE-ON-READ delete epoch: `#dv` records only — no
    * data lines, no removes. O(records) metadata and O(deleted rows)
    * data written, independent of the touched files' sizes: the
    * write-amplification contract that makes trickle deletes viable at
    * 100 TB. The claim verifies the target files are still live (a
    * racing COW aborts this commit retryably) and carries a `#cow`
    * token so a claim racing a compaction sweep can recognize its own
    * absorbed publish. */
  private[graft] def commitDvEpoch(path: String, schemaDdl: String,
      records: Seq[(String, String, Long)], compactInterval: Int,
      observedDvs: Option[Map[String, Set[String]]] = None,
      /** Stage on a WAP branch — see [[commitDeltaEpoch]]. */
      forBranch: Option[String] = None): Long = {
    val dir = Files.createDirectories(Paths.get(path))
    val token = java.util.UUID.randomUUID.toString
    def content(snap: Snapshot): Seq[LogRecord] =
      Seq(Schema(schemaDdl), Op("delete"), Cow(token)) ++
        stagedHeader(snap, forBranch) ++
        records.sortBy(_._1).map { case (d, v, n) => Dv(d, v, n) }
    val id = claimEpoch(dir, content _, observedDvs = observedDvs)
    maybeCompact(dir, compactInterval)
    id
  }

  /** Publish a MERGE-ON-READ row-level UPDATE/MERGE epoch:
    * `#dv` records for the replaced/deleted row positions PLUS the
    * appended replacement/inserted data files, flipped in ONE atomic
    * claim — the Iceberg-v2 position-delta commit shape. Write cost is
    * O(changed rows), independent of the touched files' sizes: the
    * contract that makes a CDC trickle-upsert feasible at 100 TB where
    * copy-on-write rewrites whole files per touched row. The claim
    * runs BOTH dv fences: target-file liveness (a racing COW that
    * removed a target aborts this commit retryably) and observed-dv
    * equality (a racing dv that landed after this operation pinned its
    * snapshot could overlap these positions). */
  private[graft] def commitDeltaEpoch(path: String, schemaDdl: String,
      dvRecords: Seq[(String, String, Long)], adds: Seq[CommittedFile],
      compactInterval: Int,
      observedDvs: Map[String, Set[String]], specId: Int = 0,
      op: String = "update",
      /** Write-audit-publish: stage this MOR epoch on a
        * branch — `#forbranch` next to its `#dv` records, invisible to
        * every main face until `fast_forward` replays it. */
      forBranch: Option[String] = None,
      /** CDC role tags: (file → pre|post) — the UPDATE
        * halves of a MERGE, so the feed serves update_pre/postimage
        * for them instead of the net delete+insert fallback. Pure
        * annotation: readers ignore it, older epochs may lack it. */
      cdcRoles: Seq[(String, String)] = Seq.empty): Long = {
    val dir = Files.createDirectories(Paths.get(path))
    val token = java.util.UUID.randomUUID.toString
    val sortedAdds = adds.sortBy(_.name)
    def content(snap: Snapshot): Seq[LogRecord] =
      Seq(Schema(schemaDdl), Op(op), Cow(token)) ++
        stagedHeader(snap, forBranch) ++ fileRecords(sortedAdds, specId) ++
        cdcRoles.sortBy(_._1).map { case (f, r) => Cdc(f, r) } ++
        dvRecords.sortBy(_._1).map { case (d, v, n) => Dv(d, v, n) } ++
        sortedAdds.map(f => Data(f.name))
    val id = claimEpoch(dir, content _, observedDvs = Some(observedDvs))
    maybeCompact(dir, compactInterval)
    id
  }

  /** RESTORE the table to snapshot `version` as ONE new epoch (the
    * Delta RESTORE / Iceberg rollback-to-snapshot shape): the
    * epoch `#remove`s every file the target snapshot lacks, re-ADDS
    * every file it has that the current one dropped — the bytes are
    * still on disk until vacuum's remove-time age gate passes, which
    * is exactly what makes a metadata-only restore possible — and
    * re-declares the re-added files' dv records AS OF the target
    * version, so merge-on-read state restores with the files. History
    * is preserved: the restore is a NEW version (time travel keeps
    * serving every pre-restore snapshot, and a second rollback can
    * roll FORWARD again). Refusals, all loud: a version past the
    * retention horizon ([[Snapshot.filesAsOf]]'s contract), re-added data
    * or dv files whose bytes vacuum already reclaimed, and a SURVIVING
    * file whose dv state moved since `version` — resetting it would
    * need a same-epoch remove+re-add of one name, which the log's
    * readers interpret ambiguously, so compaction (which resolves dvs
    * into fresh files) is the named resolution step. Content is
    * re-derived per claim attempt; a racing rewrite of a removed file
    * aborts retryably through the standard remove-liveness fence. */
  private[graft] def rollbackTo(path: String, version: Long,
      schemaDdl: String, compactInterval: Int): (Int, Int) = {
    val dir = Files.createDirectories(Paths.get(path))
    // EQUALITY DELETES: a rollback across (or under) live
    // `#eqdel` records re-adds files whose re-add epoch postdates the
    // deletes — old rows would escape them; resolve first.
    if (snapshot(path).eqDeletes.nonEmpty)
      throw new UnsupportedOperationException(
        s"rollback($path, $version): the table carries live equality " +
          "deletes (a keyed streaming upsert is active) — CALL " +
          "graft.sys.compact_data to resolve them first, then roll back")
    val token = java.util.UUID.randomUUID.toString
    var nAdd = 0
    var nRem = 0
    claimEpoch(dir, snap => {
      val target = snap.filesAsOf(version)
        .map(f => Paths.get(f).getFileName.toString)
      val targetSet = target.toSet
      val current = snap.names
      val curSet = current.toSet
      val dvsV = snap.dvsAsOf(version)
      val dvsC = snap.dvs
      val removes = current.filterNot(targetSet.contains)
      val readds = target.filterNot(curSet.contains)
      // SET compare: a compaction sweep or fragment-
      // order difference between the as-of walk and the current plan
      // state may reorder a file's dv records — identical dv SETS are
      // not divergence
      val divergent = target.filter(curSet.contains).filter { n =>
        dvsV.getOrElse(n, Seq.empty).map(_._1).toSet !=
          dvsC.getOrElse(n, Seq.empty).map(_._1).toSet
      }
      if (divergent.nonEmpty) throw new UnsupportedOperationException(
        s"rollback($path, $version): file(s) " +
          s"${divergent.sorted.mkString(", ")} survive from that " +
          "snapshot but their merge-on-read delete state moved since — " +
          "CALL graft.sys.compact_data to resolve the dvs into fresh " +
          "files first, then roll back")
      val missing = (readds ++ readds.flatMap(n =>
        dvsV.getOrElse(n, Seq.empty).map(_._1)))
        .filterNot(n => Files.exists(dir.resolve("data").resolve(n)))
      if (missing.nonEmpty) throw new IllegalStateException(
        s"rollback($path, $version): file(s) " +
          s"${missing.sorted.mkString(", ")} of that snapshot were " +
          "already reclaimed by vacuum — the version is past the " +
          "physical retention boundary")
      nAdd = readds.size
      nRem = removes.size
      val dvs = readds.sorted.flatMap(n =>
        dvsV.getOrElse(n, Seq.empty).map { case (dv, cnt) => Dv(n, dv, cnt) })
      // ROW TRACKING: re-adds RE-DECLARE their original
      // bases (identity is the file's for life), and when every file
      // on both sides carries tracked ids the epoch marks itself
      // pairable — the feed then serves the rollback as per-row
      // update_pre/postimage + insert/delete instead of net effect.
      // Any file without a row-id base keeps the diff fallback.
      val bases = snap.rowids
      val rowids = readds.sorted.flatMap(n => bases.get(n).map(RowId(n, _)))
      val pairHdr =
        if (removes.nonEmpty && (removes ++ readds).forall(bases.contains))
          Seq(CdcPair)
        else Seq.empty
      Seq(Schema(schemaDdl), Op("rollback"), Cow(token)) ++ pairHdr ++
        removes.sorted.map(Remove(_)) ++ dvs ++ rowids ++
        readds.sorted.map(Data(_))
    })
    maybeCompact(dir, compactInterval)
    (nAdd, nRem)
  }

  /** consumedDvs option codec for the DataFrameWriter COW faces
    * (row-level DELETE survivors, compaction): `f1:dv1|dv2;f2:` —
    * names are uuid-safe so the separators cannot collide. */
  private[sources] def encodeConsumedDvs(m: Map[String, Set[String]]): String =
    m.toSeq.sortBy(_._1).map { case (f, dvs) =>
      s"$f:${dvs.toSeq.sorted.mkString("|")}" }.mkString(";")

  private[sources] def decodeConsumedDvs(s: String): Map[String, Set[String]] =
    s.split(";").toSeq.filter(_.nonEmpty).map { e =>
      val i = e.indexOf(':')
      require(i > 0, s"bad consumedDvs entry '$e'")
      val f = e.substring(0, i)
      val dvs = e.substring(i + 1).split("\\|").toSeq.filter(_.nonEmpty).toSet
      f -> dvs
    }.toMap

  /** Append a pure-metadata epoch creating or dropping a tag. The
    * target version is validated against the log INSIDE the claim's
    * content generator, so a tag can never be born dangling. */
  private[sources] def commitTagEpoch(path: String, name: String,
      version: Option[Long]): Long = {
    val dir = Files.createDirectories(Paths.get(path))
    claimEpoch(dir, snap => {
      version.foreach { v =>
        val newest = snap.newestVersion
        require(v >= 0 && v <= newest,
          s"tag '$name' on $path: version $v does not exist " +
            s"(newest committed epoch: $newest)")
        // symmetric with commitBranchEpoch's tag check:
        // a tag shadowed by a live branch would silently change what
        // `VERSION AS OF '<name>'` means once the branch drops
        require(!snap.branches.contains(name),
          s"'$name' names a BRANCH on $path — branches and tags share " +
            "the VERSION AS OF namespace")
      }
      if (version.isEmpty) require(snap.tags.contains(name),
        s"no tag '$name' on $path to drop " +
          s"(tags: ${snap.tags.keys.toSeq.sorted.mkString(", ") match {
            case "" => "none"; case t => t }})")
      Seq(Tag(name, version))
    })
  }

  /** Append a pure-metadata epoch carrying property records — the
    * `ALTER TABLE SET TBLPROPERTIES` commit. */
  private[sources] def commitPropsEpoch(path: String,
      props: Seq[(String, String)]): Long =
    claimEpoch(Files.createDirectories(Paths.get(path)),
      _ => props.map { case (k, v) => Prop(k, v) })

  /** Append a pure-metadata DDL epoch carrying `#schema <ddl>` — the
    * ALTER TABLE ADD COLUMN record: additive evolution is
    * exactly what the read path already honors for mixed-schema files,
    * so declaring it is one log record, no data rewritten. */
  private[sources] def commitSchemaEpoch(path: String, ddl: String): Long =
    claimEpoch(Files.createDirectories(Paths.get(path)),
      _ => Seq(Schema(ddl)))

  /** CLAIM the next epoch id on the log and publish `content` under it —
    * the one write path both faces share. `Files.createLink` is
    * atomic-exclusive (fails on an existing target, no TOCTOU window,
    * unlike a rename's check-then-move) and the link carries the fully
    * written content, so the claim and the publish are one operation; a
    * committer losing the race retries against the refreshed newest —
    * the filesystem analog of a conditional put.
    *
    * After the link lands, the claim is re-verified ABOVE the compaction
    * horizon: a committer holding a stale next-id N could
    * otherwise link epoch-N after another committer's N was absorbed and
    * swept — the re-claimed epoch would sit at-or-below the horizon,
    * listed by no fragment, silently unpublished. Detection is sound
    * because the only way the id space passes N without our link is a
    * prior epoch-N absorbed by a compact that LANDED before our link
    * could succeed (sweep strictly follows the compact move), so
    * re-reading the horizon after the link always sees it.
    *
    * The trip has a second, BENIGN cause: our OWN freshly
    * linked epoch-N was legitimately first at N and a racing committer's
    * compaction absorbed it between the link and the re-check — horizon
    * >= N, but the commit IS published (inside the compact). Retrying
    * there would republish identical content under a new id: snapshot
    * reads dedupe by name, but incremental windows would deliver the
    * same files in two epoch deltas. So on a trip the fragment union is
    * consulted first: if it already carries this commit's file names (or
    * its `#txn` watermark — the empty-streaming-epoch case, or its
    * `#cow` token — the zero-survivor delete-epoch case), the claim
    * is PUBLISHED and no retry happens. Sound because a genuinely stale
    * claim's epoch sits below the horizon where no compaction ever reads
    * it, and its run-unique file names exist in no other manifest.
    *
    * COMMIT-TIME CONFLICT DETECTION (the Delta/Iceberg
    * optimistic-concurrency shape): a remove-carrying epoch (row-level
    * DELETE/UPDATE/MERGE, compaction) verifies — between reading the
    * next id and attempting the link — that every file it `#remove`s is
    * still live in the fragment union, throwing a retryable
    * [[ManifestConflictException]] otherwise. The pre-link placement is
    * sound because epoch ids are claimed contiguously: if our link at N
    * succeeds, no other commit landed between the id read and the link
    * (it would have taken N first), so the union we validated IS the
    * exact pre-state our commit applies to; if another commit DID land,
    * our link fails (or trips the horizon re-check) and the loop
    * re-validates against the refreshed union. Without this, two
    * concurrent deletes over one file could both publish survivors and
    * resurrect each other's deleted rows.
    *
    * `contentGen` is re-evaluated on EVERY claim attempt, against that
    * attempt's snapshot:
    * a full-snapshot overwrite computes its `#remove` set from the
    * union it is about to replace, and a racing append landing between
    * two attempts must be absorbed into the refreshed remove set — with
    * a static content snapshot the post-overwrite table could be
    * replacement rows PLUS the racer's rows (WriteSerializable, not
    * serializable). A successful link at id N proves no other commit
    * landed between that attempt's union read and the link (the racer
    * would have taken N first), so the content each attempt generates
    * applies to exactly the pre-state it commits against. Static
    * callers pass a constant thunk and pay nothing.
    *
    * DV conflict fencing: a `#dv`-carrying epoch verifies
    * its target data files are still live (a COW/compaction that
    * removed one first would orphan the positions — and the delete's
    * rows live on in the rewrite's survivors, a lost update). In the
    * OTHER direction, a remove-carrying epoch with
    * `consumedDvs = Some(m)` verifies every CURRENT dv on each removed
    * file is in the set the rewrite actually applied — a dv landing
    * between the rewrite's snapshot pin and its claim would otherwise
    * be silently disposed and its deleted rows resurrected through the
    * survivor files. `None` means dispose-without-reading semantics
    * (full/partition overwrite: replacement data is independent of the
    * old rows, so disposing a racing dv IS the serializable outcome).
    *
    * DV-vs-DV fencing: two concurrent
    * merge-on-read operations over one data file both compute their
    * positions against a dv state that lacks the other's records —
    * reads would stay value-correct (the reader's position set dedupes)
    * but the `#dv` nDeleted records and everything derived from them
    * (`.files` deleted_rows, the zero-column fast path's live count)
    * would overcount the overlap. A `#dv`-carrying commit therefore
    * passes the dv state it COMPUTED AGAINST as `observedDvs`; the
    * claim verifies each target file's current dv set is exactly that
    * set and aborts with a retryable [[ManifestConflictException]]
    * otherwise — the loser recomputes against the winner's records
    * (which its anti-join then excludes) and retries. */
  private[sources] def claimEpoch(dir: Path, contentGen: Snapshot => Seq[LogRecord],
      consumedDvs: Option[Map[String, Set[String]]] = None,
      observedDvs: Option[Map[String, Set[String]]] = None): Long = {
    var claimed = -1L
    var vanished = 0
    while (claimed < 0) {
      checkRenamed(dir)
      // ONE snapshot per attempt: the content, the next id, the row-id
      // watermark and every fence below read this one listing, and a
      // successful link at `next` proves no commit landed after it (the
      // racer would have taken `next` first) — so the content applies to
      // exactly the pre-state the fences validated
      val snap = snapshot(dir.toString)
      claimed =
        try claimAttempt(dir, snap, contentGen(snap), consumedDvs, observedDvs)
        catch {
          // a listed fragment vanished under a sweep before anything was
          // linked: re-run the attempt against a fresh listing
          case e: java.nio.file.NoSuchFileException =>
            vanished += 1
            if (vanished >= 8) throw e
            -1L
        }
    }
    claimed
  }

  /** One claim attempt against `snap`: the epoch id it linked, or -1
    * when it lost a race and must re-run. */
  private def claimAttempt(dir: Path, snap: Snapshot, generated: Seq[LogRecord],
      consumedDvs: Option[Map[String, Set[String]]],
      observedDvs: Option[Map[String, Set[String]]]): Long = {
    // COMMIT-TIME header: `#ts <micros>` is stamped at claim time so
    // TIMESTAMP AS OF reads a PERSISTED clock instead of fragment
    // mtimes, which any mtime-disturbing copy (cp/rsync without -a,
    // backup restore, some object-store mounts) silently shifts. It
    // rides AFTER the leading `#txn` records — their records-lead
    // contract is what keeps the replay check O(writers) bytes — and
    // before everything else; logs without it fall back to mtime.
    generated.foreach(check)
    val (txnLead, restContent) = generated.span(_.isInstanceOf[Txn])
    val content0 = txnLead ++
      (Ts(System.currentTimeMillis() * 1000L) +: restContent)
    // ROW-ID ASSIGNMENT: every data line with an
    // in-content `#stats` record (i.e. a freshly written file) and no
    // caller-declared `#rowid` gets a base from the table watermark,
    // reserving its row count. Re-adds (rollback — no in-content
    // stats) keep their original bases; BRANCH-STAGED epochs skip
    // (invisible rows need no identity yet — the publish re-lists and
    // assigns). The watermark is the attempt snapshot's, so a commit
    // that reserved ids after it necessarily took `next` first.
    val stagingBranch = content0.collectFirst { case ForBranch(b) => b }
    val dataNames = content0.collect { case Data(n) => n }
    val assignable =
      if (stagingBranch.isDefined) Seq.empty
      else {
        val statRows = content0.collect { case s: Stats => s.file -> s.rows }.toMap
        val declared = content0.collect { case RowId(f, _) => f }.toSet
        dataNames.filter(n => statRows.contains(n) && !declared.contains(n))
          .map(n => (n, statRows(n)))
      }
    val content =
      if (assignable.isEmpty) content0
      else {
        var next = snap.rowIdHwm
        val ids = assignable.map { case (n, rows) =>
          val b = next; next += rows; RowId(n, b) }
        content0 ++ ids :+ RowIdHwm(next)
      }
    val bytes = content.map(encode).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val txn = content.collectFirst { case t: Txn => t }
    val removes = content.collect { case Remove(n) => n }
    val cowToken = content.collectFirst { case Cow(t) => t }
    def absorbedBy(after: Snapshot): Boolean =
      (dataNames.nonEmpty && {
        val union = after.names.toSet
        dataNames.forall(union.contains)
      }) || txn.exists(t => after.txnWatermark(t.writer) >= t.epoch) ||
        cowToken.exists(t => after.carriesCow(Cow(t)))
    val dvTargets = content.collect { case Dv(d, _, _) => d }
    val next = snap.version + 1
    // SPEC-ID fence: a spec-evolution claim computed its id from this
    // attempt's snapshot, so the id must be next-in-sequence there; a
    // commit landing after the snapshot claims `next` first, and the
    // link collision re-runs the attempt — one spec id can never bind
    // two layouts.
    val claimedSpecIds = content.collect { case Spec(Some(id), _) => id }
    if (claimedSpecIds.exists(_ != snap.specs.currentId + 1)) return -1L
    if (removes.nonEmpty || dvTargets.nonEmpty) {
      // a BRANCH-STAGED dv epoch fences against the
      // BRANCH's visible state: its targets may be staged adds
      // (invisible to main) and its observed dv set includes
      // earlier staged records — main-state fencing would refuse
      // valid staged writes and miss same-branch races
      val live = stagingBranch match {
        case Some(b) => snap.branchFiles(b)
          .map(p => Paths.get(p).getFileName.toString).toSet
        case None => snap.names.toSet
      }
      val curDvState = stagingBranch match {
        case Some(b) => snap.branchDvs(b)
        case None => snap.dvs
      }
      // a dv record may target a file THIS epoch re-adds (rollback
      // restoring a historical dv state): inherently consistent —
      // the add and the record flip visibility together. The
      // exemption is DV-ONLY: a same-epoch
      // remove+re-add of one name is exactly the ambiguous
      // construct rollbackTo refuses to emit, so removes stay on
      // the strict live-set check
      val gone = removes.filterNot(live.contains) ++
        dvTargets.filterNot(n =>
          live.contains(n) || dataNames.contains(n))
      if (gone.nonEmpty)
        throw new ManifestConflictException(gone.sorted, dir.toString)
      // COW-vs-DV fence: every dv currently attached to a removed
      // file must have been applied by this rewrite
      consumedDvs.foreach { m =>
        val stale = removes.flatMap { f =>
          curDvState.getOrElse(f, Seq.empty).map(_._1)
            .filterNot(m.getOrElse(f, Set.empty).contains)
            .map(dv => s"$f#$dv")
        }
        if (stale.nonEmpty)
          throw new ManifestConflictException(stale.sorted, dir.toString)
      }
      // DV-vs-DV fence: each `#dv` target's CURRENT dv set must be
      // exactly the set this operation computed its positions
      // against — a racing dv that landed in between may overlap,
      // and the loser must recompute (its anti-join then excludes
      // the winner's positions) rather than publish overcounts
      observedDvs.foreach { m =>
        val raced = dvTargets.flatMap { f =>
          val now = curDvState.getOrElse(f, Seq.empty).map(_._1).toSet
          (now -- m.getOrElse(f, Set.empty)).toSeq.sorted
            .map(dv => s"$f#$dv")
        }
        if (raced.nonEmpty)
          throw new ManifestConflictException(raced.sorted, dir.toString)
      }
    }
    // EQUALITY-DELETE fence: a remove- or dv-carrying
    // commit under LIVE equality deletes would move or replace
    // rows into files EXEMPT from them (add-epoch past the
    // delete) — resurrecting deleted keys. Only a commit that
    // RESOLVES every live record (`#eqdrop` lines covering the
    // set — compact_data) may proceed; everything else aborts
    // retryably, and the race window between an operation's pin
    // and its claim closes here.
    val eqDrops = content.collect { case EqDrop(f) => f }.toSet
    if (removes.nonEmpty || dvTargets.nonEmpty || eqDrops.nonEmpty) {
      val unresolved = snap.eqDeletes.map(_.file).filterNot(eqDrops.contains)
      if (unresolved.nonEmpty)
        throw new ManifestConflictException(
          unresolved.sorted.map(f => s"eqdel:$f"), dir.toString)
    }
    val tmp = Files.createTempFile(dir, ".epoch", ".tmp")
    try {
      Files.write(tmp, bytes)
      Files.createLink(dir.resolve(epochName(next)), tmp)
      // the link landed: from here on a vanish must escape, never re-run
      // the attempt (that would publish the content twice)
      val stale =
        try read(dir.toString)(after => after.horizon >= next && !absorbedBy(after))
        catch { case e: java.nio.file.NoSuchFileException =>
          throw new java.io.UncheckedIOException(e) }
      if (stale) {
        // stale claim raced a compaction sweep: unpublishable — retry
        Files.deleteIfExists(dir.resolve(epochName(next)))
        -1L
      } else {
        metadataBytes.addAndGet(bytes.length.toLong)
        next
      }
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => -1L // lost; retry
    } finally Files.deleteIfExists(tmp)
  }

  /** Publish a table's CREATE epoch (epoch 0) carrying `seed`; false
    * when an epoch 0 already exists. */
  private[sources] def linkFirstEpoch(dir: Path, seed: Seq[LogRecord]): Boolean = {
    seed.foreach(check)
    val tmp = Files.createTempFile(dir, ".epoch", ".tmp")
    Files.write(tmp, seed.map(encode).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    try { Files.createLink(dir.resolve(epochName(0)), tmp); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp)
  }

  /** Fold the loose epoch manifests into ONE compact file once
    * `compactInterval` of them accumulate — the `_spark_metadata`
    * compaction pattern. Durability order makes every crash window
    * benign: (1) the compact file lands by atomic link FIRST, so the
    * union is never less than the committed set; (2) only then are the
    * absorbed fragments deleted — a crash in between leaves duplicates
    * that the snapshot's union de-dupes and the NEXT
    * compaction sweeps. Header records are carried forward: the max
    * `#txn` watermark per writer, the distinct `#schema` set, and the
    * `#stats` of every file still in the union. */
  private[sources] def maybeCompact(dir: Path, compactInterval: Int,
      /** EXPIRY mode: absorb only epochs <= `through` and
        * ignore the interval — `expire_snapshots` forces a bounded
        * sweep; the live-branch cap still applies on top. */
      through: Long = Long.MaxValue,
      force: Boolean = false): Unit = read(dir.toString) { snap =>
    // a concurrent committer's sweep can delete a listed fragment
    // mid-read here; re-running from a fresh snapshot is always
    // consistent (and usually a no-op — the racer compacted for us)
    val looseAll = snap.looseTail
    // LIVE branch refs CAP the sweep: a staged epoch must
    // stay loose — the publish re-lists its adds by name, and vacuum
    // keeps the staged files referenced — so the horizon stops below
    // the oldest live-branch epoch. The branch BASE caps too:
    // fastForward refuses once the horizon passes the base, so
    // a routine sweep absorbing past a freshly-created branch's base
    // (no staged epochs yet) would make it permanently unpublishable —
    // the base clamp here mirrors [[expireSnapshots]]'s. DROPPED
    // branches' epochs absorb as NOTHING (published content was
    // re-listed by the publish epoch; abandoned content ages into
    // vacuum).
    val liveBranches = snap.branches
    val stagedCap = looseAll
      .filter(_.branch.exists(liveBranches.keySet.contains))
      .map(_.id - 1).minOption.getOrElse(Long.MaxValue)
    val baseCap = liveBranches.values.minOption.getOrElse(Long.MaxValue)
    // REGISTERED FEED consumers clamp every sweep: the last
    // `window` epochs stay loose so a consumer lagging at most that
    // many epochs never hits the below-horizon CDC refusal
    val feedCap = snap.feeds.values.minOption
      .map(w => snap.version - w).getOrElse(Long.MaxValue)
    // LIVE equality deletes clamp too: their per-epoch
    // applicability (add-epoch < delete-epoch) is derivable only
    // while the loose tail holds them; compact_data's `#eqdrop`
    // resolution is what releases the sweep
    val eqCap = snap.eqDeletes.map(_.epoch - 1)
      .minOption.getOrElse(Long.MaxValue)
    val cap = math.min(math.min(stagedCap, baseCap),
      math.min(feedCap, eqCap))
    val absorbed = looseAll.filter(e => e.id <= cap && e.id <= through)
    if (absorbed.isEmpty || (!force && absorbed.size < compactInterval)) return
    // one replay of the prior compact and the absorbed main epochs: the
    // compact carries the RESOLVED union (and no remove records — a
    // removed file below the horizon is simply gone from the log, which
    // is also what lets VACUUM reclaim its bytes once aged), the max
    // `#txn` per writer, the distinct `#schema`/`#spec` records, the
    // last `#prop` per key, `#colmap`, `#tag` and `#branch`, and the
    // per-file records and live dvs of files still in the union
    val r = replay(snap.compactRecs +:
      absorbed.filter(_.branch.isEmpty).map(_.recs))
    // refuse to fold CONFLICTING stats for one name into the compact:
    // first-seen-wins would freeze stats that may describe different
    // bytes than the file holds, and skipping would silently go wrong —
    // run-unique file names make this unreachable, so a conflict here is
    // a naming bug that must surface, not be absorbed
    if (r.statConflicts.nonEmpty) throw new IllegalStateException(
      s"conflicting #stats records for file(s) ${r.statConflicts.mkString(", ")} " +
        "in the manifest log — two writers claimed one data-file name; " +
        "refusing to compact a skipping index that could prune live rows")
    def live[V](m: scala.collection.Map[String, V]): Seq[(String, V)] =
      m.toSeq.filter(e => r.files.contains(e._1))
    val meta: Seq[LogRecord] =
      r.txns.toSeq.sortBy(_._1).map { case (w, e) => Txn(w, e) } ++
        r.schemas.toSeq.map(Schema(_)) ++ r.specs ++
        r.props.toSeq.map { case (k, v) => Prop(k, v) } ++ r.colmap ++
        r.tags.toSeq.map { case (n, v) => Tag(n, Some(v)) } ++
        r.branches.toSeq.map { case (n, v) => Branch(n, Some(v)) }
    // `#cow` tokens carry forward ONE round — from the loose epochs this
    // sweep absorbs, never from the prior compact — so a COW committer
    // whose epoch was absorbed mid-claim can still recognize its own
    // publish (claimEpoch's absorbed check), while the token set stays
    // bounded instead of growing with every COW op the table ever ran.
    // The bound is TWO SWEEPS: a zero-survivor COW committer whose claim
    // loop spans two full sweeps would see a spurious (retryable)
    // conflict — narrow, since a sweep needs `compactInterval` epochs.
    val cows = absorbed.flatMap(_.recs).collect { case c: Cow => c }.distinct
    val stats = live(r.stats).map { case (f, st) => sortedStats(f, st) }
    val blooms = live(r.blooms).map { case (f, m) => Bloom(f, m.toSeq.sortBy(_._1)) }
    val ndvs = live(r.ndvs).map { case (f, m) => Ndv(f, m.toSeq.sortBy(_._1)) }
    val parts = live(r.parts).map { case (f, t) => Part(f, t) }
    // the WATERMARK rides as one max line so reserved id ranges are
    // never reissued
    val rowids = live(r.rowids).map { case (f, b) => RowId(f, b) } ++
      r.rowIdHwm.map(RowIdHwm(_))
    val dvs = live(r.dvs).flatMap { case (d, l) => l.map { case (v, n) => Dv(d, v, n) } }
    val names = r.files.toSeq
    val upTo = absorbed.map(_.id).max
    // unique temp per attempt (concurrent committers can both trigger
    // this compaction); the compact-<upTo> content is deterministic —
    // the union through upTo — so when a racer already landed it, the
    // loser's work is simply done
    val bytes = (meta ++ cows ++ stats ++ blooms ++ ndvs ++ parts ++ rowids ++
      dvs ++ names.map(Data(_))).map(encode).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val ctmp = Files.createTempFile(dir, s".${compactName(upTo)}", ".tmp")
    Files.write(ctmp, bytes)
    try {
      Files.createLink(dir.resolve(compactName(upTo)), ctmp)
      metadataBytes.addAndGet(bytes.length.toLong)
      // PLANNING CHECKPOINT: next to the compact, write the same
      // resolved state as (a) a PARQUET table of per-file rows — what
      // the distributed scan planner reads instead of a driver walk —
      // and (b) a tiny `.meta` sidecar with the table-level records, so
      // table resolution stays O(tail) without touching the O(files)
      // compact text. Both are strict ACCELERATIONS: a missing/failed
      // checkpoint (crash here) falls back to the text walk.
      try writeCheckpoint(dir, upTo, names, meta, stats, parts, dvs, blooms)
      catch { case _: Exception => } // optimization only, never fails a commit
    }
    catch { case _: java.nio.file.FileAlreadyExistsException => }
    finally Files.deleteIfExists(ctmp)
    // superseded fragments: every loose epoch now covered, every older
    // compact (and its checkpoint artifacts), and any stale leftovers
    // from a previously-crashed sweep
    snap.supersededBy(upTo).foreach(Files.deleteIfExists(_))
  }

  private def checkpointParquetName(id: Long): String =
    f"checkpoint-$id%020d.parquet"
  private def checkpointMetaName(id: Long): String =
    f"checkpoint-$id%020d.meta"

  /** Columns of the planning checkpoint: the file name plus its encoded
    * `#stats` / `#part` / `#dv` / `#bloom` record LINES (null when
    * absent; a file's dv lines joined by `\n`) — the executors decode
    * them with [[ManifestLog.decode]], the codec the text path uses, so
    * there is no second grammar to disagree with it. Checkpoints
    * without the `bloom` column read null there through the by-name
    * parquet read, which is exactly "no filter recorded". */
  private val CheckpointFields = Array("file", "stats", "part", "dvs", "bloom")
  private val CheckpointTypes =
    Array("string", "string", "string", "string", "string")

  private def writeCheckpoint(dir: Path, upTo: Long, names: Seq[String],
      meta: Seq[LogRecord], stats: Seq[Stats], parts: Seq[Part],
      dvs: Seq[Dv], blooms: Seq[Bloom]): Unit = {
    val statBy = stats.map(r => r.file -> encode(r)).toMap
    val partBy = parts.map(r => r.file -> encode(r)).toMap
    val dvBy = dvs.groupBy(_.data).view.mapValues(_.map(encode).mkString("\n")).toMap
    val bloomBy = blooms.map(r => r.file -> encode(r)).toMap
    // meta sidecar first (tiny), then the parquet rows; both by
    // atomic link so readers only ever see complete artifacts
    val mtmp = Files.createTempFile(dir, ".checkpoint-meta", ".tmp")
    Files.write(mtmp, meta.map(encode).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    try Files.createLink(dir.resolve(checkpointMetaName(upTo)), mtmp)
    catch { case _: java.nio.file.FileAlreadyExistsException => }
    finally Files.deleteIfExists(mtmp)
    val tmpName = s".checkpoint-${java.util.UUID.randomUUID.toString.take(8)}.tmp"
    val w = ManifestWriters.createAt(dir, CheckpointFields, CheckpointTypes,
      tmpName)
    def utf8(s: String): Any =
      if (s == null) null
      else org.apache.spark.unsafe.types.UTF8String.fromString(s)
    names.foreach { n =>
      w.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](utf8(n), utf8(statBy.getOrElse(n, null)),
          utf8(partBy.getOrElse(n, null)), utf8(dvBy.getOrElse(n, null)),
          utf8(bloomBy.getOrElse(n, null)))))
    }
    w.commit()
    try Files.createLink(dir.resolve(checkpointParquetName(upTo)),
      dir.resolve(tmpName))
    catch { case _: java.nio.file.FileAlreadyExistsException => }
    finally Files.deleteIfExists(dir.resolve(tmpName))
  }

  /** Flatten commit messages to their [[CommittedFile]]s (fan-out
    * tasks report a [[CommittedFileSet]]). */
  private[sources] def committedFilesOf(messages: Array[WriterCommitMessage])
      : Seq[CommittedFile] =
    messages.toSeq.flatMap {
      case m: CommittedFile => Seq(m)
      case ms: CommittedFileSet => ms.files
      case u: EqUpsertCommit => committedFilesOf(Array(u.data))
      case _ => Seq.empty
    }

  /** The equality-delete KEY files of a keyed-upsert commit (round
    * 19): (file name, key rows) per task that saw data. */
  private[sources] def eqFilesOf(messages: Array[WriterCommitMessage])
      : Seq[(String, Long)] =
    messages.toSeq.flatMap {
      case u: EqUpsertCommit => u.eqFile.toSeq
      case _ => Seq.empty
    }

  /** The one BATCH commit path, shared by `mode("append")` writes and
    * the row-level COW writers (DELETE via removeFiles, UPDATE/MERGE
    * via [[SnapRowLevelWrite]]): publish task files + optional
    * `#remove`s as ONE atomic epoch (claimEpoch runs the remove-
    * liveness CONFLICT check), stamp the victims' mtime with the
    * REMOVE time (vacuum's age gate counts retention from removal —
    * the Delta convention — so an in-flight reader holding the
    * pre-rewrite file list keeps its files for the full window even
    * after compaction resolves the remove), then maybe compact. A
    * remove-carrying epoch also publishes a run-unique `#cow` token so
    * a claim racing a compaction sweep can recognize its own absorbed
    * commit even with zero survivor files. */
  private[sources] def commitBatchEpoch(path: String, schemaDdl0: String,
      messages: Array[WriterCommitMessage], removeFilesGen: Snapshot => Seq[String],
      compactInterval: Int,
      consumedDvs: Option[Map[String, Set[String]]] = None,
      specId: Int = 0, op: String = "append",
      forBranch: Option[String] = None,
      /** This rewrite MATERIALIZED every carried row's id —
        * the epoch may serve paired CDC labels ([[EpochDelta.paired]]).
        * Recorded only when the epoch actually removes files. */
      cdcPair: Boolean = false,
      /** Equality-delete key files this rewrite resolved —
        * published as `#eqdrop` records (fence-verified to cover the
        * live set). */
      eqDrops: Seq[String] = Seq.empty): Unit = {
    val dir = Files.createDirectories(Paths.get(path))
    // the hidden row-id column never reaches the recorded `#schema`
    // (it is identity plumbing, not data — a declared-schema reader
    // must never see it)
    val schemaDdl =
      if (!schemaDdl0.toLowerCase.contains(RowIdColumnName)) schemaDdl0
      else StructType(StructType.fromDDL(schemaDdl0).fields.filterNot(
        _.name.equalsIgnoreCase(RowIdColumnName))).toDDL
    val files = committedFilesOf(messages).sortBy(_.name)
    // one token per OPERATION (stable across claim attempts — the
    // absorbed check recognizes the op's own publish by it)
    val cowToken = java.util.UUID.randomUUID.toString
    // the remove set is re-generated per claim attempt:
    // a truncate/overwrite derives it from the union it replaces, and a
    // retry after a lost race must absorb the racer's files
    var lastRemoves: Seq[String] = Seq.empty
    def content(snap: Snapshot): Seq[LogRecord] = {
      lastRemoves = removeFilesGen(snap)
      // a plain append whose remove set came back empty stays an
      // append no matter what op the face declared (e.g. an
      // overwrite-by-filter matching no files replaces nothing)
      val effOp = if (lastRemoves.isEmpty && op != "append") "append" else op
      val pairHdr = if (cdcPair && lastRemoves.nonEmpty) Seq(CdcPair) else Seq.empty
      val cow = if (lastRemoves.isEmpty) Seq.empty else Seq(Cow(cowToken))
      Seq(Schema(schemaDdl), Op(effOp)) ++ stagedHeader(snap, forBranch) ++
        pairHdr ++ cow ++ fileRecords(files, specId) ++
        eqDrops.sorted.map(EqDrop(_)) ++ lastRemoves.sorted.map(Remove(_)) ++
        files.map(f => Data(f.name))
    }
    claimEpoch(dir, content _, consumedDvs)
    val now = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis())
    lastRemoves.foreach { n =>
      try Files.setLastModifiedTime(Paths.get(path, "data", n), now)
      catch { case _: IOException => } // already reclaimed: nothing to shield
    }
    maybeCompact(dir, compactInterval)
  }

  /** `ignoreDeletes`/`ignoreChanges` reader options → the tail's
    * non-append policy (the Delta names): `ignoreChanges`
    * subsumes `ignoreDeletes`. */
  private[sources] def onChangeOf(options: CaseInsensitiveStringMap): String =
    if (options.getBoolean("ignoreChanges", false)) "ignoreChanges"
    else if (options.getBoolean("ignoreDeletes", false)) "ignoreDeletes"
    else "refuse"

  /** EXPIRE SNAPSHOTS (the Iceberg `expire_snapshots`
    * shape): retire history by COUNT (`keep_last` versions stay
    * travel-servable) or AGE (epochs committed at or before the
    * cutoff retire, measured by the persisted `#ts` commit clock) by
    * forcing a bounded compaction sweep — travel below the new
    * horizon then refuses with the boundary named (the standing
    * retention contract), and the newly-unreferenced bytes become
    * vacuum candidates. REF-PROTECTED: the sweep clamps at the oldest
    * TAG target and the oldest BRANCH base (a horizon at the tag's
    * version keeps it servable — `filesAsOf` serves any
    * version at or above the horizon), and live branches' staged
    * epochs keep their own cap inside the sweep. Returns (new
    * horizon, epochs retired, what clamped — "none" if nothing). */
  private[graft] def expireSnapshots(path: String,
      keepLast: Option[Long], olderThanMicros: Option[Long])
      : (Long, Long, String) = {
    require(keepLast.isDefined != olderThanMicros.isDefined,
      "expire_snapshots: give exactly one of keep_last / older_than_ms")
    keepLast.foreach(k => require(k >= 1,
      s"expire_snapshots: keep_last must be >= 1, got $k"))
    val dir = Paths.get(path)
    val snap = snapshot(path)
    val prior = snap.horizon
    val newest = snap.version
    require(newest >= 0, s"manifest table $path has no committed version")
    val requested = keepLast.map(k => newest - k).getOrElse {
      val cut = olderThanMicros.get
      (prior +: snap.commitTimes.filter(_._2 <= cut).map(_._1)).max
    }
    val caps: Seq[(Long, String)] =
      snap.tags.toSeq.map { case (n, v) => (v, s"tag:$n") } ++
        snap.branches.toSeq.map { case (n, v) => (v, s"branch:$n") } ++
        snap.feeds.toSeq.map { case (c, w) =>
          (newest - w, s"feed:$c") } // reserved CDC windows
    val binding = caps.filter(_._1 < requested).minByOption(_._1)
    val effective = binding.map(_._1).getOrElse(requested)
    val protectedBy = binding.map(_._2).getOrElse("none")
    if (effective <= prior) return (prior, 0L, protectedBy)
    maybeCompact(dir, 1, through = effective, force = true)
    val now = snapshot(path).horizon
    (now, math.max(0L, now - prior), protectedBy)
  }

  /** STORAGE RECLAMATION (the VACUUM contract): delete data files NOT
    * referenced by any committed manifest fragment AND older than
    * `olderThanMs`. Age-gating is what makes this safe next to live
    * writers — an unlisted file younger than the cutoff may belong to
    * an epoch still committing (task files land before the manifest
    * flips them visible), while crash orphans (a driver that died
    * before abort(), a replaced speculative attempt) only ever age.
    * The keep set is [[Snapshot.referenced]] — every add ANY live fragment
    * lists, `#remove`s deliberately NOT applied: a row-level DELETE's
    * victim is still served by every
    * retained pre-delete `VERSION AS OF`, so it stays unreclaimable
    * until compaction resolves the remove into the union — at which
    * point time travel below the horizon is refused anyway, so nothing
    * a SERVABLE version references is ever reclaimed. As a second
    * fence, the COW commit touches its victims' mtime at remove time
    * ([[ManifestBatchWrite.commit]]), so even after the sweep the age
    * gate counts from REMOVAL, not creation — in-flight readers
    * holding a pre-delete file list get the full retention window (the
    * Delta convention: reclaim eligibility starts at the remove
    * timestamp). Returns the deleted names. Also operable from pure
    * SQL: `CALL graft.sys.vacuum(table, older_than_ms)`
    * ([[VacuumProcedure]]). */
  def vacuum(path: String, olderThanMs: Long): Seq[String] = {
    require(olderThanMs >= 0, s"olderThanMs must be >= 0, got $olderThanMs")
    val dir = Paths.get(path)
    val cutoff = System.currentTimeMillis() - olderThanMs
    // metadata-dir temp litter first: a committer that
    // crashes between createTempFile and its finally-cleanup leaks
    // .epoch*.tmp / .compact-*.tmp in the table root, which no data-dir
    // sweep would ever reach. Age-gating protects a LIVE committer's
    // temp (its link source) exactly as it protects in-flight task files
    val litter =
      if (!Files.isDirectory(dir)) Seq.empty[Path]
      else listPrefixed(dir, ".").filter { p =>
        val n = p.getFileName.toString
        (n.startsWith(".epoch") || n.startsWith(".compact-") ||
          n.startsWith(".checkpoint-")) &&
          n.endsWith(".tmp") && Files.getLastModifiedTime(p).toMillis <= cutoff
      }
    litter.foreach(Files.deleteIfExists(_))
    val dataDir = dir.resolve("data")
    if (!Files.isDirectory(dataDir))
      return litter.map(_.getFileName.toString).sorted
    val keep = read(path)(_.referenced)
    // the listing STREAMS (no toSeq materialization of the directory):
    // driver memory stays O(committed snapshot) — the keep set — not
    // O(total files in the dir); walltime is one flat-directory pass,
    // measured at the 50k-orphan LakeLadder rung
    val victims = scala.collection.mutable.ArrayBuffer[String]()
    val s = Files.list(dataDir)
    try s.iterator().asScala.foreach { p =>
      if (!keep.contains(p.getFileName.toString) &&
          Files.getLastModifiedTime(p).toMillis <= cutoff) {
        Files.deleteIfExists(p)
        victims += p.getFileName.toString
      }
    } finally s.close()
    (litter.map(_.getFileName.toString) ++ victims).sorted
  }

  /** Rewrite epoch `version`'s `#ts` header (and mtime, the fallback
    * of logs without one) to a PINNED instant — the deterministic-clock hook the
    * wall-clock-travel oracles need (an epoch's commit time is
    * otherwise this host's clock). Atomic replace; the fragment cache
    * keys on (fileKey, size, mtime), all of which the replace moves. */
  private[graft] def stampCommitTime(path: String, version: Long,
      micros: Long): Unit = {
    val p = Paths.get(path).resolve(epochName(version))
    val lines = Files.readAllLines(p, java.nio.charset.StandardCharsets.UTF_8)
      .asScala.toSeq.filter(_.nonEmpty)
    def isTs(l: String) = decode(l).exists(_.isInstanceOf[Ts])
    val ts = encode(Ts(micros))
    val stamped =
      if (lines.exists(isTs)) lines.map(l => if (isTs(l)) ts else l)
      else ts +: lines
    val tmp = Files.createTempFile(p.getParent, ".stamp", ".tmp")
    Files.write(tmp, stamped.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.move(tmp, p, java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(micros / 1000L))
  }

  /** Per-epoch CHANGE DELTAS of the window `(since, asOf]` (the CDC
    * read): each live epoch's adds, `#remove`s and `#dv`
    * records plus its `#op` classification — the raw material
    * [[ChangeFeed]] turns into labeled change rows. Same retention
    * contract as [[Snapshot.filesBetween]]: a window reaching at or
    * below the compaction horizon refuses loudly (per-epoch deltas are
    * unrecoverable from the compact union), as does a gap in the
    * loose tail that ever existed. Unlike the incremental APPEND read,
    * remove/dv-carrying epochs are the POINT here — classification,
    * not refusal. Epochs without `#op` classify structurally:
    * remove-carrying → `rewrite` (served in the safe diff form),
    * dv-carrying → `delete`, adds-only → `append`, else `metadata`. */
  private[graft] case class EpochDelta(id: Long, op: String,
      adds: Seq[String], removes: Seq[String],
      dvs: Seq[(String, String, Long)],
      /** The epoch's persisted commit time (`#ts`, mtime
        * fallback) — the `_commit_timestamp` CDC column. */
      tsMicros: Long = -1L,
      /** `#cdc` role tags: dv file → "pre" / add file →
        * "post" for the UPDATE halves of a MERGE; empty on epochs
        * without `#cdc` → the net delete+insert fallback. */
      cdcRoles: Map[String, String] = Map.empty,
      /** `#cdcpair`: the committer materialized every
        * carried row's id, so the feed may serve this COW epoch as
        * per-row PAIRED changes (id join) instead of a multiset diff.
        * False on epochs without it → the documented diff fallback. */
      paired: Boolean = false,
      /** `#eqdel` records: (key file, key cols, rows) — a
        * keyed upsert epoch's delete-by-key half. */
      eqdels: Seq[(String, Seq[String], Long)] = Seq.empty)

}

/** Row count plus per-column bounds for one committed file: `cols` is
  * the long family's (min, max) — longs, ints, timestamps as UTC
  * micros, dates as epoch days — and `strCols` the string columns'
  * (min, optional max), truncated per [[StrColStat]]'s contract.
  * `nulls` is the per-column NULL count, recorded for EVERY
  * stats-safe-named column the writer's schema carried — which is what
  * lets the skipping index prune `IS NULL` (nulls = 0), `IS NOT NULL`
  * (nulls = rows), and — because the record is exhaustive over the
  * written schema — treat a safe-named column with NO record in a
  * null-accounting file as provably absent from that file's schema
  * (the pre-evolution file: every row serves null for the appended
  * column, so `new_col IS NOT NULL` and every value predicate on it
  * skip the file entirely). Files without null accounting (older logs)
  * simply never prune on nullness — conservative, the stats contract. */
case class FileStat(rows: Long, cols: Map[String, (Long, Long)],
    strCols: Map[String, (String, Option[String])] = Map.empty,
    nulls: Map[String, Long] = Map.empty,
    /** Is `nulls` EXHAUSTIVE over the file's written schema? True for
      * writer-recorded stats (the writer contract: every stats-safe-named
      * column gets a record, so an absent record proves the column
      * postdates the file). False for SYNTHETIC envelopes (partition
      * tuples), whose null accounting covers only the spec's
      * columns — the absent-record inference would mis-prune every
      * non-partition column. */
    exhaustiveNulls: Boolean = true,
    /** Per-column base64 bloom payloads ([[BloomSkip]]) —
      * attached from the file's `#bloom` record AFTER stat parsing
      * (never part of record equality), consulted by equality/IN
      * pruning once the min/max envelope passes. Empty = no filter
      * recorded = never prune on it. */
    blooms: Map[String, String] = Map.empty)

case class ManifestTable(path: String, writeSchema: StructType,
    compactInterval: Int = ManifestSink.DefaultCompactInterval,
    removeFiles: Seq[String] = Seq.empty,
    spec: Seq[PartField] = Seq.empty,
    consumedDvs: Option[Map[String, Set[String]]] = None,
    /** The id of `spec` in the table's [[SpecBook]]: new
      * files' `#part` records carry it, so after a spec evolution each
      * file remains prunable under the layout it was WRITTEN under. */
    specId: Int = 0,
    /** logical(lowercased)→physical column renames: the
      * catalog face passes the table's column mapping so writes land
      * under the PHYSICAL names and overwrite predicates evaluate
      * against the physical `#spec`/tuples. Empty = identity (every
      * path-based use). */
    renameCols: Map[String, String] = Map.empty,
    /** The `graft.op` write option: what OPERATION this
      * write face is part of — the epoch's `#op` CDC header. The COW
      * faces pass `delete`/`update`/`merge`/`compact`; absent means
      * the write's own shape decides (overwrite forms → `overwrite`,
      * a bare removeFiles rewrite → `rewrite`, else `append`). */
    declaredOp: Option[String] = None,
    /** The FULL physical→logical mapping (lowercased dotted
      * keys) — when present, write-schema translation recurses into
      * struct fields; `renameCols` stays the flat top-level map the
      * overwrite-predicate translation uses. */
    colmapAll: Map[String, String] = Map.empty,
    /** Write-audit-publish: stage this write's epochs on a
      * BRANCH (the `spark.graft.wap.branch` session conf) — invisible
      * to every main face until `CALL graft.sys.fast_forward`
      * publishes them. APPENDS, (via the catalog's MOR
      * faces) `#dv` deltas and OVERWRITE forms stage; COW
      * rewrites refuse under a branch. */
    forBranch: Option[String] = None,
    /** Equality-delete key files this rewrite RESOLVED (the
      * `eqDrops` option): the commit publishes `#eqdrop` records and
      * the claim fence verifies they cover the live set. */
    eqDrops: Seq[String] = Seq.empty,
    /** KEYED-UPSERT key columns from the path face's table options
      * — the catalog face passes them per-write through
      * `LogicalWriteInfo.options` instead. */
    upsertKeysOpt: Seq[String] = Seq.empty)
    extends Table with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsRead {
  private def physicalize(st: StructType): StructType =
    if (colmapAll.nonEmpty)
      ManifestSink.physicalizeStruct(st, writeSchema, colmapAll)
    else if (renameCols.isEmpty) st
    else StructType(st.fields.map(f =>
      f.copy(name = renameCols.getOrElse(f.name.toLowerCase, f.name))))
  private def physFilters(fs: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] =
    if (renameCols.isEmpty) fs
    else fs.map(ManifestSink.renameFilterCols(_, renameCols))
  override def name(): String = s"manifest($path)"
  override def schema(): StructType = writeSchema
  override def partitioning(): Array[Transform] =
    ManifestTable.transformsOf(spec)
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.MICRO_BATCH_READ, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC).asJava

  /** TABLE-AS-A-STREAM: `spark.readStream` on the SAME
    * format/path TAILS the epoch log — offsets are epoch ids, each
    * micro-batch is [[ManifestSink.Snapshot.changePartitions]] of its
    * offset window, so replay-from-checkpoint is exactly the committed
    * append deltas (the Delta "streaming from a table" shape: batch
    * writers, streaming writers and streaming readers all share one
    * log). `maxEpochsPerTrigger` rate-limits admission; a tailing
    * consumer that falls behind a compaction sweep gets the same loud
    * window refusal as any incremental reader. */
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder = {
    val maxEpochs = options.getInt("maxEpochsPerTrigger", Int.MaxValue)
    require(maxEpochs >= 1, s"maxEpochsPerTrigger must be >= 1, got $maxEpochs")
    val onChange = ManifestSink.onChangeOf(options)
    new org.apache.spark.sql.connector.read.ScanBuilder {
      override def build(): org.apache.spark.sql.connector.read.Scan =
        new org.apache.spark.sql.connector.read.Scan {
          override def readSchema(): StructType = writeSchema
          override def toMicroBatchStream(checkpointLocation: String)
              : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
            new ManifestMicroBatchStream(path,
              writeSchema.fields.map(_.name),
              writeSchema.fields.map(f => graft.sources.ManifestSink.typeTokOf(f.dataType)), maxEpochs,
              onChange)
        }
    }
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // KEYED UPSERT option (equality deletes): `upsertKeys`
    // names LOGICAL key columns; the streaming face then commits
    // delete-by-key + appends per micro-batch. The builder variant
    // carries `SupportsStreamingUpdateAsAppend` ONLY in this mode —
    // an Update-output aggregate without keys must keep refusing
    // (treating its updates as plain appends would serve duplicates).
    val upsertKeys: Seq[String] =
      (Option(info.options.get("upsertKeys")).toSeq
        .flatMap(_.split(",").toSeq).map(_.trim).filter(_.nonEmpty)
        match {
          case Seq() => upsertKeysOpt
          case fromInfo => fromInfo
        }).map(c => renameCols.getOrElse(c.toLowerCase, c))
    if (upsertKeys.nonEmpty) {
      val phys = physicalize(info.schema())
      upsertKeys.foreach { c =>
        val f = phys.fields.find(_.name.equalsIgnoreCase(c))
        require(f.isDefined,
          s"upsertKeys column '$c' is not in the write schema " +
            s"'${phys.toDDL}'")
        val tok = ManifestSink.typeTokOf(f.get.dataType)
        require(Set("long", "integer", "short", "byte", "timestamp",
          "date", "string").contains(tok),
          s"upsertKeys column '$c' must be long-family or string, " +
            s"got $tok")
      }
      new MTWriteBuilder(info, upsertKeys)
        with org.apache.spark.sql.internal.connector
          .SupportsStreamingUpdateAsAppend
    } else new MTWriteBuilder(info, Seq.empty)
  }

  private class MTWriteBuilder(info: LogicalWriteInfo,
      upsertKeys: Seq[String]) extends WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsOverwrite
      with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
      private var truncating = false
      private var overwriteWhere: Option[Seq[org.apache.spark.sql.sources.Filter]] = None
      private var dynamic = false
      /** `INSERT OVERWRITE` / `mode("overwrite")`: a full-
        * snapshot REPLACE — the new task files plus `#remove`s of every
        * committed file, flipped in ONE atomic epoch. The remove set is
        * computed at COMMIT time, per claim attempt: a
        * concurrent append landing before the overwrite's claim is
        * absorbed into the refreshed remove set, so readers see the old
        * table or the new one, never replacement rows plus a racer's
        * rows — serializable, not merely WriteSerializable. Time travel
        * keeps serving pre-overwrite versions; the conflict check
        * aborts this commit if a racing rewrite removed one of the
        * files first. */
      override def truncate(): WriteBuilder = { truncating = true; this }
      /** FILTERED overwrite (the Delta `replaceWhere` /
        * `INSERT OVERWRITE … PARTITION (k=v)` shape): allowed exactly
        * when the predicate is decidable PER FILE from identity
        * partition tuples — `canOverwrite` refuses anything else at
        * analysis (an undecidable predicate would rewrite blind).
        * The remove set is the exact matching-partition files,
        * recomputed per claim attempt like the full replace; the
        * commit validates every replacement file's own tuple satisfies
        * the predicate (Delta's replaceWhere constraint). */
      override def canOverwrite(filters0: Array[org.apache.spark.sql.sources.Filter])
          : Boolean = {
        val filters = physFilters(filters0)
        filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]) || {
          spec.exists(_.isInstanceOf[IdentityPart]) &&
            // decidable on a PROBE tuple: every identity field set
            // non-null — shape-level check; per-file decision re-runs
            // exactly at commit
            PartField.evalExact(spec, spec.map {
              case _: IdentityPart => "0"
              case _: DaysPart => "0"
              case b: BucketPart => "0"
            }, filters.foldLeft[org.apache.spark.sql.sources.Filter](
              org.apache.spark.sql.sources.AlwaysTrue)(
              org.apache.spark.sql.sources.And(_, _))).isDefined
        }
      }
      override def overwrite(filters0: Array[org.apache.spark.sql.sources.Filter])
          : WriteBuilder = {
        val filters = physFilters(filters0)
        if (filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
          truncating = true
        else overwriteWhere = Some(filters.toSeq)
        this
      }
      /** DYNAMIC partition overwrite: replace exactly the
        * partitions the new data lands in — the remove set is derived
        * from the written tuples at commit time. */
      override def overwriteDynamicPartitions(): WriteBuilder = {
        dynamic = true; this
      }
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = {
          if (upsertKeys.nonEmpty) throw new UnsupportedOperationException(
            "upsertKeys is a STREAMING sink option (keyed micro-batch " +
              "upsert); for batch row-level changes use MERGE INTO")
          val removes: ManifestSink.Snapshot => Seq[String] =
            if (truncating) snap => forBranch match {
              case Some(b) =>
                snap.branchFiles(b).map(f => Paths.get(f).getFileName.toString)
              case None => snap.names
            }
            else _ => removeFiles
          val op = declaredOp.getOrElse {
            if (truncating || overwriteWhere.isDefined || dynamic)
              "overwrite"
            else if (removeFiles.nonEmpty) "rewrite"
            else "append"
          }
          // APPENDS and OVERWRITE forms stage on a branch:
          // a staged overwrite's remove set derives from the BRANCH's
          // visible state per claim attempt, fences against it, and
          // fast_forward replays removes+adds as ONE epoch under the
          // base fence — the audit-then-publish partition backfill.
          // COW rewrites (delete/update/merge/compact) still refuse:
          // their survivors are computed against a snapshot the
          // publish cannot re-verify row-wise.
          if (forBranch.isDefined && op != "append" && op != "overwrite")
            throw new UnsupportedOperationException(
              s"graft wap.branch ${forBranch.get}: only APPENDS and " +
                s"OVERWRITES can be staged on a branch (this write is " +
                s"$op) — run the operation on main, or publish the " +
                "branch first")
          ManifestBatchWrite(path, physicalize(info.schema()),
            compactInterval, removes, spec, overwriteWhere, dynamic,
            consumedDvs, specId, op, forBranch, eqDrops)
        }
        // writerId = the STREAMING QUERY's stable id (Spark passes
        // checkpoint-metadata `id`, not the per-run runId, as the
        // streaming LogicalWriteInfo.queryId) — the txn records it keys
        // survive restarts, which is what makes cross-run replay
        // detection per-writer. The run token stays per-RUN: a
        // post-restart replay writes task files under a different token
        // and can never collide with (and thus never truncate or
        // delete) a file the original run committed — taskId alone does
        // NOT guarantee that, because taskIds restart from 0 in a new
        // SparkContext.
        override def toStreaming: StreamingWrite = {
          if (truncating) throw new UnsupportedOperationException(
            "graft manifest sink: streaming truncate (complete/update " +
              "output) is not supported — the log is an append-of-epochs; " +
              "use append output mode")
          // streaming APPENDS stage on a branch like batch
          // appends — #forbranch epochs with their #txn replay records,
          // published by fast_forward (which carries the watermarks)
          ManifestStreamingWrite(path, physicalize(info.schema()),
            compactInterval,
            Option(info.queryId()).filter(_.nonEmpty).getOrElse(
              throw new IllegalStateException(
                "streaming write carries no query id; the manifest log " +
                  "needs a stable writer identity for replay detection")),
            java.util.UUID.randomUUID.toString.take(8), spec, specId,
            forBranch, upsertKeys)
        }
      }
    }
}

object ManifestTable {
  /** The spec as Spark `Transform`s — what `DESCRIBE`/`SHOW CREATE`
    * and the SQL `INSERT OVERWRITE … PARTITION` resolution read. */
  private[sources] def transformsOf(spec: Seq[PartField]): Array[Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    spec.map[Transform] {
      case IdentityPart(c) => Expressions.identity(c)
      case DaysPart(c) => Expressions.days(c)
      case BucketPart(n, c) => Expressions.bucket(n, c)
    }.toArray
  }
}

/** One task's contribution: the data file it wrote (name only — the
  * driver owns the directory), its row count, and per-column bounds
  * (the data-skipping stats the epoch manifest records): `stats` for
  * the long family, `strStats` for string columns. `part`
  * is the file's encoded partition tuple under the table's `#spec`,
  * empty for unpartitioned tables. */
case class CommittedFile(name: String, rows: Long,
    stats: Seq[ColStat] = Seq.empty,
    strStats: Seq[StrColStat] = Seq.empty,
    nullStats: Seq[NullStat] = Seq.empty,
    part: Seq[String] = Seq.empty,
    /** (physical col, base64 bloom payload) pairs — the
      * file's `#bloom` record, present only for `bloom.columns`
      * tables ([[BloomSkip]]). */
    blooms: Seq[(String, String)] = Seq.empty,
    /** (physical col, base64 HLL payload) pairs — the
      * file's `#ndv` record, present only for `ndv.columns` tables
      * ([[NdvSketch]]). */
    ndvs: Seq[(String, String)] = Seq.empty) extends WriterCommitMessage

/** A partition-fan-out task's contribution: one [[CommittedFile]] per
  * partition tuple the task's rows landed in. */
case class CommittedFileSet(files: Seq[CommittedFile]) extends WriterCommitMessage

/** A keyed-upsert task's commit (equality deletes): the
  * ordinary data message plus the task's key file — (name, rows),
  * absent when the task saw no rows. */
case class EqUpsertCommit(data: WriterCommitMessage,
    eqFile: Option[(String, Long)]) extends WriterCommitMessage

/** Min/max of one long-family column within one committed file
  * (timestamps as UTC micros, dates as epoch days — the InternalRow
  * payloads, whose numeric order is value order). */
case class ColStat(col: String, min: Long, max: Long)

/** NULL count of one column within one committed file — recorded for
  * every stats-safe-named column of the writer's schema (including 0),
  * so absence of a record in a null-accounting file proves the column
  * was not in that file's written schema. */
case class NullStat(col: String, nulls: Long)

/** Bounds of one STRING column within one committed file, recorded
  * only when every observed value is pure ASCII — that is what makes
  * one ordering serve both the JVM's UTF-16 comparisons here and
  * Spark's UTF8String binary comparisons (they agree whenever at least
  * one side is ASCII, and diverge only between two non-ASCII strings).
  * `min` may be truncated to [[StrColStat.Truncate]] chars (a prefix
  * is always a valid lower bound); `max`, when the true maximum was
  * truncated, is the prefix with its last bumpable char incremented
  * (Delta's convention) — a strict upper bound — or None when no char
  * could be bumped (an unbounded max: the column can't prune above). */
case class StrColStat(col: String, min: String, max: Option[String])

object StrColStat {
  /** Delta's 32-char stats-truncation convention. */
  val Truncate = 32

  /** Upper-bound a string that was cut to [[Truncate]] chars: bump the
    * rightmost char that stays ASCII when incremented, drop the rest.
    * "abc" truncated from "abcdef..." becomes "abd" > every "abc…". */
  private[sources] def bumpedPrefix(prefix: String): Option[String] = {
    val i = prefix.lastIndexWhere(_ < '\u007f') // bumped char stays ASCII
    if (i < 0) None
    else Some(prefix.substring(0, i) + (prefix.charAt(i) + 1).toChar)
  }

  /** (min, max) bounds for an observed [lo, hi] value range, applying
    * truncation on both ends. */
  private[sources] def bounds(lo: String, hi: String): (String, Option[String]) = {
    val mn = if (lo.length <= Truncate) lo else lo.substring(0, Truncate)
    val mx = if (hi.length <= Truncate) Some(hi)
             else bumpedPrefix(hi.substring(0, Truncate))
    (mn, mx)
  }
}

case class ManifestBatchWrite(path: String, schema: StructType,
    compactInterval: Int = ManifestSink.DefaultCompactInterval,
    removeFiles: ManifestSink.Snapshot => Seq[String] = _ => Seq.empty,
    spec: Seq[PartField] = Seq.empty,
    overwriteWhere: Option[Seq[org.apache.spark.sql.sources.Filter]] = None,
    dynamicOverwrite: Boolean = false,
    consumedDvs: Option[Map[String, Set[String]]] = None,
    specId: Int = 0, op: String = "append",
    forBranch: Option[String] = None,
    eqDrops: Seq[String] = Seq.empty) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val snap = ManifestSink.snapshot(path)
    val (bloomCols, bloomBits) = BloomSkip.configOf(snap)
    ManifestWriterFactory(path, schema.fields.map(_.name),
      schema.fields.map(f => graft.sources.ManifestSink.typeTokOf(f.dataType)),
      java.util.UUID.randomUUID.toString.take(8), spec, bloomCols, bloomBits,
      BloomSkip.rowGroupBytesOf(snap), NdvSketch.configOf(snap))
  }

  private def baseName(f: String): String = Paths.get(f).getFileName.toString

  private def andOf(fs: Seq[org.apache.spark.sql.sources.Filter])
      : org.apache.spark.sql.sources.Filter =
    fs.reduceOption(org.apache.spark.sql.sources.And(_, _))
      .getOrElse(org.apache.spark.sql.sources.AlwaysTrue)

  /** The exact matching-file set for a partition-scoped overwrite,
    * re-derived per claim attempt: every committed file must carry a
    * partition tuple on which the predicate decides EXACTLY — a file
    * without one (pre-partitioning writer) refuses rather than being
    * silently kept or blindly replaced. */
  /** The write's VISIBLE state: a branch-staged overwrite
    * sees — and removes from — the branch's files and tuples, exactly
    * as its reads do. */
  private def liveNames(snap: ManifestSink.Snapshot): Seq[String] = forBranch match {
    case Some(b) => snap.branchFiles(b).map(baseName)
    case None => snap.names
  }
  private def livePartitions(snap: ManifestSink.Snapshot): Map[String, PartTuple] =
    forBranch match {
      case Some(b) => snap.branchParts(b)
      case None => snap.parts
    }

  private def filteredRemoves(snap: ManifestSink.Snapshot,
      fs: Seq[org.apache.spark.sql.sources.Filter]): Seq[String] = {
    val pred = andOf(fs)
    val book = snap.specs
    val parts = livePartitions(snap)
    liveNames(snap).filter { n =>
      // each file decides under the spec it was WRITTEN under — a
      // predicate on a column that is identity in BOTH eras
      // stays decidable across an evolution
      parts.get(n).flatMap(t => book.evalExact(t, pred)).getOrElse(
        throw new UnsupportedOperationException(
          s"overwrite-by-filter on $path: predicate $pred is not exactly " +
            s"decidable from file $n's identity partition tuple " +
            s"(${parts.get(n).map(_.toks.mkString(",")).getOrElse("none recorded")}) " +
            "— partition-scoped overwrite needs identity-partition " +
            "predicates over tuple-carrying files; use row-level " +
            "DELETE/UPDATE for row-scoped replacement"))
    }
  }

  /** Dynamic partition overwrite's remove set: committed files whose
    * tuple equals a tuple the new data wrote. Every committed file
    * must carry a tuple (else its membership is unknowable). */
  private def dynamicRemoves(snap: ManifestSink.Snapshot,
      written: Set[Seq[String]]): Seq[String] = {
    if (spec.isEmpty) throw new UnsupportedOperationException(
      s"dynamic partition overwrite on $path: the table is unpartitioned")
    val parts = livePartitions(snap)
    liveNames(snap).filter { n =>
      parts.get(n) match {
        case Some(t) if t.specId == specId => written.contains(t.toks)
        case Some(t) => throw new UnsupportedOperationException(
          s"dynamic partition overwrite on $path: committed file $n " +
            s"carries a tuple under retired spec id ${t.specId} (current " +
            s"$specId) — tuples of different specs are not comparable; " +
            "CALL graft.sys.compact_data to migrate the table to the " +
            "current spec first")
        case None => throw new UnsupportedOperationException(
          s"dynamic partition overwrite on $path: committed file $n " +
            "carries no partition tuple — its partition membership is " +
            "unknowable; compact or rewrite the table first")
      }
    }
  }

  /** Batch appends are VERSIONED commits on the same epoch log the
    * streaming face writes: the commit claims the next epoch id through
    * [[ManifestSink.claimEpoch]] (link(2)-exclusive, horizon-verified),
    * so `mode("append")` really appends and batch-written tables get
    * time travel / incremental reads for free; readers holding an older
    * fragment listing keep a consistent (merely older) snapshot. A
    * copy-on-write rewrite additionally publishes `#remove` records for
    * the files its survivors replace — adds and removes flip visibility
    * in the SAME atomic link(2), so no reader ever sees both the old
    * files and their rewritten survivors. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val adds = ManifestSink.committedFilesOf(messages)
    overwriteWhere.foreach { fs =>
      // Delta's replaceWhere constraint: replacement data must satisfy
      // the predicate it replaces — validated file-wise on the tuples
      // the fan-out writer recorded, BEFORE anything publishes
      val pred = andOf(fs)
      adds.foreach { f =>
        val ok = f.part.nonEmpty &&
          PartField.evalExact(spec, f.part, pred).contains(true)
        if (!ok) {
          adds.foreach(a =>
            Files.deleteIfExists(Paths.get(path, "data", a.name)))
          throw new IllegalStateException(
            s"overwrite-by-filter on $path: replacement file ${f.name} " +
              s"(partition ${f.part.mkString(",")}) does not satisfy the " +
              s"overwritten predicate $pred — nothing was committed")
        }
      }
    }
    val removesGen: ManifestSink.Snapshot => Seq[String] =
      if (dynamicOverwrite)
        dynamicRemoves(_, adds.map(_.part).filter(_.nonEmpty).toSet)
      else overwriteWhere match {
        case Some(fs) => filteredRemoves(_, fs)
        case None => removeFiles
      }
    ManifestSink.commitBatchEpoch(path, schema.toDDL, messages,
      removesGen, compactInterval, consumedDvs, specId, op, forBranch,
      eqDrops = eqDrops)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    ManifestSink.committedFilesOf(messages).foreach { m =>
      Files.deleteIfExists(Paths.get(path, "data", m.name))
    }
}

/** The STREAMING face of the same manifest contract: each micro-batch
  * commits by claiming the next LOG epoch id (shared with batch appends
  * via [[ManifestSink.claimEpoch]]) and publishing its task-file list
  * plus a `#txn writerId engineEpoch` idempotence record. The engine's
  * delivery to the sink is at-least-once (a crash between the sink
  * commit and the engine's own commit log replays the epoch on restart),
  * so EXACTLY-ONCE table content is the sink's job: an engine epoch
  * at-or-below this writer's committed `#txn` watermark is a replay —
  * the first commit won, and the replay attempt's files are deleted so
  * it leaves no trace. Detection is PER-WRITER (the Delta
  * txnAppId/txnVersion shape), so a batch append landing between two
  * runs of the stream — which claims a log epoch id a shared
  * epoch-id watermark would confuse with the stream's next engine
  * epoch — can never make live streaming data look like a replay
  * (SnapshotSpec runs that exact interleaving plus a concurrent
  * stream-vs-batch race).
  * StreamingSpec restarts a checkpointed query with the engine commit
  * marker removed and pins that the replayed epoch changes nothing. */
case class ManifestStreamingWrite(path: String, schema: StructType,
    compactInterval: Int, writerId: String, runToken: String,
    spec: Seq[PartField] = Seq.empty, specId: Int = 0,
    /** Write-audit-publish: stage this stream's epochs on
      * a BRANCH — `#forbranch` next to the `#txn` replay records,
      * invisible to main until `fast_forward` replays the adds AND
      * carries the per-writer `#txn` watermarks (so a post-publish
      * restart's replayed engine epochs still detect). */
    forBranch: Option[String] = None,
    /** KEYED UPSERT mode (equality deletes): PHYSICAL key
      * columns — each micro-batch commits `#eqdel` (delete-by-key of
      * every earlier epoch's rows) + its appends in ONE epoch,
      * WITHOUT reading the target. The Update-output rows of a
      * streaming aggregate become a keyed table upsert. */
    upsertKeys: Seq[String] = Seq.empty) extends StreamingWrite {
  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val snap = ManifestSink.snapshot(path)
    val (bloomCols, bloomBits) = BloomSkip.configOf(snap)
    ManifestStreamingWriterFactory(path, schema.fields.map(_.name),
      schema.fields.map(f => graft.sources.ManifestSink.typeTokOf(f.dataType)),
      runToken, spec, bloomCols, bloomBits,
      BloomSkip.rowGroupBytesOf(snap), upsertKeys,
      NdvSketch.configOf(snap))
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val dir = Files.createDirectories(Paths.get(path))
    if (epochId <= ManifestSink.read(path)(_.txnWatermark(writerId))) {
      // replayed engine epoch: the first commit already published this
      // epoch's files under a claimed log id; discard the replay's
      // output (idempotence). NEVER delete a name ANY fragment
      // references (the referenced set, not the main union —
      // a BRANCH-STAGED epoch's adds are invisible to the union but
      // just as committed): run-unique tokens make a collision
      // impossible among this sink's own files, and the guard keeps a
      // foreign file (or a future naming bug) from turning the replay
      // cleanup into committed-data loss.
      val published = ManifestSink.read(path)(_.referenced)
      (ManifestSink.committedFilesOf(messages).map(_.name) ++
        ManifestSink.eqFilesOf(messages).map(_._1)).foreach { n =>
        if (!published.contains(n))
          Files.deleteIfExists(Paths.get(path, "data", n))
      }
      return
    }
    val files = ManifestSink.committedFilesOf(messages).sortBy(_.name)
    val eqFiles = ManifestSink.eqFilesOf(messages).sortBy(_._1)
    if (upsertKeys.nonEmpty && forBranch.isDefined)
      throw new UnsupportedOperationException(
        s"graft wap.branch ${forBranch.get}: a keyed-upsert stream " +
          "(upsertKeys) cannot stage on a branch — its delete-by-key " +
          "half retro-applies against a moving main; publish first or " +
          "stream to main")
    def content(snap: ManifestSink.Snapshot): Seq[LogRecord] =
      Seq(Txn(writerId, epochId), Schema(schema.toDDL),
        Op(if (eqFiles.nonEmpty) "upsert" else "append")) ++
        ManifestSink.stagedHeader(snap, forBranch) ++
        eqFiles.map { case (n, rows) => EqDel(n, upsertKeys, rows) } ++
        ManifestSink.fileRecords(files, specId) ++ files.map(f => Data(f.name))
    ManifestSink.claimEpoch(dir, content _)
    ManifestSink.maybeCompact(dir, compactInterval)
  }

  /** Abort must clean THIS attempt's orphans without ever touching
    * committed data: if commit fails after the epoch publish (e.g. a
    * compaction IO error), Spark calls abort with messages whose files
    * the durable epoch manifest already lists — deleting those would
    * leave the manifest pointing at nothing. */
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val dir = Paths.get(path)
    // the referenced set, not the main union: a BRANCH-STAGED
    // epoch's adds are committed but union-invisible
    val published =
      if (Files.exists(dir)) ManifestSink.read(path)(_.referenced)
      else Set.empty[String]
    (ManifestSink.committedFilesOf(messages).map(_.name) ++
      ManifestSink.eqFilesOf(messages).map(_._1)).foreach { n =>
      if (!published.contains(n))
        Files.deleteIfExists(Paths.get(path, "data", n))
    }
  }
}

case class ManifestStreamingWriterFactory(path: String, fieldNames: Array[String],
    fieldTypes: Array[String], runToken: String,
    spec: Seq[PartField] = Seq.empty,
    bloomCols: Seq[String] = Seq.empty,
    bloomBits: Int = BloomSkip.DefaultBits,
    rowGroupBytes: Int = 0,
    /** PHYSICAL key columns of a keyed-upsert stream (equality
      * deletes): each task ALSO writes its rows' key tuples
      * to a small `eq-…` parquet file — the delete-by-key half the
      * commit publishes as an `#eqdel` record, without ever reading
      * the target. Empty = ordinary append. */
    upsertKeys: Seq[String] = Seq.empty,
    ndvCols: Seq[String] = Seq.empty) extends StreamingDataWriterFactory {
  // the epoch is baked into the file name so replayed-epoch files are
  // recognizable on disk; taskId distinguishes attempts within a run,
  // and the run token distinguishes RUNS — a replay in a fresh JVM
  // (taskIds reset to 0) still cannot collide with committed files
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = {
    val base = f"${ManifestSink.epochName(epochId)}-part-$partitionId%05d-$taskId-$runToken"
    val inner: DataWriter[InternalRow] =
      if (spec.isEmpty)
        ManifestWriters.create(path, fieldNames, fieldTypes, s"$base.parquet",
          bloomCols, bloomBits, rowGroupBytes, ndvCols)
      else
        ManifestWriters.createFanOut(path, fieldNames, fieldTypes, spec,
          k => s"$base-p$k.parquet", bloomCols, bloomBits, rowGroupBytes,
          ndvCols)
    if (upsertKeys.isEmpty) inner
    else {
      val keyIdx = upsertKeys.map(c =>
        fieldNames.indexWhere(_.equalsIgnoreCase(c))).toArray
      val keyToks = keyIdx.map(fieldTypes)
      val eqW = ManifestWriters.create(path, upsertKeys.toArray, keyToks,
        s"eq-$base.parquet")
      new DataWriter[InternalRow] {
        private var keyRows = 0L
        override def write(row: InternalRow): Unit = {
          inner.write(row)
          // the key projection writes SYNCHRONOUSLY, so values may
          // reference the (reused) incoming row safely
          val vals = keyIdx.indices.map[Any] { j =>
            val i = keyIdx(j)
            if (row.isNullAt(i)) null
            else keyToks(j) match {
              case "long" | "timestamp" => row.getLong(i)
              case "integer" | "date" => row.getInt(i)
              case "short" => row.getShort(i)
              case "byte" => row.getByte(i)
              case "string" => row.getUTF8String(i)
              case other => throw new IOException(
                s"upsertKeys column type $other is not a " +
                  "long-family/string key")
            }
          }.toArray
          eqW.write(new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(vals))
          keyRows += 1
        }
        override def commit(): WriterCommitMessage = {
          val dataMsg = inner.commit()
          val eqMsg = eqW.commit().asInstanceOf[CommittedFile]
          if (keyRows == 0L) {
            // empty task: no keys, no eq file on disk
            Files.deleteIfExists(Paths.get(path, "data", eqMsg.name))
            EqUpsertCommit(dataMsg, None)
          } else EqUpsertCommit(dataMsg, Some((eqMsg.name, keyRows)))
        }
        override def abort(): Unit = {
          try inner.abort() catch { case _: Exception => }
          try eqW.abort() catch { case _: Exception => }
        }
        override def close(): Unit = { inner.close(); eqW.close() }
      }
    }
  }
}

case class ManifestWriterFactory(path: String, fieldNames: Array[String],
    fieldTypes: Array[String], runToken: String,
    spec: Seq[PartField] = Seq.empty,
    bloomCols: Seq[String] = Seq.empty,
    bloomBits: Int = BloomSkip.DefaultBits,
    rowGroupBytes: Int = 0,
    ndvCols: Seq[String] = Seq.empty) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    // taskId distinguishes attempts WITHIN the application; the run
    // token distinguishes APPLICATIONS — taskIds restart
    // at 0 in a new SparkContext, so without it a second app appending
    // to the same table could reuse a committed file's name, truncate
    // its content, and leave the name's first-seen `#stats` describing
    // the old bytes (data skipping would then prune a file that holds
    // matching rows — silently wrong results). With both, every write
    // lands under a fresh name and superseded files become
    // manifest-invisible orphans for VACUUM
    val base = f"part-$partitionId%05d-$taskId-$runToken"
    if (spec.isEmpty)
      ManifestWriters.create(path, fieldNames, fieldTypes, s"$base.parquet",
        bloomCols, bloomBits, rowGroupBytes, ndvCols)
    else
      ManifestWriters.createFanOut(path, fieldNames, fieldTypes, spec,
        k => s"$base-p$k.parquet", bloomCols, bloomBits, rowGroupBytes,
        ndvCols)
  }
}

/** One task-file writer, shared by the batch and streaming factories —
  * the factories differ only in how they NAME the file. The data plane
  * is PARQUET (row text at 100 TB would forfeit compression,
  * within-file column pruning and page-level stats — the reference's
  * own materialization target is columnar,
  * `etl_kaggle_to_big_query.py:88-110`). Files are written through the
  * public parquet-java Group API against a [[LocalOutputFile]] (no
  * Hadoop FileSystem, so no `.crc` siblings), snappy-compressed, with
  * proper logical types — any parquet reader, including Spark's
  * vectorized DSv2 scan the snap face delegates to, reads them as
  * first-class columnar data. The commit protocol is format-agnostic
  * and unchanged: the writer still tracks per-column min/max as rows
  * stream through (free at write time; priceless at read time — the
  * `#stats` data-skipping index). */
private[graft] object ManifestWriters {
  import org.apache.parquet.example.data.simple.SimpleGroupFactory
  import org.apache.parquet.hadoop.example.ExampleParquetWriter
  import org.apache.parquet.hadoop.metadata.CompressionCodecName
  import org.apache.parquet.io.api.Binary
  import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

  /** Column types the sink encodes, keyed by Spark `DataType.typeName`.
    * The long family (long/integer/timestamp/date) all carry long-valued
    * stats: timestamps are UTC micros and dates are epoch days in
    * `InternalRow`, so their min/max order IS value order. */
  private val LongFamily = Set("long", "integer", "short", "byte",
    "timestamp", "date")

  /** The TYPE TOKEN a field travels the writer/reader plumbing as:
    * `typeName` for primitives, the compact JSON form for STRUCTs,
    * ARRAYs and MAPs (`typeName` alone loses the inner
    * shape). */
  private[sources] def typeTok(dt: org.apache.spark.sql.types.DataType): String =
    dt match {
      case s: org.apache.spark.sql.types.StructType => s.json
      case a: org.apache.spark.sql.types.ArrayType => a.json
      case m: org.apache.spark.sql.types.MapType => m.json
      case other => other.typeName
    }

  /** A composite (struct/array) type token parsed back, None for
    * primitive tokens. Unparsable `{…}` tokens refuse loudly — a
    * malformed token here is a plumbing bug, not evolvable data. */
  private[sources] def compositeOf(tok: String)
      : Option[org.apache.spark.sql.types.DataType] =
    if (!tok.startsWith("{")) None
    else Some(org.apache.spark.sql.types.DataType.fromJson(tok))

  private def primitiveField(n: String, tok: String)
      : org.apache.parquet.schema.Type = tok match {
    case "long" => Types.optional(INT64).named(n)
    case "integer" => Types.optional(INT32).named(n)
    case "short" => Types.optional(INT32)
      .as(LogicalTypeAnnotation.intType(16, true)).named(n)
    case "byte" => Types.optional(INT32)
      .as(LogicalTypeAnnotation.intType(8, true)).named(n)
    case "double" => Types.optional(DOUBLE).named(n)
    case "float" => Types.optional(FLOAT).named(n)
    case "boolean" => Types.optional(BOOLEAN).named(n)
    case "string" => Types.optional(BINARY)
      .as(LogicalTypeAnnotation.stringType()).named(n)
    case "timestamp" => Types.optional(INT64)
      .as(LogicalTypeAnnotation.timestampType(true,
        LogicalTypeAnnotation.TimeUnit.MICROS)).named(n)
    case "date" => Types.optional(INT32)
      .as(LogicalTypeAnnotation.dateType()).named(n)
    case other => throw new IOException(
      "manifest sink supports long/integer/short/byte/double/float/" +
        "boolean/string/timestamp/date and STRUCT/ARRAY/MAP-of-those " +
        s"columns, got $other")
  }

  /** A STRUCT column as an optional parquet GROUP —
    * nested structs and arrays recurse; anything else inside refuses
    * loudly. */
  private def groupField(n: String,
      st: org.apache.spark.sql.types.StructType)
      : org.apache.parquet.schema.Type = {
    val g = Types.optionalGroup()
    st.fields.foreach(f => g.addField(fieldOf(f.name, f.dataType)))
    g.named(n)
  }

  /** An ARRAY column as the STANDARD 3-level parquet LIST:
    * `optional group <n> (LIST) { repeated group list { optional
    * <element> element } }` — what every parquet reader (including
    * Spark's vectorized delegate) decodes natively; element types
    * recurse (struct-of / array-of the supported set). */
  private def listField(n: String,
      at: org.apache.spark.sql.types.ArrayType)
      : org.apache.parquet.schema.Type =
    Types.optionalGroup()
      .as(LogicalTypeAnnotation.listType())
      .addField(Types.repeatedGroup()
        .addField(fieldOf("element", at.elementType))
        .named("list"))
      .named(n)

  /** A MAP column as the STANDARD parquet MAP: `optional
    * group <n> (MAP) { repeated group key_value { required <key> key;
    * optional <value> value } }` — keys are primitives (required,
    * Spark's map-key contract), values recurse like array elements. */
  private def mapField(n: String,
      mt: org.apache.spark.sql.types.MapType)
      : org.apache.parquet.schema.Type = {
    val key = mt.keyType match {
      case _: org.apache.spark.sql.types.StructType |
           _: org.apache.spark.sql.types.ArrayType |
           _: org.apache.spark.sql.types.MapType => throw new IOException(
        s"manifest sink supports PRIMITIVE map keys, got " +
          s"${mt.keyType.typeName}")
      case kt => org.apache.parquet.schema.Types
        .primitive(primitiveField("key", typeTok(kt)).asPrimitiveType()
          .getPrimitiveTypeName,
          org.apache.parquet.schema.Type.Repetition.REQUIRED)
        .as(primitiveField("key", typeTok(kt)).asPrimitiveType()
          .getLogicalTypeAnnotation)
        .named("key")
    }
    Types.optionalGroup()
      .as(LogicalTypeAnnotation.mapType())
      .addField(Types.repeatedGroup()
        .addField(key)
        .addField(fieldOf("value", mt.valueType))
        .named("key_value"))
      .named(n)
  }

  private def fieldOf(n: String,
      dt: org.apache.spark.sql.types.DataType)
      : org.apache.parquet.schema.Type = dt match {
    case st: org.apache.spark.sql.types.StructType => groupField(n, st)
    case at: org.apache.spark.sql.types.ArrayType => listField(n, at)
    case mt: org.apache.spark.sql.types.MapType => mapField(n, mt)
    case other => primitiveField(n, typeTok(other))
  }

  private[sources] def parquetType(fieldNames: Array[String],
      fieldTypes: Array[String]): MessageType = {
    val b = Types.buildMessage()
    fieldTypes.indices.foreach { i =>
      val n = fieldNames(i)
      compositeOf(fieldTypes(i)) match {
        case Some(dt) => b.addField(fieldOf(n, dt))
        case None => b.addField(primitiveField(n, fieldTypes(i)))
      }
    }
    b.named("graft_manifest_row")
  }

  /** Per-row partition-token evaluator for a table's `#spec` (round
    * 15): resolves each spec column against the write schema once,
    * then encodes values in the exact scale the stats plane uses
    * (micros/days long payloads, UTF-8 strings). Type mismatches
    * refuse at writer construction — CREATE TABLE validates the same
    * constraint earlier, this is the defense on the write path. */
  private[sources] def partitionEval(spec: Seq[PartField],
      names: Array[String], types: Array[String]): InternalRow => Seq[String] = {
    val fns: Seq[InternalRow => String] = spec.map { pf =>
      val i = names.indexWhere(_.equalsIgnoreCase(pf.col))
      if (i < 0) throw new IOException(
        s"partition column '${pf.col}' is not in the write schema " +
          s"(${names.mkString(", ")})")
      def longTok(get: InternalRow => Long): InternalRow => String =
        r => if (r.isNullAt(i)) "n" else pf.tokenOfLong(get(r))
      (pf, types(i)) match {
        case (_: DaysPart, "timestamp") => longTok(_.getLong(i))
        case (_: DaysPart, "date") =>
          r => if (r.isNullAt(i)) "n" else DaysPart.ofDate(r.getInt(i))
        case (_: DaysPart, other) => throw new IOException(
          s"days(${pf.col}): needs a timestamp/date column, got $other")
        case (_, "long") | (_, "timestamp") => longTok(_.getLong(i))
        case (_, "integer") | (_, "date") => longTok(_.getInt(i).toLong)
        case (_, "short") => longTok(_.getShort(i).toLong)
        case (_, "byte") => longTok(_.getByte(i).toLong)
        case (_, "string") =>
          r => if (r.isNullAt(i)) "n"
               else pf.tokenOfString(r.getUTF8String(i).toString)
        case (_, other) => throw new IOException(
          s"${pf.render}: unsupported partition column type $other " +
            "(long family or string)")
      }
    }
    r => fns.map(_(r))
  }

  /** A PARTITION-FAN-OUT task writer: routes each row to a
    * per-partition-tuple delegate file, so one task emits one file per
    * distinct tuple it sees and the commit records each file's `#part`.
    * Memory is one open parquet writer per distinct tuple per task —
    * the classic fan-out shape; a 100 TB pipeline pre-repartitions by
    * the partition key so each task sees few tuples (exactly what
    * Spark's builtin dynamic-partition write requires sorting for). */
  def createFanOut(path: String, fieldNames: Array[String],
      fieldTypes: Array[String], spec: Seq[PartField],
      nameFor: Int => String,
      bloomCols: Seq[String] = Seq.empty,
      bloomBits: Int = BloomSkip.DefaultBits,
      rowGroupBytes: Int = 0,
      ndvCols: Seq[String] = Seq.empty): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val eval = partitionEval(spec, fieldNames, fieldTypes)
      private val open =
        scala.collection.mutable.LinkedHashMap[String, DataWriter[InternalRow]]()
      private val toksOf = scala.collection.mutable.Map[String, Seq[String]]()
      override def write(row: InternalRow): Unit = {
        val toks = eval(row)
        val key = toks.mkString(",")
        open.getOrElseUpdate(key, {
          toksOf(key) = toks
          create(path, fieldNames, fieldTypes, nameFor(open.size),
            bloomCols, bloomBits, rowGroupBytes, ndvCols)
        }).write(row)
      }
      override def commit(): WriterCommitMessage =
        CommittedFileSet(open.toSeq.map { case (key, w) =>
          w.commit().asInstanceOf[CommittedFile].copy(part = toksOf(key))
        })
      override def abort(): Unit = open.values.foreach { w =>
        try w.abort() catch { case _: Exception => }
      }
      override def close(): Unit = open.values.foreach(_.close())
    }

  def create(path: String, fieldNames: Array[String], fieldTypes: Array[String],
      fileName: String, bloomCols: Seq[String] = Seq.empty,
      bloomBits: Int = BloomSkip.DefaultBits,
      rowGroupBytes: Int = 0,
      ndvCols: Seq[String] = Seq.empty): DataWriter[InternalRow] =
    createAt(Files.createDirectories(Paths.get(path, "data")),
      fieldNames, fieldTypes, fileName, bloomCols, bloomBits,
      rowGroupBytes, ndvCols)

  /** The same writer against an explicit directory — the planning
    * CHECKPOINT writes parquet into the table ROOT (it is
    * metadata, not data: vacuum must never see it as a data-plane
    * orphan). */
  /** Write one struct VALUE into a parquet group — field order is
    * declaration order on both sides (the group type was built from
    * this same StructType). Nested structs and arrays recurse. */
  private def fillGroup(g: org.apache.parquet.example.data.Group,
      row: InternalRow,
      st: org.apache.spark.sql.types.StructType): Unit = {
    import org.apache.spark.sql.types._
    st.fields.indices.foreach { j =>
      if (!row.isNullAt(j)) st.fields(j).dataType match {
        case inner: StructType =>
          fillGroup(g.addGroup(j), row.getStruct(j, inner.fields.length),
            inner)
        case inner: ArrayType =>
          fillList(g.addGroup(j), row.getArray(j), inner)
        case inner: MapType =>
          fillMap(g.addGroup(j), row.getMap(j), inner)
        case LongType | TimestampType => g.add(j, row.getLong(j))
        case IntegerType | DateType => g.add(j, row.getInt(j))
        case ShortType => g.add(j, row.getShort(j).toInt)
        case ByteType => g.add(j, row.getByte(j).toInt)
        case DoubleType => g.add(j, row.getDouble(j))
        case FloatType => g.add(j, row.getFloat(j))
        case BooleanType => g.add(j, row.getBoolean(j))
        case StringType =>
          g.add(j, Binary.fromString(row.getUTF8String(j).toString))
        case other => throw new IOException(
          s"manifest sink cannot encode a struct field of type $other")
      }
    }
  }

  /** Write one array VALUE into a parquet LIST group: one
    * `list` entry per element, a null element as an entry whose
    * `element` field stays unset — the standard 3-level encoding. */
  private def fillList(g: org.apache.parquet.example.data.Group,
      arr: org.apache.spark.sql.catalyst.util.ArrayData,
      at: org.apache.spark.sql.types.ArrayType): Unit = {
    import org.apache.spark.sql.types._
    var k = 0
    while (k < arr.numElements()) {
      val entry = g.addGroup(0) // the repeated `list` group
      if (!arr.isNullAt(k)) fillValue(entry, 0, arr, k, at.elementType)
      k += 1
    }
  }

  /** Write element `k` of `arr` into field `fi` of `g` — the shared
    * array-element / map-side value encoder. */
  private def fillValue(g: org.apache.parquet.example.data.Group, fi: Int,
      arr: org.apache.spark.sql.catalyst.util.ArrayData, k: Int,
      dt: org.apache.spark.sql.types.DataType): Unit = {
    import org.apache.spark.sql.types._
    dt match {
      case st: StructType =>
        fillGroup(g.addGroup(fi), arr.getStruct(k, st.fields.length), st)
      case inner: ArrayType =>
        fillList(g.addGroup(fi), arr.getArray(k), inner)
      case inner: MapType =>
        fillMap(g.addGroup(fi), arr.getMap(k), inner)
      case LongType | TimestampType => g.add(fi, arr.getLong(k))
      case IntegerType | DateType => g.add(fi, arr.getInt(k))
      case ShortType => g.add(fi, arr.getShort(k).toInt)
      case ByteType => g.add(fi, arr.getByte(k).toInt)
      case DoubleType => g.add(fi, arr.getDouble(k))
      case FloatType => g.add(fi, arr.getFloat(k))
      case BooleanType => g.add(fi, arr.getBoolean(k))
      case StringType =>
        g.add(fi, Binary.fromString(arr.getUTF8String(k).toString))
      case other => throw new IOException(
        s"manifest sink cannot encode an element of type $other")
    }
  }

  /** Write one map VALUE into a parquet MAP group: one
    * `key_value` entry per pair — keys required (Spark's map-key
    * contract), a null value as an entry whose `value` stays unset. */
  private def fillMap(g: org.apache.parquet.example.data.Group,
      map: org.apache.spark.sql.catalyst.util.MapData,
      mt: org.apache.spark.sql.types.MapType): Unit = {
    val keys = map.keyArray()
    val vals = map.valueArray()
    var k = 0
    while (k < map.numElements()) {
      val entry = g.addGroup(0) // the repeated `key_value` group
      fillValue(entry, 0, keys, k, mt.keyType)
      if (!vals.isNullAt(k)) fillValue(entry, 1, vals, k, mt.valueType)
      k += 1
    }
  }

  def createAt(dir: Path, fieldNames: Array[String], fieldTypes: Array[String],
      fileName: String, bloomCols: Seq[String] = Seq.empty,
      bloomBits: Int = BloomSkip.DefaultBits,
      /** > 0: explicit parquet row-group size (the
        * `rowgroup.bytes` property) — smaller groups buy position-skipping
        * granularity for the KEEP-mode reads. 0 = parquet default. */
      rowGroupBytes: Int = 0,
      /** PHYSICAL columns carrying a per-file `#ndv` HLL
        * ([[NdvSketch]]) — long-family/string only, mirroring blooms. */
      ndvCols: Seq[String] = Seq.empty): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val name = fileName
      private val file: Path = dir.resolve(name)
      private val msgType = parquetType(fieldNames, fieldTypes)
      private val groups = new SimpleGroupFactory(msgType)
      private val out = {
        val b = ExampleParquetWriter.builder(
            new org.apache.parquet.io.LocalOutputFile(file))
          .withType(msgType)
          .withCompressionCodec(CompressionCodecName.SNAPPY)
        if (rowGroupBytes > 0) b.withRowGroupSize(rowGroupBytes.toLong)
        b.build()
      }
      private var rows = 0L
      private val longCols =
        fieldTypes.indices.filter(i => LongFamily.contains(fieldTypes(i)))
      private val mins = Array.fill(fieldTypes.length)(Long.MaxValue)
      private val maxs = Array.fill(fieldTypes.length)(Long.MinValue)
      private def observe(i: Int, v: Long): Unit = {
        if (v < mins(i)) mins(i) = v
        if (v > maxs(i)) maxs(i) = v
      }
      // string bounds, tracked only while every observed value is pure
      // ASCII (StrColStat's ordering contract); one non-ASCII value
      // drops the column's stats for this file — an unpruned file is a
      // slow read, a mispruned one a wrong answer
      private val strMin = Array.fill[String](fieldTypes.length)(null)
      private val strMax = Array.fill[String](fieldTypes.length)(null)
      private val strAscii = Array.fill(fieldTypes.length)(true)
      private def observeStr(i: Int, s: String): Unit = if (strAscii(i)) {
        var j = 0
        while (j < s.length && s.charAt(j) < '\u0080') j += 1
        if (j < s.length) { strAscii(i) = false; strMin(i) = null; strMax(i) = null }
        else {
          if (strMin(i) == null || s.compareTo(strMin(i)) < 0) strMin(i) = s
          if (strMax(i) == null || s.compareTo(strMax(i)) > 0) strMax(i) = s
        }
      }

      // per-column null counts: recorded for EVERY
      // stats-safe-named column, including 0 — exhaustiveness over the
      // written schema is what makes an ABSENT record in a
      // null-accounting file prove the column postdates the file
      private val nullCnt = Array.fill(fieldTypes.length)(0L)
      // COMPOSITE (struct/array) columns: parsed once;
      // value writes recurse. No stats (bounds over composites never
      // prune), top-level null counts still recorded.
      private val compositeTypes: Array[org.apache.spark.sql.types.DataType] =
        fieldTypes.map(t => compositeOf(t).orNull)
      // BLOOM filters ([[BloomSkip]]): one per configured
      // long-family/string column — values insert at the SAME
      // normalized scale the stats plane records (micros/days longs,
      // UTF-8 string bytes), so read-side probes can never disagree.
      // Unknown/unsupported configured names simply never bloom.
      private val bloomOf: Array[org.apache.spark.util.sketch.BloomFilter] =
        fieldTypes.indices.map { i =>
          if (bloomCols.exists(_.equalsIgnoreCase(fieldNames(i))) &&
              (LongFamily.contains(fieldTypes(i)) || fieldTypes(i) == "string"))
            BloomSkip.create(bloomBits)
          else null
        }.toArray
      @inline private def bloomLong(i: Int, v: Long): Unit =
        if (bloomOf(i) != null) bloomOf(i).putLong(v)
      // NDV sketches ([[NdvSketch]]): one HLL per configured
      // long-family/string column, updated at the SAME normalized
      // scale as stats/blooms
      private val ndvOf: Array[org.apache.datasketches.hll.HllSketch] =
        fieldTypes.indices.map { i =>
          if (ndvCols.exists(_.equalsIgnoreCase(fieldNames(i))) &&
              (LongFamily.contains(fieldTypes(i)) || fieldTypes(i) == "string"))
            NdvSketch.create()
          else null
        }.toArray
      @inline private def ndvLong(i: Int, v: Long): Unit =
        if (ndvOf(i) != null) ndvOf(i).update(v)
      override def write(row: InternalRow): Unit = {
        val g = groups.newGroup()
        fieldTypes.indices.foreach { i =>
          if (row.isNullAt(i)) nullCnt(i) += 1
          else if (compositeTypes(i) != null) compositeTypes(i) match {
            case st: org.apache.spark.sql.types.StructType =>
              fillGroup(g.addGroup(i),
                row.getStruct(i, st.fields.length), st)
            case at: org.apache.spark.sql.types.ArrayType =>
              fillList(g.addGroup(i), row.getArray(i), at)
            case mt: org.apache.spark.sql.types.MapType =>
              fillMap(g.addGroup(i), row.getMap(i), mt)
            case other => throw new IOException(
              s"manifest sink cannot encode a $other column")
          }
          if (!row.isNullAt(i) && compositeTypes(i) == null) fieldTypes(i) match {
            case "long" | "timestamp" =>
              val v = row.getLong(i); observe(i, v); bloomLong(i, v)
              ndvLong(i, v); g.add(i, v)
            case "integer" | "date" =>
              val v = row.getInt(i); observe(i, v.toLong); bloomLong(i, v.toLong)
              ndvLong(i, v.toLong); g.add(i, v)
            case "short" =>
              val v = row.getShort(i); observe(i, v.toLong)
              bloomLong(i, v.toLong); ndvLong(i, v.toLong); g.add(i, v.toInt)
            case "byte" =>
              val v = row.getByte(i); observe(i, v.toLong)
              bloomLong(i, v.toLong); ndvLong(i, v.toLong); g.add(i, v.toInt)
            // floating/boolean columns carry no stats (IEEE NaN breaks
            // total-order bounds; boolean envelopes never prune) —
            // unpruned files are merely slower, never wrong
            case "double" => g.add(i, row.getDouble(i))
            case "float" => g.add(i, row.getFloat(i))
            case "boolean" => g.add(i, row.getBoolean(i))
            case "string" =>
              val u = row.getUTF8String(i)
              if (bloomOf(i) != null) bloomOf(i).putBinary(u.getBytes)
              if (ndvOf(i) != null) ndvOf(i).update(u.getBytes)
              val s = u.toString
              observeStr(i, s)
              g.add(i, Binary.fromString(s))
            case other => throw new IOException(
              s"manifest sink cannot encode a $other column")
          }
        }
        out.write(g)
        rows += 1
      }
      override def commit(): WriterCommitMessage = {
        out.close()
        // the hidden row-id column stays OFF the stats
        // plane: it is identity plumbing, never predicated on, and a
        // record for it would pollute the null-accounting
        // exhaustiveness contract over the DECLARED schema
        def statable(i: Int): Boolean =
          !fieldNames(i).equalsIgnoreCase(ManifestSink.RowIdColumnName)
        val stats =
          if (rows == 0) Seq.empty
          else longCols.collect {
            // an all-null column observed nothing — no stats for it
            case i if mins(i) <= maxs(i) && statable(i) =>
              ColStat(fieldNames(i), mins(i), maxs(i))
          }.toSeq
        val strStats =
          if (rows == 0) Seq.empty
          else fieldTypes.indices.collect {
            case i if fieldTypes(i) == "string" && strMin(i) != null &&
                statable(i) =>
              val (mn, mx) = StrColStat.bounds(strMin(i), strMax(i))
              StrColStat(fieldNames(i), mn, mx)
          }.toSeq
        val nullStats =
          if (rows == 0) Seq.empty
          else fieldNames.indices.collect {
            case i if statable(i) => NullStat(fieldNames(i), nullCnt(i))
          }.toSeq
        val blooms =
          if (rows == 0) Seq.empty
          else fieldTypes.indices.collect {
            // an all-null column observed nothing: no filter (the null
            // stats already prune its value predicates)
            case i if bloomOf(i) != null && nullCnt(i) < rows =>
              fieldNames(i) -> BloomSkip.toB64(bloomOf(i))
          }.toSeq
        val ndvs =
          if (rows == 0) Seq.empty
          else fieldTypes.indices.collect {
            case i if ndvOf(i) != null && nullCnt(i) < rows =>
              fieldNames(i) -> NdvSketch.toB64(ndvOf(i))
          }.toSeq
        CommittedFile(name, rows, stats, strStats, nullStats,
          blooms = blooms, ndvs = ndvs)
      }
      override def abort(): Unit = {
        try out.close() catch { case _: Exception => }
        Files.deleteIfExists(file)
      }
      override def close(): Unit = ()
    }
}

/** Stream offset = the newest epoch id INCLUDED so far (-1 before the
  * first batch), json-serialized into the streaming checkpoint. */
case class EpochOffset(id: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = id.toString
}

/** One committed data file of the batch's epoch window. `dvFiles`
  * are the live position-delete files the reader must
  * apply — absolute paths, empty for files without deletes.
  *
  * CHANGE-FEED fields: `keepPositions` flips the dv set
  * from a SKIP set to a KEEP set — the reader emits ONLY the rows at
  * those positions (a merge-on-read epoch's pre-images ARE the rows
  * its new dv files point at). `changeType`/`commitVersion` are
  * served as the `_change_type`/`_commit_version` pseudo-columns —
  * per-partition constants, zero bytes read for them. */
case class ManifestFilePartition(file: String,
    dvFiles: Seq[String] = Seq.empty,
    keepPositions: Boolean = false,
    changeType: String = null,
    commitVersion: Long = -1L,
    commitTsMicros: Long = -1L,
    /** The file's `#rowid` base (row tracking) — what the
      * `_row_id` pseudo-column adds to the row ordinal when the file
      * carries no materialized `_graft_rowid` value. -1 = untracked
      * (file written without row tracking): `_row_id` serves null. */
    rowIdBase: Long = -1L,
    /** APPLICABLE equality-delete key files: (absolute
      * path, PHYSICAL key column names) — rows of THIS file matching
      * any key tuple are skipped (the file was committed before the
      * delete; exempt files never list it here). */
    eqFiles: Seq[(String, Seq[String])] = Seq.empty)
    extends org.apache.spark.sql.connector.read.InputPartition

/** The epoch log as a micro-batch SOURCE. STATELESS admission (the
  * [[graft.sources.SyntheticSource]] convention): Spark hands
  * `latestOffset(start, limit)` the last committed offset, so the next
  * batch is a pure function of the checkpoint + the log — a restart
  * resumes at the committed epoch with nothing re-read and nothing
  * skipped, because `planInputPartitions` resolves the SAME
  * (start, end] window through [[ManifestSink.Snapshot.changePartitions]]
  * every time (epoch manifests are immutable once published).
  *
  * Admission honors BOTH the table's `maxEpochsPerTrigger` option and
  * any engine-provided [[ReadLimit]] (the limit argument
  * used to be ignored): maxRows/maxFiles limits admit whole epochs until
  * the budget is crossed, sized from the `#stats` row counts and file
  * lists the epoch manifests already carry — at least one epoch always
  * admits so the stream makes progress (the built-in file source's
  * convention). A limit kind the source cannot meter (no stats recorded,
  * or an unknown ReadLimit subclass) admits everything available rather
  * than silently stalling. */
class ManifestMicroBatchStream(path: String, fieldNames: Array[String],
    fieldTypes: Array[String], maxEpochs: Int,
    /** `refuse` (default) | `ignoreDeletes` | `ignoreChanges` — what a
      * non-append epoch in the tail does (the Delta option names and
      * semantics). */
    onChange: String = "refuse",
    /** CDF mode: emit labeled change rows (the `.changes`
      * streaming face) instead of plain appended rows. */
    cdf: Boolean = false,
    /** First epoch NOT served (exclusive lower bound) — the `.changes`
      * face starts at the retention horizon by default rather than -1,
      * because epochs at or below it are unrecoverable per-epoch. */
    startAt: Long = -1L)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {
  import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, Offset, ReadAllAvailable, ReadLimit, ReadMaxFiles, ReadMaxRows}
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}

  private def newest: Long = ManifestSink.snapshot(path).version // -1: no commits yet

  override def initialOffset(): Offset = EpochOffset(startAt)
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** Epochs after `start` admitted by `limit`, capped at `end`. */
  private def admitted(start: Long, end: Long, limit: ReadLimit): Long = limit match {
    case _: ReadAllAvailable => end
    case c: CompositeReadLimit =>
      c.getReadLimits.map(admitted(start, end, _)).min
    case r: ReadMaxRows =>
      admitBy(start, end, r.maxRows, _._3.getOrElse(Long.MaxValue))
    case f: ReadMaxFiles =>
      admitBy(start, end, f.maxFiles.toLong, _._2.toLong)
    case _ => end // unmeterable limit kind: admit all available
  }

  private def admitBy(start: Long, end: Long, budget: Long,
      measure: ((Long, Int, Option[Long])) => Long): Long = {
    val window = ManifestSink.read(path)(_.epochSizes)
      .filter(e => e._1 > start && e._1 <= end)
    // an unreadable window (epochs swept into the compact) must NOT
    // silently stall at `start` — admit through `end` so the downstream
    // changePartitions read refuses loudly, the documented contract
    if (window.isEmpty) return end
    var spent = 0L
    var last = start
    val it = window.iterator
    var done = false
    while (it.hasNext && !done) {
      val e = it.next()
      if (last == start || spent < budget) { // always admit >= 1 epoch
        val m = measure(e)
        spent = if (m > Long.MaxValue - spent) Long.MaxValue else spent + m
        last = e._1
      } else done = true
    }
    last
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[EpochOffset].id
    val optionCap =
      if (maxEpochs == Int.MaxValue) newest
      else math.min(newest, s + maxEpochs)
    val capped = math.min(optionCap, admitted(s, newest, limit))
    EpochOffset(math.max(s, capped)) // never regress past the checkpoint
  }
  override def reportLatestOffset(): Offset = EpochOffset(newest)
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "graft manifest stream is admission-controlled; " +
        "latestOffset(start, limit) is the only valid form")

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[EpochOffset].id
    val e = end.asInstanceOf[EpochOffset].id
    if (e <= s) Array.empty
    else ManifestSink.read(path)(_.changePartitions(s, e, cdf, onChange))
      .map(p => p: InputPartition).toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    ManifestReadFactory(fieldNames, fieldTypes)
  override def deserializeOffset(json: String): Offset = EpochOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Reads back the sink's own parquet task files for the table-as-a-
  * stream face, the `_file` metadata-column scans and the row-level
  * COW reads, resolving columns BY NAME against each file's embedded
  * schema (a file written before an additive schema change simply
  * serves null for the appended column — the same by-name contract the
  * snap face gets from the parquet DSv2 delegate). Timestamps are UTC
  * micros and dates epoch days in both parquet and `InternalRow`, so
  * the long/int payloads pass through unconverted.
  *
  * COLUMN PRUNING: the reader asks parquet for ONLY the
  * requested data columns that exist in the file (a projection built
  * from the footer schema via `parquet.read.schema`) — without it,
  * every pruned scan would still decode the full row, and the
  * MERGE/UPDATE group-filter subquery (which reads just the join key
  * plus `_file` to find matched groups) would pay a full-table
  * full-width decode at 100 TB. A read that requests NO data columns
  * at all (`count(*)`, `SELECT _file`) never opens a record reader:
  * the footer's row count drives constant-row emission. */
case class ManifestReadFactory(fieldNames: Array[String], fieldTypes: Array[String])
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val mp = partition.asInstanceOf[ManifestFilePartition]
    val file = mp.file
    // POSITION DELETES: load the partition's dv files into
    // a hash set of row ordinals — O(deleted-in-file) executor memory,
    // read once per partition. The reader skips those ordinals, so a
    // merge-on-read delete is value-invisible to every face built on
    // this factory (row-level scans, metadata-column scans, dv-aware
    // batch reads).
    val deleted: java.util.HashSet[java.lang.Long] = {
      val s = new java.util.HashSet[java.lang.Long]()
      mp.dvFiles.foreach { dv =>
        val in = Files.newBufferedReader(Paths.get(dv),
          java.nio.charset.StandardCharsets.UTF_8)
        try {
          var line = in.readLine()
          while (line != null) {
            if (line.nonEmpty) s.add(java.lang.Long.valueOf(line))
            line = in.readLine()
          }
        } finally in.close()
      }
      s
    }
    // footer-first: the file's schema decides the projection (requested
    // data columns that exist in it, by case-insensitive name), its
    // row count serves the zero-column fast path, and its row-group
    // layout serves KEEP-mode group skipping
    val (fileFields, fileRows, fileBlocks) = {
      val fr = org.apache.parquet.hadoop.ParquetFileReader.open(
        new org.apache.parquet.io.LocalInputFile(Paths.get(file)))
      try (fr.getFooter.getFileMetaData.getSchema.getFields,
        fr.getRecordCount,
        fr.getFooter.getBlocks.asScala.toSeq)
      finally fr.close()
    }
    // change-feed KEEP mode: the dv positions are the rows
    // to EMIT, not to skip
    def skipPos(p: Long): Boolean =
      if (mp.keepPositions) !deleted.contains(p) else deleted.contains(p)
    // EQUALITY DELETES: the partition's applicable key
    // files load into per-colset anti-sets (cached per immutable file
    // — O(deleted keys) executor memory, the Iceberg eq-delete
    // caveat; compaction is the resolution). Rows whose normalized
    // key tuple matches any set are skipped; a null key never matches
    // (SQL delete-where semantics).
    val eqKeySets: Seq[(Seq[String], java.util.HashSet[Seq[Any]])] =
      mp.eqFiles.map { case (p, cols) =>
        (cols, ManifestReadFactory.eqKeySet(p, cols)) }
    val eqColsNeeded: Seq[String] = mp.eqFiles.flatMap(_._2).distinct
    // STRUCT/ARRAY columns ride as JSON type tokens
    val compositeTypes: Array[org.apache.spark.sql.types.DataType] =
      fieldTypes.map(t => ManifestWriters.compositeOf(t).orNull)
    val wanted = fieldNames.filterNot(n =>
      n.equalsIgnoreCase("_file") || n.equalsIgnoreCase("_pos") ||
        n.equalsIgnoreCase("_row_id") ||
        n.equalsIgnoreCase("_change_type") ||
        n.equalsIgnoreCase("_commit_version") ||
        n.equalsIgnoreCase("_commit_timestamp"))
    // `_row_id`: a requested row id decodes the file's
    // MATERIALIZED `_graft_rowid` column when one exists (a COW
    // rewrite/compaction carried these rows), else computes base+pos
    val wantRowId = fieldNames.exists(_.equalsIgnoreCase("_row_id"))
    val projected = new java.util.ArrayList[org.apache.parquet.schema.Type]()
    (0 until fileFields.size()).foreach { j =>
      val f = fileFields.get(j)
      if (wanted.exists(_.equalsIgnoreCase(f.getName)) ||
          (wantRowId && f.getName.equalsIgnoreCase(
            ManifestSink.RowIdColumnName)) ||
          // eq-delete key columns decode even when unrequested (the
          // skip test needs them); a file LACKING a key column serves
          // null for it — those rows survive, so the zero-projection
          // fast path below stays valid for such files
          eqColsNeeded.exists(_.equalsIgnoreCase(f.getName)))
        projected.add(f)
    }
    if (projected.isEmpty) {
      // no data column lives in this file (count(*) / metadata-only
      // scans, or a fully pre-evolution file): nothing is decoded — the
      // footer's row count drives emission, ordinals are enumerated
      // (skipping deleted positions) only because `_pos` may be asked
      val posIdx = fieldNames.indexWhere(_.equalsIgnoreCase("_pos"))
      // an un-materialized file's `_row_id` is base+pos (a file WITH a
      // materialized column never takes this path — it was projected)
      val ridIdx = fieldNames.indexWhere(_.equalsIgnoreCase("_row_id"))
      return new PartitionReader[InternalRow] {
        private var pos = -1L
        private val row = new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(fieldNames.indices.map[Any] { i =>
            if (fieldNames(i).equalsIgnoreCase("_file"))
              org.apache.spark.unsafe.types.UTF8String.fromString(
                Paths.get(file).getFileName.toString)
            else if (fieldNames(i).equalsIgnoreCase("_change_type") &&
                mp.changeType != null)
              org.apache.spark.unsafe.types.UTF8String.fromString(mp.changeType)
            else if (fieldNames(i).equalsIgnoreCase("_commit_version") &&
                mp.changeType != null) mp.commitVersion
            else if (fieldNames(i).equalsIgnoreCase("_commit_timestamp") &&
                mp.changeType != null) mp.commitTsMicros
            else null
          }.toArray)
        override def next(): Boolean = {
          pos += 1
          while (pos < fileRows && skipPos(pos)) pos += 1
          pos < fileRows
        }
        override def get(): InternalRow = {
          if (posIdx >= 0) row.update(posIdx, pos)
          if (ridIdx >= 0) row.update(ridIdx,
            if (mp.rowIdBase >= 0) mp.rowIdBase + pos else null)
          row
        }
        override def close(): Unit = ()
      }
    }
    // KEEP-mode ROW-GROUP SKIPPING: a change-feed pre-image
    // read targets a handful of positions in a possibly-wide file —
    // decoding every row group for that is O(file), not O(changed
    // rows). With a KEEP set, only the groups whose row ranges hold
    // kept ordinals are decoded: contiguous needed groups read through
    // one `withFileRange` reader each (the parquet midpoint contract),
    // and the row ordinal tracks each run's true starting row. Skip
    // mode (dv-applying reads) must emit every surviving row and
    // cannot group-skip.
    case class RgRun(startRow: Long, rangeStart: Long, rangeEnd: Long)
    val runs: Seq[RgRun] =
      if (!mp.keepPositions || deleted.isEmpty || fileBlocks.isEmpty)
        Seq(RgRun(0L, 0L, Long.MaxValue))
      else {
        val starts = fileBlocks.scanLeft(0L)(_ + _.getRowCount)
        val needed = fileBlocks.indices.filter { i =>
          val it = deleted.iterator()
          var hit = false
          while (!hit && it.hasNext) {
            val p = it.next().longValue()
            hit = p >= starts(i) && p < starts(i + 1)
          }
          hit
        }
        // contiguous ordinals collapse into one ranged reader
        val runBuf = scala.collection.mutable.ArrayBuffer[RgRun]()
        var k = 0
        while (k < needed.size) {
          val first = needed(k)
          var last = first
          while (k + 1 < needed.size && needed(k + 1) == last + 1) {
            k += 1; last = needed(k)
          }
          runBuf += RgRun(starts(first),
            fileBlocks(first).getStartingPos,
            fileBlocks(last).getStartingPos +
              fileBlocks(last).getCompressedSize)
          k += 1
        }
        runBuf.toSeq
      }
    new PartitionReader[InternalRow] {
      private def openRun(r: RgRun)
          : org.apache.parquet.hadoop.ParquetReader[org.apache.parquet.example.data.Group] = {
        val conf = new org.apache.hadoop.conf.Configuration()
        conf.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
          new org.apache.parquet.schema.MessageType(
            "graft_manifest_projection", projected).toString)
        org.apache.parquet.hadoop.ParquetReader
          .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
            new org.apache.hadoop.fs.Path(file))
          .withConf(conf)
          .withFileRange(r.rangeStart, r.rangeEnd)
          .build()
      }
      private var runIdx = -1
      private var in: org.apache.parquet.hadoop.ParquetReader[
        org.apache.parquet.example.data.Group] = _
      private var cur: org.apache.parquet.example.data.Group = _
      // requested-to-file column index, resolved CASE-INSENSITIVELY
      // against the file's embedded schema (the rest of
      // the stack — schema verification, stats lookup — is
      // case-insensitive, and a declared schema differing only in case
      // must serve values, not silently null-fill); exact-case match
      // wins when the file carries both spellings. -1 = absent
      // (pre-evolution file). Cached per file schema instance.
      private var resolvedFor: org.apache.parquet.schema.GroupType = _
      private var fidx: Array[Int] = _
      private var fprim: Array[org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName] = _
      private def resolve(t: org.apache.parquet.schema.GroupType): Array[Int] =
        fieldNames.map { n0 =>
          // `_row_id` looks up the file's MATERIALIZED id column
          val n = if (n0.equalsIgnoreCase("_row_id"))
            ManifestSink.RowIdColumnName else n0
          if (t.containsField(n)) t.getFieldIndex(n)
          else {
            val fs = t.getFields
            var found = -1
            var j = 0
            while (found < 0 && j < fs.size()) {
              if (fs.get(j).getName.equalsIgnoreCase(n)) found = j
              j += 1
            }
            found
          }
        }
      private var pos = -1L // row ordinal within the file
      private def nextRun(): Boolean = {
        if (in != null) { in.close(); in = null }
        runIdx += 1
        if (runIdx >= runs.size) false
        else {
          in = openRun(runs(runIdx))
          pos = runs(runIdx).startRow - 1
          true
        }
      }
      // eq-delete key indices resolved against the file's schema,
      // cached per group-type instance
      private var eqResolvedFor: org.apache.parquet.schema.GroupType = _
      private var eqIdx: Array[Array[Int]] = _
      private def eqDeleted(g: org.apache.parquet.example.data.Group): Boolean = {
        if (eqKeySets.isEmpty) return false
        val t = g.getType
        if (eqResolvedFor ne t) {
          eqResolvedFor = t
          eqIdx = eqKeySets.map(_._1.map { c =>
            val fs = t.getFields
            var found = -1
            var j = 0
            while (found < 0 && j < fs.size()) {
              if (fs.get(j).getName.equalsIgnoreCase(c)) found = j
              j += 1
            }
            found
          }.toArray).toArray
        }
        var k = 0
        while (k < eqKeySets.length) {
          val idx = eqIdx(k)
          val tuple = new Array[Any](idx.length)
          var ok = true
          var j = 0
          while (ok && j < idx.length) {
            val v =
              if (idx(j) < 0 || g.getFieldRepetitionCount(idx(j)) == 0) null
              else ManifestReadFactory.normalizedValue(g, idx(j))
            if (v == null) ok = false else tuple(j) = v
            j += 1
          }
          if (ok && eqKeySets(k)._2.contains(tuple.toSeq)) return true
          k += 1
        }
        false
      }
      override def next(): Boolean = {
        while (true) {
          if (in == null && !nextRun()) return false
          cur = in.read(); pos += 1
          if (cur == null) { in.close(); in = null }
          else {
            ManifestReadFactory.rowsDecoded.incrementAndGet()
            if (!skipPos(pos) && !eqDeleted(cur)) return true
          }
        }
        false
      }
      override def get(): InternalRow = {
        val fileType = cur.getType
        if (resolvedFor ne fileType) {
          resolvedFor = fileType
          fidx = resolve(fileType)
          fprim = fileType.getFields.asScala.map(f =>
            if (f.isPrimitive) f.asPrimitiveType().getPrimitiveTypeName
            else null).toArray
        }
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          fieldTypes.indices.map[Any] { i =>
            if (fieldNames(i).equalsIgnoreCase("_row_id")) {
              // row tracking: materialized id wins (a
              // carried row keeps its identity across the move); a
              // null/absent materialized value is a FRESH row — its id
              // is the file's base + ordinal; an untracked file serves
              // null (no identity to invent)
              if (fidx(i) >= 0 && cur.getFieldRepetitionCount(fidx(i)) > 0)
                cur.getLong(fidx(i), 0)
              else if (mp.rowIdBase >= 0) mp.rowIdBase + pos
              else null
            }
            else if (fidx(i) < 0) {
              // `_file`/`_pos` metadata columns: the file
              // carries no such field, so serve the partition's base
              // name / the row's physical ordinal — a file with a REAL
              // column of that name resolves above and wins
              if (fieldNames(i).equalsIgnoreCase("_file"))
                org.apache.spark.unsafe.types.UTF8String.fromString(
                  java.nio.file.Paths.get(file).getFileName.toString)
              else if (fieldNames(i).equalsIgnoreCase("_pos")) pos
              else if (fieldNames(i).equalsIgnoreCase("_change_type") &&
                  mp.changeType != null)
                org.apache.spark.unsafe.types.UTF8String.fromString(
                  mp.changeType)
              else if (fieldNames(i).equalsIgnoreCase("_commit_version") &&
                  mp.changeType != null) mp.commitVersion
              else if (fieldNames(i).equalsIgnoreCase("_commit_timestamp")
                  && mp.changeType != null) mp.commitTsMicros
              else null // pre-evolution file
            }
            else {
              val fi = fidx(i)
              if (cur.getFieldRepetitionCount(fi) == 0) null
              else if (compositeTypes(i) != null) compositeTypes(i) match {
                // STRUCT/ARRAY/MAP column: inner fields
                // resolve BY NAME against the file's group — a
                // pre-evolution file missing an added inner field
                // serves null, a pre-widening narrow inner primitive
                // promotes, both exactly the top-level contracts
                // applied recursively (array elements and map values
                // included)
                case st: org.apache.spark.sql.types.StructType =>
                  ManifestReadFactory.groupToRow(cur.getGroup(fi, 0), st)
                case at: org.apache.spark.sql.types.ArrayType =>
                  ManifestReadFactory.groupToArray(cur.getGroup(fi, 0), at)
                case mt: org.apache.spark.sql.types.MapType =>
                  ManifestReadFactory.groupToMap(cur.getGroup(fi, 0), mt)
                case other => throw new IllegalArgumentException(
                  s"manifest reader cannot decode a $other column")
              }
              else fieldTypes(i) match {
                // pre-widening files store the NARROW primitive (round
                // 16, type widening): promote by the file's own
                // physical type, exactly as the parquet delegate does
                case "long" =>
                  if (fprim(fi) == org.apache.parquet.schema
                      .PrimitiveType.PrimitiveTypeName.INT32)
                    cur.getInteger(fi, 0).toLong
                  else cur.getLong(fi, 0)
                case "timestamp" => cur.getLong(fi, 0)
                case "integer" | "date" => cur.getInteger(fi, 0)
                case "short" => cur.getInteger(fi, 0).toShort
                case "byte" => cur.getInteger(fi, 0).toByte
                case "double" =>
                  if (fprim(fi) == org.apache.parquet.schema
                      .PrimitiveType.PrimitiveTypeName.FLOAT)
                    cur.getFloat(fi, 0).toDouble
                  else cur.getDouble(fi, 0)
                case "float" => cur.getFloat(fi, 0)
                case "boolean" => cur.getBoolean(fi, 0)
                case "string" => org.apache.spark.unsafe.types.UTF8String
                  .fromBytes(cur.getBinary(fi, 0).getBytes)
                case other => throw new IllegalArgumentException(
                  "manifest stream supports long/integer/short/byte/double/" +
                    s"float/boolean/string/timestamp/date columns, got $other")
              }
            }
          }.toArray)
      }
      override def close(): Unit = if (in != null) in.close()
    }
  }
}

object ManifestReadFactory {
  /** Parquet rows DECODED by the group reader — observability for the
    * KEEP-mode row-group skipping pin: a pre-image read of K positions
    * in a multi-group file must decode O(groups holding K), not
    * O(file). */
  private[graft] val rowsDecoded = new java.util.concurrent.atomic.AtomicLong

  /** One field of a parquet group NORMALIZED for equality-delete key
    * comparison: the long family as Long, strings as
    * String — the same scale on the data and key sides (both written
    * by this sink's writer), so a tuple match can never disagree on
    * encoding. Unsupported types answer null = never matches. */
  private[sources] def normalizedValue(
      g: org.apache.parquet.example.data.Group, fi: Int): Any = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val f = g.getType.getType(fi)
    if (!f.isPrimitive) null
    else f.asPrimitiveType().getPrimitiveTypeName match {
      case INT64 => g.getLong(fi, 0)
      case INT32 => g.getInteger(fi, 0).toLong
      case BINARY => g.getBinary(fi, 0).toStringUsingUTF8
      case _ => null
    }
  }

  /** An equality-delete key file as a tuple anti-set, cached per
    * immutable file identity (committed files never rewrite) — one
    * decode per executor per file, shared by every partition that
    * applies it. Tuples with null keys drop (null never matches). */
  private val EqCacheCap = 64
  private val eqCache = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.HashSet[Seq[Any]]]()
  private[sources] def eqKeySet(path: String, cols: Seq[String])
      : java.util.HashSet[Seq[Any]] = {
    val attrs = Files.readAttributes(Paths.get(path),
      classOf[java.nio.file.attribute.BasicFileAttributes])
    val key = s"$path|${attrs.size}|${attrs.lastModifiedTime.toMillis}|" +
      cols.mkString(",")
    val hit = eqCache.get(key)
    if (hit != null) return hit
    val set = new java.util.HashSet[Seq[Any]]()
    val reader = org.apache.parquet.hadoop.ParquetReader
      .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
        new org.apache.hadoop.fs.Path(path))
      .withConf(new org.apache.hadoop.conf.Configuration())
      .build()
    try {
      var g = reader.read()
      var idx: Array[Int] = null
      var resolvedFor: org.apache.parquet.schema.GroupType = null
      while (g != null) {
        val t = g.getType
        if (resolvedFor ne t) {
          resolvedFor = t
          idx = cols.map { c =>
            val fs = t.getFields
            var found = -1
            var j = 0
            while (found < 0 && j < fs.size()) {
              if (fs.get(j).getName.equalsIgnoreCase(c)) found = j
              j += 1
            }
            found
          }.toArray
        }
        val tuple = new Array[Any](idx.length)
        var ok = true
        var j = 0
        while (ok && j < idx.length) {
          val v = if (idx(j) < 0 || g.getFieldRepetitionCount(idx(j)) == 0)
            null else normalizedValue(g, idx(j))
          if (v == null) ok = false else tuple(j) = v
          j += 1
        }
        if (ok) set.add(tuple.toSeq)
        g = reader.read()
      }
    } finally reader.close()
    if (eqCache.size >= EqCacheCap) eqCache.clear()
    eqCache.put(key, set)
    set
  }
  /** One parquet GROUP value as an `InternalRow` of `want` — inner
    * fields resolve by case-insensitive NAME against the file's own
    * group type (absent → null: a pre-evolution file simply lacks an
    * added inner field) and narrow committed primitives PROMOTE
    * (int-family → long, float → double: nested type widening). */
  private[sources] def groupToRow(g: org.apache.parquet.example.data.Group,
      want: org.apache.spark.sql.types.StructType): InternalRow = {
    import org.apache.spark.sql.types._
    val t = g.getType
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      want.fields.map[Any] { f =>
        val fi = {
          if (t.containsField(f.name)) t.getFieldIndex(f.name)
          else {
            val fs = t.getFields
            var found = -1
            var j = 0
            while (found < 0 && j < fs.size()) {
              if (fs.get(j).getName.equalsIgnoreCase(f.name)) found = j
              j += 1
            }
            found
          }
        }
        if (fi < 0 || g.getFieldRepetitionCount(fi) == 0) null
        else decodeValue(g, fi, f.dataType)
      })
  }

  /** One parquet LIST group as Catalyst [[ArrayData]]: one
    * element per repeated `list` entry, an entry with its `element`
    * unset decoding to a null element. Element evolution rides the
    * same by-name/promoting recursion as struct fields. */
  private[sources] def groupToArray(g: org.apache.parquet.example.data.Group,
      want: org.apache.spark.sql.types.ArrayType)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = g.getFieldRepetitionCount(0)
    val vals = new Array[Any](n)
    var k = 0
    while (k < n) {
      val entry = g.getGroup(0, k)
      vals(k) =
        if (entry.getFieldRepetitionCount(0) == 0) null
        else decodeValue(entry, 0, want.elementType)
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(vals)
  }

  /** One parquet MAP group as Catalyst [[ArrayBasedMapData]] (round
    * 18): one pair per repeated `key_value` entry; an entry with its
    * `value` unset decodes to a null value. Value evolution rides the
    * same by-name/promoting recursion as array elements. */
  private[sources] def groupToMap(g: org.apache.parquet.example.data.Group,
      want: org.apache.spark.sql.types.MapType)
      : org.apache.spark.sql.catalyst.util.MapData = {
    val n = g.getFieldRepetitionCount(0)
    val keys = new Array[Any](n)
    val vals = new Array[Any](n)
    var k = 0
    while (k < n) {
      val entry = g.getGroup(0, k)
      keys(k) = decodeValue(entry, 0, want.keyType)
      vals(k) =
        if (entry.getFieldRepetitionCount(1) == 0) null
        else decodeValue(entry, 1, want.valueType)
      k += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayBasedMapData(keys, vals)
  }

  /** Decode field `fi` of `g` as `want` — the shared scalar/composite
    * decode with narrow-committed-primitive PROMOTION (int family →
    * long, float → double) by the file's own physical type. */
  private def decodeValue(g: org.apache.parquet.example.data.Group,
      fi: Int, want: org.apache.spark.sql.types.DataType): Any = {
    import org.apache.spark.sql.types._
    val t = g.getType
    def prim = t.getType(fi).asPrimitiveType().getPrimitiveTypeName
    want match {
      case inner: StructType => groupToRow(g.getGroup(fi, 0), inner)
      case inner: ArrayType => groupToArray(g.getGroup(fi, 0), inner)
      case inner: MapType => groupToMap(g.getGroup(fi, 0), inner)
      case LongType =>
        if (prim == org.apache.parquet.schema.PrimitiveType
            .PrimitiveTypeName.INT32) g.getInteger(fi, 0).toLong
        else g.getLong(fi, 0)
      case TimestampType => g.getLong(fi, 0)
      case IntegerType | DateType => g.getInteger(fi, 0)
      case ShortType => g.getInteger(fi, 0).toShort
      case ByteType => g.getInteger(fi, 0).toByte
      case DoubleType =>
        if (prim == org.apache.parquet.schema.PrimitiveType
            .PrimitiveTypeName.FLOAT) g.getFloat(fi, 0).toDouble
        else g.getDouble(fi, 0)
      case FloatType => g.getFloat(fi, 0)
      case BooleanType => g.getBoolean(fi, 0)
      case StringType => org.apache.spark.unsafe.types.UTF8String
        .fromBytes(g.getBinary(fi, 0).getBytes)
      case other => throw new IllegalArgumentException(
        s"manifest reader cannot decode a value of type $other")
    }
  }
}
