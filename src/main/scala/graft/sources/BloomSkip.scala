package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.util.Base64

import org.apache.spark.util.sketch.BloomFilter

/** PER-FILE BLOOM SKIPPING (the parquet-bloom /
  * Iceberg-Puffin shape re-expressed at the manifest level): a point
  * read on a high-cardinality NON-partition column — the reference's
  * own `CLUSTER BY team_id, nationality_id` access intent
  * (etl_kaggle_to_big_query.py:89-90) — cannot be pruned by `#stats`
  * min/max alone once key ranges are near-uniform per file: at 100 TB
  * every file's envelope straddles every key and an equality scan
  * reads the whole table. Opt-in `#bloom <file> <col>:<b64>[;…]`
  * records close that gap:
  *
  *  - `bloom.columns` (table property, comma-separated logical names)
  *    selects the columns; `bloom.bits` sizes the filter (default
  *    2^18 bits = 32 KiB serialized, bounded by [[MinBits]]/
  *    [[MaxBits]] — the record-size bound LakeLadder pins). Unknown
  *    names are skipped, non-long-family/string types never bloom —
  *    absence of a record only costs pruning, never correctness.
  *  - the WRITER inserts each non-null value as it streams rows
  *    (free at write time, like min/max): long-family columns at the
  *    stats payload scale (timestamps as UTC micros, dates as epoch
  *    days), strings as UTF-8 bytes — exactly the normalization
  *    [[SnapStats.longLit]] applies on the read side, so writer and
  *    planner can never disagree about a value's encoding.
  *  - BOTH planners consult the filter for equality/IN predicates
  *    after the min/max envelope passes: the driver walk attaches
  *    blooms to the planned [[FileStat]]s, and the distributed
  *    checkpoint job reads the raw record line from the checkpoint's
  *    `bloom` column and re-parses with this same code — one grammar,
  *    no second implementation to disagree.
  *
  * The filter is Spark's own `util.sketch.BloomFilter` (public API):
  * false POSITIVES only, so a bloom can only fail to prune — never
  * prune a file that holds a matching row. Records ride compaction
  * and fast_forward exactly like `#stats`. */
object BloomSkip {
  /** Default filter size: 2^18 bits = 32 KiB serialized (~44 KiB as
    * base64 in the record). At the optimal load (~27k distinct values
    * per file) fpp is 1%; denser files degrade fpp gracefully —
    * conservative, never wrong. */
  val DefaultBits: Int = 1 << 18
  val MinBits: Int = 1 << 10
  /** 2^21 bits = 256 KiB serialized — the hard record-size bound. */
  val MaxBits: Int = 1 << 21

  /** Optimal expected-item count for `bits` at ~1% fpp (m/n ≈ 9.6),
    * which also fixes the hash count Spark derives (k = 7). */
  def create(bits: Int): BloomFilter =
    BloomFilter.create(math.max(1L, (bits / 9.6).toLong), bits.toLong)

  def toB64(bf: BloomFilter): String = {
    val out = new ByteArrayOutputStream()
    bf.writeTo(out)
    Base64.getEncoder.encodeToString(out.toByteArray)
  }

  /** Deserialization cache: one planning cycle probes the same file's
    * filter once per predicate, and repeated queries re-probe the same
    * files — the decoded form is cached keyed by its exact payload
    * (clear-all past the cap, the fragment-cache discipline). An
    * undecodable payload answers None: never prune on it. */
  private val CacheCap = 256
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, BloomFilter]()
  def fromB64(b64: String): Option[BloomFilter] = {
    val hit = cache.get(b64)
    if (hit != null) Some(hit)
    else try {
      val bf = BloomFilter.readFrom(
        new ByteArrayInputStream(Base64.getDecoder.decode(b64)))
      if (cache.size >= CacheCap) cache.clear()
      cache.put(b64, bf)
      Some(bf)
    } catch { case _: Exception => None }
  }

  /** The writer's PARQUET ROW-GROUP size for `path`: the
    * `rowgroup.bytes` table property, 0 = the parquet default
    * (128 MiB). Smaller groups trade a little compression for
    * position-skipping granularity — the KEEP-mode CDC read and any
    * row-group-pruned scan decode only the groups that hold marked
    * positions, so a 3-row pre-image read of a wide file stops being
    * a whole-file decode. */
  val MinRowGroupBytes: Int = 64 * 1024
  val MaxRowGroupBytes: Int = 512 * 1024 * 1024
  def rowGroupBytesOf(snap: ManifestSink.Snapshot): Int =
    snap.props.get("rowgroup.bytes")
      .flatMap(_.toIntOption).map { b =>
        require(b >= MinRowGroupBytes && b <= MaxRowGroupBytes,
          s"rowgroup.bytes must be in [$MinRowGroupBytes, " +
            s"$MaxRowGroupBytes], got $b")
        b
      }.getOrElse(0)

  /** Shared logical→physical resolution for record-column configs. */
  private[sources] def physCols(snap: ManifestSink.Snapshot,
      prop: String): Seq[String] = {
    val physOfLogical = snap.colmap.collect {
      case (p, l) if l != ManifestSink.DroppedColumn => l.toLowerCase -> p }
    snap.props.get(prop).toSeq
      .flatMap(_.split(",").toSeq).map(_.trim).filter(_.nonEmpty)
      .map(c => physOfLogical.getOrElse(c.toLowerCase, c))
  }

  /** The bloom config of writes against `snap`'s table: (PHYSICAL
    * column names, numBits). Configured names are LOGICAL (the
    * user-facing face) and resolve through the column mapping, so a
    * renamed column keeps blooming under its fixed physical key — the
    * same contract as `#stats`. */
  def configOf(snap: ManifestSink.Snapshot): (Seq[String], Int) = {
    val cols = physCols(snap, "bloom.columns")
    if (cols.isEmpty) (Seq.empty, DefaultBits)
    else {
      val bits = snap.props.get("bloom.bits").flatMap(_.toIntOption)
        .getOrElse(DefaultBits)
      require(bits >= MinBits && bits <= MaxBits,
        s"bloom.bits must be in [$MinBits, $MaxBits], got $bits")
      (cols, bits)
    }
  }
}

/** PER-FILE NDV SKETCHES (the Iceberg-Puffin theta-sketch
  * shape via Apache DataSketches HLL, which Spark itself bundles for
  * `hll_sketch_agg`): opt-in `#ndv <file> <col>:<b64>[;…]` records —
  * the writer updates one HLL per configured column as rows stream
  * (free at write, like min/max and blooms), and the PLANNER merges
  * the live files' sketches (HLL union is lossless) into per-column
  * distinct counts the scan's `estimateStatistics` uses: an equality
  * predicate on a high-NDV column scales the size estimate by 1/ndv,
  * which is what lets Spark BROADCAST the filtered side of a join
  * that min/max-only metadata would sort-merge. Records ride
  * compaction, COW rewrites and fast_forward like `#stats`; absence
  * only costs plan quality, never correctness. */
object NdvSketch {
  /** lgK = 12: ≤ ~2.5 KiB compact bytes per sketch, ~1.6% RSE —
    * exact below ~512 distincts (the HLL sparse mode). */
  val LgK: Int = 12

  def create(): org.apache.datasketches.hll.HllSketch =
    new org.apache.datasketches.hll.HllSketch(LgK)

  def toB64(sk: org.apache.datasketches.hll.HllSketch): String =
    Base64.getEncoder.encodeToString(sk.toCompactByteArray)

  def fromB64(b64: String)
      : Option[org.apache.datasketches.hll.HllSketch] =
    try Some(org.apache.datasketches.hll.HllSketch.heapify(
      Base64.getDecoder.decode(b64)))
    catch { case _: Exception => None } // undecodable: no estimate

  /** PHYSICAL columns of the `ndv.columns` table property. */
  def configOf(snap: ManifestSink.Snapshot): Seq[String] =
    BloomSkip.physCols(snap, "ndv.columns")
}
