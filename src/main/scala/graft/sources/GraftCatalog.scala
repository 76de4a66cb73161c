package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{FunctionCatalog, Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.functions.UnboundFunction
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetDataSourceV2
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A `TableCatalog` plugin naming the engine's tables so pure SQL works
  * with no temp-view registration — the Spark-native form of the
  * reference's external-table catalog (BigQuery datasets registered once,
  * queried by name: reference
  * `prefect/flows/etl_kaggle_to_big_query.py:70-78`).
  *
  * Registration is one session conf —
  * `spark.sql.catalog.graft = graft.sources.GraftCatalog` — after which
  * `SELECT … FROM graft.sf.orders` resolves through Spark's
  * CatalogManager. Two namespaces:
  *
  *  - `sf`: the scale-factor parquet tables. Resolution DELEGATES to the
  *    built-in parquet DSv2 provider (`ParquetDataSourceV2.getTable`), so
  *    a catalog read carries the exact scan machinery every path-based
  *    read has — filter pushdown, column pruning, partition pruning,
  *    vectorized reader. The catalog adds naming, not a read path: at
  *    100 TB this is the difference between "a catalog entry per table"
  *    and "every query hard-codes storage layout".
  *  - `gen`: the synthetic DSv2 connector ([[SyntheticTable]]) under a
  *    name, geometry taken from catalog options
  *    (`spark.sql.catalog.graft.gen.rows` etc.) — showing a catalog can
  *    mix storage-backed and computed tables, the federation shape.
  *
  * The sf directory is read LIVE from the session conf
  * (`spark.sql.catalog.graft.dir`) on every table load, falling back to
  * the options snapshot Spark passed at `initialize`: CatalogManager
  * caches the plugin instance per session, and a live read lets one
  * session re-point scales (tests do) without a stale-snapshot surprise.
  *
  *  - `mut`: the one WRITABLE namespace — hive-partitioned parquet
  *    tables under `spark.sql.catalog.graft.mut.dir` served through
  *    [[MutableTable]], whose `SupportsDeleteV2` face answers
  *    partition-predicate `DELETE FROM` in metadata only (and refuses
  *    row-level predicates).
  *
  * DDL: the `snap` namespace is fully DDL-operable —
  * `CREATE TABLE` / `CREATE TABLE … AS SELECT` writes epoch 0 with the
  * `#schema` record (the reference's signature materialization is
  * CTAS, reference `etl_kaggle_to_big_query.py:88-110`), `ALTER TABLE
  * … ADD COLUMN` appends the widened `#schema` (the additive evolution
  * the read path already honors), `DROP TABLE` removes log + data.
  * Created tables are self-describing (schema resolved from the log;
  * the schema conf survives as an override for hand-built logs). Every
  * other namespace stays read-only: `sf`/`gen`/`mut` layout is owned
  * by the materialization stage ([[graft.ingest.Materialize]]).
  * Functions are served through the `FunctionCatalog` face (`fn`
  * namespace, [[CatalogFunctions]]).
  */
class GraftCatalog extends TableCatalog with FunctionCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {
  import GraftCatalog._

  private var catalogName: String = _
  private var initOptions: CaseInsensitiveStringMap = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    initOptions = options
  }

  override def name(): String = catalogName

  /** Catalog option `key`, preferring the live session conf
    * (`spark.sql.catalog.<name>.<key>`) over the initialize-time
    * snapshot. */
  private def option(key: String): Option[String] =
    SparkSession.getActiveSession
      .flatMap(_.conf.getOption(s"spark.sql.catalog.$catalogName.$key"))
      .orElse(Option(initOptions.get(key)))

  private def sfDir: String = option("dir").getOrElse(
    throw new IllegalArgumentException(
      s"set spark.sql.catalog.$catalogName.dir to a testdata sf directory"))

  private def sfPath(table: String): java.io.File =
    new java.io.File(s"$sfDir/$table.parquet")

  override def listTables(namespace: Array[String]): Array[Identifier] =
    namespace.toSeq match {
      case Seq(SfNs) =>
        SfTables.filter(sfPath(_).exists())
          .map(Identifier.of(namespace, _)).toArray
      case Seq(GenNs) => Array(Identifier.of(namespace, GenTable))
      case Seq(MutNs) =>
        option(s"$MutNs.dir").map(new java.io.File(_)) match {
          case Some(d) if d.isDirectory =>
            d.listFiles().filter(_.isDirectory)
              .map(f => Identifier.of(namespace, f.getName))
          case _ => Array.empty[Identifier]
        }
      case Seq(SnapNs) =>
        option(s"$SnapNs.dir").map(new java.io.File(_)) match {
          case Some(d) if d.isDirectory =>
            d.listFiles().filter(f => f.isDirectory &&
                !new java.io.File(f, ManifestSink.RenamedMarker).exists())
              .map(f => Identifier.of(namespace, f.getName))
          case _ => Array.empty[Identifier]
        }
      case _ => throw new NoSuchNamespaceException(namespace)
    }

  override def loadTable(ident: Identifier): Table = ident.namespace().toSeq match {
    case Seq(SfNs) if ident.name() == EventsTable && sfPath(EventsTable).exists() =>
      // events needs the [[Tables.events]] ts normalization. The live
      // corpus stores timestamp[us] (isAdjustedToUTC=false → inferred
      // TIMESTAMP_NTZ); the session runs in UTC, so declaring the column
      // as TIMESTAMP via a user-specified schema is VALUE-IDENTITY on
      // the stored micros — the plain parquet DSv2 table serves it with
      // pushdown/pruning/vectorization intact, zero custom scan code
      // (IngestSpec pins catalog-read ≡ Tables.events values).
      val path = sfPath(EventsTable).toString
      val spark = SparkSession.active
      val inferred = spark.read.parquet(path).schema
      inferred("ts").dataType match {
        case org.apache.spark.sql.types.TimestampNTZType |
             org.apache.spark.sql.types.TimestampType =>
          val normalized = org.apache.spark.sql.types.StructType(inferred.map(f =>
            if (f.name == "ts")
              f.copy(dataType = org.apache.spark.sql.types.TimestampType)
            else f))
          new ParquetDataSourceV2().getTable(
            new CaseInsensitiveStringMap(Map("path" -> path).asJava), normalized)
        case other =>
          // a TIMESTAMP(NANOS) corpus reads as nanos LONGS under the
          // pinned nanosAsLong conf; a schema override cannot divide
          // values, so refuse loudly rather than serve nanos under a
          // micros-typed name
          throw new UnsupportedOperationException(
            s"graft.sf.events: cannot catalog-serve ts of type $other " +
              "(TIMESTAMP(NANOS) corpus); read via graft.sources.Tables.events")
      }
    case Seq(SfNs) if SfTables.contains(ident.name()) && sfPath(ident.name()).exists() =>
      // fresh provider per load: FileDataSourceV2 memoizes its Table, and
      // a re-pointed dir must not serve the previous scale's files
      new ParquetDataSourceV2().getTable(new CaseInsensitiveStringMap(
        Map("path" -> sfPath(ident.name()).toString).asJava))
    case Seq(MutNs) =>
      // the writable (delete-capable) namespace: hive-partitioned
      // parquet under <mut.dir>/<table>, partition column from
      // <mut.partcol> (default event_type) — see [[MutableTable]]
      GraftCatalog.requireValidTableName(ident.name())
      val dir = option(s"$MutNs.dir").getOrElse(
        throw new NoSuchTableException(ident))
      val root = new java.io.File(dir, ident.name())
      if (!root.isDirectory) throw new NoSuchTableException(ident)
      MutableTable(root.toString,
        option(s"$MutNs.partcol").getOrElse("event_type"))
    case Seq(GenNs) if ident.name() == GenTable =>
      SyntheticTable(
        option("gen.rows").getOrElse("1000").toLong,
        option("gen.slices").getOrElse("8").toInt,
        option("gen.batchRows").getOrElse("1000").toLong,
        option("gen.columnar").getOrElse("false").toBoolean)
    case Seq(SnapNs) => snapTable(ident, None)
    case Seq(SnapNs, tname) if SnapMetaTable.Names.contains(ident.name()) =>
      // METADATA TABLES: `graft.snap.t.files` /
      // `graft.snap.t.history` surface the epoch log as queryable
      // relations — what did compaction do, what will vacuum reclaim,
      // how many files does the snapshot hold (the Iceberg
      // `db.table.files`/`.history` shape). Metadata-sized by
      // construction: rows derive from the O(fragments) log, served as
      // a LocalScan — never a distributed read.
      GraftCatalog.requireValidTableName(tname)
      val root = option(s"$SnapNs.dir").getOrElse(
        throw new NoSuchTableException(ident))
      val tdir = new java.io.File(root, tname)
      if (!tdir.isDirectory) throw new NoSuchTableException(ident)
      if (ident.name() == "changes")
        // the CDC face: a real distributed table, not a
        // driver-derived LocalScan like the other metadata tables
        new SnapChangesTable(tname, tdir.toString)
      else new SnapMetaTable(tname, tdir.toString, ident.name())
    case _ => throw new NoSuchTableException(ident)
  }

  /** TIME TRAVEL (`SELECT … FROM graft.snap.t VERSION AS OF n`): Spark
    * routes the AS OF clause here, and the snapshot IS the
    * [[ManifestSink]] epoch log — version n = the union of epoch
    * manifests 0..n, reconstructed by [[ManifestSink.Snapshot.filesAsOf]]
    * (refused below the compaction-sweep horizon, the log-retention
    * contract). Only the `snap` namespace is versioned; everything else
    * keeps the default refusal. */
  override def loadTable(ident: Identifier, version: String): Table =
    ident.namespace().toSeq match {
      case Seq(SnapNs) =>
        version.toLongOption match {
          case Some(v) => snapTable(ident, Some(v))
          case None =>
            // a non-numeric version is a BRANCH (main + the
            // staged adds) or a TAG (a pinned epoch id)
            val tdir = new java.io.File(snapRoot(ident), ident.name())
            GraftCatalog.requireValidTableName(ident.name())
            val snap = ManifestSink.snapshot(tdir.toString)
            if (snap.branches.contains(version))
              snapTable(ident, None, branch = Some(version), loaded = Some(snap))
            else {
              val tags = snap.tags
              val v = tags.getOrElse(version,
                throw new IllegalArgumentException(
                  s"graft.snap.${ident.name()}: no tag or branch " +
                    s"'$version' (tags: ${if (tags.isEmpty) "none"
                      else tags.toSeq.sorted.map { case (n, e) => s"$n=$e" }
                        .mkString(", ")}; integers are epoch ids)"))
              snapTable(ident, Some(v), loaded = Some(snap))
            }
        }
      case _ => super.loadTable(ident, version)
    }

  /** `TIMESTAMP AS OF`: Spark passes the literal as UTC
    * MICROS; resolution picks the newest live epoch committed at or
    * before it ([[ManifestSink.Snapshot.versionAt]]) and serves that
    * version through the same snapshot machinery VERSION AS OF uses.
    * Below the sweep horizon the historical commit times are gone
    * with the swept epochs, so the read refuses with the boundary
    * spelled out — never a silently-wrong snapshot. */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    ident.namespace().toSeq match {
      case Seq(SnapNs) =>
        GraftCatalog.requireValidTableName(ident.name())
        val tdir = new java.io.File(snapRoot(ident), ident.name())
        val snap = ManifestSink.snapshot(tdir.toString)
        snapTable(ident, Some(snap.versionAt(timestamp)), loaded = Some(snap))
      case _ => super.loadTable(ident, timestamp)
    }

  /** A [[ManifestSink]]-committed table under `<snap.dir>/<name>`,
    * served at its current or an as-of snapshot. The read schema is
    * resolved in precedence order:
    *
    *  1. the per-TABLE schema conf (`snap.<name>.schema`, set through
    *     [[GraftCatalog.register]]), then the catalog-wide
    *     `snap.schema` — two manifest tables with different shapes can
    *     both be served, and a widened conf is how logs written without
    *     catalog DDL declare additive evolution;
    *  2. the NEWEST `#schema` record the epoch log itself carries —
    *     which makes a `CREATE TABLE`d (or CTAS'd) snap table fully
    *     self-describing: the log is the source of truth and no
    *     session conf is needed at all (the Delta/Iceberg shape; the
    *     conf survives as an override for hand-built logs).
    *
    * Either way the declared schema is verified against every recorded
    * `#schema` before serving ([[ManifestSink.Snapshot.verifyDeclared]]).
    * The table answers its metadata from ONE load-time snapshot —
    * `loaded` when the caller already took it to resolve a tag, branch
    * or timestamp. */
  private def snapTable(ident: Identifier, asOf: Option[Long],
      branch: Option[String] = None,
      loaded: Option[ManifestSink.Snapshot] = None): Table = {
    GraftCatalog.requireValidTableName(ident.name())
    val tdir = new java.io.File(snapRoot(ident), ident.name())
    if (!tdir.isDirectory) throw new NoSuchTableException(ident)
    val marker = tdir.toPath.resolve(ManifestSink.RenamedMarker)
    if (java.nio.file.Files.exists(marker))
      // a TOMBSTONE resolves to a stub (not a thrown error) so `DROP
      // TABLE old` can still resolve and reclaim it; every read or
      // write against the stub refuses naming the new table
      return new RenamedTombstoneTable(ident.name(),
        new String(java.nio.file.Files.readAllBytes(marker),
          java.nio.charset.StandardCharsets.UTF_8).trim)
    val snap = loaded.getOrElse(ManifestSink.snapshot(tdir.toString))
    val ddl = option(s"$SnapNs.${ident.name()}.schema")
      .orElse(option(s"$SnapNs.schema"))
      .orElse(snap.widestSchema)
      .getOrElse(throw new IllegalArgumentException(
        s"graft.snap.${ident.name()}: the manifest log records no " +
          "servable #schema (hand-built log, or records no single " +
          "recorded schema contains) — set " +
          s"spark.sql.catalog.$catalogName.$SnapNs.${ident.name()}.schema " +
          s"(or the catalog-wide $SnapNs.schema) to the table's DDL"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(ddl)
    // DELETE mode: copy-on-write (default) rewrites the
    // touched files; merge-on-read writes position-delete files.
    // Precedence: session conf > the log's `delete.mode` table
    // property (TBLPROPERTIES at CREATE / ALTER SET) > cow.
    val mode = option(s"$SnapNs.${ident.name()}.deleteMode")
      .orElse(option(s"$SnapNs.deleteMode"))
      .orElse(snap.props.get("delete.mode"))
      .getOrElse("cow")
    require(mode == "cow" || mode == "mor",
      s"graft.snap.${ident.name()}: deleteMode must be cow|mor, got '$mode'")
    // COLUMN MAPPING: the declared/conf/log schema is the
    // PHYSICAL one (what files, #stats and #spec are keyed by); the
    // log's #colmap renames it to the LOGICAL schema users query
    new SnapTable(ident.name(), tdir.toString, schema, asOf, snap, mode, branch)
  }

  private def snapRoot(ident: Identifier): String =
    option(s"$SnapNs.dir").getOrElse(throw new NoSuchTableException(ident))

  /** The `FunctionCatalog` face: connector-shipped functions under the
    * `fn` namespace, resolvable by name with zero session registration
    * (`SELECT graft.fn.band(…)`) — see [[CatalogFunctions]] for why the
    * scalar one codegens like a builtin. */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    namespace.toSeq match {
      case Seq(FnNs) =>
        FnNames.map(Identifier.of(namespace, _)).toArray
      case Seq(SfNs) | Seq(GenNs) | Seq(MutNs) | Seq(SnapNs) => Array.empty
      case _ => throw new NoSuchNamespaceException(namespace)
    }

  override def loadFunction(ident: Identifier): UnboundFunction =
    ident.namespace().toSeq match {
      case Seq(FnNs) if ident.name() == "band" => CatalogFunctions.BandFn
      case Seq(FnNs) if ident.name() == "xsum" => CatalogFunctions.XorAggFn
      case _ => throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchFunctionException(ident)
    }

  /** The `ProcedureCatalog` face: operational commands under the `sys`
    * namespace, invoked as `CALL graft.sys.vacuum(table, older_than_ms)`
    * — storage reclamation and log maintenance for `snap` manifest
    * tables from pure SQL ([[VacuumProcedure]], the Delta-VACUUM shape,
    * and its siblings). ONE table names every procedure and builds it
    * from its own name (the snap dir and schema are resolved at CALL
    * time), so what is listed is exactly what loads. */
  private val procedures = scala.collection.immutable.ListMap[String,
      String => org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure](
    "vacuum" -> (p => new VacuumProcedure(() => snapDirOrFail(p))),
    "compact_data" -> (p =>
      new CompactProcedure(() => snapDirOrFail(p), snapSchemaOf(p))),
    "set_partition_spec" -> (p =>
      new SetPartitionSpecProcedure(() => snapDirOrFail(p), snapSchemaOf(p))),
    "rollback" -> (p =>
      new RollbackProcedure(() => snapDirOrFail(p), snapSchemaOf(p))),
    "create_tag" -> (p => new TagProcedure(() => snapDirOrFail(p), create = true)),
    "drop_tag" -> (p => new TagProcedure(() => snapDirOrFail(p), create = false)),
    "create_branch" -> (p =>
      new BranchProcedure(() => snapDirOrFail(p), create = true)),
    "drop_branch" -> (p =>
      new BranchProcedure(() => snapDirOrFail(p), create = false)),
    "fast_forward" -> (p => new FastForwardProcedure(() => snapDirOrFail(p))),
    "expire_snapshots" -> (p =>
      new ExpireSnapshotsProcedure(() => snapDirOrFail(p))),
    "register_feed" -> (p =>
      new FeedProcedure(() => snapDirOrFail(p), register = true)),
    "unregister_feed" -> (p =>
      new FeedProcedure(() => snapDirOrFail(p), register = false)))

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    namespace.toSeq match {
      case Seq(SysNs) => procedures.keys.map(Identifier.of(namespace, _)).toArray
      case Seq(SfNs) | Seq(GenNs) | Seq(MutNs) | Seq(SnapNs) | Seq(FnNs) =>
        Array.empty
      case _ => throw new NoSuchNamespaceException(namespace)
    }

  /** A procedure's schema resolution for a snap table: the per-table
    * conf, the namespace conf, else the log's own self-describing
    * `#schema` records — same precedence as the read path. */
  private def snapSchemaOf(proc: String): String =>
      org.apache.spark.sql.types.StructType =
    table => org.apache.spark.sql.types.StructType.fromDDL(
      option(s"$SnapNs.$table.schema")
        .orElse(option(s"$SnapNs.schema"))
        .orElse(ManifestSink.snapshot(
          new java.io.File(snapDirOrFail(proc), table).toString).widestSchema)
        .getOrElse(
          throw new IllegalArgumentException(
            s"graft.snap.$table records no servable #schema — set " +
              s"spark.sql.catalog.$catalogName.$SnapNs.$table.schema " +
              s"before CALL $catalogName.$SysNs.$proc")))

  private def snapDirOrFail(proc: String): String =
    option(s"$SnapNs.dir").getOrElse(
      throw new IllegalArgumentException(
        s"set spark.sql.catalog.$catalogName.$SnapNs.dir before " +
          s"CALL $catalogName.$SysNs.$proc"))

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    ident.namespace().toSeq match {
      case Seq(SysNs) if procedures.contains(ident.name()) =>
        procedures(ident.name())(ident.name())
      case _ => throw new UnsupportedOperationException(
        s"$catalogName has no procedure $ident (available: " +
          procedures.keys.map(n => s"$SysNs.$n").mkString(", ") + ")")
    }

  /** `CREATE TABLE graft.snap.t (…)` / `CREATE TABLE … AS SELECT`
    * — the catalog's one writable-DDL namespace. Epoch 0 IS
    * the create record: the table is born as a pure-metadata epoch
    * carrying `#schema <ddl>` on its own fresh log, claimed with the
    * same atomic-exclusive link(2) every commit uses — so CREATE
    * racing CREATE (or racing a path-based first append, which claims
    * epoch 0 with data) has exactly one winner, and the loser gets the
    * standard exists-refusal instead of silently sharing a log. CTAS
    * is this plus Spark's follow-up batch append through the returned
    * table's write face (the reference's own signature materialization,
    * `etl_kaggle_to_big_query.py:88-110`). The created table is
    * SELF-DESCRIBING: reads resolve the schema from the log's
    * `#schema` records, no session conf needed. Every other namespace
    * stays read-only by design. */
  override def createTable(ident: Identifier, schema: org.apache.spark.sql.types.StructType,
      partitions: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: util.Map[String, String]): Table = {
    if (ident.namespace().toSeq != Seq(SnapNs))
      throw new UnsupportedOperationException(
        s"$catalogName: CREATE TABLE is supported only in the $SnapNs " +
          s"namespace (got ${ident.namespace().mkString(".")})")
    val name = ident.name()
    GraftCatalog.requireValidTableName(name)
    // fail BEFORE claiming: every column must be sink-encodable
    ManifestWriters.parquetType(schema.fields.map(_.name),
      schema.fields.map(f => graft.sources.ManifestSink.typeTokOf(f.dataType)))
    // PARTITIONED BY: identity / days / bucket transforms,
    // recorded once as the immutable `#spec` next to the `#schema`
    val spec = partitions.toSeq.map(toPartField(name, schema, _))
    val tdir = new java.io.File(snapRoot(ident), name)
    val dir = java.nio.file.Files.createDirectories(tdir.toPath)
    def exists() = throw new org.apache.spark.sql.catalyst.analysis
      .TableAlreadyExistsException(
        Seq(catalogName, SnapNs, name).map(q => s"`$q`").mkString("."))
    if (ManifestSink.snapshot(dir.toString).version >= 0) exists()
    // TBLPROPERTIES: recorded as `#prop` lines in the
    // create epoch. Spark-injected bookkeeping keys are filtered;
    // `delete.mode` / `compact.interval` are validated, everything
    // else token-safe round-trips for the user.
    val props = properties.asScala.toSeq
      .filterNot { case (k, _) => GraftCatalog.ReservedProps.contains(k) ||
        k.startsWith("option.") || k.startsWith("spark.") }
    props.foreach {
      case ("delete.mode", v) => require(v == "cow" || v == "mor",
        s"graft.snap.$name: delete.mode must be cow|mor, got '$v'")
      case ("compact.interval", v) => require(
        v.toIntOption.exists(_ >= 2),
        s"graft.snap.$name: compact.interval must be an int >= 2, got '$v'")
      case ("bloom.bits", v) => require(v.toIntOption.exists(b =>
          b >= BloomSkip.MinBits && b <= BloomSkip.MaxBits),
        s"graft.snap.$name: bloom.bits must be an int in " +
          s"[${BloomSkip.MinBits}, ${BloomSkip.MaxBits}], got '$v'")
      case ("rowgroup.bytes", v) => require(v.toIntOption.exists(b =>
          b >= BloomSkip.MinRowGroupBytes && b <= BloomSkip.MaxRowGroupBytes),
        s"graft.snap.$name: rowgroup.bytes must be an int in " +
          s"[${BloomSkip.MinRowGroupBytes}, ${BloomSkip.MaxRowGroupBytes}], " +
          s"got '$v'")
      case ("bloom.resident.bytes", v) => require(
        v.toLongOption.exists(_ >= 0L),
        s"graft.snap.$name: bloom.resident.bytes must be a long >= 0, " +
          s"got '$v'")
      case ("bloom.columns", v) => v.split(",").map(_.trim).foreach { c =>
        val t = schema.fields.find(_.name.equalsIgnoreCase(c)).map(_.dataType)
        require(t.exists(dt => SnapStats.bloomable(dt)),
          s"graft.snap.$name: bloom.columns entry '$c' must name a " +
            "long-family or string column of the table")
      }
      case ("ndv.columns", v) => v.split(",").map(_.trim).foreach { c =>
        val t = schema.fields.find(_.name.equalsIgnoreCase(c)).map(_.dataType)
        require(t.exists(dt => SnapStats.bloomable(dt)),
          s"graft.snap.$name: ndv.columns entry '$c' must name a " +
            "long-family or string column of the table")
      }
      case (k, v) => require(ManifestLog.propSafe(k) &&
          v.split(",", -1).forall(s => s.nonEmpty && ManifestLog.propSafe(s)),
        s"graft.snap.$name: table property '$k'='$v' must be token-safe")
    }
    // the CREATE epoch carries its commit time like every claimed epoch,
    // so version 0's TIMESTAMP AS OF / .history clock is not its mtime
    val seed = Seq(ManifestLog.Ts(System.currentTimeMillis() * 1000L),
      ManifestLog.Schema(schema.toDDL)) ++
      (if (spec.isEmpty) None
       else Some(ManifestLog.Spec(None, PartField.render(spec)))) ++
      props.map { case (k, v) => ManifestLog.Prop(k, v) }
    if (!ManifestSink.linkFirstEpoch(dir, seed)) exists()
    new SnapTable(name, tdir.toString, schema, None,
      ManifestSink.snapshot(tdir.toString))
  }

  /** Translate a Spark `Transform` to the log's spec model, validating
    * the referenced column's existence and type (long family or
    * string; days needs timestamp/date). */
  private def toPartField(tname: String,
      schema: org.apache.spark.sql.types.StructType,
      t: org.apache.spark.sql.connector.expressions.Transform): PartField = {
    // dispatch on the PUBLIC Transform API (name/references/arguments)
    // — the concrete Scala transform classes are private[sql]
    def oneCol(what: String): String = {
      val refs = t.references().toSeq
      require(refs.size == 1 && refs.head.fieldNames().length == 1,
        s"graft.snap.$tname: $what must reference ONE top-level column")
      val c = refs.head.fieldNames()(0)
      require(schema.fields.exists(_.name.equalsIgnoreCase(c)),
        s"graft.snap.$tname: partition column '$c' is not in the schema")
      c
    }
    def typeOf(c: String): String = schema.fields
      .find(_.name.equalsIgnoreCase(c)).get.dataType.typeName
    val longFamily = Set("long", "integer", "short", "byte", "timestamp", "date")
    t.name() match {
      case "identity" =>
        val c = oneCol("identity")
        require(longFamily.contains(typeOf(c)) || typeOf(c) == "string",
          s"graft.snap.$tname: identity($c) needs a long-family or " +
            s"string column, got ${typeOf(c)}")
        IdentityPart(c)
      case "days" =>
        val c = oneCol("days")
        require(typeOf(c) == "timestamp" || typeOf(c) == "date",
          s"graft.snap.$tname: days($c) needs a timestamp/date column, " +
            s"got ${typeOf(c)}")
        DaysPart(c)
      case "bucket" =>
        val c = oneCol("bucket")
        val n = t.arguments().collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_]
            if l.value().isInstanceOf[Number] =>
            l.value().asInstanceOf[Number].intValue()
        }.getOrElse(throw new IllegalArgumentException(
          s"graft.snap.$tname: bucket transform carries no bucket count"))
        require(n > 0, s"graft.snap.$tname: bucket($n, $c): n must be > 0")
        require(longFamily.contains(typeOf(c)) || typeOf(c) == "string",
          s"graft.snap.$tname: bucket($c) needs a long-family or string " +
            s"column, got ${typeOf(c)}")
        BucketPart(n, c)
      case other => throw new UnsupportedOperationException(
        s"graft.snap.$tname: unsupported partition transform $other " +
          "(identity, days, bucket)")
    }
  }

  /** `ALTER TABLE graft.snap.t ADD COLUMN c T` / `SET TBLPROPERTIES`
    * / `RENAME COLUMN a TO b`: each appends a
    * pure-metadata epoch — the widened `#schema`, `#prop` records, or
    * the `#colmap` physical→logical mapping (column-mapping rename:
    * zero bytes rewritten, files/stats/spec stay keyed by the fixed
    * physical name). Drops and type changes still refuse: each would
    * reinterpret or lose committed data. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (ident.namespace().toSeq != Seq(SnapNs))
      throw new UnsupportedOperationException(
        s"$catalogName: ALTER TABLE is supported only in the $SnapNs namespace")
    val cur = snapTable(ident, None).asInstanceOf[SnapTable]
    val mapping = cur.meta.colmap
    def logicalOf(p: String): String = mapping.getOrElse(p, p)
    val curLogicalNames = cur.physSchema.fields.map(f => logicalOf(f.name))
    val added = scala.collection.mutable.ArrayBuffer[
      org.apache.spark.sql.types.StructField]()
    val widened = scala.collection.mutable.LinkedHashMap[
      String, org.apache.spark.sql.types.DataType]()
    val setProps = scala.collection.mutable.ArrayBuffer[(String, String)]()
    // nested ADDs: physical top name -> appended inner fields (r17)
    val addedNested = scala.collection.mutable.ArrayBuffer[
      (String, org.apache.spark.sql.types.StructField)]()
    var renames = mapping
    // NESTED-FIELD EVOLUTION: resolve a (logical top,
    // logical inner) reference to physical names — the parent must be
    // a live STRUCT column, or the STRUCT ELEMENT of a live
    // ARRAY column addressed as `col.element.field` (the Spark
    // field-path convention; dotted `#colmap` keys carry the same
    // shape). Map evolution still refuses; one parent level is the
    // supported depth. The returned parent key is what the dotted
    // `#colmap`/`#schema` entries are keyed under (`top` or
    // `top.element`).
    def physTopOf(top: String): String =
      cur.physSchema.fields.map(_.name)
        .find(p => renames.getOrElse(p, p).equalsIgnoreCase(top) &&
          !renames.get(p).contains(ManifestSink.DroppedColumn))
        .getOrElse(throw new IllegalArgumentException(
          s"graft.snap.${ident.name()}: no column '$top'"))
    def topTypeOf(physTop: String): org.apache.spark.sql.types.DataType =
      cur.physSchema.fields.find(_.name.equalsIgnoreCase(physTop))
        .get.dataType
    def resolveNestedTop(names: Array[String], what: String)
        : (String, org.apache.spark.sql.types.StructType) = {
      val isElem = names.length == 3 &&
        names(1).equalsIgnoreCase("element")
      val isValue = names.length == 3 && names(1).equalsIgnoreCase("value")
      require(names.length == 2 || isElem || isValue,
        s"graft.snap.${ident.name()}: $what supports top-level columns, " +
          "ONE level of struct nesting, array STRUCT elements " +
          "(col.element.field) and map STRUCT values (col.value.field), " +
          s"got ${names.mkString(".")}")
      val physTop = physTopOf(names(0))
      (topTypeOf(physTop), isElem, isValue) match {
        case (s: org.apache.spark.sql.types.StructType, false, false) =>
          (physTop, s)
        case (a: org.apache.spark.sql.types.ArrayType, true, _) =>
          a.elementType match {
            case es: org.apache.spark.sql.types.StructType =>
              (s"$physTop.element", es)
            case other => throw new UnsupportedOperationException(
              s"graft.snap.${ident.name()}: $what inside " +
                s"'${names(0)}.element' (${other.typeName}) needs a " +
                "STRUCT element; primitive elements evolve only via " +
                s"ALTER COLUMN ${names(0)}.element TYPE (widening)")
          }
        case (m: org.apache.spark.sql.types.MapType, _, true) =>
          m.valueType match {
            case vs: org.apache.spark.sql.types.StructType =>
              (s"$physTop.value", vs)
            case other => throw new UnsupportedOperationException(
              s"graft.snap.${ident.name()}: $what inside " +
                s"'${names(0)}.value' (${other.typeName}) needs a " +
                "STRUCT value; primitive values evolve only via " +
                s"ALTER COLUMN ${names(0)}.value TYPE (widening)")
          }
        case (other, _, _) => throw new UnsupportedOperationException(
          s"graft.snap.${ident.name()}: $what inside '${names(0)}' " +
            s"(${other.typeName}) is not supported — nested evolution " +
            "covers STRUCT fields, array STRUCT elements and map STRUCT " +
            "values; map KEYS are identity (key reinterpretation would " +
            "re-bucket committed lookups)")
      }
    }
    def resolveNested(names: Array[String], what: String)
        : (String, String, org.apache.spark.sql.types.StructType) = {
      val (parentKey, st) = resolveNestedTop(names, what)
      val inner = names.last
      val physInner = st.fields.map(_.name)
        .find(pi => renames.getOrElse(s"$parentKey.$pi", pi)
            .equalsIgnoreCase(inner) &&
          !renames.get(s"$parentKey.$pi")
            .contains(ManifestSink.DroppedColumn))
        .getOrElse(throw new IllegalArgumentException(
          s"graft.snap.${ident.name()}: no field " +
            s"'${names.init.mkString(".")}.$inner'"))
      (parentKey, physInner, st)
    }
    changes.foreach {
      case a: TableChange.AddColumn if a.fieldNames().length > 1 =>
        val (physTop, st) = resolveNestedTop(a.fieldNames(), "ADD COLUMN")
        val nm = a.fieldNames().last
        require(a.isNullable,
          s"graft.snap.${ident.name()}: an added struct field must be " +
            "nullable — committed pre-evolution files serve null for it")
        val taken = st.fields.map(_.name).toSeq ++
          st.fields.map(f => renames.getOrElse(s"$physTop.${f.name}", f.name))
        require(!taken.exists(_.equalsIgnoreCase(nm)),
          s"graft.snap.${ident.name()}: field '${a.fieldNames()(0)}.$nm' " +
            "already exists (as a logical or physical name)")
        addedNested += ((physTop, org.apache.spark.sql.types.StructField(
          nm, a.dataType(), nullable = true)))
      case a: TableChange.AddColumn =>
        require(a.fieldNames().length == 1,
          s"graft.snap.${ident.name()}: only top-level ADD COLUMN is " +
            s"supported, got ${a.fieldNames().mkString(".")}")
        require(a.isNullable,
          s"graft.snap.${ident.name()}: an added column must be nullable " +
            "— committed pre-evolution files serve null for it")
        added += org.apache.spark.sql.types.StructField(
          a.fieldNames()(0), a.dataType(), nullable = true)
      case rn: TableChange.RenameColumn if rn.fieldNames().length > 1 =>
        // nested RENAME: a dotted `#colmap` entry keyed by
        // the PHYSICAL path — zero bytes rewritten, same contract as
        // the top-level rename applied one level down
        val (pt, pi, st) = resolveNested(rn.fieldNames(), "RENAME COLUMN")
        val to = rn.newName()
        require(to != ManifestSink.DroppedColumn &&
            ManifestLog.propSafe(to) && !to.contains("."),
          s"graft.snap.${ident.name()}: '$to' is not a legal field name")
        val taken = st.fields.map(_.name).toSeq ++
          st.fields.map(f => renames.getOrElse(s"$pt.${f.name}", f.name))
        val conflicts = taken.filter(_.equalsIgnoreCase(to))
          .filterNot(n => n.equalsIgnoreCase(rn.fieldNames()(1)) ||
            n.equalsIgnoreCase(pi))
        require(conflicts.isEmpty,
          s"graft.snap.${ident.name()}: field " +
            s"'${rn.fieldNames()(0)}.$to' already exists " +
            "(as a logical or physical name)")
        renames =
          if (to == pi) renames - s"$pt.$pi"
          else renames + (s"$pt.$pi" -> to)
      case rn: TableChange.RenameColumn =>
        // RENAME COLUMN (the Delta column-mapping shape): a
        // pure-metadata `#colmap` epoch — the PHYSICAL name stays in
        // every file, #stats key and #spec forever; only the logical
        // name users query changes. Zero bytes rewritten, the skipping
        // index and the null-absence inference stay exact.
        require(rn.fieldNames().length == 1,
          s"graft.snap.${ident.name()}: only top-level RENAME COLUMN " +
            s"is supported, got ${rn.fieldNames().mkString(".")}")
        val from = rn.fieldNames()(0)
        val to = rn.newName()
        require(to != ManifestSink.DroppedColumn,
          s"graft.snap.${ident.name()}: '$to' is not a legal column name")
        val phys = cur.physSchema.fields.map(_.name)
          .find(p => (renames.getOrElse(p, p)).equalsIgnoreCase(from) &&
            !renames.get(p).contains(ManifestSink.DroppedColumn))
          .getOrElse(throw new IllegalArgumentException(
            s"graft.snap.${ident.name()}: no column '$from' to rename"))
        val taken = cur.physSchema.fields.map(_.name).toSeq ++
          cur.physSchema.fields.map(f => renames.getOrElse(f.name, f.name))
        val conflicts = taken.filter(_.equalsIgnoreCase(to))
          .filterNot(n => n.equalsIgnoreCase(from) || n.equalsIgnoreCase(phys))
        require(conflicts.isEmpty,
          s"graft.snap.${ident.name()}: column '$to' already exists " +
            "(as a logical or physical name)")
        require(ManifestLog.propSafe(to),
          s"graft.snap.${ident.name()}: renamed column '$to' must be " +
            "token-safe ([A-Za-z0-9._/=-])")
        renames =
          if (to == phys) renames - phys // renamed back: identity again
          else renames + (phys -> to)
      case d: TableChange.DeleteColumn if d.fieldNames().length > 1 =>
        // nested DROP: `#colmap s.a=-` — the logical struct
        // omits the field, new files lack it, zero bytes rewritten
        val (pt, pi, st) = resolveNested(d.fieldNames(), "DROP COLUMN")
        val liveLeft = st.fields.count(f =>
          !renames.get(s"$pt.${f.name}")
            .contains(ManifestSink.DroppedColumn) && f.name != pi)
        require(liveLeft >= 1,
          s"graft.snap.${ident.name()}: cannot drop the last field of " +
            s"struct '${d.fieldNames()(0)}' — drop the column itself")
        renames = renames + (s"$pt.$pi" -> ManifestSink.DroppedColumn)
      case d: TableChange.DeleteColumn =>
        // DROP COLUMN: a `#colmap <phys>=-` tombstone — the
        // logical schema omits the column, new files simply lack it,
        // zero bytes rewritten. The physical name stays in the
        // `#schema` records forever, so ADD COLUMN can never rebind
        // the old bytes (re-adding the LOGICAL name is safe — it gets
        // a fresh physical name).
        require(d.fieldNames().length == 1,
          s"graft.snap.${ident.name()}: only top-level DROP COLUMN is " +
            s"supported, got ${d.fieldNames().mkString(".")}")
        val from = d.fieldNames()(0)
        val phys = cur.physSchema.fields.map(_.name)
          .find(p => (renames.getOrElse(p, p)).equalsIgnoreCase(from) &&
            !renames.get(p).contains(ManifestSink.DroppedColumn))
          .getOrElse(throw new IllegalArgumentException(
            s"graft.snap.${ident.name()}: no column '$from' to drop"))
        require(!cur.meta.specs.byId.values
            .exists(_.exists(_.col.equalsIgnoreCase(phys))),
          s"graft.snap.${ident.name()}: cannot drop '$from' — a #spec " +
            "era references it (live files carry tuples keyed by it; " +
            "evolve the spec away from it and compact first)")
        val liveLeft = cur.physSchema.fields.count(f =>
          !renames.get(f.name).contains(ManifestSink.DroppedColumn) &&
            f.name != phys)
        require(liveLeft >= 1,
          s"graft.snap.${ident.name()}: cannot drop the last column")
        renames = renames + (phys -> ManifestSink.DroppedColumn)
      case p: TableChange.SetProperty =>
        (p.property(), p.value()) match {
          case ("delete.mode", v) => require(v == "cow" || v == "mor",
            s"graft.snap.${ident.name()}: delete.mode must be cow|mor, " +
              s"got '$v'")
          case ("compact.interval", v) => require(
            v.toIntOption.exists(_ >= 2),
            s"graft.snap.${ident.name()}: compact.interval must be an " +
              s"int >= 2, got '$v'")
          case ("bloom.bits", v) => require(v.toIntOption.exists(b =>
              b >= BloomSkip.MinBits && b <= BloomSkip.MaxBits),
            s"graft.snap.${ident.name()}: bloom.bits must be an int in " +
              s"[${BloomSkip.MinBits}, ${BloomSkip.MaxBits}], got '$v'")
          case ("rowgroup.bytes", v) => require(v.toIntOption.exists(b =>
              b >= BloomSkip.MinRowGroupBytes &&
                b <= BloomSkip.MaxRowGroupBytes),
            s"graft.snap.${ident.name()}: rowgroup.bytes must be an int " +
              s"in [${BloomSkip.MinRowGroupBytes}, " +
              s"${BloomSkip.MaxRowGroupBytes}], got '$v'")
          case ("bloom.resident.bytes", v) => require(
            v.toLongOption.exists(_ >= 0L),
            s"graft.snap.${ident.name()}: bloom.resident.bytes must be " +
              s"a long >= 0, got '$v'")
          case (k, v) => require(ManifestLog.propSafe(k) &&
              v.split(",", -1).forall(s =>
                s.nonEmpty && ManifestLog.propSafe(s)),
            s"graft.snap.${ident.name()}: table property '$k'='$v' must " +
              "be token-safe")
        }
        setProps += ((p.property(), p.value()))
      case ut: TableChange.UpdateColumnType
          if ut.fieldNames().length == 2 &&
            ut.fieldNames()(1).equalsIgnoreCase("element") &&
            topTypeOf(physTopOf(ut.fieldNames()(0)))
              .isInstanceOf[org.apache.spark.sql.types.ArrayType] =>
        // PRIMITIVE array-element WIDENING: `ALTER COLUMN
        // arr.element TYPE T` — one `#schema` epoch with the element
        // widened; pre-evolution files promote per element exactly
        // like top-level widening
        val physTop = physTopOf(ut.fieldNames()(0))
        val a = topTypeOf(physTop)
          .asInstanceOf[org.apache.spark.sql.types.ArrayType]
        require(ManifestSink.widens(a.elementType, ut.newDataType()),
          s"graft.snap.${ident.name()}: cannot change " +
            s"'${ut.fieldNames()(0)}.element' from " +
            s"${a.elementType.typeName} to ${ut.newDataType().typeName} " +
            "— only WIDENING changes are supported")
        widened += (physTop -> a.copy(elementType = ut.newDataType()))
      case ut: TableChange.UpdateColumnType
          if ut.fieldNames().length == 2 &&
            ut.fieldNames()(1).equalsIgnoreCase("value") &&
            topTypeOf(physTopOf(ut.fieldNames()(0)))
              .isInstanceOf[org.apache.spark.sql.types.MapType] =>
        // PRIMITIVE map-value WIDENING; map KEYS refuse —
        // key reinterpretation would re-bucket committed lookups
        val physTop = physTopOf(ut.fieldNames()(0))
        val m = topTypeOf(physTop)
          .asInstanceOf[org.apache.spark.sql.types.MapType]
        require(ManifestSink.widens(m.valueType, ut.newDataType()),
          s"graft.snap.${ident.name()}: cannot change " +
            s"'${ut.fieldNames()(0)}.value' from " +
            s"${m.valueType.typeName} to ${ut.newDataType().typeName} " +
            "— only WIDENING changes are supported")
        widened += (physTop -> m.copy(valueType = ut.newDataType()))
      case ut: TableChange.UpdateColumnType if ut.fieldNames().length > 1 =>
        // nested WIDENING: one pure-metadata `#schema`
        // epoch with the inner field widened; pre-evolution files
        // serve through promotion exactly like top-level widening
        val (pt, pi, st) = resolveNested(ut.fieldNames(),
          "ALTER COLUMN TYPE")
        val oldT = st.fields.find(_.name.equalsIgnoreCase(pi)).get.dataType
        require(ManifestSink.widens(oldT, ut.newDataType()),
          s"graft.snap.${ident.name()}: cannot change " +
            s"'${ut.fieldNames().mkString(".")}' from ${oldT.typeName} " +
            s"to ${ut.newDataType().typeName} — only WIDENING changes " +
            "are supported")
        widened += (s"$pt.$pi" -> ut.newDataType())
      case ut: TableChange.UpdateColumnType =>
        // TYPE WIDENING: integrals up to long, float to
        // double — the safe-promotion set BOTH of Spark's parquet
        // readers and the sink's own group reader serve exactly from
        // the narrow committed bytes. One pure-metadata `#schema`
        // epoch; the containment check accepts recorded-narrow under
        // declared-wide, so old files keep serving. Anything else
        // (narrowing, string/timestamp changes) still refuses: those
        // reinterpret committed data.
        require(ut.fieldNames().length == 1,
          s"graft.snap.${ident.name()}: only top-level ALTER COLUMN " +
            s"TYPE is supported, got ${ut.fieldNames().mkString(".")}")
        val from = ut.fieldNames()(0)
        val phys = cur.physSchema.fields.map(_.name)
          .find(p => (renames.getOrElse(p, p)).equalsIgnoreCase(from) &&
            !renames.get(p).contains(ManifestSink.DroppedColumn))
          .getOrElse(throw new IllegalArgumentException(
            s"graft.snap.${ident.name()}: no column '$from' to widen"))
        val oldT = cur.physSchema.fields
          .find(_.name.equalsIgnoreCase(phys)).get.dataType
        require(ManifestSink.widens(oldT, ut.newDataType()),
          s"graft.snap.${ident.name()}: cannot change '$from' from " +
            s"${oldT.typeName} to ${ut.newDataType().typeName} — only " +
            "WIDENING changes are supported (byte/short/int up the " +
            "integral family to long, float to double); anything else " +
            "would reinterpret committed data")
        widened += (phys -> ut.newDataType())
      case other => throw new UnsupportedOperationException(
        s"graft.snap.${ident.name()}: unsupported ALTER TABLE change " +
          s"$other — ADD COLUMN, RENAME COLUMN, DROP COLUMN, ALTER " +
          "COLUMN TYPE (widening) and SET TBLPROPERTIES are the " +
          "supported alterations")
    }
    added.foreach { f =>
      // an added LOGICAL name must collide with neither the current
      // logical names nor any physical name (by-name files would bind)
      require(!curLogicalNames.exists(_.equalsIgnoreCase(f.name)) &&
          !cur.physSchema.fields.exists(_.name.equalsIgnoreCase(f.name)),
        s"graft.snap.${ident.name()}: column '${f.name}' already exists")
    }
    // the recorded #schema stays PHYSICAL; an added column's physical
    // name IS its logical name at birth; widened columns keep their
    // physical name with the wider type. Nested widens/adds
    // rebuild the struct field under its dotted keys.
    def evolveStruct(s: org.apache.spark.sql.types.StructType,
        parentKey: String): org.apache.spark.sql.types.StructType = {
      val innerWidened = s.fields.map(g =>
        widened.get(s"$parentKey.${g.name}")
          .map(t => g.copy(dataType = t)).getOrElse(g))
      val innerAdded = addedNested.collect {
        case (top, fld) if top.equalsIgnoreCase(parentKey) => fld }
      org.apache.spark.sql.types.StructType(innerWidened ++ innerAdded)
    }
    val evolved = org.apache.spark.sql.types.StructType(
      cur.physSchema.fields.map { f0 =>
        val f = widened.get(f0.name).map(t => f0.copy(dataType = t))
          .getOrElse(f0)
        f.dataType match {
          case s: org.apache.spark.sql.types.StructType =>
            f.copy(dataType = evolveStruct(s, f.name))
          case a: org.apache.spark.sql.types.ArrayType =>
            // ARRAY STRUCT elements: dotted keys under
            // `<col>.element`
            a.elementType match {
              case es: org.apache.spark.sql.types.StructType =>
                f.copy(dataType = a.copy(elementType =
                  evolveStruct(es, s"${f.name}.element")))
              case _ => f
            }
          case m: org.apache.spark.sql.types.MapType =>
            // MAP STRUCT values: dotted keys under
            // `<col>.value`
            m.valueType match {
              case vs: org.apache.spark.sql.types.StructType =>
                f.copy(dataType = m.copy(valueType =
                  evolveStruct(vs, s"${f.name}.value")))
              case _ => f
            }
          case _ => f
        }
      } ++ added)
    if (added.nonEmpty || widened.nonEmpty || addedNested.nonEmpty) {
      ManifestWriters.parquetType(evolved.fields.map(_.name),
        evolved.fields.map(f => graft.sources.ManifestSink.typeTokOf(f.dataType)))
      ManifestSink.commitSchemaEpoch(cur.dir, evolved.toDDL)
    }
    if (setProps.nonEmpty)
      ManifestSink.commitPropsEpoch(cur.dir, setProps.toSeq)
    if (renames != mapping)
      ManifestSink.commitColmapEpoch(cur.dir, renames)
    new SnapTable(ident.name(), cur.dir, evolved, None,
      ManifestSink.snapshot(cur.dir))
  }

  /** `DROP TABLE graft.snap.t`: deletes the epoch log and
    * the data plane outright. Retention is the operator's call at drop
    * time — this is the `DROP TABLE` contract (Delta's `VACUUM`-then-
    * drop is for un-dropping, which the manifest log does not offer);
    * a mistaken drop is unrecoverable, exactly as documented. */
  override def dropTable(ident: Identifier): Boolean = {
    if (ident.namespace().toSeq != Seq(SnapNs))
      throw new UnsupportedOperationException(
        s"$catalogName: DROP TABLE is supported only in the $SnapNs namespace")
    GraftCatalog.requireValidTableName(ident.name())
    val tdir = new java.io.File(snapRoot(ident), ident.name())
    if (!tdir.isDirectory) false
    else { graft.util.Fs.deleteRecursively(tdir.toPath); true }
  }

  /** `ALTER TABLE graft.snap.old RENAME TO new` — the
    * stage→promote pattern (CTAS a staging table, rename it into
    * place), as an ATOMIC directory move inside the namespace root
    * with a TOMBSTONE protocol for racing writers:
    *
    *  1. the target name must be unbound (the move itself is the
    *     arbiter: `ATOMIC_MOVE` without replace fails on an existing
    *     target — exactly one of two racing renames wins);
    *  2. a `.renamed-to` marker naming the NEW absolute path is
    *     created in the old directory FIRST — from that instant every
    *     commit claim on the old path refuses cleanly
    *     ([[ManifestSink.claimEpoch]] checks the marker before
    *     linking), so a writer that resolved the old path mid-rename
    *     aborts loudly instead of splitting the log;
    *  3. the directory moves atomically (the marker rides along; at
    *     the new path its content EQUALS the path, which claims treat
    *     as "I am the rename target" and tidy away);
    *  4. the old path is recreated as a tombstone holding only the
    *     marker: reads and writes of the old name refuse with the new
    *     name spelled out, `SHOW TABLES` skips it, and `DROP TABLE
    *     old` reclaims it.
    *
    * Residual window: a committer whose `createDirectories` lands
    * between (3) and (4) can strand one epoch inside the tombstone —
    * it is never served as table data (the marker refuses every later
    * claim and read), merely orphaned storage for DROP to reclaim. */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (oldIdent.namespace().toSeq != Seq(SnapNs) ||
        newIdent.namespace().toSeq != Seq(SnapNs))
      throw new UnsupportedOperationException(
        s"$catalogName: RENAME TABLE is supported only within the " +
          s"$SnapNs namespace")
    GraftCatalog.requireValidTableName(oldIdent.name())
    GraftCatalog.requireValidTableName(newIdent.name())
    val root = snapRoot(oldIdent)
    val oldDir = new java.io.File(root, oldIdent.name()).toPath
    val newDir = new java.io.File(root, newIdent.name()).toPath
    if (!java.nio.file.Files.isDirectory(oldDir) ||
        java.nio.file.Files.exists(
          oldDir.resolve(ManifestSink.RenamedMarker)))
      throw new NoSuchTableException(oldIdent)
    if (java.nio.file.Files.exists(newDir))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(
          Seq(catalogName, SnapNs, newIdent.name()).map(q => s"`$q`")
            .mkString("."))
    val marker = oldDir.resolve(ManifestSink.RenamedMarker)
    try java.nio.file.Files.write(marker,
      newDir.toAbsolutePath.toString.getBytes(
        java.nio.charset.StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE_NEW)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalStateException(
          s"graft.snap.${oldIdent.name()}: a concurrent rename is in " +
            "flight — retry against the resolved name")
    }
    try java.nio.file.Files.move(oldDir, newDir,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch {
      case e: java.nio.file.FileAlreadyExistsException =>
        java.nio.file.Files.deleteIfExists(marker) // lost the target race
        throw new org.apache.spark.sql.catalyst.analysis
          .TableAlreadyExistsException(
            Seq(catalogName, SnapNs, newIdent.name()).map(q => s"`$q`")
              .mkString("."))
    }
    java.nio.file.Files.deleteIfExists(
      newDir.resolve(ManifestSink.RenamedMarker))
    // tombstone the old name: refusals with the new name spelled out
    try {
      java.nio.file.Files.createDirectories(oldDir)
      java.nio.file.Files.write(oldDir.resolve(ManifestSink.RenamedMarker),
        newDir.toAbsolutePath.toString.getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: java.io.IOException => } // tombstone is best-effort
  }
}

object GraftCatalog {
  /** Table names under the writable namespaces must be SINGLE path
    * segments: a backquoted identifier carrying `/`, `\`, `..` or a
    * leading `.` would otherwise resolve OUTSIDE the namespace root —
    * on the read path that serves a foreign directory as a table, and
    * on `DROP TABLE` it recursively deletes an arbitrary directory
    *. One validator for every face that turns a name
    * into a path (create/load/drop/metadata tables, procedures). */
  private[sources] def requireValidTableName(name: String): Unit =
    require(name.nonEmpty && !name.contains("/") && !name.contains("\\") &&
        !name.contains("..") && !name.startsWith("."),
      s"illegal snap table name '$name' — table names must be a single " +
        "path segment (no '/', '\\', '..' or leading '.')")

  val SfNs = "sf"
  val GenNs = "gen"
  val GenTable = "numbers"
  val FnNs = "fn"
  val FnNames: Seq[String] = Seq("band", "xsum")
  val MutNs = "mut"
  val SnapNs = "snap"
  val SysNs = "sys"

  /** Spark-injected bookkeeping keys a CREATE carries that are NOT
    * user table properties — never recorded in the log. */
  val ReservedProps: Set[String] = Set(
    "provider", "owner", "location", "comment", "external",
    "transient_lastDdlTime")

  /** The driver-generated scale-factor tables ([[Tables]]). `events` is
    * served through its own load branch that applies the
    * [[Tables.events]] ts normalization as a user-specified schema on
    * the same parquet DSv2 table (see loadTable). */
  val EventsTable = "events"
  val SfTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "documents", "embeddings", EventsTable)

  private val SnapDirKey = s"spark.sql.catalog.graft.$SnapNs.dir"

  /** Install the catalog on a session (idempotent; sets confs only and
    * starts no job): `dir` is the `sf` directory, `snapDir` the root of
    * the `snap` namespace, and each `schemas` entry (table → DDL) the
    * declared read schema of one snap table (see [[GraftCatalog]]'s
    * `snapTable` for how it ranks against the log's own `#schema`). */
  def register(spark: SparkSession, dir: String, snapDir: Option[String] = None,
      schemas: Map[String, String] = Map.empty): Unit = {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.dir", dir)
    snapDir.foreach(spark.conf.set(SnapDirKey, _))
    schemas.foreach { case (t, ddl) =>
      spark.conf.set(s"spark.sql.catalog.graft.$SnapNs.$t.schema", ddl)
    }
  }

  /** The `snap` namespace root registered on `spark`, if any. */
  def snapDir(spark: SparkSession): Option[String] = spark.conf.getOption(SnapDirKey)
}

/** A table's COLUMN MAPPING (the Delta column-mapping shape): the
  * `#colmap` record over the PHYSICAL schema `phys` — the names files,
  * `#stats` and `#spec` are keyed by, fixed for a column's lifetime —
  * while users see and query the LOGICAL names. The one translation
  * boundary the catalog faces share: filters and required columns
  * logical→physical on the way in, schemas physical→logical on the way
  * out; every writer writes physical. An empty mapping is identity. */
private[sources] final case class ColumnMap(colmap: Map[String, String],
    phys: org.apache.spark.sql.types.StructType) {
  import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
  /** Physical (lowercased; dotted for nested fields) → logical name, or
    * [[ManifestSink.DroppedColumn]]. */
  val logicalOfPhys: Map[String, String] =
    colmap.map { case (p, l) => p.toLowerCase -> l }
  /** Logical (lowercased) → physical name of every live column. */
  val physOfLogical: Map[String, String] =
    colmap.collect { case (p, l) if l != ManifestSink.DroppedColumn =>
      l.toLowerCase -> p }
  def isEmpty: Boolean = colmap.isEmpty
  def logicalName(c: String): String = logicalOfPhys.getOrElse(c.toLowerCase, c)
  def logicalize(st: StructType): StructType =
    ManifestSink.logicalizeStruct(st, logicalOfPhys)
  def physicalize(st: StructType): StructType =
    ManifestSink.physicalizeStruct(st, phys, logicalOfPhys)
  /** The physical schema MINUS dropped columns (top-level AND nested) —
    * what the parquet delegate (and any full-width read) is built with,
    * so positions align with the logical schema. */
  def served: StructType = dropDropped(phys, "")
  private def dropDropped(st: StructType, prefix: String): StructType =
    StructType(st.fields
      .filterNot(f => logicalOfPhys.get((prefix + f.name).toLowerCase)
        .contains(ManifestSink.DroppedColumn))
      .map { f =>
        f.dataType match {
          case s: StructType =>
            f.copy(dataType = dropDropped(s, prefix + f.name + "."))
          case a: ArrayType => a.elementType match {
            case es: StructType => f.copy(dataType = a.copy(elementType =
              dropDropped(es, prefix + f.name + ".element.")))
            case _ => f
          }
          case m: MapType => m.valueType match {
            case vs: StructType => f.copy(dataType = m.copy(valueType =
              dropDropped(vs, prefix + f.name + ".value.")))
            case _ => f
          }
          case _ => f
        }
      })
}

/** A [[ManifestSink]]-committed table under `<snap.dir>/<name>` with
  * the committed-file list resolved at SCAN-BUILD time — which is what
  * lets one catalog table serve three read shapes off the same epoch
  * log (plus the WRITE faces: `INSERT INTO` appends,
  * `UPDATE`/`MERGE INTO`/subquery-`DELETE` run group-based
  * copy-on-write through [[SnapRowLevelOperation]], and the `_file`
  * metadata column names a row's committed file on any batch read):
  *
  *  - current snapshot: plain `SELECT … FROM graft.snap.t`
  *  - time travel: `VERSION AS OF n` (SQL routes through
  *    `loadTable(ident, version)`, which bakes `asOf` here), or its
  *    DataFrame twin `spark.read.option("asOfVersion", n).table(…)`
  *  - INCREMENTAL read (the lake-CDC primitive):
  *    `spark.read.option("sinceVersion", s).table(…)` → the files
  *    appended by epochs (s, asOfVersion|newest] via
  *    [[ManifestSink.Snapshot.filesBetween]] — "process only what
  *    landed since the last run"; refused when the window crosses the
  *    compaction sweep (per-epoch deltas are unrecoverable from the
  *    compact union), mirroring Delta CDF's log-retention contract.
  *
  * The sink's data files are schema-less CSV rows (the landing format),
  * so the read schema comes from the `snap.<name>.schema` /
  * `snap.schema` catalog conf — VERIFIED against the `#schema` records
  * the log carries for its committed epochs: a declared
  * schema missing a recorded column (or changing its type) is refused
  * loudly instead of silently dropping data, while DECLARED columns no
  * epoch recorded are served as nulls from pre-evolution files
  * (additive schema evolution, the parquet by-name read's
  * native null-fill). The scan DELEGATES to the builtin CSV DSv2 provider — the
  * same naming-not-a-read-path contract as the `sf` namespace
  * (pushdown, pruning and the vectorized reader ride along) — behind a
  * DATA-SKIPPING wrapper ([[SnapScanBuilder]]) that prunes committed
  * files whose recorded `#stats` min/max exclude the pushed predicates
  * BEFORE the CSV scan ever sees them: the Delta/Iceberg file-skipping
  * contract, and at 100 TB the difference between a pruned scan and a
  * full pass. */
private[sources] class SnapTable(tname: String, val dir: String,
    tschema: org.apache.spark.sql.types.StructType, asOf: Option[Long],
    /** The LOAD-TIME snapshot: it answers the table's metadata — column
      * mapping, properties, partitioning, spec — for this table object's
      * lifetime. Every data face takes a fresh snapshot per call. */
    private[sources] val meta: ManifestSink.Snapshot,
    deleteMode: String = "cow",
    /** Branch READ face: `VERSION AS OF '<branch>'` serves main + the
      * branch's staged adds; read-only like `asOf`. */
    branch: Option[String] = None)
    extends Table with org.apache.spark.sql.connector.catalog.SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  import org.apache.spark.sql.connector.catalog.TableCapability
  import org.apache.spark.sql.sources._
  override def name(): String = s"snap($tname)"

  /** COLUMN MAPPING boundary: `tschema` is the PHYSICAL schema; users
    * see and query the LOGICAL names ([[ColumnMap]]). */
  private val cols = ColumnMap(meta.colmap, tschema)

  /** The physical (declared/recorded) schema — what every file-facing
    * op reads and writes under. */
  private[sources] def physSchema: org.apache.spark.sql.types.StructType =
    tschema

  override def schema(): org.apache.spark.sql.types.StructType =
    cols.logicalize(tschema)
  /** The log-recorded CURRENT partition spec as of the load-time
    * snapshot: a `set_partition_spec` committed later is seen by the
    * next load (CatalogManager re-resolves the table per statement),
    * and writes fan out under the spec of their own fresh snapshot. */
  private[sources] def spec: Seq[PartField] = meta.specs.current
  /** The log-recorded table properties as of the load-time snapshot,
    * surfaced through the catalog face (DESCRIBE EXTENDED shows them). */
  override def properties(): util.Map[String, String] = meta.props.asJava
  override def partitioning()
      : Array[org.apache.spark.sql.connector.expressions.Transform] =
    // display (and Spark's PARTITION-clause resolution) uses LOGICAL
    // names; the recorded #spec itself stays physical
    ManifestTable.transformsOf(spec.map {
      case IdentityPart(c) => IdentityPart(cols.logicalName(c))
      case DaysPart(c) => DaysPart(cols.logicalName(c))
      case BucketPart(n, c) => BucketPart(n, cols.logicalName(c))
    })
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC).asJava

  /** `_file`/`_pos` ride along on every face:
    * selectable on batch reads, the handle Spark's runtime group
    * filter names matched groups with (COW), and together the rowId
    * the merge-on-read delta operation keys its dv files on.
    * `_row_id` is the STABLE row identity row tracking
    * maintains across copy-on-write moves. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(SnapFileColumn, SnapPosColumn, SnapRowIdColumn)

  /** UPDATE / MERGE INTO / non-metadata DELETE route here:
    * group-based copy-on-write ([[SnapRowLevelOperation]]) by default;
    * under `delete.mode = mor` the POSITION-DELTA operation
    * ([[SnapDeltaOperation]]) instead — dv records + appended rows in
    * one atomic epoch, zero data files moved. Historical snapshots are
    * immutable — a `VERSION AS OF` table refuses. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    if (asOf.isDefined) throw new UnsupportedOperationException(
      s"graft.snap.$tname VERSION AS OF ${asOf.get}: historical " +
        "snapshots are immutable — run the operation on the current table")
    if (branch.isDefined) throw new UnsupportedOperationException(
      s"graft.snap.$tname VERSION AS OF '${branch.get}': the branch " +
        "READ face is immutable — stage writes by setting " +
        "spark.graft.wap.branch and writing to the main table name")
    // STAGED ROW-LEVEL writes: merge-on-read DELETE/UPDATE/
    // MERGE may stage on a WAP branch (`#dv` epochs tagged #forbranch,
    // replayed by fast_forward under the base fence). Copy-on-write
    // still refuses: its `#remove`s against a moving main are
    // undefined until publish.
    if (wapBranch.isDefined && deleteMode != "mor")
      throw new UnsupportedOperationException(
        s"graft.snap.$tname: copy-on-write row-level operations cannot " +
          "stage on a branch (their #remove set is undefined against a " +
          "moving main) — set delete.mode=mor to stage merge-on-read " +
          "deltas, or publish first")
    if (deleteMode == "mor")
      () => new SnapDeltaOperation(tname, dir, tschema, info.command(),
        cols, forBranch = wapBranch)
    else
      () => new SnapRowLevelOperation(tname, dir, tschema, info.command(),
        cols)
  }

  /** `INSERT INTO graft.snap.t` — a plain batch APPEND epoch through
    * the same manifest commit every other writer uses (the
    * catalog face previously read, streamed, deleted and compacted but
    * could not append) — and `df.writeStream.toTable("graft.snap.t")`,
    * the STREAMING write face with the full per-writer `#txn` replay
    * protocol (the builder's streaming face keys idempotence off the
    * query id Spark passes). One catalog name now serves batch
    * read/write, stream read/write, time travel, incremental windows,
    * DELETE/UPDATE/MERGE, `INSERT OVERWRITE` (the delegated
    * [[ManifestTable]] builder's `SupportsTruncate` face — a full-
    * snapshot replace whose remove set is recomputed per claim
    * attempt, serializable against racing appends) and maintenance. */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    if (asOf.isDefined) throw new UnsupportedOperationException(
      s"graft.snap.$tname VERSION AS OF ${asOf.get}: historical " +
        "snapshots are immutable — append to the current table")
    if (branch.isDefined) throw new UnsupportedOperationException(
      s"graft.snap.$tname VERSION AS OF '${branch.get}': the branch " +
        "READ face is immutable — stage writes by setting " +
        "spark.graft.wap.branch and writing to the main table name")
    val snap = ManifestSink.snapshot(dir)
    snap.verifyDeclared(s"graft.snap.$tname INSERT", tschema)
    val book = snap.specs
    ManifestTable(dir, tschema, compactInterval = snap.compactInterval,
      spec = book.current, specId = book.currentId,
      renameCols = cols.physOfLogical,
      colmapAll = cols.logicalOfPhys,
      forBranch = wapBranch).newWriteBuilder(info)
  }

  /** The session's write-audit-publish target (the Iceberg
    * `spark.wap.branch` shape): when set, every batch APPEND to this
    * table stages on that branch instead of publishing to main. */
  private def wapBranch: Option[String] =
    SparkSession.active.conf.getOption("spark.graft.wap.branch")
      .map(_.trim).filter(_.nonEmpty)

  private def hasCol(c: String): Boolean =
    schema().fields.exists(_.name.equalsIgnoreCase(c))

  /** Predicate shapes the COW rewrite can evaluate (re-expressed as
    * Columns over the survivor scan); anything else refuses at analysis
    * time through `canDeleteWhere` rather than mis-deleting. */
  private def deletable(f: Filter): Boolean = f match {
    case EqualTo(c, _) => hasCol(c)
    case EqualNullSafe(c, _) => hasCol(c)
    case GreaterThan(c, _) => hasCol(c)
    case GreaterThanOrEqual(c, _) => hasCol(c)
    case LessThan(c, _) => hasCol(c)
    case LessThanOrEqual(c, _) => hasCol(c)
    case In(c, _) => hasCol(c)
    case IsNull(c) => hasCol(c)
    case IsNotNull(c) => hasCol(c)
    case StringStartsWith(c, _) => hasCol(c)
    case StringEndsWith(c, _) => hasCol(c)
    case StringContains(c, _) => hasCol(c)
    case And(l, r) => deletable(l) && deletable(r)
    case Or(l, r) => deletable(l) && deletable(r)
    case Not(x) => deletable(x)
    case _: AlwaysTrue => true
    case _: AlwaysFalse => true
    case _ => false
  }

  private def toColumn(f: Filter): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit, not}
    f match {
      case EqualTo(c, v) => col(c) === lit(v)
      case EqualNullSafe(c, v) => col(c) <=> lit(v)
      case GreaterThan(c, v) => col(c) > lit(v)
      case GreaterThanOrEqual(c, v) => col(c) >= lit(v)
      case LessThan(c, v) => col(c) < lit(v)
      case LessThanOrEqual(c, v) => col(c) <= lit(v)
      case In(c, vs) => col(c).isin(vs.toIndexedSeq: _*)
      case IsNull(c) => col(c).isNull
      case IsNotNull(c) => col(c).isNotNull
      case StringStartsWith(c, p) => col(c).startsWith(p)
      case StringEndsWith(c, p) => col(c).endsWith(p)
      case StringContains(c, p) => col(c).contains(p)
      case And(l, r) => toColumn(l) && toColumn(r)
      case Or(l, r) => toColumn(l) || toColumn(r)
      case Not(x) => not(toColumn(x))
      case _: AlwaysTrue => lit(true)
      case _: AlwaysFalse => lit(false)
      case other => throw new IllegalStateException(
        s"unreachable: canDeleteWhere admitted $other")
    }
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    asOf.isEmpty && filters.forall(deletable)

  /** Row-level DELETE by COPY-ON-WRITE (the Delta shape):
    * resolve which committed files MAY hold matching rows (the same
    * conservative `#stats` envelope test the scan builder prunes
    * with — a file the stats exclude provably holds no matching row
    * and is left untouched), rewrite ONLY those files' surviving rows
    * through a distributed scan-filter-write job, and commit survivors
    * + `#remove`s of the rewritten files as ONE atomic epoch. Rows
    * where the predicate is NULL survive (SQL DELETE removes only
    * predicate-TRUE rows). Concurrency contract: concurrent
    * APPENDS serialize safely against a delete (the claim race only
    * orders epochs), and two COW operations racing over shared files —
    * delete vs delete, delete vs compaction — are fenced at COMMIT
    * time: [[ManifestSink.claimEpoch]] verifies every `#remove` target
    * is still live in the union it is committing against and aborts
    * the loser with a retryable [[ManifestConflictException]] naming
    * the conflicting files (the Delta optimistic-concurrency shape),
    * so the loser publishes nothing and no deleted row is ever
    * resurrected through a stale rewrite. The rewrite itself reads
    * under the declared conf schema, which is VERIFIED against the
    * log's `#schema` records first: a stale narrow conf
    * on this destructive path would otherwise silently drop an evolved
    * column from the survivor files it commits. */
  override def deleteWhere(logicalFilters: Array[Filter]): Unit = {
    if (branch.isDefined) throw new UnsupportedOperationException(
      s"graft.snap.$tname VERSION AS OF '${branch.get}': the branch " +
        "READ face is immutable — stage writes by setting " +
        "spark.graft.wap.branch and writing to the main table name")
    // STAGED merge-on-read DELETE: under a WAP branch the
    // dv epoch tags #forbranch (invisible to main, applied by the
    // audit face, replayed by fast_forward); copy-on-write refuses
    if (wapBranch.isDefined && deleteMode != "mor")
      throw new UnsupportedOperationException(
        s"graft.snap.$tname: copy-on-write DELETE cannot stage on a " +
          "branch (its #remove set is undefined against a moving main) " +
          "— set delete.mode=mor to stage merge-on-read deletes, or " +
          "publish first")
    val spark = SparkSession.active
    // the predicate arrives in LOGICAL names; everything below — the
    // stats/partition walks and the survivor/dv reads — is physical
    val filters = logicalFilters.map(
      ManifestSink.renameFilterCols(_, cols.physOfLogical))
    val snap = ManifestSink.snapshot(dir)
    snap.verifyDeclared(s"graft.snap.$tname DELETE", tschema)
    require(snap.eqDeletes.isEmpty,
      s"graft.snap.$tname DELETE: the table carries live equality " +
        "deletes (a keyed streaming upsert is active) — CALL " +
        "graft.sys.compact_data to resolve them first")
    // the committed files of `s` that MAY hold matching rows; a staged
    // delete targets the BRANCH's visible state (main + staged adds) —
    // deleting a row appended on the same branch works
    def candidates(s: ManifestSink.Snapshot): (Int, Seq[String]) = {
      val files = wapBranch.fold(s.files)(s.branchFiles)
      (files.size, files.filter { f =>
        val n = java.nio.file.Paths.get(f).getFileName.toString
        val partOk = s.parts.get(n).forall(t =>
          filters.forall(s.specs.mayMatch(t, _)))
        partOk && (s.stats.get(n) match {
          case None => true // no stats: must assume it may match
          case Some(st) => st.rows > 0 && filters.forall(SnapStats.mayMatch(st, _))
        })
      })
    }
    def liveDvs(s: ManifestSink.Snapshot): Map[String, Seq[(String, Long)]] =
      wapBranch.fold(s.dvs)(s.branchDvs)
    val (listed, affected) = candidates(snap)
    if (listed == 0) return
    SnapTable.recordDelete(tname, listed, affected.size)
    if (affected.isEmpty) return
    val pred = filters.map(toColumn).reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    if (deleteMode == "mor") {
      // MERGE-ON-READ: write the matching ROW POSITIONS to small dv
      // files — O(deleted rows), not O(touched files) — and publish them
      // as one `#dv` epoch. No data file moves; readers apply the
      // positions; a later rewrite/compaction resolves them. The commit
      // carries the dv state this job computed against: a racing dv
      // that landed in between trips the claim-time dv-vs-dv fence — the
      // loser's positions could overlap the winner's and overcount — and
      // this loop then RE-RESOLVES against a fresh snapshot (a racing
      // rewrite may also have moved rows to new files) and retries:
      // concurrent trickle deletes serialize instead of failing the
      // statement.
      var attempt = 0
      var pending = affected
      var dvMap = liveDvs(snap)
      var committed = false
      while (!committed && pending.nonEmpty) {
        attempt += 1
        val records = DvOps.writeDeleteVectors(spark, tschema, dir,
          pending, pred, dvMap)
        if (records.isEmpty) committed = true
        else {
          val observed = records.map(_._1).distinct.map(n =>
            n -> dvMap.getOrElse(n, Seq.empty).map(_._1).toSet).toMap
          try {
            ManifestSink.commitDvEpoch(dir, tschema.toDDL, records,
              snap.compactInterval, Some(observed), forBranch = wapBranch)
            committed = true
          } catch {
            case e: ManifestConflictException =>
              // the losing attempt's dv files are unreferenced — clean
              // them now rather than waiting out vacuum's age gate
              records.foreach { case (_, dv, _) =>
                java.nio.file.Files.deleteIfExists(
                  java.nio.file.Paths.get(dir, "data", dv))
              }
              if (attempt >= 5) throw e
              // re-resolve against the current snapshot: drop targets
              // a racing rewrite removed, pick up the files that now
              // hold their rows
              val fresh = ManifestSink.snapshot(dir)
              pending = candidates(fresh)._2
              dvMap = liveDvs(fresh)
          }
        }
      }
      return
    }
    // COPY-ON-WRITE: the survivor read EXCLUDES live dv positions (a
    // rewrite must not resurrect merge-on-read-deleted rows), and the
    // commit declares those dvs consumed so the claim-time fence
    // aborts if a new dv landed on a rewritten file since this pin
    val affectedNames = affected
      .map(f => java.nio.file.Paths.get(f).getFileName.toString)
    val dvMap = snap.dvs
    val consumed = affectedNames.map(n =>
      n -> dvMap.getOrElse(n, Seq.empty).map(_._1).toSet).toMap
    val survivors = DvOps.readExcludingDeleted(spark, tschema, dir, affected,
      Some(dvMap))
      .filter(org.apache.spark.sql.functions.not(
        pred <=> org.apache.spark.sql.functions.lit(true)))
    survivors.write.format("graft.sources.ManifestSink")
      .option("path", dir)
      .option("compactInterval", snap.compactInterval.toString)
      .option("removeFiles", affectedNames.mkString(","))
      .option("consumedDvs", ManifestSink.encodeConsumedDvs(consumed))
      .option("graft.op", "delete") // COW row-level DELETE: the change
                                    // feed diffs victims vs survivors
      .mode("append").save()
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder = {
    def longOpt(k: String): Option[Long] =
      Option(options.get(k)).map { v =>
        try v.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"$k must be an epoch id (integer), got '$v'")
        }
      }
    val upTo = longOpt("asOfVersion").orElse(asOf)
    val since = longOpt("sinceVersion")
    // ONE snapshot serves this scan: its file list, skipping index, dvs,
    // row ids, equality deletes and ndv estimates are one version
    ManifestSink.read(dir)(scanOf(_, options, upTo, since))
  }

  private def scanOf(snap: ManifestSink.Snapshot,
      options: CaseInsensitiveStringMap, upTo: Option[Long],
      since: Option[Long]): org.apache.spark.sql.connector.read.ScanBuilder = {
    /** Plan-input selection: a CURRENT-snapshot read of a
      * table whose checkpoint crosses the distributed threshold plans
      * through a Spark job over the parquet checkpoint (driver cost
      * O(tail + kept), the Iceberg distributed-manifest shape);
      * everything else — versioned reads, small tables, logs without a
      * checkpoint — keeps the memoized driver walk. Values are
      * spec-pinned identical across the two planners. */
    def planInput(): SnapPlanInput = {
      def eager(fs: Seq[String]): SnapPlanInput = {
        // live delete vectors, version-aligned with the file list: a
        // VERSION AS OF before the dv epoch serves the rows un-deleted;
        // a BRANCH read applies main's vectors PLUS the staged ones
        // (staged row-level writes audit on the branch face)
        val dvs = (upTo, branch) match {
          case (Some(v), _) => snap.dvsAsOf(v)
          case (None, Some(b)) => snap.branchDvs(b)
          case _ => snap.dvs
        }
        EagerPlanInput(fs, snap.stats, snap.specs, snap.parts,
          dvs.map { case (f, list) =>
            f -> list.map(e => new java.io.File(new java.io.File(dir, "data"),
              e._1).toString) })
      }
      if (branch.isDefined)
        return eager(snap.branchFiles(branch.get))
      (since, upTo) match {
        case (Some(s), Some(v)) => eager(snap.filesBetween(s, v))
        case (Some(s), None) => eager(snap.filesBetween(s, snap.newestVersion))
        case (None, Some(v)) => eager(snap.filesAsOf(v))
        case (None, None) =>
          val threshold = SparkSession.active.conf
            .getOption("spark.graft.plan.distributedThreshold")
            .flatMap(_.toLongOption).getOrElse(100000L)
          snap.checkpoint match {
            case Some((_, p, n)) if n >= threshold =>
              CheckpointPlanInput(snap, p, n, snap.specs)
            case _ => eager(snap.files)
          }
      }
    }
    // SCHEMA-IN-LOG verification with ADDITIVE EVOLUTION:
    // every epoch records the DDL it was written under, and the
    // declared schema must CONTAIN every recorded field (case-
    // insensitive name, equal type — nullability aside). Declared
    // fields no epoch recorded are the evolution: files written before
    // the column existed simply serve null for it (the parquet by-name
    // read's native behavior — Delta's additive-evolution contract).
    // A recorded field the declared schema LACKS, or a type change,
    // still refuses with both DDLs spelled out: serving those would
    // silently drop or reinterpret committed data. Logs predating the
    // records (or hand-built fixtures) carry none and are served on
    // the conf's authority, the pre-r12 contract. ONE shared check
    // ([[ManifestSink.Snapshot.verifyDeclared]]) guards this
    // read face and every copy-on-write REWRITE face (DELETE,
    // compaction, MERGE) identically.
    snap.verifyDeclared(s"graft.snap.$tname", tschema)
    new SnapScanBuilder(tname, planInput(), cols, options,
      rowIdBases = () => snap.rowids,
      // ndv estimates describe the CURRENT snapshot — versioned and
      // windowed reads keep default sizing
      ndvState = () =>
        if (since.isDefined || upTo.isDefined || branch.isDefined)
          Map.empty
        else snap.ndv,
      eqState = () => {
        // incremental windows never need application: the window
        // refuses to cross an upsert epoch, and files of a window
        // AFTER one are exempt by the sequence rule
        val eq =
          if (since.isDefined) Seq.empty
          else upTo match {
            case Some(v) => snap.eqDeletesAsOf(v)
            case None => snap.eqDeletes
          }
        if (eq.isEmpty) (Seq.empty, Map.empty)
        else (eq.map(e => (e.epoch,
          new java.io.File(new java.io.File(dir, "data"), e.file).toString,
          e.cols)), snap.looseAddEpochs)
      },
      streamSource = Some(readSchema => {
        // STREAMING the catalog table: `readStream.table
        // ("graft.snap.t")` tails the SAME epoch log the path-based
        // format face tails — one catalog name serves the current
        // snapshot, time travel, incremental windows AND the stream.
        // A pinned historical window cannot be tailed (the stream's
        // offsets are live epoch ids), so version options refuse.
        if (asOf.isDefined || branch.isDefined ||
            options.containsKey("asOfVersion") ||
            options.containsKey("sinceVersion"))
          throw new IllegalArgumentException(
            s"graft.snap.$tname: streaming reads tail the LIVE log — " +
              "asOfVersion/sinceVersion/VERSION AS OF (and branch " +
              "reads) do not apply " +
              "(use maxEpochsPerTrigger to rate-limit admission)")
        val maxEpochs = options.getInt("maxEpochsPerTrigger", Int.MaxValue)
        require(maxEpochs >= 1,
          s"maxEpochsPerTrigger must be >= 1, got $maxEpochs")
        // the tail reader resolves columns BY NAME, so a pruned read
        // schema simply reads fewer columns per file (under a column
        // mapping the lookup names are the PHYSICAL ones)
        val prs = cols.physicalize(readSchema)
        new ManifestMicroBatchStream(dir, prs.fields.map(_.name),
          prs.fields.map(f => ManifestSink.typeTokOf(f.dataType)), maxEpochs,
          ManifestSink.onChangeOf(options))
      }))
  }
}

/** What a RENAMEd-away table name resolves to: a stub that
  * lets `DROP TABLE` reclaim the tombstone while every read or write
  * path refuses with the new name spelled out. */
private[sources] class RenamedTombstoneTable(tname: String, target: String)
    extends Table with org.apache.spark.sql.connector.catalog.SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  private def refuse: Nothing = throw new IllegalArgumentException(
    s"graft.snap.$tname was renamed to $target — use the new name")
  override def name(): String = s"snap($tname) [renamed to $target]"
  override def schema(): org.apache.spark.sql.types.StructType =
    new org.apache.spark.sql.types.StructType()
  override def capabilities(): util.Set[org.apache.spark.sql.connector.catalog.TableCapability] =
    Set(org.apache.spark.sql.connector.catalog.TableCapability.BATCH_READ,
      org.apache.spark.sql.connector.catalog.TableCapability.BATCH_WRITE).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder = refuse
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = refuse
}

/** A manifest table's epoch log surfaced as a queryable relation
  * (the Iceberg metadata-table shape):
  *
  *  - `graft.snap.t.files` — one row per committed data file of the
  *    CURRENT snapshot: (file, rows, bytes). `rows` comes from the
  *    `#stats` records (null for files without one), `bytes` from the
  *    filesystem (null if unreadable).
  *  - `graft.snap.t.history` — one row per LIVE log fragment:
  *    (version, ts, kind, n_added, n_removed); loose epochs classify
  *    as append/rewrite/metadata, the compact fragment is one
  *    `checkpoint` row at the horizon (history below it is collapsed —
  *    the log retains exactly what time travel can serve).
  *
  * Rows are driver-derived from the O(fragments) metadata plane and
  * served through a [[org.apache.spark.sql.connector.read.LocalScan]]
  * (→ LocalTableScanExec): operational introspection is never a
  * distributed read. This is also the stepping stone to distributed
  * manifest planning — the log already answers these questions without
  * touching the data plane. */
private[sources] class SnapMetaTable(tname: String, dir: String, meta: String)
    extends Table with org.apache.spark.sql.connector.catalog.SupportsRead {
  import org.apache.spark.sql.types._
  override def name(): String = s"snap($tname).$meta"
  override def schema(): StructType = meta match {
    case "files" => new StructType()
      .add("file", StringType, nullable = false)
      .add("rows", LongType, nullable = true)
      .add("bytes", LongType, nullable = true)
      .add("dvs", LongType, nullable = false)
      .add("deleted_rows", LongType, nullable = false)
    case "history" => new StructType()
      .add("version", LongType, nullable = false)
      .add("ts", TimestampType, nullable = false)
      .add("kind", StringType, nullable = false)
      .add("n_added", LongType, nullable = false)
      .add("n_removed", LongType, nullable = false)
    case "tags" => new StructType()
      .add("tag", StringType, nullable = false)
      .add("version", LongType, nullable = false)
    case "branches" => new StructType()
      .add("branch", StringType, nullable = false)
      .add("base_version", LongType, nullable = false)
      .add("staged_epochs", LongType, nullable = false)
      .add("staged_files", LongType, nullable = false)
    case "partitions" => new StructType()
      .add("partition", StringType, nullable = true)
      .add("spec_id", LongType, nullable = false)
      .add("n_files", LongType, nullable = false)
      .add("n_rows", LongType, nullable = true)
      .add("deleted_rows", LongType, nullable = false)
    case "stats" => new StructType()
      .add("column", StringType, nullable = false)
      .add("files_sketched", LongType, nullable = false)
      .add("ndv", LongType, nullable = false)
  }
  override def capabilities(): util.Set[org.apache.spark.sql.connector.catalog.TableCapability] =
    Set(org.apache.spark.sql.connector.catalog.TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder = {
    val rs = schema()
    () => new org.apache.spark.sql.connector.read.LocalScan {
      override def readSchema(): org.apache.spark.sql.types.StructType = rs
      override def description(): String = s"graft.snap.$tname.$meta"
      override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
        SnapMetaTable.rowsOf(dir, meta)
    }
  }
}

private[sources] object SnapMetaTable {
  val Names: Set[String] = Set("files", "history", "tags", "partitions",
    "changes", "branches", "stats")

  /** The rows of metadata table `meta`, all derived from ONE snapshot —
    * a commit landing mid-read can never tear them across versions. */
  private[sources] def rowsOf(dir: String, meta: String)
      : Array[org.apache.spark.sql.catalyst.InternalRow] =
    ManifestSink.read(dir)(rowsOf(_, meta))

  private def rowsOf(snap: ManifestSink.Snapshot, meta: String)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = meta match {
    case "stats" =>
      // the merged `#ndv` face: per-column distinct-count estimates of
      // the LIVE snapshot, served under LOGICAL names
      val colmap = snap.colmap.map { case (pk, l) => pk.toLowerCase -> l }
      snap.ndv.toSeq
        .filterNot { case (c, _) =>
          colmap.get(c.toLowerCase).contains(ManifestSink.DroppedColumn) }
        .map { case (c, nv) => (colmap.getOrElse(c.toLowerCase, c), nv) }
        .sortBy(_._1)
        .map { case (c, (n, ndv)) =>
          org.apache.spark.sql.catalyst.InternalRow(
            org.apache.spark.unsafe.types.UTF8String.fromString(c), n, ndv)
        }.toArray
    case "files" =>
      val stats = snap.stats
      val dvs = snap.dvs
      snap.files.map { f =>
        val p = java.nio.file.Paths.get(f)
        val name = p.getFileName.toString
        val dvList = dvs.getOrElse(name, Seq.empty)
        org.apache.spark.sql.catalyst.InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(name),
          stats.get(name).map(s => java.lang.Long.valueOf(s.rows)).orNull,
          (try java.lang.Long.valueOf(java.nio.file.Files.size(p))
           catch { case _: java.io.IOException => null }),
          dvList.size.toLong, dvList.map(_._2).sum)
      }.toArray
    case "history" =>
      snap.history.map { case (v, kind, added, removed, ms) =>
        org.apache.spark.sql.catalyst.InternalRow(
          v, ms * 1000L, // millis → micros (TimestampType payload)
          org.apache.spark.unsafe.types.UTF8String.fromString(kind),
          added, removed)
      }.toArray
    case "tags" =>
      snap.tags.toSeq.sortBy(_._1).map { case (n, v) =>
        org.apache.spark.sql.catalyst.InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(n), v)
      }.toArray
    case "branches" =>
      // one row per live WAP ref with its staged footprint — what an
      // operator audits before deciding to publish or abandon
      val staged = snap.stagedFootprint
      snap.branches.toSeq.sortBy(_._1).map { case (n, v) =>
        val (ne, nf) = staged.getOrElse(n, (0L, 0L))
        org.apache.spark.sql.catalyst.InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(n), v, ne, nf)
      }.toArray
    case "partitions" =>
      // one row per live (spec id, tuple): how the table is laid out
      // RIGHT NOW, decoded human-readable (the Iceberg .partitions
      // shape) — after a spec evolution the era mix is visible here.
      // Files without a tuple group under a NULL partition.
      val book = snap.specs
      val parts = snap.parts
      val stats = snap.stats
      val dvs = snap.dvs
      def render(t: PartTuple): String = book.specOf(t) match {
        case Some(spec) if spec.size == t.toks.size =>
          spec.zip(t.toks).map {
            case (IdentityPart(c), "n") => s"$c=null"
            case (IdentityPart(c), tok) if tok.startsWith("s") =>
              s"$c=${ManifestLog.unhex(tok.tail).getOrElse(tok)}"
            case (IdentityPart(c), tok) => s"$c=$tok"
            case (DaysPart(c), "n") => s"${c}_day=null"
            case (DaysPart(c), tok) => s"${c}_day=" + tok.toLongOption
              .map(d => java.time.LocalDate.ofEpochDay(d).toString)
              .getOrElse(tok)
            case (BucketPart(n, c), tok) => s"${c}_bucket[$n]=$tok"
          }.mkString("/")
        case _ => s"spec-${t.specId}:${t.toks.mkString(",")}" // unknown era
      }
      snap.names
        .groupBy(n => parts.get(n))
        .toSeq
        .map { case (tup, names) =>
          val rows = names.foldLeft(Option(0L)) { (acc, n) =>
            acc.flatMap(a => stats.get(n).map(a + _.rows)) }
          val del = names.flatMap(n =>
            dvs.getOrElse(n, Seq.empty).map(_._2)).sum
          (tup.map(render), tup.map(_.specId.toLong).getOrElse(-1L),
            names.size.toLong, rows, del)
        }
        .sortBy(r => (r._2, r._1.getOrElse("")))
        .map { case (part, specId, nFiles, nRows, del) =>
          org.apache.spark.sql.catalyst.InternalRow(
            part.map(org.apache.spark.unsafe.types.UTF8String.fromString)
              .orNull,
            specId, nFiles,
            nRows.map(java.lang.Long.valueOf).orNull, del)
        }.toArray
  }
}

private[graft] object SnapTable {
  /** (filesListed, filesPlanned) of the most recent scan build PER
    * TABLE in this JVM — observability for the file-skipping contract.
    * SnapshotSpec pins that a filtered read plans strictly fewer files
    * than the snapshot lists. Keyed by table name (one
    * JVM-global slot raced under concurrent snap scans, and an
    * asserting test could silently observe another table's prune). */
  private val prunes =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Int)]()
  private[sources] def recordPrune(table: String, listed: Int, planned: Int): Unit =
    prunes.put(table, (listed, planned))
  /** Most recent (listed, planned) for `table`; (0, 0) if never scanned. */
  private[graft] def lastPruneOf(table: String): (Int, Int) =
    Option(prunes.get(table)).getOrElse((0, 0))

  /** Most recent COW delete's (committedFiles, filesRewritten) per
    * table — SnapshotSpec pins that a stats-prunable predicate
    * rewrites strictly fewer files than the snapshot holds. */
  private val deletes =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Int)]()
  private[sources] def recordDelete(table: String, total: Int, rewritten: Int): Unit =
    deletes.put(table, (total, rewritten))
  private[graft] def lastDeleteOf(table: String): (Int, Int) =
    Option(deletes.get(table)).getOrElse((0, 0))

  /** Most recent row-level operation's (snapshotFiles, filesRewritten)
    * per table — SnapshotSpec pins that runtime group filtering
    * narrows an UPDATE/MERGE rewrite to the files that hold matches. */
  private val rewrites =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Int)]()
  private[sources] def recordRewrite(table: String, total: Int, rewritten: Int): Unit =
    rewrites.put(table, (total, rewritten))
  private[graft] def lastRewriteOf(table: String): (Int, Int) =
    Option(rewrites.get(table)).getOrElse((0, 0))
}

/** Stats-vs-predicate envelope tests shared by the data-skipping scan
  * builder and the copy-on-write DELETE's affected-file resolution —
  * ONE conservative `mayMatch` so the two faces can never disagree
  * about which files a predicate may touch. */
private[sources] object SnapStats {
  import org.apache.spark.sql.sources._

  /** Comparands of the long-stat family, normalized to the stats'
    * payload scale: integrals as-is, timestamps to UTC micros, dates to
    * epoch days — the exact values the writer observed in InternalRow,
    * so numeric comparison is value comparison. */
  def longLit(v: Any): Option[Long] = v match {
    case n: java.lang.Long => Some(n.longValue)
    case n: java.lang.Integer => Some(n.longValue)
    case n: java.lang.Short => Some(n.longValue)
    case n: java.lang.Byte => Some(n.longValue)
    case t: java.sql.Timestamp =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
    case i: java.time.Instant =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i))
    case d: java.sql.Date =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d).toLong)
    case ld: java.time.LocalDate => Some(ld.toEpochDay)
    case _ => None // unmodeled comparand kind: never prune on it
  }

  def range(st: FileStat, col: String): Option[(Long, Long)] =
    st.cols.collectFirst { case (c, r) if c.equalsIgnoreCase(col) => r }

  def strRange(st: FileStat, col: String): Option[(String, Option[String])] =
    st.strCols.collectFirst { case (c, r) if c.equalsIgnoreCase(col) => r }

  def nullsOf(st: FileStat, col: String): Option[Long] =
    st.nulls.collectFirst { case (c, n) if c.equalsIgnoreCase(col) => n }

  /** May this type carry a `#bloom` filter? The long-stat family plus
    * strings — exactly the types whose normalized insert/probe
    * encodings [[longLit]] and the writer share. */
  def bloomable(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt.typeName match {
      case "long" | "integer" | "short" | "byte" | "timestamp" | "date" |
           "string" => true
      case _ => false
    }

  /** May a file whose `#bloom` filter for `col` exist contain value
    * `v`? No recorded filter (or an unmodeled comparand) answers true;
    * false positives only — a bloom can only FAIL to prune. Probes use
    * the exact insert encodings: normalized longs for the long family,
    * UTF-8 bytes for strings. */
  def bloomMayContain(st: FileStat, col: String, v: Any): Boolean =
    st.blooms.collectFirst {
      case (c, b64) if c.equalsIgnoreCase(col) => b64
    } match {
      case None => true
      case Some(b64) => BloomSkip.fromB64(b64) match {
        case None => true // undecodable payload: never prune on it
        case Some(bf) => longLit(v) match {
          case Some(x) => bf.mightContainLong(x)
          case None => v match {
            case s: String => bf.mightContainBinary(
              s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            case u: org.apache.spark.unsafe.types.UTF8String =>
              bf.mightContainBinary(u.getBytes)
            case _ => true
          }
        }
      }
    }

  /** Is `col` PROVABLY all-null in this file? Either its recorded null
    * count equals the row count, or — in a file whose stats carry null
    * accounting at all (the records are exhaustive over the written
    * schema) — a stats-safe-named column with NO record was not in the
    * file's written schema: the pre-evolution file, where the parquet
    * by-name read serves null for every row. All value predicates and
    * `IS NOT NULL` skip such a file; `IS NULL` matches it. Files
    * without null accounting (pre-r14 logs) answer false —
    * conservative, never-prune-on-unknowns. */
  def knownAllNull(st: FileStat, col: String): Boolean =
    nullsOf(st, col) match {
      case Some(n) => n == st.rows
      case None => st.exhaustiveNulls && st.nulls.nonEmpty &&
        ManifestLog.statSafeName(col)
    }

  /** May ANY row of a file with stats `st` satisfy `f`? Conservative:
    * unknown columns, unmodeled comparands and unmodeled predicate
    * shapes all answer true. String bounds are recorded only for
    * all-ASCII files ([[StrColStat]]), where JVM string order equals
    * Spark's UTF8String binary order against ANY comparand (the first
    * differing position decides identically whenever one side is
    * ASCII); `max` is None when truncation left the file unbounded
    * above. */
  def mayMatch(st: FileStat, f: Filter): Boolean = {
    // each predicate shape gets its long-bounds form and its
    // string-bounds form; a column with neither stat kind (or an
    // unmodeled comparand) answers true. String bounds: `mn` may be a
    // truncated PREFIX of the true minimum (a valid lower bound) and
    // `mx` a bumped strict upper bound or None — both forms below stay
    // conservative under that (a truncated bound can only widen the
    // envelope, never shrink it).
    def cmp(col: String, v: Any)(pl: (Long, Long, Long) => Boolean)(
        ps: (String, Option[String], String) => Boolean): Boolean =
      (range(st, col), longLit(v)) match {
        case (Some((mn, mx)), Some(x)) => pl(mn, mx, x)
        case _ => (strRange(st, col), v) match {
          case (Some((mn, mx)), x: String) => ps(mn, mx, x)
          case _ => true
        }
      }
    def sEq(mn: String, mx: Option[String], x: String): Boolean =
      x.compareTo(mn) >= 0 && mx.forall(x.compareTo(_) <= 0)
    // value predicates (everything below except IS NULL and the null-
    // safe-equals-null form) match only NON-NULL values, so a column
    // provably all-null in this file admits no row regardless of bounds
    f match {
      // equality/IN additionally probe the file's `#bloom` filter
      // once the min/max envelope passes — the point-read
      // shape min/max cannot prune under near-uniform per-file ranges
      case EqualTo(c, v) => !knownAllNull(st, c) &&
        cmp(c, v)((mn, mx, x) => x >= mn && x <= mx)(sEq) &&
        bloomMayContain(st, c, v)
      case EqualNullSafe(c, null) =>
        // `c <=> NULL` matches exactly the null rows: prune iff the
        // file records zero nulls for c
        nullsOf(st, c).forall(_ > 0)
      case EqualNullSafe(c, v) => !knownAllNull(st, c) &&
        cmp(c, v)((mn, mx, x) => x >= mn && x <= mx)(sEq) &&
        bloomMayContain(st, c, v)
      case GreaterThan(c, v) => !knownAllNull(st, c) &&
        cmp(c, v)((_, mx, x) => mx > x)((_, mx, x) => mx.forall(_.compareTo(x) > 0))
      case GreaterThanOrEqual(c, v) => !knownAllNull(st, c) &&
        cmp(c, v)((_, mx, x) => mx >= x)((_, mx, x) => mx.forall(_.compareTo(x) >= 0))
      case LessThan(c, v) => !knownAllNull(st, c) &&
        cmp(c, v)((mn, _, x) => mn < x)((mn, _, x) => mn.compareTo(x) < 0)
      case LessThanOrEqual(c, v) => !knownAllNull(st, c) &&
        cmp(c, v)((mn, _, x) => mn <= x)((mn, _, x) => mn.compareTo(x) <= 0)
      case In(c, vs) => !knownAllNull(st, c) &&
        vs.exists(v => cmp(c, v)((mn, mx, x) => x >= mn && x <= mx)(sEq) &&
          bloomMayContain(st, c, v))
      case IsNull(c) =>
        // prune iff the file records ZERO nulls for c; absent records
        // (pre-evolution column: all null; pre-r14 file: unknown) both
        // answer true — an all-null column DOES match IS NULL
        nullsOf(st, c).forall(_ > 0)
      case IsNotNull(c) =>
        !knownAllNull(st, c)
      case StringStartsWith(c, prefix) =>
        // strings with prefix p occupy [p, bump(p)); overlap with the
        // file's [mn, mx] envelope needs mx >= p and mn inside/below
        !knownAllNull(st, c) && ((strRange(st, c), prefix) match {
          case (Some((mn, mx)), p) =>
            mx.forall(_.compareTo(p) >= 0) &&
              (mn.startsWith(p) || mn.compareTo(p) <= 0)
          case _ => true
        })
      case And(l, r) => mayMatch(st, l) && mayMatch(st, r)
      case Or(l, r) => mayMatch(st, l) || mayMatch(st, r)
      case _ => true
    }
  }

}

/** Data-skipping scan builder over a resolved committed-file list:
  * receives the pushed CATALYST filters (the interface Spark 4's
  * planner offers first, and the one the builtin file sources consume),
  * translates them to v1 `Filter`s to prune files whose `#stats` (row
  * count + per-long-column min/max, recorded at write time) cannot
  * satisfy them, then delegates the pruned path list to the builtin
  * parquet DSv2 builder — forwarding the SAME catalyst filters (so
  * parquet row-group/page stats pruning engages inside each file) and
  * the required-column pruning. All filters are reported as residual
  * (`pushFilters` returns them, `pushedFilters` is empty), so Spark
  * re-applies every predicate post-scan: file skipping is a strict
  * optimization, never a correctness dependency — a file with no
  * recorded stats simply cannot be skipped. */
/** How a snap scan resolves its committed-file universe:
  * EAGER carries the driver-derived maps (versioned reads, small
  * tables, logs without a checkpoint); CHECKPOINT defers to the
  * distributed planner over the compaction-time parquet checkpoint —
  * pruning runs as a Spark job and the driver handles only the loose
  * tail and the kept names. */
private[sources] sealed trait SnapPlanInput
private[sources] case class EagerPlanInput(files: Seq[String],
    stats: Map[String, FileStat], book: SpecBook,
    parts: Map[String, PartTuple],
    dvs: Map[String, Seq[String]]) extends SnapPlanInput
private[sources] case class CheckpointPlanInput(snap: ManifestSink.Snapshot,
    parquet: java.nio.file.Path, rows: Long, book: SpecBook) extends SnapPlanInput

private[sources] class SnapScanBuilder(tname: String, input: SnapPlanInput,
    cols: ColumnMap,
    options: CaseInsensitiveStringMap,
    streamSource: Option[org.apache.spark.sql.types.StructType =>
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream] = None,
    /** file → `#rowid` base, consulted only by the
      * metadata-column scan path when `_row_id` is requested. */
    rowIdBases: () => Map[String, Long] = () => Map.empty,
    /** LIVE equality deletes: ((epoch, ABSOLUTE key-file
      * path, physical key cols)…, looseAddEpochs) — when non-empty,
      * the scan routes through the group reader and each planned file
      * carries its APPLICABLE key files (add-epoch < delete-epoch;
      * files absent from the add-epoch map predate the horizon and
      * take every delete). */
    eqState: () => (Seq[(Long, String, Seq[String])], Map[String, Long]) =
      () => (Seq.empty, Map.empty),
    /** Merged `#ndv` estimates: physical column → (files
      * sketched, distinct estimate) — when non-empty, the scan
      * reports manifest statistics with equality predicates scaled by
      * 1/ndv. Empty for ndv-less tables (zero plan change). */
    ndvState: () => Map[String, (Long, Long)] = () => Map.empty)
    extends org.apache.spark.sql.connector.read.ScanBuilder
    with org.apache.spark.sql.graftbridge.GraftCatalystFilterPushdown
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
  import org.apache.spark.sql.sources._

  // logical↔physical boundary (empty = identity): pushed predicates
  // and pruned columns arrive LOGICAL and are translated once here;
  // every pruning face, the parquet delegate and the by-name reader
  // operate PHYSICAL; the served readSchema translates back so output
  // attribute names stay logical while rows pass through positionally
  private val physOfLogical = cols.physOfLogical
  private def tschema = cols.phys

  private var catalystFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression] = Seq.empty
  private var filters: Array[Filter] = Array.empty
  private var required: Option[org.apache.spark.sql.types.StructType] = None

  override def pushFilters(
      fs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    catalystFilters =
      if (physOfLogical.isEmpty) fs
      else fs.map(_.transform {
        case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
          if physOfLogical.contains(a.name.toLowerCase) =>
          a.withName(physOfLogical(a.name.toLowerCase))
      })
    filters = catalystFilters
      .flatMap(org.apache.spark.sql.graftbridge.Bridge.translateFilter)
      .toArray
    fs // all residual: Spark re-applies, skipping is bonus
  }
  override def pushedFilters
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    Array.empty
  override def pruneColumns(requiredSchema: org.apache.spark.sql.types.StructType): Unit =
    required = Some(requiredSchema)

  override def build(): org.apache.spark.sql.connector.read.Scan = {
    // PARTITION pruning first (exact tuples, cheap), then
    // the per-file #stats envelope test — the Iceberg planning order.
    // Both planners apply the SAME mayMatch model; only WHERE it runs
    // differs (driver walk vs a job over the checkpoint).
    val (kept, dvs, listed) = input match {
      case e: EagerPlanInput =>
        val k = e.files.filter { f =>
          val n = java.nio.file.Paths.get(f).getFileName.toString
          val partOk = e.parts.get(n).forall(t =>
            filters.forall(e.book.mayMatch(t, _)))
          partOk && (e.stats.get(n) match {
            case None => true // no stats recorded: cannot skip
            case Some(st) => st.rows > 0 &&
              filters.forall(SnapStats.mayMatch(st, _))
          })
        }
        (k, e.dvs, e.files.size)
      case c: CheckpointPlanInput =>
        c.snap.distributedPlan(SparkSession.active, c.parquet, c.rows,
          filters.toSeq, c.book)
    }
    SnapTable.recordPrune(tname, listed, kept.size)
    // a read that references the `_file`/`_pos` metadata columns
    // cannot ride the parquet delegate (the files carry no such
    // fields — by-name null-fill would silently serve nulls where the
    // file name / row ordinal belong); serve it through the sink's own
    // by-name group reader, a partition per kept file. Rare metadata
    // queries trade the vectorized reader for correctness; every other
    // read keeps the delegate below.
    val wantsFile = required.exists(_.fields.exists(f =>
      f.name.equalsIgnoreCase(SnapFileColumn.name) ||
        f.name.equalsIgnoreCase(SnapPosColumn.name) ||
        f.name.equalsIgnoreCase(SnapRowIdColumn.name)))
    // MERGE-ON-READ deletes: a kept file with live position
    // deletes cannot ride the parquet delegate (it would serve the
    // deleted rows) — the sink's own reader applies the dv skip. The
    // table trades the vectorized reader WHILE dvs are live; a
    // compaction/rewrite resolves them and the delegate path returns.
    val dvName = (f: String) =>
      java.nio.file.Paths.get(f).getFileName.toString
    val hasDvs = kept.exists(f => dvs.get(dvName(f)).exists(_.nonEmpty))
    // EQUALITY DELETES: live `#eqdel` records force the
    // group-reader path — the parquet delegate would serve the
    // deleted keys. compact_data is the resolution that returns the
    // table to the vectorized delegate.
    val (eqdels, eqAddEpochs) = eqState()
    val hasEq = eqdels.nonEmpty
    if (wantsFile || hasDvs || hasEq) {
      // readSchema stays LOGICAL; the by-name reader looks files up
      // under the PHYSICAL names (rows are positional)
      val rs = required.getOrElse(cols.logicalize(tschema))
      return new org.apache.spark.sql.connector.read.Scan
          with org.apache.spark.sql.connector.read.Batch {
        override def readSchema(): org.apache.spark.sql.types.StructType = rs
        override def toBatch: org.apache.spark.sql.connector.read.Batch = this
        override def description(): String =
          s"graft.snap.$tname " +
            (if (hasEq) "eq-delete-applying"
             else if (hasDvs) "dv-applying" else "metadata-column") +
            s" scan (${kept.size} files)"
        override def planInputPartitions()
            : Array[org.apache.spark.sql.connector.read.InputPartition] = {
          val bases = rowIdBases()
          kept.map { f =>
            val n = dvName(f)
            // a delete applies to files committed STRICTLY BEFORE it
            val eqApplicable = eqdels.filter { case (epoch, _, _) =>
              eqAddEpochs.get(n).forall(_ < epoch) }
              .map { case (_, p, cols) => (p, cols) }
            ManifestFilePartition(f,
              dvs.getOrElse(n, Seq.empty),
              rowIdBase = bases.getOrElse(n, -1L),
              eqFiles = eqApplicable)
            : org.apache.spark.sql.connector.read.InputPartition
          }.toArray
        }
        override def createReaderFactory()
            : org.apache.spark.sql.connector.read.PartitionReaderFactory =
          {
            // physical lookup names AND physical inner struct names
            // — the by-name group reader resolves nested
            // fields against the file's physical layout
            val prs = cols.physicalize(rs)
            ManifestReadFactory(prs.fields.map(_.name),
              prs.fields.map(f =>
                graft.sources.ManifestSink.typeTokOf(f.dataType)))
          }
        override def toMicroBatchStream(checkpointLocation: String)
            : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
          streamSource match {
            case Some(mk) => mk(rs) // the tail itself refuses windows
                                    // crossing dv/remove epochs
            case None => throw new UnsupportedOperationException(
              s"graft.snap.$tname: this face does not stream")
          }
      }
    }
    // JSON-encode the path list ("paths" is the multi-path option every
    // file DSv2 source takes); manifest file names are uuid-safe. The
    // delegate is the builtin PARQUET DSv2 (the sink's data
    // plane is parquet), so a snap read gets the vectorized reader,
    // within-file column pruning and row-group stats on top of the
    // manifest-level #stats skipping above
    val paths = kept.map(f => "\"" + f.replace("\\", "\\\\")
      .replace("\"", "\\\"") + "\"").mkString("[", ",", "]")
    val delegate = new ParquetDataSourceV2()
      .getTable(new CaseInsensitiveStringMap(
        Map("paths" -> paths).asJava), cols.served)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
      .newScanBuilder(options)
    org.apache.spark.sql.graftbridge.Bridge
      .pushCatalystFilters(delegate, catalystFilters)
    delegate match {
      case p: org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns =>
        required.foreach(r => p.pruneColumns(cols.physicalize(r)))
      case _ =>
    }
    val dscan = delegate.build()
    val ndv = ndvState()
    if (ndv.isEmpty && streamSource.isEmpty && cols.isEmpty) dscan
    else
        // batch reads delegate untouched (modulo readSchema renamed
        // physical→logical under a column mapping — rows are
        // positional); a streaming read swaps in the epoch-log tail
        // (the same MicroBatchStream the path face uses). With `#ndv`
        // records the scan additionally REPORTS manifest
        // statistics: row count from `#stats`, equality/IN predicates
        // scaled by 1/ndv — which is what lets Spark broadcast the
        // filtered side of a join that byte-size-only metadata would
        // sort-merge at 100 TB.
        new org.apache.spark.sql.connector.read.Scan
            with org.apache.spark.sql.connector.read.SupportsReportStatistics {
          override def readSchema(): org.apache.spark.sql.types.StructType =
            cols.logicalize(dscan.readSchema())
          override def description(): String = dscan.description()
          override def toBatch: org.apache.spark.sql.connector.read.Batch =
            dscan.toBatch
          override def toMicroBatchStream(checkpointLocation: String)
              : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
            streamSource match {
              case Some(mk) => mk(cols.logicalize(dscan.readSchema()))
              case None => throw new UnsupportedOperationException(
                s"graft.snap.$tname: this face does not stream")
            }
          override def estimateStatistics()
              : org.apache.spark.sql.connector.read.Statistics = {
            // ndv-less wrappers (colmap/streaming faces) keep the
            // pre-r19 default sizing: empty optionals ≡ the conf
            // default Spark used when no trait was present
            if (ndv.isEmpty)
              return new org.apache.spark.sql.connector.read.Statistics {
                override def sizeInBytes(): java.util.OptionalLong =
                  java.util.OptionalLong.empty()
                override def numRows(): java.util.OptionalLong =
                  java.util.OptionalLong.empty()
              }
            def ndvOf(c: String): Option[Long] = ndv.collectFirst {
              case (k, (_, est)) if k.equalsIgnoreCase(c) =>
                math.max(1L, est) }
            val sel = filters.foldLeft(1.0) { (acc, f) =>
              acc * (f match {
                case EqualTo(c, _) =>
                  ndvOf(c).map(n => math.min(1.0, 1.0 / n)).getOrElse(1.0)
                case EqualNullSafe(c, _) =>
                  ndvOf(c).map(n => math.min(1.0, 1.0 / n)).getOrElse(1.0)
                case In(c, vs) =>
                  ndvOf(c).map(n =>
                    math.min(1.0, vs.length.toDouble / n)).getOrElse(1.0)
                case _ => 1.0
              })
            }
            val statsMap = input match {
              case e: EagerPlanInput => e.stats
              case _ => Map.empty[String, FileStat]
            }
            val names = kept.map(f =>
              java.nio.file.Paths.get(f).getFileName.toString)
            val rowsOpt =
              if (names.forall(statsMap.contains))
                Some(names.map(statsMap(_).rows).sum)
              else None
            val width = math.max(1, readSchema().defaultSize)
            rowsOpt match {
              case Some(r) =>
                val rows =
                  if (r == 0L) 0L
                  else math.max(1L, math.round(r * sel))
                new org.apache.spark.sql.connector.read.Statistics {
                  override def sizeInBytes(): java.util.OptionalLong =
                    java.util.OptionalLong.of(math.max(1L, rows * width))
                  override def numRows(): java.util.OptionalLong =
                    java.util.OptionalLong.of(rows)
                }
              case None => dscan match {
                // no manifest row counts (checkpoint-planned table):
                // scale the parquet delegate's own byte estimate
                case s: org.apache.spark.sql.connector.read
                    .SupportsReportStatistics =>
                  val d = s.estimateStatistics()
                  new org.apache.spark.sql.connector.read.Statistics {
                    override def sizeInBytes(): java.util.OptionalLong =
                      if (d.sizeInBytes().isPresent)
                        java.util.OptionalLong.of(math.max(1L,
                          math.round(d.sizeInBytes().getAsLong * sel)))
                      else d.sizeInBytes()
                    override def numRows(): java.util.OptionalLong =
                      if (d.numRows().isPresent)
                        java.util.OptionalLong.of(math.max(1L,
                          math.round(d.numRows().getAsLong * sel)))
                      else d.numRows()
                  }
                case _ =>
                  new org.apache.spark.sql.connector.read.Statistics {
                    override def sizeInBytes(): java.util.OptionalLong =
                      java.util.OptionalLong.empty()
                    override def numRows(): java.util.OptionalLong =
                      java.util.OptionalLong.empty()
                  }
              }
            }
          }
        }
  }
}
