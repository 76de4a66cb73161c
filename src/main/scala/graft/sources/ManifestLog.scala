package graft.sources

import scala.collection.mutable

/** The manifest log's record format: one typed record per line, and the
  * one codec every reader and writer of [[ManifestSink]] goes through.
  *
  * A fragment (`epoch-<id>` or `compact-<id>`, or a checkpoint's `.meta`
  * sidecar) is UTF-8 text, one record per line, joined by `\n` with no
  * trailing newline; empty lines are skipped. A line that does not start
  * with `#` is a committed data-file name ([[Data]]). Every other line is
  * `#<tag>` followed, unless the kind takes no arguments, by one space
  * and the arguments. The kinds and their grammars (`<file>` is a bare
  * data-file name; integers are decimal longs):
  *
  *  - `#txn <writerId> <engineEpoch>` — a streaming writer's idempotence
  *    watermark; such records lead their fragment.
  *  - `#ts <micros>` — the commit time, stamped by the claim.
  *  - `#schema <ddl>` — the schema the epoch was written under.
  *  - `#spec [<id>=]<t1>;<t2>…` — a partition spec, t ∈ `identity:<col>`
  *    | `days:<col>` | `bucket:<n>:<col>`, `-` for the empty spec; no id
  *    means spec 0 (the CREATE epoch's form).
  *  - `#op <kind>` — the committing operation (`append`, `overwrite`,
  *    `delete`, `update`, `merge`, `upsert`, `compact`, `rollback`,
  *    `metadata`).
  *  - `#cow <token>` — a run-unique token of a remove-carrying commit.
  *  - `#forbranch <name>` — the epoch is staged on a branch.
  *  - `#cdcpair` — the epoch's carried rows kept their row ids, so the
  *    change feed may pair its removes and adds row by row.
  *  - `#remove <file>` — the epoch removes an earlier-added file.
  *  - `#stats <file> <rows>[ <tok>(;<tok>)*]` — a file's row count and
  *    column bounds; tok ∈ `<col>:<min>:<max>` (long family),
  *    `<col>:s<hexmin>:s<hexmax>` or `<col>:s<hexmin>:-` (strings,
  *    lowercase hex of the UTF-8 bytes, `-` = unbounded max),
  *    `<col>:n<nulls>` (null count). Writers emit the long, string and
  *    null tokens in that order.
  *  - `#bloom <file> <col>:<b64>(;<col>:<b64>)*` — per-column bloom
  *    filters of a file.
  *  - `#ndv <file> <col>:<b64>(;<col>:<b64>)*` — per-column HLL sketches.
  *  - `#part <file> [<specId>@]<tok>(,<tok>)*` — a file's partition
  *    tuple; no id means spec 0.
  *  - `#dv <dataFile> <dvFile> <nDeleted>` — a deletion vector.
  *  - `#prop <key> <value>` — a table property (last per key wins).
  *  - `#colmap <physical>=<logical>(;…)` — the whole column mapping
  *    (last record wins); a logical name of `-` marks a dropped column.
  *  - `#tag <name> <version>` / `#tag <name> -` — a tag, or its drop.
  *  - `#branch <name> <baseVersion>` / `#branch <name> -` — a branch
  *    ref, or its drop.
  *  - `#rowid <file> <base>` — a file's base row id.
  *  - `#rowidhwm <next>` — the row-id high watermark.
  *  - `#cdc <file> <pre|post>` — an UPDATE pre-image dv file or
  *    post-image add file.
  *  - `#eqdel <file> <col>(,<col>)* <rows>` — an equality-delete key
  *    file.
  *  - `#eqdrop <file>` — an equality-delete key file is resolved.
  *
  * A `#` line with an unknown tag, or whose arguments do not parse,
  * decodes to None: every reader ignores it and compaction drops it.
  * `encode(decode(l)) == l` holds for every line the writers emit. */
object ManifestLog {
  sealed trait LogRecord
  final case class Data(name: String) extends LogRecord
  final case class Txn(writer: String, epoch: Long) extends LogRecord
  final case class Ts(micros: Long) extends LogRecord
  final case class Schema(ddl: String) extends LogRecord
  final case class Spec(id: Option[Int], body: String) extends LogRecord {
    def specId: Int = id.getOrElse(0)
  }
  final case class Op(kind: String) extends LogRecord
  final case class Cow(token: String) extends LogRecord
  final case class ForBranch(name: String) extends LogRecord
  case object CdcPair extends LogRecord
  final case class Remove(name: String) extends LogRecord
  final case class Stats(file: String, rows: Long, cols: Seq[ColStat],
      strCols: Seq[StrColStat], nulls: Seq[NullStat]) extends LogRecord {
    def stat: FileStat = FileStat(rows,
      cols.map(c => c.col -> ((c.min, c.max))).toMap,
      strCols.map(c => c.col -> ((c.min, c.max))).toMap,
      nulls.map(c => c.col -> c.nulls).toMap)
  }
  final case class Bloom(file: String, cols: Seq[(String, String)]) extends LogRecord
  final case class Ndv(file: String, cols: Seq[(String, String)]) extends LogRecord
  final case class Part(file: String, tuple: PartTuple) extends LogRecord
  final case class Dv(data: String, dv: String, deleted: Long) extends LogRecord
  final case class Prop(key: String, value: String) extends LogRecord
  final case class Colmap(entries: Seq[(String, String)]) extends LogRecord
  final case class Tag(name: String, version: Option[Long]) extends LogRecord
  final case class Branch(name: String, base: Option[Long]) extends LogRecord
  final case class RowId(file: String, base: Long) extends LogRecord
  final case class RowIdHwm(next: Long) extends LogRecord
  final case class Cdc(file: String, role: String) extends LogRecord
  final case class EqDel(file: String, cols: Seq[String], rows: Long) extends LogRecord
  final case class EqDrop(file: String) extends LogRecord

  private final val TxnT = "#txn"
  private final val TsT = "#ts"
  private final val SchemaT = "#schema"
  private final val SpecT = "#spec"
  private final val OpT = "#op"
  private final val CowT = "#cow"
  private final val ForBranchT = "#forbranch"
  private final val CdcPairT = "#cdcpair"
  private final val RemoveT = "#remove"
  private final val StatsT = "#stats"
  private final val BloomT = "#bloom"
  private final val NdvT = "#ndv"
  private final val PartT = "#part"
  private final val DvT = "#dv"
  private final val PropT = "#prop"
  private final val ColmapT = "#colmap"
  private final val TagT = "#tag"
  private final val BranchT = "#branch"
  private final val RowIdT = "#rowid"
  private final val RowIdHwmT = "#rowidhwm"
  private final val CdcT = "#cdc"
  private final val EqDelT = "#eqdel"
  private final val EqDropT = "#eqdrop"

  def decode(line: String): Option[LogRecord] =
    if (line.isEmpty) None
    else if (!line.startsWith("#")) Some(Data(line))
    else {
      val sp = line.indexOf(' ')
      val tag = if (sp < 0) line else line.substring(0, sp)
      val rest = if (sp < 0) "" else line.substring(sp + 1)
      def named(f: (String, Option[Long]) => LogRecord): Option[LogRecord] =
        rest.split(" ", 2) match {
          case Array(n, "-") if n.nonEmpty => Some(f(n, None))
          case Array(n, v) if n.nonEmpty => v.toLongOption.map(x => f(n, Some(x)))
          case _ => None
        }
      tag match {
        case TxnT => rest.split(" ", 2) match {
          case Array(w, e) => e.toLongOption.map(Txn(w, _))
          case _ => None
        }
        case TsT => rest.trim.toLongOption.map(Ts(_))
        case SchemaT => Some(Schema(rest))
        case SpecT =>
          val eq = rest.indexOf('=')
          if (eq > 0 && rest.substring(0, eq).forall(_.isDigit))
            rest.substring(0, eq).toIntOption
              .map(i => Spec(Some(i), rest.substring(eq + 1)))
          else Some(Spec(None, rest))
        case OpT => Some(Op(rest.trim))
        case CowT => Some(Cow(rest))
        case ForBranchT => Some(ForBranch(rest.trim))
        case CdcPairT => Some(CdcPair)
        case RemoveT => Some(Remove(rest))
        case StatsT => decodeStats(rest)
        case BloomT => b64Cols(rest).map { case (f, cs) => Bloom(f, cs) }
        case NdvT => b64Cols(rest).map { case (f, cs) => Ndv(f, cs) }
        case PartT => rest.split(" ", 2) match {
          case Array(f, r) if r.nonEmpty =>
            val at = r.indexOf('@')
            val (id, toks) =
              if (at > 0 && r.substring(0, at).forall(_.isDigit))
                (r.substring(0, at).toIntOption, r.substring(at + 1))
              else (Some(0), r)
            if (toks.isEmpty) None
            else id.map(i => Part(f, PartTuple(i, toks.split(",", -1).toSeq)))
          case _ => None
        }
        case DvT => rest.split(" ") match {
          case Array(d, v, n) => n.toLongOption.map(Dv(d, v, _))
          case _ => None
        }
        case PropT => rest.split(" ", 2) match {
          case Array(k, v) => Some(Prop(k, v))
          case _ => None
        }
        case ColmapT => Some(Colmap(rest.split(";").toSeq.flatMap { e =>
          e.split("=", 2) match {
            case Array(p, lg) if p.nonEmpty && lg.nonEmpty => Some(p -> lg)
            case _ => None
          }
        }))
        case TagT => named(Tag(_, _))
        case BranchT => named(Branch(_, _))
        case RowIdT => rest.split(" ") match {
          case Array(f, b) => b.toLongOption.map(RowId(f, _))
          case _ => None
        }
        case RowIdHwmT => rest.trim.toLongOption.map(RowIdHwm(_))
        case CdcT => rest.split(" ") match {
          case Array(f, r) if r == "pre" || r == "post" => Some(Cdc(f, r))
          case _ => None
        }
        case EqDelT => rest.split(" ") match {
          case Array(f, cols, n) =>
            n.toLongOption.map(EqDel(f, cols.split(",").toSeq, _))
          case _ => None
        }
        case EqDropT => Some(EqDrop(rest.trim))
        case _ => None
      }
    }

  def encode(r: LogRecord): String = r match {
    case Data(n) => n
    case Txn(w, e) => s"$TxnT $w $e"
    case Ts(m) => s"$TsT $m"
    case Schema(ddl) => s"$SchemaT $ddl"
    case Spec(id, body) => s"$SpecT ${id.fold("")(i => s"$i=")}$body"
    case Op(k) => s"$OpT $k"
    case Cow(t) => s"$CowT $t"
    case ForBranch(b) => s"$ForBranchT $b"
    case CdcPair => CdcPairT
    case Remove(n) => s"$RemoveT $n"
    case Stats(f, rows, cols, strs, nulls) =>
      val toks = cols.map(s => s"${s.col}:${s.min}:${s.max}") ++
        strs.map(s => s"${s.col}:s${hexOf(s.min)}:" +
          s.max.map("s" + hexOf(_)).getOrElse("-")) ++
        nulls.map(s => s"${s.col}:n${s.nulls}")
      s"$StatsT $f $rows" + (if (toks.isEmpty) "" else toks.mkString(" ", ";", ""))
    case Bloom(f, cs) => s"$BloomT $f ${colsText(cs)}"
    case Ndv(f, cs) => s"$NdvT $f ${colsText(cs)}"
    case Part(f, PartTuple(id, toks)) =>
      s"$PartT $f ${if (id == 0) "" else s"$id@"}${toks.mkString(",")}"
    case Dv(d, v, n) => s"$DvT $d $v $n"
    case Prop(k, v) => s"$PropT $k $v"
    case Colmap(es) => s"$ColmapT ${es.map { case (p, lg) => s"$p=$lg" }.mkString(";")}"
    case Tag(n, v) => s"$TagT $n ${v.fold("-")(_.toString)}"
    case Branch(n, v) => s"$BranchT $n ${v.fold("-")(_.toString)}"
    case RowId(f, b) => s"$RowIdT $f $b"
    case RowIdHwm(n) => s"$RowIdHwmT $n"
    case Cdc(f, role) => s"$CdcT $f $role"
    case EqDel(f, cols, n) => s"$EqDelT $f ${cols.mkString(",")} $n"
    case EqDrop(f) => s"$EqDropT $f"
  }

  /** The records of the `#txn` lead of a fragment: reads stop at the
    * first line that is not a `#txn` record, so a replay check costs
    * O(writers) bytes per fragment, not O(committed files). */
  def leadingTxns(lines: Iterator[String]): Seq[Txn] =
    lines.takeWhile(_.startsWith(TxnT)).flatMap(decode)
      .collect { case t: Txn => t }.toSeq

  /** The writer-side contract a record must meet before a commit
    * encodes it: names that share the `VERSION AS OF` namespace or the
    * line grammar's separators are refused here. */
  def check(r: LogRecord): Unit = r match {
    case Op(k) => require(propSafe(k), s"epoch op '$k' must be token-safe")
    case Prop(k, v) => require(propSafe(k) &&
        v.split(",", -1).forall(s => s.nonEmpty && propSafe(s)),
      s"table property '$k'='$v' must be token-safe ([A-Za-z0-9._/=-] " +
        "segments, comma-joined)")
    case Colmap(es) => es.foreach { case (p, lg) => require(
      propSafe(p) && propSafe(lg),
      s"column names in a rename must be token-safe: '$p'='$lg'") }
    case Tag(n, _) => require(propSafe(n) && n.toLongOption.isEmpty,
      s"tag name '$n' must be token-safe and not a bare integer " +
        "(integers are epoch ids)")
    case Branch(n, _) => require(propSafe(n) && n.toLongOption.isEmpty,
      s"branch name '$n' must be token-safe and not a bare integer")
    case Cdc(_, role) => require(role == "pre" || role == "post",
      s"cdc role must be pre|post, got '$role'")
    case EqDel(_, cols, _) => require(cols.nonEmpty && cols.forall(statSafeName),
      s"equality-delete key columns must be stat-safe names: $cols")
    case _ =>
  }

  /** A written file's `#stats` record; columns whose names collide with
    * the token separators are not recorded. */
  def statsOf(m: CommittedFile): Stats = Stats(m.name, m.rows,
    m.stats.filter(s => statSafeName(s.col)),
    m.strStats.filter(s => statSafeName(s.col)),
    m.nullStats.filter(s => statSafeName(s.col)))

  /** A `#stats` record of `st` with each token group sorted by column —
    * the form compaction writes. */
  def sortedStats(file: String, st: FileStat): Stats = Stats(file, st.rows,
    st.cols.toSeq.sortBy(_._1).map { case (c, (a, b)) => ColStat(c, a, b) },
    st.strCols.toSeq.sortBy(_._1).map { case (c, (a, b)) => StrColStat(c, a, b) },
    st.nulls.toSeq.sortBy(_._1).map { case (c, n) => NullStat(c, n) })

  def bloomOf(m: CommittedFile): Option[Bloom] =
    Some(m.blooms.filter(b => statSafeName(b._1))).filter(_.nonEmpty).map(Bloom(m.name, _))

  def ndvOf(m: CommittedFile): Option[Ndv] =
    Some(m.ndvs.filter(b => statSafeName(b._1))).filter(_.nonEmpty).map(Ndv(m.name, _))

  /** May `c` carry stats tokens? (The token grammar reserves the
    * separators.) Shared with the read side: the all-null inference
    * from an ABSENT record is only sound for names the writer could
    * have recorded. */
  def statSafeName(c: String): Boolean =
    !c.exists(ch => ch == ' ' || ch == ':' || ch == ';')

  /** Token-safe: `[A-Za-z0-9._/=-]`, non-empty. */
  def propSafe(s: String): Boolean =
    s.nonEmpty && s.forall(c => c.isLetterOrDigit || "._/=-".contains(c))

  def hexOf(s: String): String =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .map(b => f"${b & 0xff}%02x").mkString

  def unhex(h: String): Option[String] =
    if (h.length % 2 != 0 || !h.forall(c => c.isDigit || (c >= 'a' && c <= 'f')))
      None
    else Some(new String(h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray,
      java.nio.charset.StandardCharsets.UTF_8))

  private def colsText(cs: Seq[(String, String)]): String =
    cs.map { case (c, b) => s"$c:$b" }.mkString(";")

  private def b64Cols(rest: String): Option[(String, Seq[(String, String)])] =
    rest.split(" ", 2) match {
      case Array(f, toks) if f.nonEmpty && toks.nonEmpty =>
        val cols = toks.split(";").toSeq.flatMap(_.split(":", 2) match {
          case Array(c, b) if c.nonEmpty && b.nonEmpty => Some(c -> b)
          case _ => None
        })
        if (cols.isEmpty) None else Some(f -> cols)
      case _ => None
    }

  private def decodeStats(rest: String): Option[Stats] = {
    val parts = rest.split(" ", 3)
    if (parts.length < 2) None
    else parts(1).toLongOption.map { rows =>
      val toks =
        if (parts.length < 3 || parts(2).isEmpty) Seq.empty[Array[String]]
        else parts(2).split(";").toSeq.map(_.split(":", -1))
      Stats(parts(0), rows,
        toks.flatMap {
          case Array(c, mn, mx) =>
            for (a <- mn.toLongOption; b <- mx.toLongOption) yield ColStat(c, a, b)
          case _ => None
        },
        toks.flatMap {
          case Array(c, mn, mx) if mn.startsWith("s") =>
            for {
              a <- unhex(mn.tail)
              b <- if (mx == "-") Some(None)
                   else if (mx.startsWith("s")) unhex(mx.tail).map(Some(_))
                   else None
            } yield StrColStat(c, a, b)
          case _ => None
        },
        toks.flatMap {
          case Array(c, n) if n.startsWith("n") => n.tail.toLongOption.map(NullStat(c, _))
          case _ => None
        })
    }
  }

  /** One record-by-record fold over a run of fragments in log order —
    * the replay every snapshot face derives from: the committed union
    * with removes applied, the per-file records, the live deletion
    * vectors and the table-level records. Per-file records keep their
    * first position; a second `#stats` or `#part` record for one file
    * that disagrees with the first marks the file conflicted (the
    * snapshot drops such a file's entry, compaction refuses). */
  final class Replay {
    val files = mutable.LinkedHashSet[String]()
    /** Names removed without an earlier add in this replay: for a
      * replay of the loose tail, the checkpointed files it removes. */
    val removedElsewhere = mutable.HashSet[String]()
    val stats = mutable.LinkedHashMap[String, FileStat]()
    val statConflicts = mutable.HashSet[String]()
    val parts = mutable.LinkedHashMap[String, PartTuple]()
    val partConflicts = mutable.HashSet[String]()
    val blooms = mutable.LinkedHashMap[String, Map[String, String]]()
    val ndvs = mutable.LinkedHashMap[String, Map[String, String]]()
    val rowids = mutable.LinkedHashMap[String, Long]()
    var rowIdHwm: Option[Long] = None
    val dvs = mutable.LinkedHashMap[String, Seq[(String, Long)]]()
    val txns = mutable.LinkedHashMap[String, Long]()
    val schemas = mutable.LinkedHashSet[String]()
    val specs = mutable.LinkedHashSet[Spec]()
    val props = mutable.LinkedHashMap[String, String]()
    var colmap: Option[Colmap] = None
    val tags = mutable.LinkedHashMap[String, Long]()
    val branches = mutable.LinkedHashMap[String, Long]()

    private def firstOf[V](m: mutable.Map[String, V], conflicts: mutable.Set[String],
        k: String, v: V): Unit =
      m.get(k) match {
        case None => m(k) = v
        case Some(old) => if (old != v) conflicts += k
      }

    def add(r: LogRecord): Unit = r match {
      case Data(n) => files.add(n)
      case Remove(n) =>
        dvs.remove(n)
        if (!files.remove(n)) removedElsewhere.add(n)
      case s: Stats => firstOf(stats, statConflicts, s.file, s.stat)
      case Part(f, t) => firstOf(parts, partConflicts, f, t)
      case Bloom(f, cs) => blooms(f) = cs.toMap
      case Ndv(f, cs) => ndvs(f) = cs.toMap
      case RowId(f, b) => rowids(f) = b
      case RowIdHwm(n) => rowIdHwm = Some(rowIdHwm.fold(n)(math.max(_, n)))
      case Dv(d, v, n) => dvs(d) = dvs.getOrElse(d, Seq.empty) :+ ((v, n))
      case Txn(w, e) => txns(w) = txns.get(w).fold(e)(math.max(_, e))
      case Schema(ddl) => schemas.add(ddl)
      case s: Spec => specs.add(s)
      case Prop(k, v) => props(k) = v
      case c: Colmap => colmap = Some(c)
      case Tag(n, Some(v)) => tags(n) = v
      case Tag(n, None) => tags.remove(n)
      case Branch(n, Some(v)) => branches(n) = v
      case Branch(n, None) => branches.remove(n)
      case _ =>
    }
  }

  def replay(fragments: Iterable[Seq[LogRecord]]): Replay = {
    val r = new Replay
    fragments.foreach(_.foreach(r.add))
    r
  }
}
