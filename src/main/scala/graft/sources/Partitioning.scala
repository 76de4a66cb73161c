package graft.sources

import org.apache.spark.sql.sources._

/** PARTITION TRANSFORMS on manifest tables (round 15) — the Iceberg
  * partition-spec shape re-expressed on the epoch log. The spec is
  * declared at `CREATE TABLE … PARTITIONED BY (…)`, recorded once as a
  * `#spec` header in the create epoch, and every data file carries its
  * partition tuple as a `#part <file> <tokens>` record. Three
  * transforms, mirroring the reference's own layout vocabulary
  * (`PARTITION BY fifa_update_date CLUSTER BY …`, reference
  * `etl_kaggle_to_big_query.py:89-90`):
  *
  *  - `identity(col)` — the raw value (long family or string);
  *  - `days(col)` — a timestamp/date bucketed to its UTC epoch day
  *    (the events-lake layout every time-windowed read wants);
  *  - `bucket(n, col)` — a bounded hash partition for high-cardinality
  *    keys (floorMod of the long payload for integrals, of the UTF-8
  *    byte hash for strings).
  *
  * TOKEN grammar (one per spec field, comma-joined in `#part`): `n`
  * for null, a plain decimal for identity-long / days / bucket values,
  * `s<hex>` for identity-string values. The encoding is exact — no
  * truncation — so partition pruning can be EXACT where stats pruning
  * is conservative, and partition-scoped overwrite can be decided
  * per-file with no may-match ambiguity.
  *
  * Pruning composes with the `#stats` envelope test: each file's
  * partition tuple is translated to a synthetic single-point (identity)
  * or day-range (days) [[FileStat]] envelope and fed through the SAME
  * [[SnapStats.mayMatch]] every skipping face uses — one conservative
  * predicate model, no second implementation to disagree with it; the
  * bucket transform adds an equality-only membership test on top.
  * Partition pruning runs BEFORE the per-file stats walk in the scan
  * builder, which is what lets a date-partitioned events table at
  * 100 TB drop whole partitions without touching their stats. */
sealed trait PartField {
  def col: String
  /** `#spec` token. */
  def render: String
  /** Encode one row's partition value given the column's long payload
    * (long family, already in InternalRow scale: micros/days) or
    * string value; null → "n". */
  def tokenOfLong(v: Long): String
  def tokenOfString(v: String): String
}

final case class IdentityPart(col: String) extends PartField {
  override def render: String = s"identity:$col"
  override def tokenOfLong(v: Long): String = v.toString
  override def tokenOfString(v: String): String = s"s${ManifestLog.hexOf(v)}"
}

final case class DaysPart(col: String) extends PartField {
  override def render: String = s"days:$col"
  /** micros → UTC epoch day; date columns are ALREADY epoch days in
    * InternalRow, so the writer passes them through [[DaysPart.ofDate]]
    * instead. */
  override def tokenOfLong(micros: Long): String =
    Math.floorDiv(micros, DaysPart.MicrosPerDay).toString
  override def tokenOfString(v: String): String =
    throw new IllegalArgumentException(
      s"days($col): not a timestamp/date column")
}

object DaysPart {
  val MicrosPerDay: Long = 86400000000L
  def ofDate(days: Int): String = days.toString
}

final case class BucketPart(n: Int, col: String) extends PartField {
  override def render: String = s"bucket:$n:$col"
  override def tokenOfLong(v: Long): String = Math.floorMod(v, n.toLong).toString
  override def tokenOfString(v: String): String =
    Math.floorMod(java.util.Arrays.hashCode(
      v.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toLong, n.toLong)
      .toString
}

/** A committed file's partition tuple: its encoded tokens plus the id
  * of the spec they were encoded under (round 16, partition-spec
  * EVOLUTION — the Iceberg per-file spec-id shape). Files written
  * before evolution existed carry id 0, the create-time spec. */
final case class PartTuple(specId: Int, toks: Seq[String])

/** A table's partition-spec HISTORY: every `#spec` record the log
  * carries, keyed by spec id (round 16). The CURRENT spec — what new
  * writes fan out under — is the highest id; files keep the tuples of
  * the spec they were written under and are pruned against THAT spec,
  * so evolving the layout rewrites zero bytes. A tuple whose spec id
  * the book does not know (foreign/corrupt log) is conservatively
  * unprunable and never exactly decidable. */
final case class SpecBook(byId: Map[Int, Seq[PartField]]) {
  def currentId: Int = if (byId.isEmpty) 0 else byId.keys.max
  def current: Seq[PartField] = byId.getOrElse(currentId, Seq.empty)
  def specOf(t: PartTuple): Option[Seq[PartField]] = byId.get(t.specId)
  /** May a file carrying tuple `t` hold a row matching `f`? Evaluated
    * under the file's OWN spec; unknown spec ids answer true. */
  def mayMatch(t: PartTuple, f: Filter): Boolean =
    specOf(t).forall(s => PartField.mayMatch(s, t.toks, f))
  /** Exact per-file decision under the file's OWN spec; unknown spec
    * ids are undecidable (None). */
  def evalExact(t: PartTuple, f: Filter): Option[Boolean] =
    specOf(t).flatMap(s => PartField.evalExact(s, t.toks, f))
}

object SpecBook {
  val empty: SpecBook = SpecBook(Map.empty)
}

object PartField {
  def parse(s: String): PartField = s.split(":", -1) match {
    case Array("identity", c) if c.nonEmpty => IdentityPart(c)
    case Array("days", c) if c.nonEmpty => DaysPart(c)
    case Array("bucket", n, c) if c.nonEmpty && n.toIntOption.exists(_ > 0) =>
      BucketPart(n.toInt, c)
    case other => throw new IllegalStateException(
      s"unparsable #spec token '${other.mkString(":")}'")
  }

  def render(spec: Seq[PartField]): String = spec.map(_.render).mkString(";")

  /** May a file with partition tokens `toks` (aligned with `spec`)
    * hold a row matching `f`? Conservative: files without tokens, and
    * predicate shapes / columns the spec does not model, answer true.
    * Identity and days tuples become synthetic [[FileStat]] envelopes
    * fed through [[SnapStats.mayMatch]]; buckets add an equality-only
    * membership test (an IN/= on the bucket column whose every
    * comparand hashes to a different bucket excludes the file). */
  def mayMatch(spec: Seq[PartField], toks: Seq[String], f: Filter): Boolean = {
    if (spec.isEmpty || toks.size != spec.size) return true
    SnapStats.mayMatch(syntheticStat(spec, toks), f) && bucketMayMatch(spec, toks, f)
  }

  /** The identity/days fields of a partition tuple as a single-file
    * stats envelope: identity longs are point ranges, identity strings
    * point string bounds (ASCII only — the [[StrColStat]] ordering
    * contract), days are the day's [start, end) micros range, nulls
    * are all-null columns. Row count 1 stands for "non-empty". */
  private def syntheticStat(spec: Seq[PartField], toks: Seq[String]): FileStat = {
    val cols = scala.collection.mutable.Map[String, (Long, Long)]()
    val strCols = scala.collection.mutable.Map[String, (String, Option[String])]()
    val nulls = scala.collection.mutable.Map[String, Long]()
    spec.zip(toks).foreach {
      case (IdentityPart(c), "n") => nulls(c) = 1L
      case (IdentityPart(c), t) if t.startsWith("s") =>
        ManifestLog.unhex(t.tail).foreach { v =>
          nulls(c) = 0L
          if (v.forall(_ < '\u0080')) strCols(c) = (v, Some(v))
        }
      case (IdentityPart(c), t) =>
        t.toLongOption.foreach { v => cols(c) = (v, v); nulls(c) = 0L }
      case (DaysPart(c), "n") => nulls(c) = 1L
      case (DaysPart(c), t) =>
        t.toLongOption.foreach { d =>
          cols(c) = (d * DaysPart.MicrosPerDay,
            (d + 1) * DaysPart.MicrosPerDay - 1)
          nulls(c) = 0L
        }
      case (BucketPart(_, _), _) => // handled by bucketMayMatch
    }
    // exhaustiveNulls = false: this envelope models ONLY the spec's
    // columns — an absent nulls record proves nothing about the rest
    FileStat(1L, cols.toMap, strCols.toMap, nulls.toMap,
      exhaustiveNulls = false)
  }

  private def bucketMayMatch(spec: Seq[PartField], toks: Seq[String],
      f: Filter): Boolean = {
    val buckets: Map[String, (BucketPart, String)] =
      spec.zip(toks).collect {
        case (b: BucketPart, t) => b.col.toLowerCase -> (b, t)
      }.toMap
    if (buckets.isEmpty) return true
    def tokenOf(b: BucketPart, v: Any): Option[String] = v match {
      case s: String => Some(b.tokenOfString(s))
      case other => SnapStats.longLit(other).map(b.tokenOfLong)
    }
    def may(f: Filter): Boolean = f match {
      case EqualTo(c, v) => buckets.get(c.toLowerCase) match {
        case Some((b, t)) if t != "n" => tokenOf(b, v).forall(_ == t)
        case Some((_, _)) => false // null partition: = never matches
        case None => true
      }
      case In(c, vs) => buckets.get(c.toLowerCase) match {
        case Some((b, t)) if t != "n" =>
          vs.exists(v => tokenOf(b, v).forall(_ == t))
        case Some((_, _)) => false
        case None => true
      }
      case IsNotNull(c) => buckets.get(c.toLowerCase).forall(_._2 != "n")
      case IsNull(c) => buckets.get(c.toLowerCase).forall(_._2 == "n")
      case And(l, r) => may(l) && may(r)
      case Or(l, r) => may(l) || may(r)
      case _ => true
    }
    may(f)
  }

  /** EXACTLY evaluate `f` against a file's partition tuple, for
    * partition-scoped `INSERT OVERWRITE … PARTITION`/`replaceWhere`
    * semantics: Some(true/false) when every referenced column is an
    * IDENTITY partition field (whose tuple value IS the row value for
    * every row in the file), None when the predicate touches anything
    * else — the caller refuses rather than rewrite blind. SQL
    * three-valued logic: a null comparison yields None-as-unknown,
    * folded as NOT-true = does-not-match. */
  def evalExact(spec: Seq[PartField], toks: Seq[String], f: Filter)
      : Option[Boolean] = {
    if (toks.size != spec.size) return None
    val idVals: Map[String, Option[Any]] = spec.zip(toks).collect {
      case (IdentityPart(c), "n") => c.toLowerCase -> None
      case (IdentityPart(c), t) if t.startsWith("s") =>
        c.toLowerCase -> (ManifestLog.unhex(t.tail): Option[Any])
      case (IdentityPart(c), t) =>
        c.toLowerCase -> (t.toLongOption: Option[Any])
    }.toMap
    // tri-state: Some(Some(b)) decided, Some(None) SQL-unknown (null
    // operand), None undecidable (non-identity column / shape)
    def cmp(c: String, v: Any)(p: Int => Boolean): Option[Option[Boolean]] =
      idVals.get(c.toLowerCase).map {
        case None => None // null partition value: comparison is unknown
        case Some(pv) => compareVals(pv, v).map(p)
      }
    def ev(f: Filter): Option[Option[Boolean]] = f match {
      case EqualTo(c, v) => cmp(c, v)(_ == 0)
      case GreaterThan(c, v) => cmp(c, v)(_ > 0)
      case GreaterThanOrEqual(c, v) => cmp(c, v)(_ >= 0)
      case LessThan(c, v) => cmp(c, v)(_ < 0)
      case LessThanOrEqual(c, v) => cmp(c, v)(_ <= 0)
      case In(c, vs) => idVals.get(c.toLowerCase).map {
        case None => None
        case Some(pv) =>
          val ms = vs.toSeq.map(v => compareVals(pv, v).map(_ == 0))
          if (ms.contains(Some(true))) Some(true)
          else if (ms.forall(_.contains(false))) Some(false)
          else None
      }
      case EqualNullSafe(c, null) =>
        idVals.get(c.toLowerCase).map(pv => Some(pv.isEmpty))
      case EqualNullSafe(c, v) => idVals.get(c.toLowerCase).map {
        case None => Some(false)
        case Some(pv) => compareVals(pv, v).map(_ == 0).orElse(Some(false))
      }
      case IsNull(c) => idVals.get(c.toLowerCase).map(pv => Some(pv.isEmpty))
      case IsNotNull(c) => idVals.get(c.toLowerCase).map(pv => Some(pv.nonEmpty))
      case And(l, r) => (ev(l), ev(r)) match {
        case (Some(a), Some(b)) => Some(and3(a, b))
        case _ => None
      }
      case Or(l, r) => (ev(l), ev(r)) match {
        case (Some(a), Some(b)) => Some(or3(a, b))
        case _ => None
      }
      case Not(x) => ev(x).map(_.map(!_))
      case _: AlwaysTrue => Some(Some(true))
      case _: AlwaysFalse => Some(Some(false))
      case _ => None
    }
    ev(f).map(_.contains(true)) // unknown = does not match (SQL WHERE)
  }

  private def and3(a: Option[Boolean], b: Option[Boolean]): Option[Boolean] =
    (a, b) match {
      case (Some(false), _) | (_, Some(false)) => Some(false)
      case (Some(true), Some(true)) => Some(true)
      case _ => None
    }
  private def or3(a: Option[Boolean], b: Option[Boolean]): Option[Boolean] =
    (a, b) match {
      case (Some(true), _) | (_, Some(true)) => Some(true)
      case (Some(false), Some(false)) => Some(false)
      case _ => None
    }

  /** Three-way compare of a decoded partition value against a pushed
    * comparand; None when the kinds are incomparable (never happens
    * for well-typed plans — conservative anyway). Long-family
    * comparands normalize through [[SnapStats.longLit]] (micros/days
    * scale, matching the tuple encoding). */
  private def compareVals(pv: Any, v: Any): Option[Int] = (pv, v) match {
    case (a: String, b: String) => Some(a.compareTo(b))
    case (a: Long, _) => SnapStats.longLit(v).map(b => java.lang.Long.compare(a, b))
    case _ => None
  }
}
