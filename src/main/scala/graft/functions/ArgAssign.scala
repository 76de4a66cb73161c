package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Nearest-centroid assignment expressions — the hot per-row loop of the
  * IVF/SemDeDup coarse quantizer and the PQ encoder as ONE compiled
  * loop per row instead of an interpreted higher-order `aggregate` fold
  * (whose lambda body is an expression tree re-evaluated once per
  * row × centroid).
  *
  * The model is an array of structs that is the same for every row —
  * callers pass it as a scalar subquery (`Dataset.scalar()`), whose
  * value every row of a task reads as the SAME `ArrayData` reference.
  * The first row of a task decodes that model into primitive arrays
  * (grouped by subspace `m` for PQ) and later rows reuse the decoded
  * form as long as the model reference is identical (`eq`); a row then
  * costs one tight loop over longs, no struct access per centroid. A
  * model that differs per row is decoded per row, with the same result.
  *
  * Exact semantics replicated from the folds (VectorOps.assignToLists /
  * pqAssign), all carried by the decoded form:
  *   - elements scanned in array order (the model array is sort_array'd
  *     cid-ascending), STRICT improvement only → ties keep the LOWEST
  *     cid;
  *   - a candidate whose score is NULL (null element, cv, cnrm or, for
  *     PQ, m) never updates the accumulator, so the decode drops it; an
  *     all-null scan returns the init cid −1, exactly like the fold's
  *     `when(null, ...)` → otherwise(acc). A NULL cid does win and is
  *     returned as NULL, so the decode keeps it under a null mask;
  *   - NaN scores (0/0 on zero-norm vectors) compare false and never
  *     update, like Spark's GreaterThan on doubles;
  *   - a NULL model ARRAY yields NULL (aggregate's null propagation);
  *     an EMPTY one yields −1 (the init value);
  *   - dot products follow [[LongDotProduct]] strict=false: truncate to
  *     the shorter length, skip null pairs — a null vector element adds
  *     0, so row and model vectors decode with nulls as 0; long
  *     arithmetic wraps.
  */
abstract class ArgAssignBase[D <: AnyRef] extends Expression with CodegenFallback {
  override def nullable: Boolean = true
  override def dataType: DataType = LongType
  override lazy val deterministic: Boolean = true

  /** The model array argument. */
  protected def model: Expression

  /** Required model struct fields and their accepted types. */
  protected def modelFields: Seq[(String, Seq[DataType])] = Seq(
    "cid" -> Seq(LongType),
    "cv" -> Seq(ArrayType(LongType)),
    "cnrm" -> Seq(LongType))

  /** Types of the non-model arguments, checked before the model. */
  protected def checkArgs(): TypeCheckResult

  override def checkInputDataTypes(): TypeCheckResult = checkArgs() match {
    case TypeCheckSuccess => model.dataType match {
      case ArrayType(st: StructType, _) =>
        modelFields.collectFirst {
          case (name, ok) if !st.fields.exists(f =>
              f.name == name && ok.exists(DataTypeUtils.sameType(_, f.dataType))) =>
            TypeCheckFailure(s"$prettyName model field `$name` must be " +
              s"${ok.map(_.simpleString).mkString(" or ")}, model is ${st.simpleString}")
        }.getOrElse(TypeCheckSuccess)
      case t => TypeCheckFailure(
        s"$prettyName model must be array<struct>, got ${t.simpleString}")
    }
    case failure => failure
  }

  /** strict=false LongDotProduct over decoded vectors: truncate to the
    * shorter length (null elements are already 0). */
  protected final def dot(a: Array[Long], b: Array[Long]): Long = {
    val n = math.min(a.length, b.length)
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += a(i) * b(i)
      i += 1
    }
    acc
  }

  protected final def fieldIndex(name: String): Int =
    modelStruct.fieldIndex(name)

  protected final def modelStruct: StructType =
    model.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]

  private lazy val cidI = fieldIndex("cid")
  private lazy val cvI = fieldIndex("cv")
  private lazy val cnrmI = fieldIndex("cnrm")

  /** A vector as longs, null elements as 0 (they add 0 to every dot). */
  protected final def longs(a: ArrayData): Array[Long] = {
    val out = new Array[Long](a.numElements())
    var i = 0
    while (i < out.length) {
      if (!a.isNullAt(i)) out(i) = a.getLong(i)
      i += 1
    }
    out
  }

  /** The model's decoded form. */
  protected def decode(arr: ArrayData): D

  @transient @volatile private var cached: (ArrayData, D) = _

  /** [[decode]] of `arr`, computed once per model reference. */
  protected final def decoded(arr: ArrayData): D = {
    val c = cached
    if (c != null && (c._1 eq arr)) c._2
    else {
      val d = decode(arr)
      cached = (arr, d)
      d
    }
  }

  /** The model's elements that can ever update the best: non-null, with
    * non-null cv and cnrm, in array order. */
  protected final def candidates(arr: ArrayData): IndexedSeq[InternalRow] = {
    val width = modelStruct.size
    (0 until arr.numElements()).filterNot(arr.isNullAt).map(arr.getStruct(_, width))
      .filter(c => !c.isNullAt(cvI) && !c.isNullAt(cnrmI))
  }

  /** Decoded (cid, cv, cnrm) of `cs`, order kept. */
  protected final def decodeCentroids(cs: IndexedSeq[InternalRow]): Centroids = {
    val cidNull = cs.map(_.isNullAt(cidI)).toArray
    new Centroids(
      cs.map(c => if (c.isNullAt(cidI)) 0L else c.getLong(cidI)).toArray,
      if (cidNull.contains(true)) cidNull else null,
      cs.map(c => longs(c.getArray(cvI))).toArray,
      cs.map(_.getLong(cnrmI)).toArray)
  }
}

/** A decoded model: element i is (cids(i), cvs(i), cnrms(i)); `cidNull`
  * marks null cids, and is null when there are none. */
private[functions] final class Centroids(val cids: Array[Long],
    val cidNull: Array[Boolean], val cvs: Array[Array[Long]], val cnrms: Array[Long]) {
  def size: Int = cids.length

  /** The assigned id of element `i`; −1 (the fold's init) for i < 0. */
  def cidAt(i: Int): Any =
    if (i < 0) -1L else if (cidNull != null && cidNull(i)) null else cids(i)
}

/** Per-subspace codebooks: `books(g)` holds subspace `ms(g)`'s codewords
  * in model-array order; `ms` is sorted for binary search. */
private[functions] final class Codebooks(val ms: Array[Long], val books: Array[Centroids])

/** `argmax_cos_cid(qv, nrm, cents)` ≡
  * `aggregate(cents, (-2.0, -1L), (acc, c) => if cos(qv, c) > acc.cos
  *  then (cos, c.cid) else acc).cid` with cos = dot/sqrt(nrm·cnrm). */
case class ArgmaxCosineCid(qv: Expression, nrm: Expression, cents: Expression)
    extends ArgAssignBase[Centroids] {
  override def children: Seq[Expression] = Seq(qv, nrm, cents)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(c(0), c(1), c(2))
  override def prettyName: String = "argmax_cos_cid"

  override protected def model: Expression = cents

  override protected def checkArgs(): TypeCheckResult =
    (qv.dataType, nrm.dataType) match {
      case (ArrayType(LongType, _), LongType) => TypeCheckSuccess
      case t => TypeCheckFailure(s"$prettyName got $t")
    }

  override protected def decode(arr: ArrayData): Centroids =
    decodeCentroids(candidates(arr))

  override def eval(input: InternalRow): Any = {
    val cs = cents.eval(input)
    if (cs == null) return null // aggregate(NULL array) → NULL
    val q = qv.eval(input).asInstanceOf[ArrayData]
    val nr = nrm.eval(input)
    if (q == null || nr == null) return -1L // every score NULL: no update ever
    val c = decoded(cs.asInstanceOf[ArrayData])
    val qa = longs(q)
    val nrL = nr.asInstanceOf[Long]
    var bestCos = -2.0
    var best = -1
    var i = 0
    while (i < c.size) {
      val cos = dot(qa, c.cvs(i)).toDouble /
        java.lang.Math.sqrt((nrL * c.cnrms(i)).toDouble) // product wraps like Multiply
      if (cos > bestCos) { // NaN compares false, like GreaterThan
        bestCos = cos
        best = i
      }
      i += 1
    }
    c.cidAt(best)
  }
}

/** `argmin_l2_cid(sv, snrm, m, cbs)` ≡
  * `aggregate(cbs, (Long.MaxValue, -1L), (acc, c) => if c.m = m AND
  *  snrm + c.cnrm − 2·dot(sv, c.cv) < acc.d then (d, c.cid) else
  *  acc).cid` — exact integer L2 over the per-subspace codebooks. */
case class ArgminL2Cid(sv: Expression, snrm: Expression, m: Expression,
    cbs: Expression) extends ArgAssignBase[Codebooks] {
  override def children: Seq[Expression] = Seq(sv, snrm, m, cbs)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(c(0), c(1), c(2), c(3))
  override def prettyName: String = "argmin_l2_cid"

  override protected def model: Expression = cbs
  override protected def modelFields: Seq[(String, Seq[DataType])] =
    ("m" -> Seq(IntegerType, LongType)) +: super.modelFields

  override protected def checkArgs(): TypeCheckResult =
    (sv.dataType, snrm.dataType, m.dataType) match {
      case (ArrayType(LongType, _), LongType, IntegerType | LongType) => TypeCheckSuccess
      case t => TypeCheckFailure(s"$prettyName got $t")
    }

  private lazy val mI = fieldIndex("m")
  private lazy val mIsInt = modelStruct.fields(mI).dataType == IntegerType

  private def mOf(c: InternalRow): Long =
    if (mIsInt) c.getInt(mI).toLong else c.getLong(mI)

  /** Codewords grouped by m (a null m never matches), array order kept
    * within each group. */
  override protected def decode(arr: ArrayData): Codebooks = {
    val byM = candidates(arr).filterNot(_.isNullAt(mI)).groupBy(mOf)
    val ms = byM.keys.toArray.sorted
    new Codebooks(ms, ms.map(mk => decodeCentroids(byM(mk))))
  }

  override def eval(input: InternalRow): Any = {
    val cs = cbs.eval(input)
    if (cs == null) return null
    val s = sv.eval(input).asInstanceOf[ArrayData]
    val sn = snrm.eval(input)
    val mv = m.eval(input)
    // c.m === m: a null m on either side never matches (the fold's when)
    if (s == null || sn == null || mv == null) return -1L
    val books = decoded(cs.asInstanceOf[ArrayData])
    val mL = mv match {
      case i: java.lang.Integer => i.toLong
      case l: java.lang.Long => l.longValue
    }
    val g = java.util.Arrays.binarySearch(books.ms, mL)
    if (g < 0) return -1L
    val c = books.books(g)
    val sa = longs(s)
    val snL = sn.asInstanceOf[Long]
    var bestD = Long.MaxValue // strict <: a real d == MaxValue never wins, like the fold
    var best = -1
    var i = 0
    while (i < c.size) {
      val d = snL + c.cnrms(i) - dot(sa, c.cvs(i)) * 2L // wraps like Add/Subtract/Multiply
      if (d < bestD) {
        bestD = d
        best = i
      }
      i += 1
    }
    c.cidAt(best)
  }
}

object ArgAssign {
  /** Column-API: argmax-cosine centroid id over a model array column. */
  def argmaxCosineCid(qv: Column, nrm: Column, cents: Column): Column =
    Bridge.column(ArgmaxCosineCid(
      Bridge.expression(qv), Bridge.expression(nrm), Bridge.expression(cents)))

  /** Column-API: argmin exact-L2 codeword id over a codebook array column. */
  def argminL2Cid(sv: Column, snrm: Column, m: Column, cbs: Column): Column =
    Bridge.column(ArgminL2Cid(
      Bridge.expression(sv), Bridge.expression(snrm),
      Bridge.expression(m), Bridge.expression(cbs)))
}
