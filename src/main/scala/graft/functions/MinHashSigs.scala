package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** All K MinHash signature values of a token array in ONE pass — the
  * map-only form of the signature stage.
  *
  * The composable form fans every token out 16× (`explode` per hash
  * function) and hash-aggregates `min(hv)` per document: 16·n_tokens
  * materialized rows and a corpus-wide shuffle JUST to compute per-row
  * minima. This native Expression computes the same 16 minima inside
  * WholeStageCodegen while the row streams by — no fan-out rows, no
  * exchange, no aggregation state; the signature stage becomes a
  * projection. At 100 TB that deletes the largest shuffle of the dedup
  * pipeline (16× the token count) outright.
  *
  * Value-identical to the composable form and the DuckDB oracle: per
  * hash h and token t, the hash value is the first 15 hex chars of
  * `md5(h || ':' || t)` read as a base-16 number — computed here
  * directly as the first 60 bits of the digest (big-endian first 8
  * bytes >>> 4), no hex string materialized. Null token arrays yield a
  * null signature (the grouped form simply produced no row — callers
  * filter, preserving the same document set).
  */
case class MinHashSigs(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sigs"

  /** Nullable beyond the child: an only-null-token array yields a null
    * signature even when the array itself is non-null. */
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckSuccess
      case t => TypeCheckFailure(
        s"$prettyName requires array<string>, got $t")
    }
  }

  override def nullSafeEval(input: Any): Any =
    MinHashSigs.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // the loop body is digest-bound, not arithmetic-bound: delegate to
    // the static helper (stays inside WholeStageCodegen; one virtual-free
    // static call per row). compute() returns null for only-null-token
    // arrays — propagate it into the null flag, not a null-valued slot.
    nullSafeCodeGen(ctx, ev, a =>
      s"""
         |${ev.value} = graft.functions.MinHashSigs.compute($a);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSigs {

  /** Must match DedupOps.NumHashes (the band layout is built on it). */
  val NumHashes = 16

  private val Prefixes: Array[Array[Byte]] =
    Array.tabulate(NumHashes)(h => (h.toString + ":").getBytes("UTF-8"))

  /** Per-thread MD5 instance, shared by the md5-based kernels. */
  private[functions] val Digest: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** The first 15 hex chars of a digest read as a base-16 number (the
    * oracles' `conv(substring(md5(x), 1, 15), 16, 10)`): the big-endian
    * long of bytes 0..7 `>>> 4`. */
  def prefix60(d: Array[Byte]): Long =
    (((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
      ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
      ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)) >>> 4

  /** First 60 bits of md5(prefix ++ token) per hash function, min over
    * tokens. Called from generated code — keep it static and tight. */
  def compute(tokens: ArrayData): ArrayData = {
    val md = Digest.get()
    val mins = new Array[Long](NumHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = tokens.numElements()
    var any = false
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        any = true
        val tb = tokens.getUTF8String(i).getBytes
        var h = 0
        while (h < NumHashes) {
          md.reset()
          md.update(Prefixes(h))
          md.update(tb)
          val v = prefix60(md.digest())
          if (v < mins(h)) mins(h) = v
          h += 1
        }
      }
      i += 1
    }
    // an array of only-null tokens has no minima — mirror the grouped
    // form, which produced no aggregation row at all
    if (!any) null else new GenericArrayData(mins)
  }

  /** Column-API entry point. */
  def minhashSigs(tokens: Column): Column =
    Bridge.column(MinHashSigs(Bridge.expression(tokens)))
}
