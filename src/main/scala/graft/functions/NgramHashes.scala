package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** `ngram_hashes(tokens, n)` — one 60-bit content hash per n-token
  * window of a token array, in window order: the window-hashing stage of
  * n-gram dedup, decontamination and count-LM scoring as ONE compiled
  * loop per row.
  *
  * The composable form is a higher-order `transform` over
  * `sequence(1, size - n + 1)` whose lambda builds the window string
  * (`concat_ws(' ', element_at(t, i), …)`), md5-hashes it into a
  * 32-char hex string, then `substring`/`conv`/`cast`s the prefix back
  * to a number — an interpreted expression tree (CodegenFallback)
  * re-evaluated per window. This expression computes the same value
  * inside WholeStageCodegen: each token's UTF-8 bytes are fetched once
  * per row, each window feeds them straight into the digest, no window
  * string or hex string is materialized.
  *
  * Value-identical to `cast(conv(substring(md5(concat_ws(' ', window)),
  * 1, 15), 16, 10) AS BIGINT)`, the DuckDB oracles' form (see
  * [[MinHashSigs.prefix60]]). Null tokens are skipped like
  * `concat_ws` skips them (an all-null window hashes the empty string).
  * Fewer than n tokens → empty array; a null array → null (an `explode`
  * of either yields no rows). Duplicate windows are kept — callers that
  * want distinct windows wrap it in `array_distinct`.
  */
case class NgramHashes(child: Expression, n: Int) extends UnaryExpression {

  require(n > 0, s"ngram_hashes needs n > 0, got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ngram_hashes"

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
    NgramHashes.compute(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // digest-bound loop: delegate to the static helper, like MinHashSigs
    defineCodeGen(ctx, ev, a => s"graft.functions.NgramHashes.compute($a, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NgramHashes {

  /** 60-bit md5 prefix of every n-token window joined by ' ' (null
    * tokens skipped). Called from generated code — keep it static. */
  def compute(tokens: ArrayData, n: Int): ArrayData = {
    val len = tokens.numElements()
    if (len < n) return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    val bytes = new Array[Array[Byte]](len)
    var i = 0
    while (i < len) {
      if (!tokens.isNullAt(i)) bytes(i) = tokens.getUTF8String(i).getBytes
      i += 1
    }
    val md = MinHashSigs.Digest.get()
    val out = new Array[Long](len - n + 1)
    var w = 0
    while (w < out.length) {
      md.reset()
      var first = true
      var j = w
      while (j < w + n) {
        val b = bytes(j)
        if (b != null) {
          if (!first) md.update(' '.toByte)
          md.update(b)
          first = false
        }
        j += 1
      }
      out(w) = MinHashSigs.prefix60(md.digest())
      w += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Column-API entry point. */
  def ngramHashes(tokens: Column, n: Int): Column =
    Bridge.column(NgramHashes(Bridge.expression(tokens), n))
}
