package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Greedy longest-match subword tokenization (the WordPiece-style
  * "maximal munch" BPE-apply rule) against a broadcast-small trained
  * vocabulary, fused with its unknown-token count: returns
  * STRUCT<toks: ARRAY<STRING>, n_unk: BIGINT>. The text splits on
  * single spaces; within each word, the longest vocabulary entry
  * prefixing the remaining characters is emitted, falling back to the
  * single character when nothing matches. `n_unk` counts the fallback
  * emissions of the same single tokenization pass — exactly the
  * unknown tokens, see [[GreedyMatchEncode.run]].
  *
  * The vocabulary ships as a plan reference (a trained merge table is
  * tens of thousands of entries — well under broadcast size) and is
  * probed via a HashSet from the longest candidate down, so each
  * position costs at most `maxTokenLen` probes — one linear scan per
  * word, no explode, no shuffle, evaluated inside codegen. The fused
  * count replaces the interpreted `filter(toks, t -> length(t) = 1 AND
  * NOT array_contains(vocab, t))` post-pass, which re-probed the
  * vocabulary linearly per token outside codegen and measurably
  * doubled encode cost (guide §4: no non-codegen expressions in the
  * hot path).
  */
case class GreedyMatchEncode(child: Expression, vocab: Seq[String])
    extends UnaryExpression {
  require(vocab.nonEmpty && vocab.forall(v => v.nonEmpty && !v.contains(' ')),
    "vocab entries must be non-empty and contain no spaces")

  override def dataType: DataType = StructType(Seq(
    StructField("toks", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("n_unk", LongType, nullable = false)))
  override def prettyName: String = "greedy_match_encode"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${other.sql}")
  }

  @transient private lazy val vocabSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    vocab.foreach(s.add)
    s
  }

  @transient private lazy val maxLen: Int = vocab.map(_.length).max

  /** Shared by interpreted eval and the generated code. */
  def encodeStruct(text: String): InternalRow = {
    val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    val unk = GreedyMatchEncode.run(text, vocabSet, maxLen, out)
    new GenericInternalRow(Array[Any](ArrayData.toArrayData(out.toArray), unk))
  }

  override def nullSafeEval(input: Any): Any =
    encodeStruct(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val self = ctx.addReferenceObj("greedyEncode", this,
        classOf[GreedyMatchEncode].getName)
      s"${ev.value} = $self.encodeStruct($c.toString());"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GreedyMatchEncode {
  /** The greedy longest-match loop: appends tokens to `out` and returns
    * the number of fallback emissions. A fallback emission IS an
    * unknown token (single char not in the vocabulary), and every
    * unknown token comes from the fallback: multi-char tokens matched
    * the vocabulary by construction, and a single char in the
    * vocabulary is found by the len=1 probe before the fallback fires.
    */
  private[functions] def run(
      text: String, vocabSet: java.util.HashSet[String], maxLen: Int,
      out: scala.collection.mutable.ArrayBuffer[UTF8String]): Long = {
    var unk = 0L
    val words = text.split(" ", -1)
    var wi = 0
    while (wi < words.length) {
      val w = words(wi)
      var i = 0
      while (i < w.length) {
        var len = math.min(maxLen, w.length - i)
        var tok: String = null
        while (len > 0 && tok == null) {
          val cand = w.substring(i, i + len)
          if (vocabSet.contains(cand)) tok = cand else len -= 1
        }
        if (tok == null) { tok = w.substring(i, i + 1); len = 1; unk += 1L }
        out += UTF8String.fromString(tok)
        i += len
      }
      wi += 1
    }
    unk
  }
}

/** Column-level API for tokenization expressions. */
object TokenizeFunctions {
  /** Greedy longest-match tokens fused with the unknown-token count:
    * STRUCT<toks ARRAY<STRING>, n_unk BIGINT> in one codegen'd pass.
    */
  def greedyMatchEncode(text: Column, vocab: Seq[String]): Column =
    ColumnBridge.toColumn(GreedyMatchEncode(ColumnBridge.toExpr(text), vocab))
}
