package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Vocabulary id lookup for a whole symbol array in one kernel pass:
  * array<string> subword symbols → array<int> ids under a FIXED
  * vocabulary. An unknown symbol maps to -1 (the caller's UNK hook) —
  * or, with `byteBase ≥ 0`, expands to its UTF-8 bytes as ids
  * `byteBase + byte` (BYTE FALLBACK, the SentencePiece/Llama contract
  * that makes encode total: no input can ever be unrepresentable, so
  * a production tokenizer never emits UNK).
  *
  * Why an expression and not `element_at` on a `typedLit` map:
  * Catalyst's `GetMapValue` on a literal map is a LINEAR SCAN of the
  * key array per lookup, so encoding through a map literal costs
  * O(|vocab|) per symbol — invisible at the 10–200-merge gate scale,
  * linear-in-vocab for a production tokenizer vocabulary (measured on
  * the 500k-doc decade's word table at a REAL 32k-merge vocab: 10.4 s
  * vs 2.0 s here, and the gap widens with vocab size — 3.5× at a 4k
  * prefix, 5× at 32k; `bench_evidence/r13_encode_scale_probe.txt`). Here
  * the vocabulary is hashed ONCE per expression instance into a
  * java.util.HashMap shared by every row, making each lookup O(1) —
  * the same shape a tokenizer runtime uses. Rides the distinct-word
  * table (Heaps-law-sized), never the corpus, exactly like
  * [[MergeList]].
  */
case class VocabIds(child: Expression, vocab: Seq[(Int, String)],
    byteBase: Int = -1)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"vocab_ids expects array<string>, got ${t.catalogString}")
  }

  @transient private lazy val table: VocabIds.Table = VocabIds.Table(vocab)

  override def nullSafeEval(v: Any): Any =
    VocabIds.compute(v.asInstanceOf[ArrayData], table, byteBase)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("vocabTable", table,
      "graft.expressions.VocabIds.Table")
    defineCodeGen(ctx, ev, v =>
      s"graft.expressions.VocabIds$$.MODULE$$.compute($v, $t, $byteBase)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VocabIds {

  /** Symbol → id hash table pre-lifted to UTF8String keys. The
    * (id, symbol) pairs ship with the plan; the hash map itself is
    * transient and rebuilt lazily on each executor — built once per
    * expression instance, shared by every row.
    */
  final class Table(entries: Seq[(Int, String)]) extends Serializable {
    @transient lazy val map: java.util.HashMap[UTF8String, Integer] = {
      val m = new java.util.HashMap[UTF8String, Integer](entries.size * 2)
      entries.foreach { case (i, s) =>
        m.put(UTF8String.fromString(s), Integer.valueOf(i))
      }
      m
    }
  }

  object Table {
    def apply(entries: Seq[(Int, String)]): Table = new Table(entries)
  }

  def compute(xs: ArrayData, t: Table, byteBase: Int): GenericArrayData = {
    val n = xs.numElements()
    val m = t.map
    if (byteBase < 0) {
      // UNK mode: one id per symbol, unknown → -1
      val out = new Array[Int](n)
      var i = 0
      while (i < n) {
        val id = m.get(xs.getUTF8String(i))
        out(i) = if (id == null) -1 else id.intValue()
        i += 1
      }
      new GenericArrayData(out)
    } else {
      // byte fallback: an unknown symbol expands to its UTF-8 bytes
      // (byteBase + byte value), so output length can exceed n
      val out = new scala.collection.mutable.ArrayBuilder.ofInt
      out.sizeHint(n)
      var i = 0
      while (i < n) {
        val s = xs.getUTF8String(i)
        val id = m.get(s)
        if (id != null) out += id.intValue()
        else {
          val bytes = s.getBytes
          var j = 0
          while (j < bytes.length) {
            out += byteBase + (bytes(j) & 0xFF)
            j += 1
          }
        }
        i += 1
      }
      new GenericArrayData(out.result())
    }
  }

  def ids(symbols: Column, vocab: Seq[(Int, String)]): Column =
    ids(symbols, vocab, byteBase = -1)

  /** Byte-fallback form: unknown symbols expand to UTF-8 byte ids
    * `byteBase + b` instead of -1. Pass the RESERVED byte-token id
    * range's base (0 for [[graft.operators.Bpe.vocabWithBytesFromAlphabet]]'
    * bytes-first layout).
    */
  def ids(symbols: Column, vocab: Seq[(Int, String)], byteBase: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(VocabIds(
      GraftColumnBridge.expression(symbols), vocab, byteBase))
  }
}
