package org.apache.spark.sql.graftx

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Character-level Shannon entropy of a string in ONE codegen'd pass:
  * byte histogram → (n_chars, n_distinct_chars, entropy_nats).
  *
  * Why native: the declarative route explodes one row per character —
  * a 500-char doc becomes 500 shuffled (doc, char) rows before the
  * per-doc reduce, and a 10× scale run measured the explode volume itself
  * as the cost (ratio ~17 at 10× for both the substring-walk and the
  * split form; the tiny (doc, char) partial agg was never the
  * problem). This expression keeps the whole computation inside the
  * row: a thread-local int[256] histogram (memset per row, zero
  * allocation beyond the 3-field result row), one byte scan, one
  * 256-bucket fold in ascending byte order.
  *
  * Semantics: the histogram is CODE-POINT-level everywhere (ADVICE
  * r7: the original byte-level histogram silently diverged from the
  * code-point oracle — and from its own n_chars — on any non-ASCII
  * document; only the all-ASCII test corpus kept it green). The
  * all-ASCII fast path keeps the zero-allocation int[256] scan; a
  * document with any byte ≥ 0x80 takes the rare decoded path, whose
  * ascending-code-point TreeMap fold preserves the deterministic
  * summation order. p = count / n_code_points, so entropy and
  * n_distinct_chars agree with n_chars by construction. Entropy
  * terms p·ln p sum in fixed ascending order; the oracle's
  * order-free quantized-decimal sum lands within ~1e-15 and the
  * published value is round-4.
  */
case class CharEntropy(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = CharEntropy.schema
  override def prettyName: String = "char_entropy"

  override def nullSafeEval(input: Any): Any =
    CharEntropy.stats(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graftx.CharEntropy.stats($c)")

  override protected def withNewChildInternal(newChild: Expression): CharEntropy =
    copy(child = newChild)
}

object CharEntropy {
  val schema: StructType = StructType(Seq(
    StructField("n_chars", LongType, nullable = false),
    StructField("n_distinct_chars", LongType, nullable = false),
    StructField("entropy_nats", DoubleType, nullable = false)))

  private val hist = new ThreadLocal[Array[Int]] {
    override def initialValue(): Array[Int] = new Array[Int](256)
  }

  /** Static entry point shared by interpreted eval and generated code. */
  def stats(s: UTF8String): InternalRow = {
    val nb = s.numBytes()
    var ascii = true
    var i = 0
    while (ascii && i < nb) {
      if ((s.getByte(i) & 0x80) != 0) ascii = false
      i += 1
    }
    if (ascii) {
      // bytes == code points: the zero-allocation histogram scan
      val h = hist.get()
      java.util.Arrays.fill(h, 0)
      i = 0
      while (i < nb) {
        h(s.getByte(i) & 0xFF) += 1
        i += 1
      }
      var distinct = 0L
      var ent = 0.0
      var b = 0
      while (b < 128) {
        val c = h(b)
        if (c > 0) {
          distinct += 1
          val p = c.toDouble / nb
          ent -= p * java.lang.Math.log(p)
        }
        b += 1
      }
      new GenericInternalRow(Array[Any](nb.toLong, distinct, ent))
    } else {
      // decoded path: histogram over CODE POINTS, folded in ascending
      // code-point order (TreeMap iteration) for a fixed summation
      // order; n is the code-point count, matching n_chars
      val str = s.toString
      val m = new java.util.TreeMap[Integer, Integer]()
      var j = 0
      var n = 0L
      while (j < str.length) {
        val cp = str.codePointAt(j)
        val prev = m.get(cp)
        m.put(cp, if (prev == null) 1 else prev + 1)
        j += Character.charCount(cp)
        n += 1
      }
      var ent = 0.0
      val it = m.values().iterator()
      while (it.hasNext) {
        val p = it.next().toDouble / n
        ent -= p * java.lang.Math.log(p)
      }
      new GenericInternalRow(Array[Any](n, m.size().toLong, ent))
    }
  }
}
