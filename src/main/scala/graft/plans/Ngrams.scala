package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Word w-shingling kernels shared by [[Shingles]] and [[NgramStats]]
  * (static, so generated code calls them directly).
  *
  * Semantics are pinned to the HOF spec
  * `transform(sequence(0, greatest(size(toks) - w, 0)),
  *   i -> concat_ws(' ', slice(toks, i + 1, w)))`:
  *  - `max(n - w, 0) + 1` windows; window i joins tokens
  *    `[i, min(i + w, n))` with one space, skipping null tokens
  *    (`UTF8String.concatWs`), so a document shorter than w yields
  *    one window holding all its tokens;
  *  - a null or empty token array yields the single window `""`.
  *
  * Interpreted, the HOF re-evaluates `toks` (the whole-document split)
  * inside the lambda for every window — O(n²) per document. Here the
  * token array is read once: O(n·w).
  */
object Ngrams {
  private val Space = UTF8String.fromString(" ")

  private def windows(toks: ArrayData, w: Int)(emit: UTF8String => Unit): Unit = {
    val n = if (toks == null) 0 else toks.numElements()
    val m = math.max(n - w, 0) + 1
    val full = new Array[UTF8String](math.min(w, n))
    var i = 0
    while (i < m) {
      val len = math.min(w, n - i)
      val parts = if (len == full.length) full else new Array[UTF8String](len)
      var j = 0
      while (j < len) {
        parts(j) = if (toks.isNullAt(i + j)) null else toks.getUTF8String(i + j)
        j += 1
      }
      emit(UTF8String.concatWs(Space, parts: _*))
      i += 1
    }
  }

  /** The shingle strings of `toks` (null allowed), in window order. */
  def shingles(toks: ArrayData, w: Int): ArrayData = {
    val n = if (toks == null) 0 else toks.numElements()
    val out = new Array[Any](math.max(n - w, 0) + 1)
    var k = 0
    windows(toks, w) { s => out(k) = s; k += 1 }
    new GenericArrayData(out)
  }

  /** (n_grams, n_distinct, top_count) over the same shingle strings:
    * window count, distinct strings, and the largest multiplicity. */
  def stats(toks: ArrayData, w: Int): InternalRow = {
    val counts = new java.util.HashMap[UTF8String, Array[Long]]()
    var total = 0L
    var top = 0L
    windows(toks, w) { s =>
      var c = counts.get(s)
      if (c == null) { c = Array(0L); counts.put(s, c) }
      c(0) += 1
      if (c(0) > top) top = c(0)
      total += 1
    }
    new GenericInternalRow(Array[Any](total, counts.size.toLong, top))
  }

  private[plans] def checkTokens(name: String, t: DataType): TypeCheckResult = t match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$name requires an array<string> input, got ${t.simpleString}")
  }

  /** `w` of the SQL forms: a foldable, non-null int. */
  private[plans] def width(name: String, e: Expression): Int = {
    require(e.foldable && e.dataType == IntegerType && e.eval() != null,
      s"$name: the window width must be an int literal, got ${e.sql}")
    e.eval().asInstanceOf[Int]
  }

  /** Non-null codegen: the kernel receives null for a null token array. */
  private[plans] def genCall(ctx: CodegenContext, ev: ExprCode, child: Expression,
                             dataType: DataType, fn: String, w: Int): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |final ${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  graft.plans.Ngrams.$fn(${c.isNull} ? null : ${c.value}, $w);
      """.stripMargin, isNull = FalseLiteral)
  }
}

/** Word w-shingles of a token array as one native expression: the
  * linear form of the HOF spec documented on [[Ngrams]]. Never null;
  * its elements are never null. */
case class Shingles(child: Expression, w: Int) extends UnaryExpression {
  require(w >= 1, s"shingle width must be >= 1, got $w")

  override def checkInputDataTypes(): TypeCheckResult =
    Ngrams.checkTokens(prettyName, child.dataType)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_shingles"
  override def sql: String = s"$prettyName(${child.sql}, $w)"

  override def eval(input: InternalRow): Any =
    Ngrams.shingles(child.eval(input).asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    Ngrams.genCall(ctx, ev, child, dataType, "shingles", w)

  override protected def withNewChildInternal(newChild: Expression): Shingles =
    copy(child = newChild)
}

object Shingles {
  /** Column-API entry point. */
  def apply(tokens: Column, w: Int): Column =
    ColumnBridge.column(Shingles(ColumnBridge.expression(tokens), w))
}

/** `struct<n_grams, n_distinct, top_count>` (longs) over the w-shingles
  * [[Shingles]] would return: how many there are, how many distinct
  * strings, and the count of the most frequent one — the per-document
  * repetition statistics without materializing or exploding the array.
  * Never null. */
case class NgramStats(child: Expression, w: Int) extends UnaryExpression {
  require(w >= 1, s"shingle width must be >= 1, got $w")

  override def checkInputDataTypes(): TypeCheckResult =
    Ngrams.checkTokens(prettyName, child.dataType)

  override def dataType: DataType = StructType(Seq(
    StructField("n_grams", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("top_count", LongType, nullable = false)))
  override def nullable: Boolean = false
  override def prettyName: String = "graft_ngram_stats"
  override def sql: String = s"$prettyName(${child.sql}, $w)"

  override def eval(input: InternalRow): Any =
    Ngrams.stats(child.eval(input).asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    Ngrams.genCall(ctx, ev, child, dataType, "stats", w)

  override protected def withNewChildInternal(newChild: Expression): NgramStats =
    copy(child = newChild)
}

object NgramStats {
  /** Column-API entry point. */
  def apply(tokens: Column, w: Int): Column =
    ColumnBridge.column(NgramStats(ColumnBridge.expression(tokens), w))
}
