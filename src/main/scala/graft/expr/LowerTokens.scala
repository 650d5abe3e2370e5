package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationFactory, CollationSupport, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The word-count tokenizer as one expression: the lowercased, non-empty,
  * maximal non-delimiter runs of a string. Output is bit-identical to
  * `filter(split(lower(s), <class of delimiters>+), x -> length(x) > 0)`
  * by construction:
  *   - an all-ASCII row is lowercased (`A–Z` only, what `lower` does on
  *     ASCII input) and split in the same loop over its bytes;
  *   - any other row is lowered whole by the call `Lower` makes, so ICU
  *     context rules (final sigma) and invalid-UTF-8 → U+FFFD replacement
  *     are unchanged, and the lowered bytes are then scanned code point by
  *     code point.
  *
  * The delimiter set becomes a 256-entry table at plan time (the
  * reference's per-byte test, `tokenizer.c:37-45`, without its per-byte
  * array scan), so no regex, no String round trip and no interpreted
  * filter lambda run per row.
  */
case class LowerTokens(child: Expression, delimiters: String) extends UnaryExpression {
  require(delimiters.forall(_ <= 0xff),
    s"lower_tokens delimiters must be at most U+00FF: ${LowerTokens.escaped(delimiters)}")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case st: StringType if st.collationId == CollationFactory.UTF8_BINARY_COLLATION_ID =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a UTF8_BINARY string, got ${t.sql}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "lower_tokens"

  /** Read the way `Lower` reads it, so both lower the same way. */
  private lazy val useICU: Boolean = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)
  private lazy val table: Array[Boolean] = {
    val t = new Array[Boolean](256)
    delimiters.foreach(c => t(c) = true)
    t
  }

  override protected def nullSafeEval(input: Any): Any =
    LowerTokens.tokenize(input.asInstanceOf[UTF8String], table, useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tableRef = ctx.addReferenceObj("lowerTokensTable", table, "boolean[]")
    defineCodeGen(ctx, ev, s => s"graft.expr.LowerTokens.tokenize($s, $tableRef, $useICU)")
  }

  override protected def stringArgs: Iterator[Any] =
    Iterator(child, LowerTokens.escaped(delimiters))

  override def sql: String =
    if (delimiters == LowerTokens.Default) s"$prettyName(${child.sql})"
    else s"$prettyName(${child.sql}, ${Literal(delimiters).sql})"

  override protected def withNewChildInternal(newChild: Expression): LowerTokens =
    copy(child = newChild)
}

object LowerTokens {

  /** The default delimiter set as the expression carries it. */
  val Default: String = normalize(graft.tok.Tokenizer.DefaultDelimiters)

  /** Canonical (sorted, distinct) string form of a delimiter set. */
  def normalize(delimiters: Iterable[Char]): String = delimiters.toSeq.distinct.sorted.mkString

  /** Plan-string form: control characters as `\xNN`. */
  private def escaped(delimiters: String): String =
    delimiters.flatMap(c => if (c < ' ' || c == 0x7f) f"\\x${c.toInt}%02x" else c.toString)

  /** The kernel both the interpreted and the generated path call. */
  def tokenize(s: UTF8String, table: Array[Boolean], useICU: Boolean): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    val lowered = new Array[Byte](n)
    val out = new Tokens
    var start = -1
    var i = 0
    while (i < n) {
      var b = Platform.getByte(base, off + i)
      if (b < 0) return nonAscii(s, table, useICU)
      if (b >= 'A' && b <= 'Z') b = (b + 32).toByte
      lowered(i) = b
      if (table(b)) {
        if (start >= 0) { out += UTF8String.fromBytes(lowered, start, i - start); start = -1 }
      } else if (start < 0) start = i
      i += 1
    }
    if (start >= 0) out += UTF8String.fromBytes(lowered, start, n - start)
    out.result()
  }

  /** Lower the whole row as `Lower` does, then split its (valid UTF-8)
    * bytes; only 1-byte and `C2`/`C3`-led 2-byte sequences encode code
    * points up to U+00FF, so only those are looked up in the table. */
  private def nonAscii(s: UTF8String, table: Array[Boolean], useICU: Boolean): ArrayData = {
    // `Lower` builds a new string for non-ASCII input, so the tokens may be
    // views into it: they never share the input row's (reused) memory
    val lowered = CollationSupport.Lower.exec(s, CollationFactory.UTF8_BINARY_COLLATION_ID, useICU)
    val base = lowered.getBaseObject
    val off = lowered.getBaseOffset
    val n = lowered.numBytes
    val out = new Tokens
    var start = -1
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i) & 0xff
      var cp = -1
      var w = 1
      if (b < 0x80) cp = b
      else if ((b == 0xc2 || b == 0xc3) && i + 1 < n) {
        cp = ((b & 0x1f) << 6) | (Platform.getByte(base, off + i + 1) & 0x3f)
        w = 2
      }
      if (cp >= 0 && table(cp)) {
        if (start >= 0) { out += UTF8String.fromAddress(base, off + start, i - start); start = -1 }
      } else if (start < 0) start = i
      i += w
    }
    if (start >= 0) out += UTF8String.fromAddress(base, off + start, n - start)
    out.result()
  }

  /** Growable token array; the result is trimmed to the token count. */
  private final class Tokens {
    private var buf = new Array[AnyRef](16)
    private var size = 0
    def +=(t: UTF8String): Unit = {
      if (size == buf.length) buf = java.util.Arrays.copyOf(buf, size * 2)
      buf(size) = t
      size += 1
    }
    def result(): ArrayData =
      new GenericArrayData(java.util.Arrays.copyOf(buf, size).asInstanceOf[Array[Any]])
  }
}
