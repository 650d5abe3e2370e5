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
  *   - a row whose bytes are ASCII or Latin-1 (U+0080–U+00FF as valid
  *     `C2`/`C3` pairs) is lowercased and split in the same loop over its
  *     bytes ([[LowerTokens.scan]]): `A–Z` and `À–Þ` but `×` map to their
  *     lowercase, as `lower` maps them in the root locale;
  *   - any other row (a code point above U+00FF, invalid UTF-8, or any
  *     non-ASCII row under a JVM default locale of `tr`, `az` or `lt`) is
  *     lowered whole by the call `Lower` makes, so locale and context rules
  *     (final sigma, `İ`) and invalid-UTF-8 → U+FFFD replacement are
  *     unchanged, and the lowered bytes are then scanned code point by code
  *     point.
  *
  * The delimiter set becomes a 256-entry table at plan time (the
  * reference's per-byte test, `tokenizer.c:37-45`, without its per-byte
  * array scan), so no regex, no String round trip and no interpreted
  * filter lambda run per row. The fused word-count map side
  * ([[TokenCountExec]]) calls the same kernel, so its tokens are these.
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
  private[graft] lazy val useICU: Boolean = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)
  private[graft] lazy val table: Array[Boolean] = {
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

  /** Where [[scan]] hands the tokens of a row. */
  trait Sink {
    /** Space for the lowered bytes of an `n`-byte row. */
    def buffer(n: Int): Array[Byte]
    /** One token: `len` lowered bytes at `offset` of `base`. */
    def token(base: AnyRef, offset: Long, len: Int): Unit
    /** Forgets the row's tokens so far: the row is scanned again, whole,
      * on `Lower`'s path. */
    def restart(): Unit
  }

  /** The kernel the interpreted and the generated path call. */
  def tokenize(s: UTF8String, table: Array[Boolean], useICU: Boolean): ArrayData = {
    val out = new Tokens
    scan(s, table, useICU, out)
    out.result()
  }

  /** Lowercases and splits one row in one pass over its bytes, handing each
    * token to `sink`. ASCII and valid `C2`/`C3` two-byte sequences
    * (U+0080–U+00FF) are lowered here: `A–Z`, and `C3 80–9E` but `C3 97`
    * (`À–Þ` but `×`), gain 0x20; every other code point up to U+00FF is its
    * own lowercase. Any other non-ASCII byte (a code point above U+00FF, or
    * invalid UTF-8), or any non-ASCII byte at all under a JVM default
    * locale with its own lowercasing ([[rootLowering]]), restarts the row on
    * [[lowerThenSplit]]. */
  def scan(s: UTF8String, table: Array[Boolean], useICU: Boolean, sink: Sink): Unit = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    val lowered = sink.buffer(n)
    var rootLocale = false
    var start = -1
    var i = 0
    while (i < n) {
      var b = Platform.getByte(base, off + i)
      var cp = 0
      var w = 1
      if (b >= 0) {
        if (b >= 'A' && b <= 'Z') b = (b + 32).toByte
        lowered(i) = b
        cp = b
      } else {
        val b2 = if (i + 1 < n) Platform.getByte(base, off + i + 1) else 0.toByte
        if ((b != 0xc2.toByte && b != 0xc3.toByte) || (b2 & 0xc0) != 0x80 ||
            !(rootLocale || { rootLocale = rootLowering; rootLocale })) {
          sink.restart()
          lowerThenSplit(s, table, useICU, sink)
          return
        }
        // as signed bytes, continuations 0x80–0x9E are -128 to -98
        lowered(i) = b
        lowered(i + 1) =
          if (b == 0xc3.toByte && b2 <= 0x9e.toByte && b2 != 0x97.toByte) (b2 + 0x20).toByte
          else b2
        cp = ((b & 0x1f) << 6) | (lowered(i + 1) & 0x3f)
        w = 2
      }
      if (table(cp)) {
        if (start >= 0) {
          sink.token(lowered, Platform.BYTE_ARRAY_OFFSET + start, i - start)
          start = -1
        }
      } else if (start < 0) start = i
      i += w
    }
    if (start >= 0) sink.token(lowered, Platform.BYTE_ARRAY_OFFSET + start, n - start)
  }

  /** Whether the JVM's default locale lowercases U+0080–U+00FF as the root
    * locale does. `Lower` reads that locale (`String.toLowerCase` without
    * ICU, `UCharacter.toLowerCase` with it); Turkish and Azeri lower `I` to
    * `ı`, Lithuanian keeps a dot above `Ì`, `Í` and `Ĩ`. */
  private def rootLowering: Boolean = {
    val lang = java.util.Locale.getDefault.getLanguage
    lang != "tr" && lang != "az" && lang != "lt"
  }

  /** Lower the whole row as `Lower` does, then split its (valid UTF-8)
    * bytes; only 1-byte and `C2`/`C3`-led 2-byte sequences encode code
    * points up to U+00FF, so only those are looked up in the table. */
  private def lowerThenSplit(s: UTF8String, table: Array[Boolean], useICU: Boolean,
                             sink: Sink): Unit = {
    // `Lower` builds a new string for non-ASCII input, so the tokens may be
    // views into it: they never share the input row's (reused) memory
    val lowered = CollationSupport.Lower.exec(s, CollationFactory.UTF8_BINARY_COLLATION_ID, useICU)
    val base = lowered.getBaseObject
    val off = lowered.getBaseOffset
    val n = lowered.numBytes
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
        if (start >= 0) { sink.token(base, off + start, i - start); start = -1 }
      } else if (start < 0) start = i
      i += w
    }
    if (start >= 0) sink.token(base, off + start, n - start)
  }

  /** Growable token array of views into the lowered row; the result is
    * trimmed to the token count. */
  private final class Tokens extends Sink {
    private var buf = new Array[AnyRef](16)
    private var size = 0
    // a fresh array per row: the tokens are views into it
    def buffer(n: Int): Array[Byte] = new Array[Byte](n)
    def token(base: AnyRef, offset: Long, len: Int): Unit = {
      if (size == buf.length) buf = java.util.Arrays.copyOf(buf, size * 2)
      buf(size) = UTF8String.fromAddress(base, offset, len)
      size += 1
    }
    def restart(): Unit = size = 0
    def result(): ArrayData =
      new GenericArrayData(java.util.Arrays.copyOf(buf, size).asInstanceOf[Array[Any]])
  }
}
