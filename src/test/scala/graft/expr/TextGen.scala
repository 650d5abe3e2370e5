package graft.expr

import graft.tok.Tokenizer
import org.scalacheck.Gen

/** Row fragments and delimiter sets the tokenizer properties draw from. */
object TextGen {

  def utf8(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** Fragments a row is built from. Raw byte arrays carry the invalid
    * UTF-8 cases (`0xFF`, `0xFE`, a lone `0xC3` lead byte). */
  val nonAsciiFragments: Seq[Array[Byte]] =
    (Seq("Σ", "ΑΣ", "ΟΔΟΣ'", "ΣΑ.", "'Σ", "σ", "ς", "\u0130", "\u212a", "😀", "é", "Ü", "ß",
      "東京") ++ ('À' to 'ÿ').map(_.toString)).map(utf8) ++
      Seq(Array(0xff.toByte), Array(0xfe.toByte), Array(0xc3.toByte), Array('a'.toByte, 0xc3.toByte))
  val asciiFragments: Seq[Array[Byte]] =
    (Tokenizer.DefaultDelimiters.toSeq.map(_.toString) ++
      Seq("\r\n", "\u0000", "A", "Z", "a", "z", "0", "9", "The", "QUICK", "fox", "x1Y2")).map(utf8)

  /** Delimiter pool: the defaults, letters of both cases, digits, NUL and
    * U+0080–U+00FF. */
  val delimiterPool: Seq[Char] =
    Tokenizer.DefaultDelimiters.toSeq ++ ('A' to 'Z') ++ ('a' to 'z') ++ ('0' to '9') ++
      Seq('\u0000') ++ ('\u0080' to 'ÿ')
  val genDelimiters: Gen[Set[Char]] = Gen.frequency(
    1 -> Gen.const(Tokenizer.DefaultDelimiters),
    3 -> Gen.choose(1, 12).flatMap(n => Gen.pick(n, delimiterPool)).map(_.toSet),
    1 -> Gen.choose(1, 6).flatMap(n => Gen.pick(n, delimiterPool))
      .map(_.toSet ++ Tokenizer.WhitespaceDelimiters))
}
