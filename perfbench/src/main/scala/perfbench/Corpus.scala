package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.security.MessageDigest
import java.util.SplittableRandom
import org.apache.spark.unsafe.types.UTF8String

/** Seeded text corpora for the word-count workloads, written together with
  * the result the engine must produce on them.
  *
  * The expected result is counted while the bytes are written: per surface
  * form (vocabulary word × case variant) for `zipf`, per token id for
  * `unique`. Surface forms are then folded with Spark's own `lower`
  * (`UTF8String.toLowerCase`), merged, sorted in binary order and digested
  * as `word,count\n` rows — the rows of the CSV the job writes, header
  * excluded. Every byte depends only on (kind, seed, file index), so the same
  * seed gives the same files and a corpus on disk is reused.
  */
object Corpus {

  /** The reference's delimiter set: 4 whitespace bytes and the ASCII
    * punctuation of `delimiters.txt` (36 distinct bytes). */
  val Delimiters: Array[Byte] =
    (" \t\n\r" + """][!"#$%&'()*+,./:;<=>?@\^_`|{}~-""").getBytes(UTF_8).distinct
  /** Inline separators: every delimiter except the line terminators. */
  private val Inline: Array[Byte] = Delimiters.filterNot(b => b == '\n' || b == '\r')

  /** Bump when the generated bytes change for a given seed. */
  val Version = 2

  final case class Spec(kind: String, files: Int, bytesPerFile: Long) {
    /** Directory name of the corpus for `seed`: a changed shape or
      * generator is a new corpus. */
    def name(seed: Long): String = s"$kind-v$Version-$files-$bytesPerFile-$seed"
  }

  /** zipf: 8 × 8 MiB of Zipf(1) text over a 200k-word mixed-case vocabulary;
    * unique: 1,000 small files of mostly distinct 8-letter tokens. */
  def spec(kind: String): Spec = kind match {
    case "zipf"   => Spec("zipf", 8, 8L << 20)
    case "unique" => Spec("unique", 1000, 12L << 10)
    case other    => sys.error(s"unknown corpus kind $other")
  }

  final case class Expected(files: Int, bytes: Long, tokens: Long,
                            distinct: Long, digest: String) {
    def json: String = Json.obj("files" -> files, "bytes" -> bytes,
      "tokens" -> tokens, "distinct" -> distinct, "digest" -> digest)
  }

  /** The corpus of `kind` for `seed` under `root`, generated unless a
    * complete copy is already there. */
  def ensure(root: File, kind: String, seed: Long): (File, Expected) = {
    val dir = new File(root, spec(kind).name(seed))
    val marker = new File(dir, "_expected.json")
    val cached = if (marker.isFile) Some(readExpected(marker)) else None
    cached.filter(e => textFiles(dir).map(_.length).sum == e.bytes) match {
      case Some(e) => (dir, e)
      case None =>
        prune(root, kind)
        deleteRecursively(dir)
        dir.mkdirs()
        val e = generate(dir, spec(kind), seed, spec(kind).files).get
        Files.writeString(marker.toPath, e.json)
        (dir, e)
    }
  }

  /** The first `n` files of the corpus, for fixed-size probes. */
  def prefix(root: File, kind: String, seed: Long, n: Int): (File, Long) = {
    val dir = new File(root, spec(kind).name(seed) + s"-prefix$n")
    val done = new File(dir, "_done")
    if (!done.isFile) {
      deleteRecursively(dir)
      dir.mkdirs()
      generate(dir, spec(kind), seed, n)
      Files.writeString(done.toPath, "")
    }
    (dir, textFiles(dir).map(_.length).sum)
  }

  /** Text files of a corpus directory (the markers start with `_`, which
    * Spark's file index skips as hidden). */
  def textFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.filter(f => f.isFile && !f.getName.startsWith("_"))

  /** Keep at most one other corpus of a kind on disk. */
  private def prune(root: File, kind: String): Unit = {
    val old = Option(root.listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith(kind + "-") && !d.getName.contains("prefix"))
      .sortBy(_.lastModified()).reverse
    old.drop(1).foreach(deleteRecursively)
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }

  private def readExpected(f: File): Expected = {
    val m = Json.parseFlat(Files.readString(f.toPath))
    Expected(m("files").toInt, m("bytes").toLong, m("tokens").toLong,
      m("distinct").toLong, m("digest"))
  }

  private def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + 1)

  /** Writes files [0, n); the expected result when that is every file. */
  private def generate(dir: File, spec: Spec, seed: Long, n: Int): Option[Expected] = {
    val gen: FileGen = spec.kind match {
      case "zipf"   => new ZipfGen(seed, spec)
      case "unique" => new UniqueGen(seed, spec)
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (0 until n).map { i =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = gen.writeFile(new File(dir, f"part-$i%04d.txt"), i, spec.bytesPerFile)
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    if (n == spec.files) Some(gen.expected(n, textFiles(dir).map(_.length).sum)) else None
  }

  private trait FileGen {
    def writeFile(f: File, index: Int, targetBytes: Long): Unit
    def expected(files: Int, bytes: Long): Expected
  }

  /** A buffered file stream that counts the bytes written to it. */
  private final class Out(f: File) {
    private val os = new BufferedOutputStream(new FileOutputStream(f), 1 << 20)
    var written = 0L
    def put(b: Byte): Unit = { os.write(b); written += 1 }
    def put(a: Array[Byte]): Unit = { os.write(a); written += a.length }
    def close(): Unit = os.close()
  }

  /** Separator between two words: mostly one space, otherwise a run of one
    * to three inline delimiters; a line ends every 6-20 words, with LF or
    * CRLF. Returns the number of words until the next line end. */
  private def separate(r: SplittableRandom, out: Out, wordsLeftInLine: Int): Int =
    if (wordsLeftInLine <= 0) {
      if (r.nextInt(4) == 0) out.put('\r'.toByte)
      out.put('\n'.toByte)
      6 + r.nextInt(15)
    } else {
      if (r.nextInt(10) < 7) out.put(' '.toByte)
      else {
        var k = 1 + r.nextInt(3)
        while (k > 0) { out.put(Inline(r.nextInt(Inline.length))); k -= 1 }
      }
      wordsLeftInLine - 1
    }

  private def lowerOf(form: Array[Byte]): Array[Byte] =
    UTF8String.fromBytes(form).toLowerCase.getBytes

  /** Digest of `word,count\n` rows in the given order. */
  final class RowDigest {
    private val md = MessageDigest.getInstance("SHA-256")
    private val comma = Array(','.toByte)
    private val nl = Array('\n'.toByte)
    def add(word: Array[Byte], count: Long): Unit = {
      md.update(word); md.update(comma)
      md.update(count.toString.getBytes(UTF_8)); md.update(nl)
    }
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private val Accented = "àáâäåæçèéêëìíîïñòóôöøùúûüý".toCharArray

  /** Zipf(1) over 200k vocabulary ranks; each token is written lowercase,
    * Capitalized or UPPER; about 6% of words carry one Latin-1 letter. */
  private final class ZipfGen(seed: Long, spec: Spec) extends FileGen {
    val vocab = 200000
    val forms: Array[Array[Byte]] = {
      // Word lengths and which ranks carry a Latin-1 letter are fixed by
      // rank, independent of the seed, so every seed gives the same bytes
      // per token on average and the same work per MB; the seed picks the
      // letters.
      val shape = rng(0, -4)
      val r = rng(seed, -1)
      val out = new Array[Array[Byte]](vocab * 3)
      for (w <- 0 until vocab) {
        val len = 2 + shape.nextInt(4) + shape.nextInt(4) + shape.nextInt(3)
        val accent = if (shape.nextInt(16) == 0) shape.nextInt(len) else -1
        val cs = Array.fill(len)(('a' + r.nextInt(26)).toChar)
        if (accent >= 0) cs(accent) = Accented(r.nextInt(Accented.length))
        val s = new String(cs)
        out(3 * w) = s.getBytes(UTF_8)
        out(3 * w + 1) = (s.substring(0, 1).toUpperCase(java.util.Locale.ROOT) + s.substring(1)).getBytes(UTF_8)
        out(3 * w + 2) = s.toUpperCase(java.util.Locale.ROOT).getBytes(UTF_8)
      }
      out
    }
    private val cdf: Array[Double] = {
      val c = new Array[Double](vocab)
      var acc = 0.0
      for (i <- 0 until vocab) { acc += 1.0 / (i + 1); c(i) = acc }
      for (i <- 0 until vocab) c(i) /= acc
      c
    }
    private val counts = new Array[Array[Long]](spec.files)

    def writeFile(f: File, index: Int, targetBytes: Long): Unit = {
      val r = rng(seed, index)
      val local = new Array[Long](forms.length)
      val out = new Out(f)
      var line = 6 + r.nextInt(15)
      while (out.written < targetBytes) {
        var w = java.util.Arrays.binarySearch(cdf, r.nextDouble())
        if (w < 0) w = -w - 1
        if (w >= vocab) w = vocab - 1
        val c = r.nextInt(100)
        val form = 3 * w + (if (c < 88) 0 else if (c < 96) 1 else 2)
        out.put(forms(form))
        local(form) += 1
        line = separate(r, out, line)
      }
      out.put('\n'.toByte)
      out.close()
      counts.synchronized { counts(index) = local }
    }

    def expected(files: Int, bytes: Long): Expected = {
      val total = new Array[Long](forms.length)
      for (i <- 0 until files; j <- total.indices) total(j) += counts(i)(j)
      val merged = new java.util.HashMap[UTF8String, java.lang.Long]()
      for (j <- total.indices if total(j) > 0) {
        val k = UTF8String.fromBytes(lowerOf(forms(j)))
        merged.merge(k, total(j), (a, b) => a + b)
      }
      val keys = merged.keySet().toArray(new Array[UTF8String](0))
      java.util.Arrays.sort(keys, (a: UTF8String, b: UTF8String) =>
        java.util.Arrays.compareUnsigned(a.getBytes, b.getBytes))
      val d = new RowDigest
      keys.foreach(k => d.add(k.getBytes, merged.get(k)))
      Expected(files, bytes, total.sum, keys.length, d.hex)
    }
  }

  /** 8-letter tokens from a seeded bijection of 36-bit ids, so every new id
    * is a new word; 10% of tokens repeat one of the file's earlier tokens
    * and 10% are Capitalized. Fixed-length lowercase base-26 words sort in
    * binary order exactly as their numeric codes do. */
  private final class UniqueGen(seed: Long, spec: Spec) extends FileGen {
    private val Mask = (1L << 36) - 1
    private val mul = (rng(seed, -2).nextLong() | 1L) & Mask
    private val add = rng(seed, -3).nextLong() & Mask
    private def code(id: Long): Long = (id * mul + add) & Mask
    private def word(code: Long, capital: Boolean): Array[Byte] = {
      val b = new Array[Byte](8)
      var v = code
      var i = 7
      while (i >= 0) { b(i) = ('a' + (v % 26)).toByte; v /= 26; i -= 1 }
      if (capital) b(0) = (b(0) - 32).toByte
      b
    }
    private val perFile = new Array[Array[Long]](spec.files)

    def writeFile(f: File, index: Int, targetBytes: Long): Unit = {
      val r = rng(seed, index)
      val ids = new java.util.ArrayList[java.lang.Long]()
      val cnt = new java.util.ArrayList[java.lang.Long]()
      val out = new Out(f)
      var line = 6 + r.nextInt(15)
      val base = index.toLong << 24
      while (out.written < targetBytes) {
        val k = if (ids.size > 0 && r.nextInt(10) == 0) r.nextInt(ids.size) else {
          ids.add(code(base + ids.size)); cnt.add(0L); ids.size - 1
        }
        cnt.set(k, cnt.get(k) + 1)
        out.put(word(ids.get(k), r.nextInt(10) == 0))
        line = separate(r, out, line)
      }
      out.put('\n'.toByte)
      out.close()
      val packed = Array.tabulate(ids.size)(i => (ids.get(i) << 27) | cnt.get(i))
      perFile.synchronized { perFile(index) = packed }
    }

    def expected(files: Int, bytes: Long): Expected = {
      val all = perFile.take(files).flatten
      java.util.Arrays.parallelSort(all)
      val d = new RowDigest
      var tokens = 0L
      all.foreach { p =>
        val c = p & ((1L << 27) - 1)
        tokens += c
        d.add(word(p >>> 27, capital = false), c)
      }
      Expected(files, bytes, tokens, all.length, d.hex)
    }
  }
}
