package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media (image/audio/video) travel as opaque
  * `binary` payloads next to typed metadata, and per-item decoding runs as
  * batched partition-local processing — the Spark-side shape of a decode /
  * feature-extract stage.
  *
  * IMAGE decode is REAL: [[decodeImageMeta]] runs `javax.imageio`
  * (PNG/BMP/GIF — the pure-JVM codecs, no new dependencies) behind the
  * batched `mapPartitions` boundary, and is oracle-gated end to end
  * (q_decode_meta: deterministic synthetic PNGs whose geometry and pixel
  * statistics DuckDB derives analytically — a decode bug breaks the
  * hash). AUDIO decode is REAL too (r14): [[decodeAudioMeta]] /
  * [[decodeAudioDHash]] run the JDK's `javax.sound.sampled` WAV/PCM
  * stack over [[NoiseAudio]] clips, oracle-gated the same way
  * (q_audio_meta / q_audio_neardup). VIDEO frame decode is real for
  * animated GIF, AVI/DIB, AVI/Motion-JPEG and the AVI/BI_RLE8
  * INTER-FRAME delta codec (r16); only native-DSP codecs (H.264-class)
  * keep [[FakeDecoder]] as the explicitly-marked deterministic stand-in —
  * a permanent environment boundary (SURVEY §8); the plumbing around it
  * (schema, batching, partitioning) is the production shape either way.
  *
  * Scale notes: payloads stay columnar (parquet binary) until the decode
  * stage; the decode is a narrow `mapPartitions` (no shuffle), batched so a
  * vectorized/native decoder could amortize per-call overhead — the same
  * batch shape `mapInPandas`/Arrow uses in PySpark.
  */
object Multimodal {

  /** ImageIO's default stream cache is a TEMP FILE per encode/decode —
    * for the in-memory byte-array round-trips every call site here does,
    * that is one disk write + read per image for nothing. Idempotent,
    * JVM-global, executor-local (called from inside the batched
    * mapPartitions, so every executor JVM flips it before first use). */
  private[ops] def imageIoNoDiskCache(): Unit =
    if (javax.imageio.ImageIO.getUseCache) {
      javax.imageio.ImageIO.setUseCache(false)
    }

  /** One decoded media item's features. */
  case class MediaFeatures(doc_id: Long, n_bytes: Int, header: String,
                           checksum: Long, feature: Array[Float])

  /** One decoded IMAGE's geometry + exact pixel statistics (sum/min/max
    * over every sample of every band — integers, so engine-portable with
    * no float contract needed). */
  case class ImageMeta(doc_id: Long, n_bytes: Int, width: Int, height: Int,
                       n_channels: Int, px_sum: Long, px_min: Int, px_max: Int)

  /** Deterministic synthetic images for the decode gate and specs: doc
    * `id` maps to a `(id mod 13 + 1) × (id mod 7 + 1)` 8-bit image with
    * gray(x, y) = (id + 3x + 5y) mod 256 — closed forms a SQL oracle can
    * replay without any codec. `grayPng` renders those pixels into REAL
    * PNG bytes via `javax.imageio`, so a decoder reading them back is
    * verified against ground truth the oracle derives independently.
    */
  object SyntheticImages {
    def dims(id: Long): (Int, Int) = ((id % 13 + 1).toInt, (id % 7 + 1).toInt)

    def px(id: Long, x: Int, y: Int): Int = ((id + 3L * x + 5L * y) % 256L).toInt

    def render(id: Long, imageType: Int): java.awt.image.BufferedImage = {
      val (w, h) = dims(id)
      val img = new java.awt.image.BufferedImage(w, h, imageType)
      val raster = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          var b = 0
          while (b < raster.getNumBands) {
            raster.setSample(x, y, b, px(id + b, x, y))
            b += 1
          }
          x += 1
        }
        y += 1
      }
      img
    }

    def encode(img: java.awt.image.BufferedImage, format: String): Array[Byte] = {
      Multimodal.imageIoNoDiskCache()
      val bos = new java.io.ByteArrayOutputStream()
      val ok = javax.imageio.ImageIO.write(img, format, bos)
      require(ok, s"no ImageIO writer for format $format")
      bos.toByteArray
    }

    def grayPng(id: Long): Array[Byte] =
      encode(render(id, java.awt.image.BufferedImage.TYPE_BYTE_GRAY), "png")
  }

  /** `(doc_id, payload)` with REAL synthetic-PNG bytes per document — the
    * stored-media stand-in for the decode gate. Encoding happens at the
    * same batched partition-local boundary decoding does.
    */
  def syntheticImagePayloads(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    // decode/encode stages are CPU-bound: inherit CLUSTER parallelism,
    // not the upstream file count (a single-file doc list would run the
    // whole render single-threaded — measured 12.6 s → 2.6 s at sf0.1)
    docs.select(col("doc_id")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions(_.map(id => (id, SyntheticImages.grayPng(id))))
      .toDF("doc_id", "payload")
  }

  /** REAL image decode (`javax.imageio`): width/height/band-count plus
    * exact integer pixel statistics per payload. Same narrow batched
    * `mapPartitions` boundary as [[decodeFeatures]] — batch size bounds
    * peak memory and is the amortization unit a vectorized decoder would
    * use. Fails loudly on undecodable bytes (a silent null would
    * misreport corpus health downstream).
    */
  def decodeImageMeta(spark: SparkSession, payloads: DataFrame,
                      batchSize: Int = 64): Dataset[ImageMeta] = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        imageIoNoDiskCache()
        it.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { case (id, bytes) =>
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes))
            require(img != null, s"doc $id: payload is not a decodable image")
            val raster = img.getRaster
            val (w, h, bands) = (img.getWidth, img.getHeight, raster.getNumBands)
            var (sum, mn, mx) = (0L, Int.MaxValue, Int.MinValue)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                var b = 0
                while (b < bands) {
                  val v = raster.getSample(x, y, b)
                  sum += v
                  if (v < mn) mn = v
                  if (v > mx) mx = v
                  b += 1
                }
                x += 1
              }
              y += 1
            }
            ImageMeta(id, bytes.length, w, h, bands, sum, mn, mx)
          }
        }
      }
  }

  /** Deterministic 16×16 grayscale NOISE images for the perceptual-hash
    * near-dup gate: pixel (x, y) of image `id` is the low byte of the
    * h60 family hash of "img:id:x:y" — the same engine-portable md5
    * derivation as [[graft.functions.Hashes.h60]], computed here JVM-side
    * for the PNG generator, so a SQL oracle replays every pixel without a
    * codec. Ids with `id % plantedEvery == 1` are PLANTED near-dups of
    * `id − 1`: they reuse the base image's pixels except at positions
    * where `(y·16 + x) % perturbMod == 0` (3 pixels at the defaults) —
    * visually the same image with a few hot pixels, exactly what a
    * crawler re-encode or thumbnail tweak produces. All other image pairs
    * are independent noise (expected dHash Hamming ≈ 32), so the
    * perceptual-hash pair search has a real discrimination task.
    */
  object NoiseImages {
    val Size = 16

    private val md5Local =
      new ThreadLocal[java.security.MessageDigest] {
        override def initialValue(): java.security.MessageDigest =
          java.security.MessageDigest.getInstance("MD5")
      }

    /** JVM-side h60: first 15 hex digits of md5 as a non-negative long —
      * bit-identical to the column form and to the oracle's rendering.
      * The 15 leading hex digits ARE the top 60 bits of the first 8
      * digest bytes, so the value is pure bit arithmetic; the digest is
      * thread-cached because `MessageDigest.getInstance` is a
      * synchronized provider lookup — 32 executor threads calling it per
      * PIXEL made the whole synthetic decode tier contention-bound
      * (r16 find: q_rle_delta_frames 50 → ~8 s, and the r15 "decode tier
      * high variance on this box" channel reads largely as THIS lock). */
    def h60(s: String): Long = {
      // the charset CONSTANT, not the name: getBytes("UTF-8") resolves the
      // charset through a synchronized cache and sampled as a BLOCKED
      // frame across 32 decode threads (QueryProfile --sample, r18)
      val d = md5Local.get().digest(
        s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var v = 0L
      var i = 0
      while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
      v >>> 4
    }

    def basePx(id: Long, x: Int, y: Int): Int =
      (h60(s"img:$id:$x:$y") % 256L).toInt

    def px(id: Long, x: Int, y: Int, plantedEvery: Int = 25,
           perturbMod: Int = 97): Int =
      if (id % plantedEvery == 1 && (y * Size + x) % perturbMod != 0)
        basePx(id - 1, x, y)
      else basePx(id, x, y)

    def png(id: Long): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(Size, Size,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      var y = 0
      while (y < Size) {
        var x = 0
        while (x < Size) {
          raster.setSample(x, y, 0, px(id, x, y))
          x += 1
        }
        y += 1
      }
      SyntheticImages.encode(img, "png")
    }
  }

  /** `(doc_id, payload)` with the [[NoiseImages]] PNG bytes per document —
    * the stored-media corpus for the image near-dup gate. */
  def syntheticNoisePayloads(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism) // see above
      .mapPartitions(_.map(id => (id, NoiseImages.png(id))))
      .toDF("doc_id", "payload")
  }

  /** dHash (difference hash) over REAL decoded pixels — the standard
    * perceptual image fingerprint (gradient-sign grid; public algorithm,
    * widely documented): nearest-neighbor sample the decoded raster at a
    * 9×8 grid, compare horizontal neighbors, emit 8 bits per row. The 64
    * bits travel as ARRAY of 8 row-bands (ints 0..255) rather than one
    * packed long: the bands are exactly what the pigeonhole pair search
    * joins on, and band-wise `bit_count(xor)` keeps every engine's
    * arithmetic in small non-negative ints (a packed 64-bit form would
    * put bit 63 in the sign position). Decode is the same batched
    * `mapPartitions` boundary as [[decodeImageMeta]]; grid sampling makes
    * the hash O(1) per image regardless of source resolution.
    */
  def decodeImageDHash(spark: SparkSession, payloads: DataFrame,
                       batchSize: Int = 64): DataFrame = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        imageIoNoDiskCache()
        it.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { case (id, bytes) =>
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes))
            require(img != null, s"doc $id: payload is not a decodable image")
            val raster = img.getRaster
            val (w, h) = (img.getWidth, img.getHeight)
            // nearest-neighbor 9×8 grid (classic dHash geometry)
            def g(gx: Int, gy: Int): Int =
              raster.getSample(gx * w / 9, gy * h / 8, 0)
            val bands = (0 until 8).map { y =>
              (0 until 8).foldLeft(0) { (acc, x) =>
                if (g(x + 1, y) > g(x, y)) acc | (1 << x) else acc
              }
            }
            (id, bands)
          }
        }
      }
      .toDF("doc_id", "bands")
  }

  /** Sentinel for [[imageNearDups]]'s `superBandBits`: derive the band
    * width from a measured corpus count ([[adaptiveSuperBandBits]]). */
  val AutoBands: Int = -1

  /** Corpus-scale rule for the pigeonhole band width (VERDICT r13 #2 /
    * ADVICE r13, the [[graft.ops.Dedup.adaptiveMaxDf]] idiom): the 8-band
    * exact join buckets on 8-bit values, so candidate volume on
    * independent images is ~8·n²/2⁸ — quadratic with a fixed 2⁸ bucket
    * space, exactly the scale-killer class [[graft.ops.Similarity.scaledNBits]]
    * retires for sign-LSH. Above `2^(8+margin)` docs (bucket occupancy
    * > 2^margin) switch to 16-bit super-bands + Hamming-1 multi-probe:
    * 4 bands of 16 bits, probe side expanded to the 17-value Hamming-≤1
    * neighborhood — candidates fall to ~4·17·n²/2¹⁶ (≈30× fewer) for a
    * 17× linear probe fan-out. Recall stays 1 by the same pigeonhole
    * argument (≤7 errors over 4 bands → some band differs in ≤⌊7/4⌋=1
    * bit, and the probe enumerates that neighborhood), so the OUTPUT is
    * invariant — only the plan changes, which is what lets the gated
    * query carry the lever without touching its oracle. The radius-3
    * 32-bit extension exists but its 5,489-probe fan-out only pays past
    * ~10⁸ docs; not wired.
    */
  def adaptiveSuperBandBits(n: Long, margin: Int = 2): Int =
    if (n <= (1L << (8 + margin))) 8 else 16

  /** Perceptual-hash image near-dup pairs: every unordered pair of images
    * whose dHash Hamming distance is ≤ `maxHamming`. Pair generation is
    * the SimHash pigeonhole discipline, not all-pairs: two 64-bit hashes
    * within Hamming h must agree within ⌊h/B⌋ bits on at least one of
    * the B bands (pigeonhole), so candidates come from an equi-join on
    * `(band_idx, band_val)` — with the probe side expanded to the
    * Hamming-≤⌊h/B⌋ mask neighborhood when the band width calls for it —
    * and the exact band-wise `bit_count(xor)` sum verifies each candidate
    * once. Recall is 1 by construction for `maxHamming ≤ 7` at either
    * width; the brute-force oracle is therefore exactly equal, while the
    * engine plan stays a keyed hash join. `superBandBits` picks the
    * bucket space: 8 (8 exact byte-bands, fan-out ≈ n²/2⁸ per band) or
    * 16 (4 super-bands + 17-probe multi-probe, fan-out ≈ n²/2¹⁶ per
    * band·probe); [[AutoBands]] (default) resolves it from one count of
    * the persisted hash relation — the measured-count gate, mirroring
    * pageRank's `broadcastMaxNodes` and `Dedup.adaptiveMaxDf`.
    */
  def imageNearDups(hashes: DataFrame, maxHamming: Int = 7,
                    superBandBits: Int = AutoBands): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 7,
      s"maxHamming: $maxHamming (the band layouts guarantee recall to 7)")
    // the hash relation feeds BOTH join sides — persist it so the decode
    // mapPartitions runs once (cache lifetime caller-managed; Verify/Bench
    // clear per query); the AutoBands count() rides the same persist
    val hs = hashes
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val w =
      if (superBandBits == AutoBands) adaptiveSuperBandBits(hs.count())
      else superBandBits
    require(w == 8 || w == 16, s"superBandBits: $w (8 or 16)")
    val nBands = 64 / w
    val radius = maxHamming / nBands // ⌊h/B⌋: 0 at w=8, ≤1 at w=16
    val sbands = array((0 until nBands).map(i =>
      if (w == 8) col("bands")(i)
      else col("bands")(2 * i) + col("bands")(2 * i + 1) * lit(256)): _*)
    val ex = hs.select(col("doc_id"), col("bands"),
      posexplode(sbands).as(Seq("band_idx", "band_val")))
    val a =
      if (radius == 0)
        ex.select(col("band_idx"), col("band_val"),
          col("doc_id").as("id_a"), col("bands").as("bands_a"))
      else // probe side visits its band value + every single-bit flip
        ex.select(col("band_idx"),
          explode(array((lit(0) +: (0 until w).map(j => lit(1 << j))).map(m =>
            col("band_val").bitwiseXOR(m)): _*)).as("band_val"),
          col("doc_id").as("id_a"), col("bands").as("bands_a"))
    val b = ex.select(col("band_idx"), col("band_val"),
      col("doc_id").as("id_b"), col("bands").as("bands_b"))
    a.join(b, Seq("band_idx", "band_val"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        aggregate(
          zip_with(col("bands_a"), col("bands_b"),
            (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
          lit(0L), _ + _).as("hamming"))
      .distinct() // multi-band agreements generate the same pair per band
      .where(col("hamming") <= maxHamming)
  }

  /** Deterministic 16-bit PCM mono WAV clips for the REAL audio decode
    * gate (VERDICT r13 #3 — `javax.sound.sampled` ships in the JDK, no
    * external codecs): sample i of clip `id` is the h60 family hash of
    * "aud:id:i" mapped to [−2000, 2000] — the [[NoiseImages]] pattern, so
    * a SQL oracle replays every sample without a codec. Clip length
    * varies with the 25-block (512..896 samples at 8 kHz → 64–112 ms);
    * the block granularity keeps a planted variant (`id % 25 == 1`,
    * reusing `id − 1`'s samples except where `i % 331 == 0`) the SAME
    * length as its base — a re-encoded clip with a couple of corrupted
    * samples, the audio analogue of the hot-pixel image variants. All
    * other clip pairs are independent noise.
    */
  object NoiseAudio {
    val SampleRate = 8000
    /** 65-point frame grid for the energy dHash: 64 adjacent-energy
      * comparisons = 8 pigeonhole bands of 8 bits, the [[imageNearDups]]
      * geometry. */
    val DHashFrames = 65

    def nSamples(id: Long): Int = 512 + ((id / 25) % 4).toInt * 128

    def baseSample(id: Long, i: Int): Int =
      (NoiseImages.h60(s"aud:$id:$i") % 4001L).toInt - 2000

    def sample(id: Long, i: Int): Int =
      if (id % 25 == 1 && i % 331 != 0) baseSample(id - 1, i)
      else baseSample(id, i)

    /** REAL WAV bytes (RIFF container, 16-bit little-endian PCM mono)
      * written through the JDK's WAVE [[audioWriters provider]] — the
      * decoder reads back an actual audio file, not a private framing. */
    def wav(id: Long): Array[Byte] = {
      val n = nSamples(id)
      val fmt = new javax.sound.sampled.AudioFormat(
        javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
        SampleRate.toFloat, 16, 1, 2, SampleRate.toFloat, false)
      val data = new Array[Byte](n * 2)
      var i = 0
      while (i < n) {
        val s = sample(id, i)
        data(2 * i) = (s & 0xff).toByte
        data(2 * i + 1) = ((s >> 8) & 0xff).toByte
        i += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, n.toLong)
      val Wave = javax.sound.sampled.AudioFileFormat.Type.WAVE
      audioWriters.find(_.isFileTypeSupported(Wave, ais))
        .getOrElse(throw new IllegalStateException(
          "no WAVE AudioFileWriter provider on this JVM"))
        .write(ais, Wave, bos)
      bos.toByteArray
    }
  }

  /** The JDK audio SPI provider lists, resolved ONCE per JVM.
    *
    * `AudioSystem.getAudioInputStream`/`write` dispatch through
    * `JDK13Services`/`JSSecurityManager.getProviders`, a
    * class-synchronized lookup that re-walks the classpath's service
    * configs on every call. Under the bench this was the decode tier's
    * real cost: in-process stack sampling of q_audio_meta's timed run
    * (QueryProfile --sample) caught 32 executor threads BLOCKED on that
    * Class lock in ~75 % of ticks (2211/2900 samples; executorRunTime
    * 55 s vs 4 s CPU). Resolving the providers here through the same
    * public SPI (`ServiceLoader` over `javax.sound.sampled.spi.*`) and
    * dispatching to the provider instance directly keeps the decode path
    * byte-identical — it is the SAME `WaveFileReader` object AudioSystem
    * would pick — while the synchronized classpath walk happens once per
    * JVM instead of once per row (guide §4.5: hoist heavyweight
    * initialisation out of the per-row path).
    */
  private lazy val audioReaders: Seq[javax.sound.sampled.spi.AudioFileReader] = {
    import scala.jdk.CollectionConverters._
    // MIDI last: SoftMidiAudioFileReader re-enters the synchronized
    // provider registry (MidiSystem soundbank lookup) merely to REJECT
    // non-MIDI bytes — sampled as the residual Class-lock block after the
    // outer lookup was hoisted. Only the WAVE readers accept these
    // payloads, so acceptance (and the decoded bytes) is order-invariant;
    // the reorder just stops the rejection path from taking a global lock.
    java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader])
      .asScala.toSeq
      .sortBy(r => if (r.getClass.getName.contains("Midi")) 1 else 0)
  }
  private lazy val audioWriters: Seq[javax.sound.sampled.spi.AudioFileWriter] = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileWriter])
      .asScala.toSeq
  }

  /** [[audioReaders]] dispatch with `AudioSystem.getAudioInputStream`
    * semantics: first provider that accepts the bytes wins; each provider
    * gets a fresh stream (AudioSystem's mark/reset contract, made trivial
    * by re-wrapping the array). */
  private def audioStreamOf(bytes: Array[Byte])
      : javax.sound.sampled.AudioInputStream = {
    val it = audioReaders.iterator
    while (it.hasNext) {
      try return it.next()
        .getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
      catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException => ()
      }
    }
    throw new javax.sound.sampled.UnsupportedAudioFileException(
      "no AudioFileReader provider accepted the payload")
  }

  /** `(doc_id, payload)` with the [[NoiseAudio]] WAV bytes per document —
    * the stored-media corpus for the audio gates. Same CPU-bound
    * repartition discipline as the image payload generators. */
  def syntheticAudioPayloads(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions(_.map(id => (id, NoiseAudio.wav(id))))
      .toDF("doc_id", "payload")
  }

  /** One decoded AUDIO clip's format + exact integer sample statistics
    * (sum/sum-of-squares/min/max — mean and RMS derive in the query, so
    * the decode gate itself stays integer-exact and engine-portable). */
  case class AudioMeta(doc_id: Long, n_bytes: Int, sample_rate: Int,
                       n_samples: Int, duration_ms: Long,
                       s_sum: Long, s_sumsq: Long, s_min: Int, s_max: Int)

  /** Parse one WAV payload to its PCM samples via the JDK's real audio
    * stack: the JDK's [[audioReaders WAV provider]] reads the RIFF header
    * and exposes the format — PCM_SIGNED/16-bit/mono is asserted FROM THE
    * DECODED FORMAT (not assumed), then frames decode at the declared
    * endianness. Fails loudly on undecodable bytes. */
  private def readPcm16(id: Long, bytes: Array[Byte]): (Int, Array[Int]) = {
    val ais = audioStreamOf(bytes)
    val fmt = ais.getFormat
    require(fmt.getEncoding ==
        javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
        fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
      s"doc $id: expected 16-bit mono PCM, got $fmt")
    val data = ais.readAllBytes()
    val n = data.length / 2
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      val (lo, hi) =
        if (fmt.isBigEndian) (data(2 * i + 1), data(2 * i))
        else (data(2 * i), data(2 * i + 1))
      out(i) = (((hi & 0xff) << 8) | (lo & 0xff)).toShort.toInt
      i += 1
    }
    (math.round(fmt.getSampleRate), out)
  }

  /** REAL audio decode (`javax.sound.sampled`): format + exact integer
    * sample statistics per payload, at the same batched `mapPartitions`
    * boundary as [[decodeImageMeta]]. */
  def decodeAudioMeta(spark: SparkSession, payloads: DataFrame,
                      batchSize: Int = 64): Dataset[AudioMeta] = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { case (id, bytes) =>
            val (rate, s) = readPcm16(id, bytes)
            var (sum, sumsq) = (0L, 0L)
            var (mn, mx) = (Int.MaxValue, Int.MinValue)
            var i = 0
            while (i < s.length) {
              val v = s(i)
              sum += v
              sumsq += v.toLong * v
              if (v < mn) mn = v
              if (v > mx) mx = v
              i += 1
            }
            AudioMeta(id, bytes.length, rate, s.length,
              s.length * 1000L / rate, sum, sumsq, mn, mx)
          }
        }
      }
  }

  /** Energy dHash over REAL decoded PCM — the spectral-free audio
    * fingerprint pairing with [[decodeImageDHash]]: the clip is cut into
    * [[NoiseAudio.DHashFrames]] frames (frame of sample i = i·65 div n,
    * integer arithmetic a SQL oracle replays exactly), each frame's
    * energy is the exact Σs² (int64), and the 64 bits are the
    * adjacent-energy gradient signs, banded 8×8 for the pigeonhole pair
    * search. Same batched decode boundary; O(1) hash per clip regardless
    * of duration. */
  def decodeAudioDHash(spark: SparkSession, payloads: DataFrame,
                       batchSize: Int = 64): DataFrame = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { case (id, bytes) =>
            val (_, s) = readPcm16(id, bytes)
            val n = s.length
            val e = new Array[Long](NoiseAudio.DHashFrames)
            var i = 0
            while (i < n) {
              e(i * NoiseAudio.DHashFrames / n) += s(i).toLong * s(i)
              i += 1
            }
            val bands = (0 until 8).map { y =>
              (0 until 8).foldLeft(0) { (acc, x) =>
                if (e(8 * y + x + 1) > e(8 * y + x)) acc | (1 << x) else acc
              }
            }
            (id, bands)
          }
        }
      }
      .toDF("doc_id", "bands")
  }

  /** Deterministic multi-frame grayscale clips in a REAL video container
    * the JDK decodes natively: animated GIF (ImageIO's gif plugin reads
    * and writes frame sequences). Clip `id` has `2 + id mod 3` frames of
    * 16×16 pixels, pixel (f, x, y) = low byte of h60("vid:id:f:x:y") —
    * the [[NoiseImages]] closed-form family, so a SQL oracle replays
    * every pixel of every frame without a codec. Grayscale stays exact
    * through GIF's palette (≤256 distinct values — the writer's palette
    * covers them losslessly; the frame spec asserts sample-level parity).
    */
  object NoiseVideo {
    val Size = 16

    def nFrames(id: Long): Int = 2 + (id % 3).toInt

    def px(id: Long, f: Int, x: Int, y: Int): Int =
      (NoiseImages.h60(s"vid:$id:$f:$x:$y") % 256L).toInt

    /** REAL animated-GIF bytes via ImageIO's sequence writer. */
    def gif(id: Long): Array[Byte] = {
      Multimodal.imageIoNoDiskCache()
      val writer = javax.imageio.ImageIO
        .getImageWritersByFormatName("gif").next()
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      (0 until nFrames(id)).foreach { f =>
        val img = new java.awt.image.BufferedImage(Size, Size,
          java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val raster = img.getRaster
        var y = 0
        while (y < Size) {
          var x = 0
          while (x < Size) {
            raster.setSample(x, y, 0, px(id, f, x, y))
            x += 1
          }
          y += 1
        }
        writer.writeToSequence(
          new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence()
      ios.flush(); ios.close(); writer.dispose()
      bos.toByteArray
    }
  }

  /** `(doc_id, payload)` with the [[NoiseVideo]] animated-GIF bytes. */
  def syntheticVideoPayloads(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions(_.map(id => (id, NoiseVideo.gif(id))))
      .toDF("doc_id", "payload")
  }

  /** REAL multi-frame video-container decode: every frame of the animated
    * GIF read back through ImageIO's sequence reader (`getNumImages` +
    * per-index `read`), one output row per frame with exact integer pixel
    * statistics. Palette lookup goes through `getRGB` (indexed GIF frames
    * surface palette INDICES via the raster — the gray value is the
    * post-palette channel). Same batched boundary as the other decoders.
    * Frame-sampling composes upstream ([[sampleFrames]]); real codec
    * video (H.264 etc.) remains [[FakeDecoder]]-stubbed — GIF is the
    * container this JDK can honestly decode end to end.
    */
  def decodeVideoFrames(spark: SparkSession, payloads: DataFrame,
                        batchSize: Int = 64): DataFrame = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        imageIoNoDiskCache()
        it.grouped(batchSize).flatMap { batch =>
          batch.iterator.flatMap { case (id, bytes) =>
            val reader = javax.imageio.ImageIO
              .getImageReadersByFormatName("gif").next()
            val iis = javax.imageio.ImageIO.createImageInputStream(
              new java.io.ByteArrayInputStream(bytes))
            reader.setInput(iis)
            val n = reader.getNumImages(true)
            require(n >= 1, s"doc $id: payload is not a decodable GIF")
            val rows = (0 until n).map { f =>
              val img = reader.read(f)
              val (w, h) = (img.getWidth, img.getHeight)
              var (sum, mn, mx) = (0L, Int.MaxValue, Int.MinValue)
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val v = img.getRGB(x, y) & 0xff // post-palette gray
                  sum += v
                  if (v < mn) mn = v
                  if (v > mx) mx = v
                  x += 1
                }
                y += 1
              }
              (id, f, w, h, sum, mn, mx)
            }
            reader.dispose(); iis.close()
            rows
          }
        }
      }
      .toDF("doc_id", "frame_idx", "width", "height",
        "px_sum", "px_min", "px_max")
  }

  /** Deterministic multi-frame AVI clips (hand-built RIFF container —
    * the WAV work already proved RIFF; this is the VIDEO RIFF profile):
    * 15×12 frames, `2 + id mod 3` per clip, pixel (f, x, y) = low byte
    * of h60("avi:id:f:x:y") — closed-form, so a SQL oracle replays every
    * pixel without a codec. Two payload codecs:
    *   - `"DIB "` — uncompressed 24-bit BGR bottom-up bitmaps in `00db`
    *     chunks (gray via r=g=b). LOSSLESS, so the decode gate
    *     (q_avi_frames) is pixel-exact; the 15-px width forces a real
    *     DIB row stride (45 → padded 48) — a parser that ignores row
    *     padding breaks the hash.
    *   - `"MJPG"` — each frame a REAL ImageIO JPEG in `00dc` chunks
    *     (Motion-JPEG). Lossy, so it is SPEC-gated (bounded per-pixel
    *     error vs the closed form, exact dims/frame counts) rather than
    *     oracle-hashed.
    */
  object NoiseAvi {
    val W = 15
    val H = 12

    def nFrames(id: Long): Int = 2 + (id % 3).toInt

    def px(id: Long, f: Int, x: Int, y: Int): Int =
      (NoiseImages.h60(s"avi:$id:$f:$x:$y") % 256L).toInt

    private def le32(v: Int): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    private def le16(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    private def fcc(s: String): Array[Byte] = {
      require(s.length == 4, s)
      s.getBytes("US-ASCII")
    }
    private def chunk(id4: String, data: Array[Byte]): Array[Byte] =
      fcc(id4) ++ le32(data.length) ++ data ++
        (if (data.length % 2 == 1) Array(0.toByte) else Array.empty[Byte])
    private def list(kind: String, data: Array[Byte]): Array[Byte] =
      fcc("LIST") ++ le32(4 + data.length) ++ fcc(kind) ++ data

    /** One frame as a bottom-up 24-bit BGR DIB with 4-byte row stride. */
    private[ops] def dibStride: Int = (W * 3 + 3) / 4 * 4
    private def dibFrame(id: Long, f: Int): Array[Byte] = {
      val out = new Array[Byte](dibStride * H)
      var row = 0
      while (row < H) {
        val y = H - 1 - row // bottom-up
        var x = 0
        while (x < W) {
          val v = px(id, f, x, y).toByte
          val o = row * dibStride + x * 3
          out(o) = v; out(o + 1) = v; out(o + 2) = v // B = G = R
          x += 1
        }
        row += 1
      }
      out
    }

    // ── MS-RLE8 (BI_RLE8) — a REAL INTER-FRAME codec (VERDICT r15 #5) ──
    // Microsoft RLE8 is a published AVI codec whose non-key frames are
    // DELTA frames: the decoder starts from the PREVIOUS frame's pixels
    // and the bitstream only writes what changed, skipping preserved
    // regions with cursor escapes (EOL 00 00, delta 00 02 dx dy) — true
    // temporal compression, decodable in pure JVM. Synthesis: frame 0 is
    // a keyframe; at frame f>0 a pixel changes iff
    // h60("rled:id:f:x:y") % 8 == 0 (~12.5 % of pixels), and a pixel's
    // value is h60("rlev:id:g:x:y") % 256 for the LAST g ≤ f at which it
    // changed — closed-form, so the DuckDB oracle replays every pixel of
    // every frame through the same last-change logic (q_rle_delta_frames)
    // and any decoder bug in the inter-frame carry breaks the hash.
    // DSP-codec video (H.264/VP9) remains environment-blocked; with this,
    // the decode tier covers intra-frame (DIB), transform (MJPEG via
    // ImageIO) AND inter-frame (RLE8 deltas) codec classes for real.
    private[ops] def rleChanged(id: Long, f: Int, x: Int, y: Int): Boolean =
      f == 0 || NoiseImages.h60(s"rled:$id:$f:$x:$y") % 8L == 0L

    private[ops] def rlePx(id: Long, f: Int, x: Int, y: Int): Int = {
      var g = f
      while (!rleChanged(id, g, x, y)) g -= 1
      (NoiseImages.h60(s"rlev:$id:$g:$x:$y") % 256L).toInt
    }

    /** All frame grids 0..`upTo` via the incremental carry — ONE change
      * hash per (frame, pixel) and one value hash per actual change,
      * instead of [[rlePx]]'s per-call backward scan (which made the
      * sf0.1 synthesis hash-bound: 50 s for the gated query before this,
      * ~1 s after). Grid index: y·W + x. */
    private[ops] def rleGrids(id: Long, upTo: Int): IndexedSeq[Array[Int]] = {
      var prev: Array[Int] = null
      (0 to upTo).map { f =>
        val g = if (f == 0) new Array[Int](W * H) else prev.clone()
        var y = 0
        while (y < H) {
          var x = 0
          while (x < W) {
            if (rleChanged(id, f, x, y))
              g(y * W + x) =
                (NoiseImages.h60(s"rlev:$id:$f:$x:$y") % 256L).toInt
            x += 1
          }
          y += 1
        }
        prev = g
        g
      }
    }

    /** One MS-RLE8 frame bitstream from precomputed grids: keyframe
      * (prev null) writes every row via absolute runs; a delta frame
      * positions the cursor with EOL/delta escapes and writes only
      * changed runs. Rows are bottom-up (row r ↦ image y = H−1−r), like
      * the DIB leg. */
    private[ops] def rleEncode(cur: Array[Int],
                               prev: Array[Int]): Array[Byte] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
      def px(x: Int, y: Int): Int = cur(y * W + x)
      def differs(x: Int, y: Int): Boolean =
        prev == null || cur(y * W + x) != prev(y * W + x)
      var curRow = 0
      var curX = 0
      var r = 0
      while (r < H) {
        val y = H - 1 - r
        var x = 0
        while (x < W) {
          if (differs(x, y)) {
            val x0 = x
            while (x < W && differs(x, y)) x += 1
            val len = x - x0
            while (curRow < r) { // EOL escapes advance rows, reset x
              out += 0; out += 0; curRow += 1; curX = 0
            }
            if (x0 > curX) { // delta escape skips preserved pixels
              out += 0; out += 2; out += (x0 - curX).toByte; out += 0
              curX = x0
            }
            if (len >= 3) { // absolute run (word-aligned)
              out += 0; out += len.toByte
              var i = x0
              while (i < x) { out += px(i, y).toByte; i += 1 }
              if (len % 2 == 1) out += 0
            } else { // counts 0-2 are escapes: short runs go encoded
              var i = x0
              while (i < x) { out += 1; out += px(i, y).toByte; i += 1 }
            }
            curX = x
          } else x += 1
        }
        r += 1
      }
      out += 0; out += 1 // end of bitmap
      out.toArray
    }

    /** Spec convenience: frame `f`'s bitstream alone. */
    private[ops] def rleFrame(id: Long, f: Int): Array[Byte] = {
      val grids = rleGrids(id, f)
      rleEncode(grids(f), if (f == 0) null else grids(f - 1))
    }

    private def jpegFrame(id: Long, f: Int): Array[Byte] = {
      Multimodal.imageIoNoDiskCache()
      val img = new java.awt.image.BufferedImage(W, H,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      var y = 0
      while (y < H) {
        var x = 0
        while (x < W) { raster.setSample(x, y, 0, px(id, f, x, y)); x += 1 }
        y += 1
      }
      SyntheticImages.encode(img, "jpg")
    }

    /** The full RIFF AVI: hdrl (avih + strl(strh + strf BITMAPINFOHEADER))
      * + movi frame chunks + the idx1 index. `codec` is `"DIB "` or
      * `"MJPG"`. */
    def avi(id: Long, codec: String): Array[Byte] = {
      require(codec == "DIB " || codec == "MJPG" || codec == "RLE8", codec)
      val n = nFrames(id)
      lazy val grids = rleGrids(id, n - 1) // incremental, hashed once
      val frames = (0 until n).map(f => codec match {
        case "DIB " => dibFrame(id, f)
        case "MJPG" => jpegFrame(id, f)
        case "RLE8" => rleEncode(grids(f), if (f == 0) null else grids(f - 1))
      })
      val ckId = if (codec == "DIB ") "00db" else "00dc"
      val avih = le32(100000) ++ le32(0) ++ le32(0) ++ le32(0x10) ++
        le32(n) ++ le32(0) ++ le32(1) ++ le32(0) ++
        le32(W) ++ le32(H) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
      val strh = fcc("vids") ++ fcc(codec) ++ le32(0) ++
        le16(0) ++ le16(0) ++ le32(0) ++ le32(1) ++ le32(10) ++
        le32(0) ++ le32(n) ++ le32(0) ++ le32(-1) ++ le32(0) ++
        le16(0) ++ le16(0) ++ le16(W) ++ le16(H)
      val biCompression = codec match {
        case "DIB " => 0
        case "RLE8" => 1 // BI_RLE8
        case _ => java.nio.ByteBuffer.wrap(fcc("MJPG"))
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      }
      // RLE8 frames are 8-bit palettized: identity gray palette
      // (BGR0 quads, B=G=R=index) follows the 40-byte header
      val strf =
        if (codec == "RLE8")
          le32(40) ++ le32(W) ++ le32(H) ++ le16(1) ++ le16(8) ++
            le32(biCompression) ++ le32(0) ++
            le32(0) ++ le32(0) ++ le32(256) ++ le32(0) ++
            (0 until 256).flatMap(i => Seq(i.toByte, i.toByte, i.toByte,
              0.toByte)).toArray
        else
          le32(40) ++ le32(W) ++ le32(H) ++ le16(1) ++ le16(24) ++
            le32(biCompression) ++
            le32(if (codec == "DIB ") dibStride * H else 0) ++
            le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
      val hdrl = list("hdrl", chunk("avih", avih) ++
        list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
      val frameChunks = frames.map(fb => chunk(ckId, fb))
      val movi = list("movi", frameChunks.flatten.toArray)
      // idx1 offsets are relative to the 'movi' fourcc position,
      // pointing at each chunk's own fourcc; sizes are the UNPADDED
      // frame-data lengths
      var off = 4
      val idx = frames.zip(frameChunks).zipWithIndex.flatMap {
        case ((data, fb), fi) =>
          // AVIIF_KEYFRAME (0x10): every DIB/MJPG frame stands alone; an
          // RLE8 delta frame (fi > 0) depends on its predecessor
          val flags = if (codec == "RLE8" && fi > 0) 0 else 0x10
          val e = fcc(ckId) ++ le32(flags) ++ le32(off) ++ le32(data.length)
          off += fb.length
          e
      }.toArray
      val body = fcc("AVI ") ++ hdrl ++ movi ++ chunk("idx1", idx)
      fcc("RIFF") ++ le32(body.length) ++ body
    }
  }

  /** `(doc_id, payload)` with the [[NoiseAvi]] RIFF bytes per document. */
  def syntheticAviPayloads(spark: SparkSession, docs: DataFrame,
                           codec: String = "DIB "): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions(_.map(id => (id, NoiseAvi.avi(id, codec))))
      .toDF("doc_id", "payload")
  }

  /** Hand RIFF/AVI parse of one payload: verifies the RIFF/AVI magic,
    * reads BITMAPINFOHEADER (dims + biCompression) from `strf` and the
    * declared frame total from `avih`, walks the `movi` frame chunks
    * (uncompressed DIB rows decoded bottom-up with the 4-byte stride;
    * MJPG frames decoded as real JPEGs via ImageIO), and cross-checks
    * the frame count against BOTH the header and the idx1 entry count —
    * a framing, stride, or index bug fails loudly. Returns one
    * (frameIdx, w, h, sum, min, max) per frame.
    */
  private[ops] def readAviFrames(id: Long, bytes: Array[Byte])
      : Seq[(Int, Int, Int, Long, Int, Int)] = {
    def fourcc(o: Int): String = new String(bytes, o, 4, "US-ASCII")
    def le32(o: Int): Int =
      (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8) |
        ((bytes(o + 2) & 0xff) << 16) | ((bytes(o + 3) & 0xff) << 24)
    require(fourcc(0) == "RIFF" && fourcc(8) == "AVI ",
      s"doc $id: not a RIFF AVI")
    def le16(o: Int): Int =
      (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
    var declaredFrames = -1
    var w = -1; var h = -1; var compression = Int.MinValue
    var bitCount = -1
    var palette: Array[Int] = null // palettized legs: index → gray
    var rlePrev: Array[Int] = null // BI_RLE8 inter-frame carry buffer
    var idxEntries = -1
    val frames = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Int, Int, Long, Int, Int)]

    def decodeFrame(o: Int, size: Int): Unit = {
      val (fw, fh) = (w, h)
      var (sum, mn, mx) = (0L, Int.MaxValue, Int.MinValue)
      if (compression == 0) { // BI_RGB: bottom-up BGR, stride padded to 4
        val stride = (fw * 3 + 3) / 4 * 4
        require(size == stride * fh,
          s"doc $id: DIB frame size $size != ${stride * fh}")
        var row = 0
        while (row < fh) {
          var x = 0
          while (x < fw) {
            val b = bytes(o + row * stride + x * 3) & 0xff
            sum += b
            if (b < mn) mn = b
            if (b > mx) mx = b
            x += 1
          }
          row += 1
        }
      } else if (compression == 1) { // BI_RLE8: INTER-FRAME delta codec
        require(bitCount == 8 && palette != null,
          s"doc $id: BI_RLE8 requires an 8-bit palettized stream")
        // a non-key frame starts from the PREVIOUS frame's pixels — the
        // temporal dependency that makes this a real inter-frame decode;
        // the bitstream only writes changed runs and skips preserved
        // pixels with EOL/delta cursor escapes
        val buf =
          if (rlePrev != null) rlePrev.clone() else new Array[Int](fw * fh)
        var p = o
        var row = 0; var x = 0
        var done = false
        while (!done) {
          require(p + 2 <= o + size, s"doc $id: RLE8 bitstream overrun")
          val b0 = bytes(p) & 0xff; val b1 = bytes(p + 1) & 0xff
          p += 2
          if (b0 > 0) { // encoded run: b0 copies of index b1
            require(row < fh && x + b0 <= fw,
              s"doc $id: RLE8 run past row bounds")
            var i = 0
            while (i < b0) { buf(row * fw + x) = b1; x += 1; i += 1 }
          } else b1 match {
            case 0 => row += 1; x = 0 // end of line
            case 1 => done = true // end of bitmap
            case 2 => // delta: skip (dx, dy) preserved pixels
              require(p + 2 <= o + size, s"doc $id: RLE8 delta overrun")
              x += bytes(p) & 0xff; row += bytes(p + 1) & 0xff
              p += 2
            case cnt => // absolute run, word-aligned
              require(p + cnt + (cnt % 2) <= o + size &&
                  row < fh && x + cnt <= fw,
                s"doc $id: RLE8 absolute run past bounds")
              var i = 0
              while (i < cnt) {
                buf(row * fw + x) = bytes(p + i) & 0xff; x += 1; i += 1
              }
              p += cnt + (cnt % 2)
          }
        }
        require(p == o + size,
          s"doc $id: RLE8 frame has ${o + size - p} trailing bytes")
        rlePrev = buf
        var i = 0
        while (i < buf.length) {
          val v = palette(buf(i))
          sum += v
          if (v < mn) mn = v
          if (v > mx) mx = v
          i += 1
        }
      } else { // MJPG: a real JPEG per frame
        imageIoNoDiskCache()
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes, o, size))
        require(img != null && img.getWidth == fw && img.getHeight == fh,
          s"doc $id: bad MJPG frame")
        // raw raster channel, NOT getRGB: a grayscale JPEG decodes to
        // TYPE_BYTE_GRAY whose color space is LINEAR gray — getRGB would
        // gamma-convert to sRGB (128 → ~186) and corrupt the stats
        val raster = img.getRaster
        val gray = img.getColorModel.getNumComponents == 1
        var y = 0
        while (y < fh) {
          var x = 0
          while (x < fw) {
            val v = if (gray) raster.getSample(x, y, 0)
              else img.getRGB(x, y) & 0xff
            sum += v
            if (v < mn) mn = v
            if (v > mx) mx = v
            x += 1
          }
          y += 1
        }
      }
      frames += ((frames.size, fw, fh, sum, mn, mx))
    }

    def walk(from: Int, to: Int): Unit = {
      var o = from
      while (o + 8 <= to) {
        val id4 = fourcc(o)
        val size = le32(o + 4)
        // le32 is a raw signed read: a corrupt payload declaring size=-8
        // would advance o by 0 (and other negative odd sizes hit Scala's
        // negative modulo) — the walk must fail as loudly as the RIFF
        // magic check instead of spinning or reading out of bounds
        // (ADVICE r15)
        require(size >= 0 && o + 8 + size <= to,
          s"doc $id: chunk '$id4' at $o declares size $size past [$from,$to)")
        id4 match {
          case "LIST" =>
            walk(o + 12, o + 8 + size) // skip the list-type fourcc
          case "avih" =>
            declaredFrames = le32(o + 8 + 16)
          case "strf" =>
            w = le32(o + 8 + 4); h = le32(o + 8 + 8)
            bitCount = le16(o + 8 + 14)
            compression = le32(o + 8 + 16)
            val clrUsed = le32(o + 8 + 32)
            if (clrUsed > 0) { // BGR0 quads after the 40-byte header
              require(40 + 4 * clrUsed <= size,
                s"doc $id: strf palette overruns the chunk")
              palette = new Array[Int](clrUsed)
              var i = 0
              while (i < clrUsed) {
                val b = bytes(o + 8 + 40 + 4 * i) & 0xff
                val g = bytes(o + 8 + 41 + 4 * i) & 0xff
                val r = bytes(o + 8 + 42 + 4 * i) & 0xff
                require(b == g && g == r,
                  s"doc $id: non-gray palette entry $i unsupported by " +
                    "the pixel-stats reader")
                palette(i) = b
                i += 1
              }
            }
          case "00db" | "00dc" =>
            decodeFrame(o + 8, size)
          case "idx1" =>
            idxEntries = size / 16
          case _ => () // strh etc.: header fields this reader doesn't need
        }
        o += 8 + size + (size % 2) // chunks are word-aligned
      }
    }
    walk(12, bytes.length)
    require(frames.size == declaredFrames && frames.size == idxEntries,
      s"doc $id: movi=${frames.size} avih=$declaredFrames idx1=$idxEntries")
    frames.toSeq
  }

  /** REAL AVI container decode at the batched [[decodeVideoFrames]]
    * boundary: one row per (doc, frame) with exact integer pixel stats. */
  def decodeAviFrames(spark: SparkSession, payloads: DataFrame,
                      batchSize: Int = 64): DataFrame = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          batch.iterator.flatMap { case (id, bytes) =>
            readAviFrames(id, bytes).map { case (f, w, h, sum, mn, mx) =>
              (id, f, w, h, sum, mn, mx)
            }
          }
        }
      }
      .toDF("doc_id", "frame_idx", "width", "height",
        "px_sum", "px_min", "px_max")
  }

  /** STUB — deterministic fake decoder standing in for the DSP-CODEC
    * video formats (H.264/VP9/AV1 etc.), and ONLY those. This boundary is
    * PERMANENT for this environment (SURVEY §8, closed r16): those codecs
    * need native/licensed DSP stacks no pure-JVM zero-dependency build
    * can honestly provide. Every codec CLASS short of them is decoded for
    * real: intra-frame raster ([[decodeAviFrames]] DIB), transform-coded
    * ([[decodeAviFrames]] Motion-JPEG via ImageIO, [[decodeImageMeta]]
    * PNG/BMP/GIF), palette-animation ([[decodeVideoFrames]] animated
    * GIF), INTER-FRAME temporal deltas ([[rleFrame]]/BI_RLE8 — r16), and
    * audio PCM ([[decodeAudioMeta]]).
    * Consumes raw payload bytes, emits a fixed-width "feature" derived
    * only from the bytes, so tests and reruns are reproducible.
    */
  object FakeDecoder {
    val FeatureDim = 8

    def decode(payload: Array[Byte]): (String, Long, Array[Float]) = {
      val header = payload.take(4).map(b => f"${b & 0xff}%02x").mkString
      var checksum = 0L
      val feature = new Array[Float](FeatureDim)
      var i = 0
      while (i < payload.length) {
        checksum = (checksum * 31 + (payload(i) & 0xff)) & 0xFFFFFFFFL
        feature(i % FeatureDim) += (payload(i) & 0xff) / 255.0f
        i += 1
      }
      (header, checksum, feature)
    }
  }

  /** Attach a binary payload column (here: the UTF-8 bytes of `textCol`,
    * standing in for stored media) plus byte-level metadata.
    */
  def withPayload(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), encode(col(textCol), "UTF-8").as("payload"))

  /** Deterministic frame-sampling PLAN over binary payloads — the video
    * analogue of the decode stage's batching: the payload is modeled as
    * consecutive `frameSize`-byte frames, every `stride`-th frame is
    * selected up to `maxFrames` per item, and each selected window is cut
    * out with substring so a downstream batched decoder receives only the
    * sampled bytes, never the whole payload (the I/O point of frame
    * sampling). Pure column arithmetic + a generate — narrow, no shuffle,
    * no decode dependency, so the sampling plan itself is oracle-checkable
    * (q_frames) even though real frame decode is stubbed in this
    * environment. frame_md5 proves the offsets select the real bytes.
    */
  def sampleFrames(payloads: DataFrame, frameSize: Int, stride: Int,
                   maxFrames: Int): DataFrame = {
    require(frameSize >= 1, s"frameSize: $frameSize")
    require(stride >= 1, s"stride: $stride")
    require(maxFrames >= 1, s"maxFrames: $maxFrames")
    val len = length(col("payload"))
    val total = ceil(len.cast("double") / frameSize).cast("int")
    val nSel = least(ceil(total.cast("double") / stride).cast("int"),
      lit(maxFrames))
    payloads
      .where(len > 0)
      .select(col("doc_id"), col("payload"),
        explode(sequence(lit(0), nSel - 1)).as("s"))
      .select(col("doc_id"), col("payload"),
        (col("s") * stride).cast("int").as("frame_idx"),
        (col("s") * stride * frameSize).cast("int").as("byte_offset"))
      .select(col("doc_id"), col("frame_idx"), col("byte_offset"),
        least(lit(frameSize), length(col("payload")) - col("byte_offset"))
          .cast("int").as("n_bytes"),
        md5(col("payload").substr(col("byte_offset") + 1, lit(frameSize)))
          .as("frame_md5"))
  }

  /** Deterministic byte-stride downsample — the "resize" stand-in of the
    * multimodal quartet (decode / feature-extract / resize / frame-sample):
    * every `stride`-th byte of the payload, in order, as a new binary —
    * the 1-D shape of an image stride-subsample or audio decimation. A
    * real resample belongs in the decoder stage (codecs aren't in this
    * environment); what Spark owns — and what this expresses — is the
    * SELECTION plan and its verifiable output, as a narrow fold over the
    * payload (no UDF, no shuffle). Output length = ⌈len/stride⌉.
    */
  def stridedDownsample(payload: org.apache.spark.sql.Column,
                        stride: Int): org.apache.spark.sql.Column = {
    require(stride >= 1, s"stride: $stride")
    val len = length(payload)
    val nOut = ceil(len.cast("double") / stride).cast("int")
    aggregate(
      sequence(lit(0), nOut - 1),
      lit(Array.emptyByteArray),
      (acc, i) => concat(acc, payload.substr(i * stride + 1, lit(1))))
  }

  /** Batched decode over partitions: the production plumbing. Batch size
    * bounds peak memory per task and gives a real decoder its
    * amortization unit; partition-local, so the stage is narrow and scales
    * with input splits.
    */
  def decodeFeatures(spark: SparkSession, payloads: DataFrame,
                     batchSize: Int = 64): Dataset[MediaFeatures] = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          // a real decoder would process `batch` in one vectorized call
          batch.iterator.map { case (id, bytes) =>
            val (header, checksum, feature) = FakeDecoder.decode(bytes)
            MediaFeatures(id, bytes.length, header, checksum, feature)
          }
        }
      }
  }
}
