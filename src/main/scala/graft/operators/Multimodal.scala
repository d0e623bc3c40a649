package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling: media payloads travel as opaque
  * `binary` columns with typed metadata alongside (driver mandate,
  * SURVEY.md §7 step 6).
  *
  * Audio decodes through a per-partition codec boundary:
  * [[JavaSoundDecoder]] is a REAL decode over the JDK's
  * `javax.sound.sampled`, and [[StubAudioDecoder]] the deterministic
  * fake it degrades to on payloads no installed reader handles, so a
  * mixed 100-TB corpus keeps flowing instead of dying on the first bad
  * row. Around the codec the plumbing is real: the schema contract, the
  * per-partition batch loop (one decoder instance per partition, the
  * shape a JNI/FFmpeg binding needs), and a pure-column variant
  * ([[withFakeMediaMeta]]) for metadata that needs no codec. Image
  * near-dups pair on a perceptual hash column ([[phashPairs]]).
  */
object Multimodal {

  /** Media row: payload + metadata columns. */
  final case class MediaRow(doc_id: Long, payload: Array[Byte])

  // ---- audio --------------------------------------------------------------

  /** Decoded audio metadata contract. `n_samples` is per-channel frames
    * COUNTED from the decoded stream (never trusted from the header);
    * `peak` is max |amplitude| normalized to [0, 1]; `codec` names the
    * source encoding (`PCM_SIGNED`, `ULAW`, …) or `"stub"` when the
    * payload fell back to the deterministic fake.
    */
  final case class AudioMeta(doc_id: Long, n_bytes: Long, sample_rate: Long,
      channels: Long, n_samples: Long, duration_ms: Long, peak: Double,
      codec: String, content_md5: String)

  /** Pluggable audio codec boundary: a real implementation wraps an
    * audio library and is instantiated once per partition (expensive
    * native init amortized over the batch); rows stream through it.
    */
  trait AudioDecoder extends Serializable {
    def decode(id: Long, payload: Array[Byte]): AudioMeta
  }

  /** STUB: deterministic fake audio decode, md5-derived so it is
    * oracle-expressible: sample rate from a
    * fixed 4-rate palette, 1–2 channels, one "sample" per payload
    * byte. Doubles here divide integers < 2⁵³, exact on both engines.
    */
  object StubAudioDecoder extends AudioDecoder {
    override def decode(id: Long, payload: Array[Byte]): AudioMeta = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(payload).map("%02x".format(_)).mkString
      val h = java.lang.Long.parseLong(hex.substring(0, 15), 16)
      val sr = Array(8000L, 16000L, 22050L, 44100L)((h % 4).toInt)
      val nSamples = payload.length.toLong
      AudioMeta(id, payload.length.toLong, sr, h % 2 + 1, nSamples,
        nSamples * 1000L / sr, (h % 1000).toDouble / 1000.0, "stub", hex)
    }
  }

  /** REAL audio decode via the JDK's `javax.sound.sampled` — WAV/AIFF/AU
    * containers with PCM (and the JDK-built-in ULAW/ALAW) payloads,
    * zero external dependencies. Everything is normalized through a
    * 16-bit signed little-endian conversion stream, so peak and frame
    * count come from DECODED samples: a header lying about its frame
    * length changes nothing (frames are counted at read time), and the
    * byte budget is bounded by the in-memory payload (PCM conversion
    * is ≤2× the compressed ULAW/ALAW size). Non-audio or unsupported
    * payloads fall back to [[StubAudioDecoder]] per row (degrade, don't
    * die). Formats the JDK
    * can't read (MP3/OGG/FLAC) take the stub path; the conversion call
    * below is the plug point for an FFmpeg/JNI binding.
    */
  object JavaSoundDecoder extends AudioDecoder {
    /** Container magics the JDK's audio readers accept: RIFF (WAV),
      * FORM (AIFF), .snd (AU). Checked BEFORE AudioSystem so the
      * common non-audio row costs a 4-byte compare, not a thrown
      * UnsupportedAudioFileException — on an all-fallback corpus the
      * exception path measured 1.21 s vs 0.71 s with the sniff
      * (sf0.1, 50k docs), and the gap is per-row so it scales with
      * the corpus.
      */
    private def looksLikeAudio(p: Array[Byte]): Boolean =
      p.length >= 12 && {
        val m = ((p(0) & 0xff) << 24) | ((p(1) & 0xff) << 16) |
          ((p(2) & 0xff) << 8) | (p(3) & 0xff)
        m == 0x52494646 || m == 0x464f524d || m == 0x2e736e64
      }

    override def decode(id: Long, payload: Array[Byte]): AudioMeta = {
      import javax.sound.sampled.{AudioFormat, AudioSystem}
      if (!looksLikeAudio(payload)) return StubAudioDecoder.decode(id, payload)
      try {
        val src = AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        try {
          val f = src.getFormat
          val target = new AudioFormat(
            f.getSampleRate, 16, f.getChannels, true, false)
          val pcm = if (f.matches(target)) src
            else AudioSystem.getAudioInputStream(target, src)
          val channels = f.getChannels
          val buf = new Array[Byte](1 << 16)
          var peakAbs = 0
          var totalBytes = 0L
          var n = pcm.read(buf)
          while (n > 0) {
            var i = 0
            while (i + 1 < n) { // 16-bit LE pairs
              val s = ((buf(i + 1) << 8) | (buf(i) & 0xff)).toShort.toInt
              val a = math.abs(s)
              if (a > peakAbs) peakAbs = a
              i += 2
            }
            totalBytes += n
            n = pcm.read(buf)
          }
          val frames = totalBytes / (2L * channels)
          val sr = math.round(f.getSampleRate.toDouble)
          val md = java.security.MessageDigest.getInstance("MD5")
          val hex = md.digest(payload).map("%02x".format(_)).mkString
          AudioMeta(id, payload.length.toLong, sr, channels.toLong, frames,
            if (sr == 0) 0L else frames * 1000L / sr,
            math.min(1.0, peakAbs.toDouble / 32768.0),
            f.getEncoding.toString, hex)
        } finally src.close()
      } catch {
        // UnsupportedAudioFileException (not audio), IAE (no converter
        // for the encoding), EOF/corrupt-header IOExceptions
        case scala.util.control.NonFatal(_) => StubAudioDecoder.decode(id, payload)
      }
    }
  }

  /** Distributed audio decode through the codec boundary:
    * mapPartitions, so the decoder is constructed once per partition
    * and rows stream through it — no collect, no driver loop.
    */
  def decodeAudioBatch(rows: Dataset[MediaRow], decoder: AudioDecoder)(
      implicit spark: SparkSession): Dataset[AudioMeta] = {
    import spark.implicits._
    rows.mapPartitions { it => it.map(r => decoder.decode(r.doc_id, r.payload)) }
  }

  /** Attach a binary payload column (here: utf8 bytes of a text column
    * standing in for real media bytes).
    */
  def withBinaryPayload(df: DataFrame, srcCol: String, binCol: String): DataFrame =
    df.withColumn(binCol, col(srcCol).cast("binary"))

  // ---- perceptual hashing (image near-dup) --------------------------------

  /** Image near-dup pairs by Hamming distance on the perceptual hash,
    * WITHOUT an all-pairs comparison: split the hash into
    * `maxHamming + 1` bands — by pigeonhole, two hashes within
    * `maxHamming` bits share at least one intact band — candidate on
    * band equality (hash equi-join), then filter by the exact
    * `bit_count(xor)`. Exact-recall blocking, same argument as
    * MinHash banding but deterministic. Cost: (maxHamming+1) index
    * rows per image + Σ bucket² over band values — hash buckets, not
    * a cross product.
    */
  def phashPairs(hashes: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int = 3, bits: Int = 60): DataFrame = {
    require(maxHamming >= 0 && bits >= 1 && bits <= 62,
      s"maxHamming=$maxHamming bits=$bits")
    val nBands = maxHamming + 1
    val bandWidth = (bits + nBands - 1) / nBands
    val mask = (1L << bandWidth) - 1
    val banded = hashes.select(col(idCol).as("__id"), col(hashCol).as("__h"))
      .withColumn("__b", explode(lit((0 until nBands).toArray)))
      .withColumn("__band",
        concat_ws(":", col("__b"),
          expr(s"shiftright(__h, __b * $bandWidth) & $mask")))
    banded.as("a").join(banded.as("b"),
        col("a.__band") === col("b.__band") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("i"), col("b.__id").as("j"),
        bit_count(col("a.__h").bitwiseXOR(col("b.__h"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Pure-column metadata (no codec needed): byte count, content hash,
    * fake dimensions via the portable md5 hash — oracle-checkable.
    * Integer division must be `div` (exact on int64) — a double `/`
    * would silently lose precision above 2^53.
    */
  def withFakeMediaMeta(df: DataFrame, binCol: String): DataFrame =
    df.withColumn("__h", graft.expressions.Md5Prefix60(col(binCol)))
      .withColumn("n_bytes", octet_length(col(binCol)).cast("long"))
      .withColumn("content_md5", md5(col(binCol)))
      .withColumn("width", col("__h") % 640 + 16)
      .withColumn("height", expr("(__h div 640) % 480 + 16"))
      .withColumn("n_frames", col("n_bytes") % 30 + 1)
      .withColumn("magic", upper(hex(substring(col(binCol), 1, 4))))
      .drop("__h")
}
