package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SaltingMultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("salted equi-join returns exactly the unsalted result under heavy skew") {
    // 10k rows of one hot key + a tail; dim with duplicate key rows
    val fact = ((1 to 10000).map(i => (1L, i)) ++ (1 to 100).map(i => (i.toLong + 1, i)))
      .toDF("k", "payload")
    val dim = Seq((1L, "hot"), (2L, "a"), (2L, "a2"), (3L, "b"), (999L, "unmatched"))
      .toDF("k", "label")
    val expected = fact.join(dim, Seq("k"), "inner")
      .groupBy("k", "label").agg(count(lit(1)).as("n"), sum("payload").as("s"))
      .collect().toSet
    val salted = Salting.saltedEquiJoin(fact, dim, Seq("k"), saltFactor = 8)
      .groupBy("k", "label").agg(count(lit(1)).as("n"), sum("payload").as("s"))
      .collect().toSet
    assert(salted == expected)
    // left join keeps unmatched fact keys exactly once per fact row
    val leftN = Salting.saltedEquiJoin(fact, dim, Seq("k"), 8, "left").count()
    val expLeftN = fact.join(dim, Seq("k"), "left").count()
    assert(leftN == expLeftN)
    // right/full outer would duplicate unmatched dim rows saltFactor
    // times — rejected up front
    intercept[IllegalArgumentException] {
      Salting.saltedEquiJoin(fact, dim, Seq("k"), 8, "full_outer")
    }
    intercept[IllegalArgumentException] {
      Salting.saltedEquiJoin(fact, dim, Seq("k"), 8, "right")
    }
  }

  test("salt is content-derived: replay under a different partition layout salts identically") {
    val fact = ((1 to 2000).map(i => (1L, i)) ++ (1 to 50).map(i => (i.toLong + 1, i)))
      .toDF("k", "payload")
    def salts(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("__salt", Salting.contentSalt(df, Seq("k"), 8))
        .select("k", "payload", "__salt")
        .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    // same content, different physical layout — a replay-after-repartition
    val a = salts(fact.repartition(3))
    val b = salts(fact.repartition(11))
    assert(a == b, "salt must depend only on row content, not partition layout")
    // the hot key's rows actually spread across buckets (salting works)
    assert(a.collect { case ((1L, _), s) => s }.toSet.size > 1,
      "hot-key rows all landed in one salt bucket")
    // Spark's accepted short aliases are salting-safe and accepted
    val dim = Seq((1L, "hot")).toDF("k", "label")
    assert(Salting.saltedEquiJoin(fact, dim, Seq("k"), 4, "semi").count() == 2000L)
    assert(Salting.saltedEquiJoin(fact, dim, Seq("k"), 4, "anti").count() == 50L)
  }

  test("keys-only frame: salt falls back to MIID and still spreads the hot key") {
    // a projected fact with NOTHING but the join key — content hashing
    // would put every hot-key row in one bucket; the fallback must not
    val fact = (1 to 4000).map(_ => Tuple1(1L)).toDF("k")
    val spread = fact.withColumn("__salt", Salting.contentSalt(fact, Seq("k"), 8))
      .select("__salt").as[Int].collect().toSet
    assert(spread.size > 1, "keys-only hot key must still spread across buckets")
    val dim = Seq((1L, "x")).toDF("k", "label")
    assert(Salting.saltedEquiJoin(fact, dim, Seq("k"), 8, "semi").count() == 4000L)
    assert(Salting.saltedEquiJoin(fact, dim, Seq("k"), 8, "inner").count() == 4000L)

    // duplicate-heavy non-key payload: content hashing cannot tell the
    // rows apart, so spread=true forces the MIID salt
    val dup = (1 to 4000).map(_ => (1L, 1L)).toDF("k", "v")
    val dupSpread = dup
      .withColumn("__salt", Salting.contentSalt(dup, Seq("k"), 8, spread = true))
      .select("__salt").as[Int].collect().toSet
    assert(dupSpread.size > 1, "spread=true must split identical hot rows")
  }

  private implicit class M(rows: Array[(String, Long, Long)]) {
    def toMap_kv: Map[String, (Long, Long)] =
      rows.map { case (k, a, b) => k -> ((a, b)) }.toMap
  }

  // --- real javax.sound audio codec ---------------------------------------

  /** Encode 16-bit PCM samples into a real audio container via
    * javax.sound.sampled (WAVE = little-endian, AIFF = big-endian —
    * AudioSystem.write handles the byte order per container).
    */
  private def audioBytes(samples: Array[Short], rate: Float, channels: Int,
      kind: javax.sound.sampled.AudioFileFormat.Type): Array[Byte] = {
    import javax.sound.sampled._
    val bigEndian = kind == AudioFileFormat.Type.AIFF
    val fmt = new AudioFormat(rate, 16, channels, true, bigEndian)
    val data = new Array[Byte](samples.length * 2)
    samples.indices.foreach { i =>
      val lo = (samples(i) & 0xff).toByte
      val hi = ((samples(i) >> 8) & 0xff).toByte
      if (bigEndian) { data(2 * i) = hi; data(2 * i + 1) = lo }
      else { data(2 * i) = lo; data(2 * i + 1) = hi }
    }
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, samples.length / channels)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, kind, bos)
    bos.toByteArray
  }

  test("JavaSoundDecoder reads real WAV/AIFF PCM; non-audio falls back to the stub") {
    import javax.sound.sampled.AudioFileFormat.Type
    implicit val s = spark
    // 1600 mono frames at 16 kHz = 100 ms; peak sample 16384 = 0.5
    val mono = Array.tabulate[Short](1600)(i =>
      (math.sin(i * 0.1) * 12000).toShort)
    mono(800) = 16384
    val wav = audioBytes(mono, 16000f, 1, Type.WAVE)
    // 500 stereo frames at 44.1 kHz, big-endian AIFF, peak 8192 = 0.25
    val stereo = Array.tabulate[Short](1000)(i => (i % 100 * 80).toShort)
    stereo(41) = 8192
    val aiff = audioBytes(stereo, 44100f, 2, Type.AIFF)
    val junk = "definitely-not-audio".getBytes("UTF-8")

    val rows = Seq(Multimodal.MediaRow(1L, wav), Multimodal.MediaRow(2L, aiff),
      Multimodal.MediaRow(3L, junk)).toDS().repartition(2)
    val metas = Multimodal.decodeAudioBatch(rows, Multimodal.JavaSoundDecoder)
      .collect().sortBy(_.doc_id)

    val w = metas(0)
    assert(w.sample_rate == 16000L && w.channels == 1L && w.n_samples == 1600L,
      s"WAV header facts not decoded: $w")
    assert(w.duration_ms == 100L)
    assert(w.codec == "PCM_SIGNED")
    assert(math.abs(w.peak - 16384.0 / 32768.0) < 1e-9,
      s"peak must come from decoded samples, got ${w.peak}")

    val a = metas(1)
    assert(a.sample_rate == 44100L && a.channels == 2L && a.n_samples == 500L,
      s"AIFF (big-endian) facts not decoded: $a")
    assert(math.abs(a.peak - 8192.0 / 32768.0) < 1e-9,
      "big-endian samples must be byte-swapped before the peak scan")

    assert(metas(2) == Multimodal.StubAudioDecoder.decode(3L, junk),
      "non-audio payload must degrade to the deterministic stub")
  }

  test("audio header lying about frame length: decoded-sample count wins") {
    // a WAV whose data chunk claims 10x the real sample count — the
    // decoder counts frames at read time, so n_samples reflects the
    // bytes actually present, not the header's claim
    import javax.sound.sampled.AudioFileFormat.Type
    val real = audioBytes(Array.tabulate[Short](100)(_.toShort), 8000f, 1, Type.WAVE)
    // find the 'data' chunk size field and inflate it
    val idx = real.indexOfSlice("data".getBytes("US-ASCII"))
    assert(idx > 0)
    val lying = real.clone()
    val fake = 2000 // claims 1000 frames; only 100 exist
    lying(idx + 4) = (fake & 0xff).toByte
    lying(idx + 5) = ((fake >> 8) & 0xff).toByte
    val m = Multimodal.JavaSoundDecoder.decode(5L, lying)
    assert(m.n_samples == 100L,
      s"frame count must be counted from decoded bytes, got ${m.n_samples}")
  }

  test("scraper_status watermark mirror: upsert advances date (K6)") {
    import java.sql.{DriverManager, Timestamp}
    import graft.sinks.{DerbyDialect, JdbcMergeWriter, MergeSpecs}
    val url = "jdbc:derby:memory:wmdb;create=true"
    val c = DriverManager.getConnection(url)
    try c.createStatement().execute("""CREATE TABLE scraper_status (
      id INT PRIMARY KEY, last_processed_date TIMESTAMP,
      updated_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP)""")
    finally c.close()
    val cf = JdbcMergeWriter.connFactory(url)
    def write(d: String) = JdbcMergeWriter.upsert(
      Seq((1, Timestamp.valueOf(d))).toDF("id", "last_processed_date"),
      MergeSpecs.scraperStatus, DerbyDialect, cf)
    write("2024-03-01 00:00:00")
    write("2024-03-02 00:00:00") // advance same row
    val c2 = DriverManager.getConnection(url)
    try {
      val rs = c2.createStatement().executeQuery(
        "SELECT count(*), max(last_processed_date) FROM scraper_status")
      rs.next()
      assert(rs.getInt(1) == 1, "single watermark row upserted, not appended")
      assert(rs.getTimestamp(2) == Timestamp.valueOf("2024-03-02 00:00:00"))
    } finally c2.close()
  }
}
