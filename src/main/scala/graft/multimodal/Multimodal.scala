package graft.multimodal

import graft.Tables
import graft.queries.QueryScope.HoldOps
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: images/audio/video ride through the engine
  * as opaque `binary` columns plus typed metadata, and per-batch decode /
  * feature-extraction runs inside `mapPartitions` over a typed Dataset —
  * the JVM analog of `mapInPandas` (partition = batch; the decoder is
  * instantiated once per partition, not per row).
  *
  * Images and animated GIFs decode for REAL via the JDK's `javax.imageio`
  * ([[ImageIoDecoder]]); only codecs the JDK lacks (video containers,
  * audio) fall back to the deterministic [[FakeDecoder]] stub. The
  * Spark-side contract — schema, encoder, batch shape, partitioning — is
  * what matters at 100 TB: binary payloads never shuffle (feature
  * extraction is map-only), and downstream joins/agg use only the small
  * extracted-feature columns.
  */
object Multimodal {

  /** javax.imageio defaults to DISK-backed stream caches: every
    * `ImageIO.read`/`write`/`createImage{Input,Output}Stream` call on a
    * plain Input/OutputStream creates (and deletes) a temp file in the
    * JVM temp dir. At 32 concurrent tasks × millions of rows that
    * filesystem churn made the decode kernel super-linear (measured
    * sf1→sf10 exponents 1.17–1.42 in SCALEBENCH_r10). Our payloads are
    * in-memory byte arrays — heap caches are strictly better. Idempotent
    * and called at the top of every decode/encode closure, so each
    * executor JVM flips the flag before its first codec use.
    */
  private[graft] def imageIoNoDiskCache(): Unit =
    if (javax.imageio.ImageIO.getUseCache) javax.imageio.ImageIO.setUseCache(false)

  /** Decode an in-memory payload without touching the filesystem. */
  private[graft] def readImage(bytes: Array[Byte]): java.awt.image.BufferedImage = {
    imageIoNoDiskCache()
    javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
  }

  /** The id frame every codec kernel derives its payloads from, spread
    * evenly across cores BEFORE the synthesis/decode map. The kernels are
    * CPU-bound, and without the spread their parallelism is scan-split
    * arithmetic — a compactly-written rehearsal table (one ~76 MB file at
    * 100× bench scale) handed every decode to ONE task, measured as a 25×
    * media slowdown (r12, SCALE.md). Only the 8-byte ids cross the
    * round-robin exchange; payloads are generated after it and never
    * shuffle (the m1 discipline). A real binary lake gets the same spread
    * from its file layout — and when a compacted table doesn't,
    * repartitioning the slim key frame ahead of the decode join is
    * exactly the production fix.
    */
  private[graft] def codecIds(docs: DataFrame): Dataset[Long] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"))
      .repartition(spark.sparkContext.defaultParallelism * 4)
      .as[Long]
  }

  /** A media blob with typed metadata, as stored in a lakehouse table. */
  case class MediaRow(doc_id: Long, media_type: String, content: Array[Byte])

  /** Extracted features — small, shuffle-friendly. */
  case class MediaFeatures(doc_id: Long, media_type: String, n_bytes: Int,
      sig: String, width: Int, height: Int, n_frames: Int)

  /** Decoder contract. A real deployment plugs in javax.imageio / ffmpeg
    * bindings; partitions see it through one instance per task.
    */
  trait MediaDecoder extends Serializable {
    def decode(mediaType: String, bytes: Array[Byte]): MediaFeatures.Dims
  }
  object MediaFeatures {
    case class Dims(width: Int, height: Int, nFrames: Int)
  }

  /** Deterministic stand-in for COMPRESSED video codecs (mp4/webm —
    * the one remaining stub; they need external codec libraries by
    * nature): dimensions derived from the md5 of the payload, frame
    * count from byte length. Images AND animated GIFs decode for real
    * ([[ImageIoDecoder]]); PCM WAV audio decodes for real
    * ([[WavDecoder]], m4); AVI video containers parse for real
    * ([[AviParser]], m5).
    */
  object FakeDecoder extends MediaDecoder {
    def decode(mediaType: String, bytes: Array[Byte]): MediaFeatures.Dims = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(bytes)
      def u(i: Int): Int = d(i) & 0xff
      MediaFeatures.Dims(
        width = (u(0) << 8 | u(1)) % 1024,
        height = (u(2) << 8 | u(3)) % 1024,
        nFrames = bytes.length % 7)
    }
  }

  /** Real decode via the JDK's `javax.imageio` (PNG/BMP/GIF/JPEG readers
    * ship in the JRE — no external codec needed): width/height come from
    * actually parsing the payload bytes, and the frame count from
    * `ImageReader.getNumImages(true)` — a still image is one frame, an
    * animated GIF reports its true frame count (the JDK GIF reader walks
    * the image-descriptor blocks). Compressed video codecs fall back to
    * [[FakeDecoder]], the one remaining (documented) stub; audio
    * decodes for real via [[WavDecoder]] and AVI containers parse for
    * real via [[AviParser]].
    */
  object ImageIoDecoder extends MediaDecoder {
    def decode(mediaType: String, bytes: Array[Byte]): MediaFeatures.Dims =
      if (mediaType.startsWith("image/") || mediaType == "video/gif") {
        imageIoNoDiskCache()
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          require(readers.hasNext,
            s"undecodable $mediaType payload (${bytes.length} bytes)")
          val reader = readers.next()
          try {
            reader.setInput(iis)
            MediaFeatures.Dims(reader.getWidth(0), reader.getHeight(0),
              nFrames = reader.getNumImages(true))
          } finally reader.dispose()
        } finally iis.close()
      } else FakeDecoder.decode(mediaType, bytes)
  }

  /** Deterministic image payload generator: a real encoded PNG/BMP whose
    * pixels are a pure function of (seed, x, y). Used by [[m1MediaFeatures]]
    * to derive a binary media column from the documents table so the
    * decode path runs on genuine image bytes.
    */
  object MediaGen {
    private def frame(width: Int, height: Int, seed: Long): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(
        width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          img.setRGB(x, y, ((seed * 31 + y.toLong * width + x) & 0xffffff).toInt)
          x += 1
        }
        y += 1
      }
      img
    }

    def imageBytes(format: String, width: Int, height: Int, seed: Long): Array[Byte] = {
      imageIoNoDiskCache()
      val bos = new java.io.ByteArrayOutputStream()
      // write() returns false when no writer exists for the format —
      // fail HERE, not later as a confusing "undecodable" on the read side
      require(javax.imageio.ImageIO.write(frame(width, height, seed), format, bos),
        s"no imageio writer for format '$format'")
      bos.toByteArray
    }

    /** A real multi-frame animated GIF (the JDK GIF writer supports
      * sequence writing): frame f's pixels are a pure function of
      * (seed, f, x, y), so every frame is a distinct image and the only
      * way to recover `nFrames` from the payload is to genuinely parse
      * the GIF block structure.
      */
    def gifBytes(width: Int, height: Int, nFrames: Int, seed: Long): Array[Byte] = {
      require(nFrames >= 1, s"nFrames must be >= 1, got $nFrames")
      imageIoNoDiskCache()
      val writers = javax.imageio.ImageIO.getImageWritersByFormatName("gif")
      require(writers.hasNext, "no imageio writer for format 'gif'")
      val writer = writers.next()
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      try {
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        var f = 0
        while (f < nFrames) {
          writer.writeToSequence(new javax.imageio.IIOImage(
            frame(width, height, seed + 7919L * f), null, null), null)
          f += 1
        }
        writer.endWriteSequence()
      } finally {
        writer.dispose()
        ios.close()
      }
      bos.toByteArray
    }
  }

  /** Deterministic audio payload generator: a REAL RIFF/WAVE PCM mono
    * 16-bit file whose samples are a pure function of (seed, i) —
    * s(i) = (((seed mod 65536)·2654435761 + i·40503) mod 65536) − 32768, all
    * exact Long arithmetic so the oracle can reproduce the sample
    * stream (and thus the energy sum) in SQL while the Spark side must
    * genuinely parse the WAV container and PCM frames.
    */
  object AudioGen {
    def wavBytes(sampleRate: Int, nSamples: Int, seed: Long): Array[Byte] = {
      val dataLen = nSamples * 2
      val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1) // PCM
        .putShort(1) // mono
        .putInt(sampleRate)
        .putInt(sampleRate * 2) // byte rate
        .putShort(2)            // block align
        .putShort(16)           // bits/sample
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      var i = 0
      while (i < nSamples) {
        buf.putShort(sample(seed, i))
        i += 1
      }
      buf.array()
    }

    // seed pre-reduced mod 65536: mathematically a no-op (65536 divides
    // 2^64 so reduction commutes with the multiply), but it keeps the
    // product inside 63 bits for ANY doc_id — the unreduced form wraps
    // silently on the JVM above doc_id ~3.4e9 while DuckDB BIGINT
    // multiply ABORTS, so the gate would error instead of compare.
    def sample(seed: Long, i: Int): Short =
      ((((seed % 65536L) * 2654435761L + i.toLong * 40503L) % 65536L)
        - 32768L).toShort
  }

  /** Decoded audio facts: sample rate and count from the parsed
    * container, the energy sum as an EXACT integer (sum of squared
    * 16-bit samples — associative, partitioning-independent).
    */
  case class AudioFeatures(doc_id: Long, sample_rate: Int,
      n_samples: Long, sum_sq: Long)

  /** Real WAV decode via the JDK's `javax.sound.sampled` (the PCM WAV
    * reader ships in the JRE, like the PNG/BMP/GIF image readers):
    * sample rate comes from the parsed `fmt ` chunk, samples from the
    * decoded PCM stream. With this, audio leaves the [[FakeDecoder]]
    * boundary — only real video containers (mp4/webm) remain behind
    * the documented stub.
    */
  /** The JDK's WAV `AudioFileReader` SPI, bound ONCE per JVM (guide
    * §4.5 — heavyweight lookup out of the per-row path): the
    * `AudioSystem.getAudioInputStream` facade enters a GLOBAL
    * `synchronized` provider lookup (`JDK13Services.getProviders`) and
    * a provider trial loop on EVERY call, which serializes concurrent
    * decode tasks — measured r18 at the 10× rehearsal: the audio
    * family (m4/m9/m14) ran 4–5× slower than the byte-heavier video
    * twin (m15) whose RIFF walk has no facade. Binding the provider
    * once keeps the per-row call = the provider's own header parse —
    * the identical `AudioInputStream` the facade returns for these
    * payloads (same decoder, same bytes; the m4/m9/m14 oracle gates
    * pin the decoded integers bit-for-bit).
    */
  private lazy val wavReader: javax.sound.sampled.spi.AudioFileReader = {
    import scala.jdk.CollectionConverters._
    val probe = AudioGen.wavBytes(8000, 4, 0L)
    java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader])
      .iterator().asScala.find { r =>
        try {
          r.getAudioInputStream(
            new java.io.ByteArrayInputStream(probe)).close()
          true
        } catch { case _: Exception => false }
      }
      .getOrElse(sys.error("no WAV-capable AudioFileReader SPI on this JVM"))
  }

  private def wavStream(bytes: Array[Byte]): javax.sound.sampled.AudioInputStream =
    wavReader.getAudioInputStream(new java.io.ByteArrayInputStream(bytes))

  object WavDecoder extends Serializable {
    def decode(bytes: Array[Byte]): AudioFeatures.Raw = {
      val ais = wavStream(bytes)
      try {
        val fmt = ais.getFormat
        require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
          s"unsupported wav layout: $fmt")
        val data = ais.readAllBytes()
        var sumSq = 0L
        var i = 0
        while (i + 1 < data.length) {
          val s = ((data(i + 1) << 8) | (data(i) & 0xff)).toShort
          sumSq += s.toLong * s
          i += 2
        }
        AudioFeatures.Raw(fmt.getSampleRate.toInt, data.length / 2, sumSq)
      } finally ais.close()
    }
  }
  object AudioFeatures {
    case class Raw(sampleRate: Int, nSamples: Long, sumSq: Long)
  }

  /** Per-doc audio segmentation facts (m9): window grid over the decoded
    * PCM stream, quiet-window count and the longest quiet run.
    */
  case class AudioSegments(doc_id: Long, n_windows: Int, n_quiet: Int,
      longest_quiet_run: Int)

  /** Audio activity segmentation (m9): the VAD-shaped pass — the decoded
    * PCM stream (real WAV parse, same decoder as m4) is cut into
    * 500-sample windows; a window is "quiet" when its mean energy is
    * strictly below the document's mean energy, decided by integer
    * cross-multiplication (`winSq · nSamples < totalSq · winLen`) so the
    * verdict is exact on both engines; quiet runs are gaps-and-islands
    * over the window index. Decode and run-length logic are per-document
    * inside the partition — the shuffle sees only four integers per doc.
    */
  def m9AudioSegments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val winLen = 500
    codecIds(Tables.documents(spark, dir))
      .mapPartitions { ids =>
        ids.map { id =>
          val (nSamples, winSq) = windowEnergies(id, winLen)
          val nWin = winSq.length
          val totalSq = winSq.sum
          var quiet = 0; var run = 0; var best = 0
          var w = 0
          while (w < nWin) {
            val len = math.min(winLen, nSamples - w * winLen)
            if (winSq(w) * nSamples < totalSq * len) {
              quiet += 1; run += 1; if (run > best) best = run
            } else run = 0
            w += 1
          }
          AudioSegments(id, nWin, quiet, best)
        }
      }
      .toDF()
      .select(col("doc_id"), col("n_windows"), col("n_quiet"),
        col("longest_quiet_run"),
        round(col("n_quiet").cast("double") / col("n_windows"), 6)
          .as("quiet_frac"))
      .orderBy(col("doc_id"))
      .limit(2000)
  }

  /** Shared REAL-decode → window-energy pass for m9/m14: parse the doc's
    * WAV payload with the JDK decoder, cut the PCM stream into
    * `winLen`-sample windows, return (nSamples, per-window Σ s²) — all
    * exact Long (window energy ≤ 500·32768² ≈ 5.4e11).
    */
  private def windowEnergies(id: Long, winLen: Int): (Int, Array[Long]) = {
    val rate = 8000 + (id % 3).toInt * 4000
    val n = 1000 + (id % 500).toInt * 8
    val ais = wavStream(AudioGen.wavBytes(rate, n, id))
    val data = try ais.readAllBytes() finally ais.close()
    val nSamples = data.length / 2
    val nWin = (nSamples + winLen - 1) / winLen
    val winSq = new Array[Long](nWin)
    var i = 0
    while (i + 1 < data.length) {
      val s = ((data(i + 1) << 8) | (data(i) & 0xff)).toShort
      winSq((i / 2) / winLen) += s.toLong * s
      i += 2
    }
    (nSamples, winSq)
  }

  /** Per-doc energy-envelope audio fingerprint (m14). */
  case class AudioFingerprint(doc_id: Long, n_windows: Int, fingerprint: Long)

  /** Audio fingerprint dedup (m14): the audio analog of m6's image
    * phash — a Chromaprint-shaped ENVELOPE fingerprint, 2 exact bits per
    * 500-sample window over the REAL PCM decode (same decoder as
    * m4/m9): bit₁ = window quieter than the doc mean (the m9 integer
    * cross-multiplication, `wsq·n < tsq·len`), bit₀ = energy rose vs
    * the previous window. Bits fold MSB-first into one Long (≤ 10
    * windows ⇒ ≤ 20 bits), so envelope-identical audio collides
    * exactly; dup groups key on (n_windows, fingerprint) with the m6
    * canonical-member convention (min doc_id).
    *
    * Scale: decode is map-only beside the data (binary never
    * shuffles); the fingerprint table is slim (3 longs/doc); group
    * stats + membership reuse ONE hash shuffle — the groupBy and the
    * join key on the same (n_windows, fingerprint), so AQE plans the
    * join off the aggregated side without a second exchange of the
    * fingerprint table. The oracle replays the PCM formula in SQL and
    * must match the folded integer bit-for-bit: a decoder that drops a
    * frame or mis-signs a sample flips the envelope bits.
    */
  def m14AudioFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val fps = audioFingerprintOf(Tables.documents(spark, dir))
      .held() // one decode pass feeds both the group stats and the join
    fps.count() // eager (see d3): concurrent stages racing a cold cache
                // could decode partitions twice
    val groups = fps.groupBy(col("n_windows"), col("fingerprint"))
      .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("canon_id"))
    fps.join(groups, Seq("n_windows", "fingerprint"))
      .select(col("doc_id"), col("n_windows"), col("fingerprint"),
        col("n_dups"), (col("doc_id") === col("canon_id")).as("is_canonical"))
      .orderBy(col("doc_id"))
      .limit(2000)
  }

  /** m14's decode → envelope-fold pass over ANY frame with a doc_id
    * column — shared verbatim by the batch operator and the ingest twin
    * ([[graft.streaming.CorpusStreams.audioDedupAgainst]]), the
    * phashOf discipline in audio space.
    */
  private[graft] def audioFingerprintOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val winLen = 500
    codecIds(docs)
      .mapPartitions { ids =>
        ids.map { id =>
          val (nSamples, winSq) = windowEnergies(id, winLen)
          val totalSq = winSq.sum
          var fp = 0L
          var w = 0
          while (w < winSq.length) {
            val len = math.min(winLen, nSamples - w * winLen)
            val quiet = if (winSq(w) * nSamples < totalSq * len) 1L else 0L
            val rise = if (w > 0 && winSq(w) > winSq(w - 1)) 1L else 0L
            fp = fp * 4 + quiet * 2 + rise
            w += 1
          }
          AudioFingerprint(id, winSq.length, fp)
        }
      }
      .toDF()
  }

  /** Deterministic video payload generator: a REAL RIFF-AVI container
    * (the same chunk grammar as WAV, which is why no external codec is
    * needed to build or walk it): LIST hdrl with a spec-shaped `avih`
    * main header and a `vids`/`DIB ` stream header, then LIST movi
    * carrying one uncompressed `00db` frame chunk per frame. Frame
    * bytes are a pure function of (seed, frame, offset), so the oracle
    * can replay the whole payload's byte sum in SQL while the Spark
    * side must genuinely walk the chunk tree.
    */
  object VideoGen {
    def aviBytes(width: Int, height: Int, nFrames: Int, seed: Long): Array[Byte] = {
      val frameLen = width * height * 3
      val framePad = frameLen & 1
      val moviBody = 4 + nFrames * (8 + frameLen + framePad)
      val strf = 40
      val strh = 56
      val strl = 4 + (8 + strh) + (8 + strf)
      val avih = 56
      val hdrl = 4 + (8 + avih) + (8 + strl)
      val riffBody = 4 + (8 + hdrl) + (8 + moviBody)
      val buf = java.nio.ByteBuffer.allocate(8 + riffBody)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def fourcc(s: String) = buf.put(s.getBytes("US-ASCII"))
      fourcc("RIFF"); buf.putInt(riffBody); fourcc("AVI ")
      fourcc("LIST"); buf.putInt(hdrl); fourcc("hdrl")
      fourcc("avih"); buf.putInt(avih)
      buf.putInt(40000) // µs per frame
        .putInt(0).putInt(0).putInt(0)
        .putInt(nFrames) // dwTotalFrames
        .putInt(0)
        .putInt(1) // dwStreams
        .putInt(frameLen)
        .putInt(width).putInt(height)
        .putInt(0).putInt(0).putInt(0).putInt(0)
      fourcc("LIST"); buf.putInt(strl); fourcc("strl")
      fourcc("strh"); buf.putInt(strh)
      fourcc("vids"); fourcc("DIB ")
      buf.putInt(0).putShort(0).putShort(0).putInt(0)
        .putInt(1)      // scale
        .putInt(25)     // rate
        .putInt(0)
        .putInt(nFrames) // dwLength
        .putInt(frameLen).putInt(-1).putInt(0)
        .putShort(0).putShort(0).putShort(width.toShort).putShort(height.toShort)
      fourcc("strf"); buf.putInt(strf)
      buf.putInt(40).putInt(width).putInt(height)
        .putShort(1).putShort(24).putInt(0).putInt(frameLen)
        .putInt(0).putInt(0).putInt(0).putInt(0)
      fourcc("LIST"); buf.putInt(moviBody); fourcc("movi")
      var f = 0
      while (f < nFrames) {
        fourcc("00db"); buf.putInt(frameLen)
        var j = 0
        while (j < frameLen) {
          buf.put(frameByte(seed, f, j))
          j += 1
        }
        if (framePad == 1) buf.put(0.toByte) // RIFF even-size padding
        f += 1
      }
      buf.array()
    }

    // seed mod 256 first, same discipline as AudioGen.sample: exact for
    // every doc_id on both engines instead of JVM-wrap vs DuckDB-abort.
    def frameByte(seed: Long, f: Int, j: Int): Byte =
      (((seed % 256L) * 31L + f.toLong * 7919L
        + j.toLong * 2654435761L) % 256L).toByte
  }

  case class VideoFeatures(doc_id: Long, width: Int, height: Int,
      n_frames: Long, byte_sum: Long)

  /** Real AVI container walk — a strict RIFF chunk parser (fourcc +
    * little-endian size + even-byte padding, LIST recursion): dims from
    * the `avih` main header, frame count by COUNTING `00db`/`00dc`
    * chunks inside LIST movi (cross-checked against the header's
    * dwTotalFrames — a container whose index lies fails loudly), and
    * the unsigned byte sum over all frame payloads. No JDK codec exists
    * for AVI; this is the same kind of structural parse the JDK's GIF
    * reader does for m1's frame counting, written against the published
    * RIFF grammar.
    */
  object AviParser extends Serializable {
    /** @param onFrame called once per movi frame chunk, in stream order,
      *                with the frame's payload bytes — the hook m8's
      *                scene-cut deltas ride so the container walks once
      */
    def parse(bytes: Array[Byte],
        onFrame: Array[Byte] => Unit = _ => ()): VideoFeatures.Raw = {
      val buf = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def fourcc(): String = {
        val b = new Array[Byte](4); buf.get(b); new String(b, "US-ASCII")
      }
      require(fourcc() == "RIFF", "not a RIFF container")
      buf.getInt // riff size
      require(fourcc() == "AVI ", "not an AVI RIFF form")
      var width = -1; var height = -1
      var declaredFrames = -1
      var countedFrames = 0L
      var byteSum = 0L
      def walk(end: Int): Unit = {
        while (buf.position() < end) {
          val id = fourcc()
          val size = buf.getInt
          val next = buf.position() + size + (size & 1)
          id match {
            case "LIST" =>
              fourcc() // list type (hdrl/strl/movi) — walk them all
              walk(buf.position() + size - 4 + (size & 1))
            case "avih" =>
              val base = buf.position()
              declaredFrames = buf.getInt(base + 16)
              width = buf.getInt(base + 32)
              height = buf.getInt(base + 36)
              buf.position(next)
            case "00db" | "00dc" =>
              countedFrames += 1
              var i = buf.position()
              val stop = buf.position() + size
              while (i < stop) { byteSum += buf.get(i) & 0xff; i += 1 }
              onFrame(java.util.Arrays.copyOfRange(bytes,
                buf.position(), stop))
              buf.position(next)
            case _ =>
              buf.position(next)
          }
        }
      }
      walk(bytes.length)
      require(width > 0 && height > 0, "missing avih header")
      require(countedFrames == declaredFrames.toLong,
        s"frame index lies: header $declaredFrames, movi $countedFrames")
      VideoFeatures.Raw(width, height, countedFrames, byteSum)
    }
  }
  object VideoFeatures {
    case class Raw(width: Int, height: Int, nFrames: Long, byteSum: Long)
  }

  /** Video features (m5): the video modality behind a REAL container —
    * each document derives a genuine RIFF-AVI payload with uncompressed
    * frame chunks ([[VideoGen]]), and the operator must walk the actual
    * chunk tree to emit dims, the counted-not-trusted frame count, and
    * the exact unsigned byte sum over frame payloads (the oracle
    * replays the byte formula in SQL). With m1 (images + animated GIF),
    * m4 (WAV audio), and this, every modality decodes real bytes —
    * FakeDecoder now covers only compressed video codecs (mp4/webm),
    * which need external codec libraries by nature. Scale shape: one
    * parser per partition, payloads die map-side, features are slim.
    */
  def m5VideoFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    codecIds(Tables.documents(spark, dir))
      .mapPartitions { ids =>
        ids.map { id =>
          val (w, h, nf) =
            ((1 + id % 16).toInt, (1 + id % 12).toInt, (1 + id % 6).toInt)
          val raw = AviParser.parse(VideoGen.aviBytes(w, h, nf, id))
          VideoFeatures(id, raw.width, raw.height, raw.nFrames, raw.byteSum)
        }
      }
      .toDF()
      .orderBy(col("doc_id"))
      .limit(2000)
  }

  case class SceneCuts(doc_id: Long, n_frames: Long, n_cuts: Long,
      sum_delta: Long, max_delta: Long)

  /** Scene-cut detection (m8): the shot-boundary pass every video
    * pipeline runs before sampling keyframes — per adjacent frame pair,
    * the sum of absolute per-byte differences over the REAL decoded
    * payloads (the container walks once; deltas ride m5's strict RIFF
    * walk via the frame callback), and a cut wherever the delta exceeds
    * 32 × frameLen (the generator steps frames by a constant 239 mod 256,
    * so per-byte deltas are 17 or 239 with mean ≈31.7 — the threshold
    * sits at the noise mean and genuinely separates; in production the
    * threshold is tuned config, the gate pins this default). All
    * integer math — the oracle replays the generator's byte formula
    * arithmetically, so a walker that misaligns a frame boundary or
    * drops a chunk cannot hash-match. Scale shape: one parser per
    * partition, the previous-frame buffer is one frame, payloads die
    * map-side, emitted rows are five integers.
    */
  def m8SceneCuts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    codecIds(Tables.documents(spark, dir))
      .mapPartitions { ids =>
        ids.map { id =>
          val (w, h, nf) =
            ((1 + id % 16).toInt, (1 + id % 12).toInt, (1 + id % 6).toInt)
          val frameLen = w * h * 3
          var prev: Array[Byte] = null
          var nCuts = 0L; var sumD = 0L; var maxD = 0L
          val raw = AviParser.parse(VideoGen.aviBytes(w, h, nf, id), frame => {
            if (prev != null) {
              var d = 0L; var j = 0
              while (j < frame.length) {
                d += math.abs((frame(j) & 0xff) - (prev(j) & 0xff)); j += 1
              }
              sumD += d
              if (d > maxD) maxD = d
              if (d > 32L * frameLen) nCuts += 1
            }
            prev = frame
          })
          SceneCuts(id, raw.nFrames, nCuts, sumD, maxD)
        }
      }
      .toDF()
      .orderBy(col("doc_id"))
      .limit(2000)
  }

  /** Per-doc video envelope fingerprint (m15). */
  case class VideoFingerprint(doc_id: Long, width: Int, height: Int,
      n_frames: Long, fingerprint: Long)

  /** Video fingerprint dedup (m15): the video analog of m6 (images) and
    * m14 (audio) — with this, incremental dedup spans every content
    * space the engine models (text, embeddings, images, audio, video).
    * Two exact bits per frame TRANSITION over the REAL RIFF-AVI walk
    * (the m5/m8 parser): bit₁ = scene cut (m8's inter-frame byte delta
    * above the 32·frameLen threshold), bit₀ = frame byte-sum rose.
    * Bits fold MSB-first into one Long (≤ 6 frames ⇒ ≤ 10 bits); dup
    * groups key on (width, height, n_frames, fingerprint) with the m6
    * canonical convention. The walk is map-only beside the data; group
    * stats + membership reuse ONE hash shuffle (the m14 shape). The
    * oracle replays the generator's byte formula arithmetically — a
    * walker that misaligns a frame boundary flips the envelope.
    */
  def m15VideoFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val fps = videoFingerprintOf(Tables.documents(spark, dir)).held()
    fps.count() // eager (see d3) — one container walk per run
    val groups = fps.groupBy(col("width"), col("height"), col("n_frames"),
        col("fingerprint"))
      .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("canon_id"))
    fps.join(groups, Seq("width", "height", "n_frames", "fingerprint"))
      .select(col("doc_id"), col("width"), col("height"), col("n_frames"),
        col("fingerprint"), col("n_dups"),
        (col("doc_id") === col("canon_id")).as("is_canonical"))
      .orderBy(col("doc_id"))
      .limit(2000)
  }

  /** m15's walk → envelope-fold pass over ANY frame with a doc_id
    * column — shared by the batch operator and the ingest twin
    * ([[graft.streaming.CorpusStreams.videoDedupAgainst]]). */
  private[graft] def videoFingerprintOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    codecIds(docs)
      .mapPartitions { ids =>
        ids.map { id =>
          val (w, h, nf) =
            ((1 + id % 16).toInt, (1 + id % 12).toInt, (1 + id % 6).toInt)
          val frameLen = w * h * 3
          var prev: Array[Byte] = null
          var prevSum = 0L
          var fp = 0L
          val raw = AviParser.parse(VideoGen.aviBytes(w, h, nf, id), frame => {
            var s = 0L; var j = 0
            while (j < frame.length) { s += (frame(j) & 0xff); j += 1 }
            if (prev != null) {
              var d = 0L; var k = 0
              while (k < frame.length) {
                d += math.abs((frame(k) & 0xff) - (prev(k) & 0xff)); k += 1
              }
              val cut = if (d > 32L * frameLen) 1L else 0L
              val rise = if (s > prevSum) 1L else 0L
              fp = fp * 4 + cut * 2 + rise
            }
            prev = frame
            prevSum = s
          })
          VideoFingerprint(id, raw.width, raw.height, raw.nFrames, fp)
        }
      }
      .toDF()
  }

  /** Audio features (m4): the audio modality decoded FOR REAL — each
    * document derives a genuine PCM WAV payload ([[AudioGen]]; rate and
    * length from doc_id arithmetic, samples an exact integer formula),
    * and the operator must parse the RIFF container and PCM frames to
    * emit (rate, sample count, energy). The oracle reproduces the
    * sample formula in SQL (a correlated `range` per document) and
    * checks the EXACT integer energy sum — a decoder that misreads the
    * header, drops frames, or sign-flips a sample cannot hash-match.
    * Same scale shape as m1: one decoder per partition, binary never
    * shuffles, features are slim rows.
    */
  def m4AudioFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    codecIds(Tables.documents(spark, dir))
      .mapPartitions { ids =>
        ids.map { id =>
          val rate = 8000 + (id % 3).toInt * 4000
          val n = 1000 + (id % 500).toInt * 8
          val raw = WavDecoder.decode(AudioGen.wavBytes(rate, n, id))
          AudioFeatures(id, raw.sampleRate, raw.nSamples, raw.sumSq)
        }
      }
      .toDF()
      .select(col("doc_id"), col("sample_rate"), col("n_samples"),
        col("sum_sq"),
        round(sqrt(col("sum_sq").cast("double") / col("n_samples")), 6)
          .as("rms"))
      .orderBy(col("doc_id"))
      .limit(2000)
  }

  private def hex(bytes: Array[Byte]): String =
    bytes.map("%02x".format(_)).mkString

  /** Batch feature extraction: one decoder per partition, streaming
    * through the iterator — constant memory regardless of partition size.
    */
  def extractFeatures(media: Dataset[MediaRow],
      decoder: MediaDecoder = FakeDecoder): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        val dims = decoder.decode(r.media_type, r.content)
        md.reset()
        MediaFeatures(r.doc_id, r.media_type, r.content.length,
          hex(md.digest(r.content)), dims.width, dims.height, dims.nFrames)
      }
    }
  }

  /** Deterministic frame sampling plan for video-like media: every k-th
    * frame index up to n_frames — computed as a column, no decode needed.
    */
  def frameSamplePlan(features: DataFrame, everyK: Int): DataFrame =
    features.withColumn("sampled_frames",
      when(col("n_frames") > 0,
        sequence(lit(0), col("n_frames") - 1, lit(everyK)))
        .otherwise(array()))

  /** The harness has no binary table, so the query derives one from
    * `documents`: every third doc becomes a real BMP, the next a real
    * PNG, the rest a real multi-frame animated GIF standing in for video
    * (dimensions `1 + doc_id mod 64/48`, frame count `1 + doc_id mod 5`,
    * pixels a pure function of doc_id — [[MediaGen]]).
    * [[ImageIoDecoder]] then runs the REAL decode — the emitted
    * width/height/n_frames can only match the oracle's doc_id arithmetic
    * if the PNG/BMP/GIF bytes were genuinely parsed (for GIFs,
    * `getNumImages(true)` walks the actual image-descriptor blocks).
    *
    * n_bytes/sig are intentionally not part of the gated output: PNG
    * deflate bytes are encoder-implementation-defined, so only
    * decode-verifiable columns are compared.
    */
  def m1MediaFeatures(spark: SparkSession, dir: String): DataFrame =
    m1FeaturesOf(syntheticMedia(spark, dir))

  private def m1FeaturesOf(media: Dataset[MediaRow]): DataFrame =
    extractFeatures(media, ImageIoDecoder).toDF()
      .select(col("doc_id"), col("media_type"),
        col("width"), col("height"), col("n_frames"))
      .orderBy(col("doc_id"))
      .limit(2000)

  /** The shared binary media derivation for m1/m3 (the harness has no
    * binary table): every third doc a real BMP, the next a real PNG,
    * the rest a real multi-frame animated GIF standing in for video.
    */
  private def syntheticMedia(spark: SparkSession,
      dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    codecIds(Tables.documents(spark, dir))
      .map { id =>
        (id % 3) match {
          case 0 => MediaRow(id, "image/bmp",
            MediaGen.imageBytes("bmp", (1 + id % 64).toInt, (1 + id % 48).toInt, id))
          case 1 => MediaRow(id, "image/png",
            MediaGen.imageBytes("png", (1 + id % 64).toInt, (1 + id % 48).toInt, id))
          case _ => MediaRow(id, "video/gif",
            MediaGen.gifBytes((1 + id % 64).toInt, (1 + id % 48).toInt,
              (1 + id % 5).toInt, id))
        }
      }
  }

  val ThumbMax = 16

  /** Thumbnail resize (m3): the remaining multimodal primitive after
    * decode (m1) and frame sampling (m2). Each payload's FIRST frame is
    * decoded, aspect-fit downscaled into a [[ThumbMax]]² box with a
    * real `Graphics2D` raster scale (never upscaled — scale clamps at
    * 1), re-encoded as PNG, and then RE-DECODED; the emitted thumb
    * dimensions come from that second decode. They match the oracle's
    * doc_id arithmetic (`max(1, w·16 div max(w,h))`) only if
    * decode → resize → encode → decode all genuinely ran — the same
    * only-decode-verifiable-columns discipline as m1 (PNG bytes are
    * encoder-defined, so byte-level outputs are not gated). Scale
    * shape: pure mapPartitions, one codec pass per row, thumbnails die
    * map-side, binary never shuffles.
    */
  def m3Thumbnail(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    syntheticMedia(spark, dir).mapPartitions { rows =>
      rows.map { r =>
        val src = readImage(r.content)
        require(src != null, s"undecodable payload for doc ${r.doc_id}")
        val (w, h) = (src.getWidth, src.getHeight)
        val m = math.max(w, h)
        val (tw, th) =
          if (m <= ThumbMax) (w, h)
          else (math.max(1, w * ThumbMax / m), math.max(1, h * ThumbMax / m))
        val thumb = new java.awt.image.BufferedImage(
          tw, th, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = thumb.createGraphics()
        try g.drawImage(src, 0, 0, tw, th, null) finally g.dispose()
        val bos = new java.io.ByteArrayOutputStream()
        require(javax.imageio.ImageIO.write(thumb, "png", bos),
          "no png writer in this JRE")
        val re = readImage(bos.toByteArray)
        (r.doc_id, r.media_type, w, h, re.getWidth, re.getHeight)
      }
    }.toDF("doc_id", "media_type", "width", "height", "thumb_w", "thumb_h")
      .orderBy(col("doc_id"))
      .limit(2000)
  }

  /** Frame-sampling pipeline: features → every-2nd-frame plan → explode
    * to one row per sampled frame with a per-frame fingerprint. The
    * explode happens AFTER feature extraction, so only the small feature
    * columns fan out — the binary payload never multiplies. (A real
    * deployment decodes the sampled frames in a second mapPartitions
    * pass keyed by (doc_id, frame_idx); the plan shape is identical.)
    */
  def m2FrameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.FastMd5.fastMd5
    val media = Tables.documents(spark, dir)
      .select(col("doc_id"), lit("text/plain").as("media_type"),
        col("text").cast("binary").as("content"))
      .as[MediaRow]
    frameSamplePlan(extractFeatures(media).toDF(), everyK = 2)
      .filter(col("n_frames") > 0)
      .select(col("doc_id"), col("sig"),
        explode(col("sampled_frames")).as("frame_idx"))
      .select(col("doc_id"),
        col("frame_idx").cast("int").as("frame_idx"),
        fastMd5(concat(col("sig"), lit(":"), col("frame_idx").cast("string")))
          .as("frame_sig"))
      .orderBy(col("doc_id"), col("frame_idx"))
      .limit(2000)
  }

  /** Image perceptual-hash dedup (m6): an 8×8 average-hash over the
    * REAL decoded pixel raster, then hash-bucket clustering — the
    * image-space analog of d1's content-hash dedup, and the first
    * multimodal operator whose OUTPUT feeds the dedup family rather
    * than a feature table. The hash is deterministic integer
    * arithmetic end-to-end: nearest-neighbor sample the raster on a
    * fixed 8×8 grid (x = i·W div 8 — integer division, no
    * interpolation, so the oracle can replay the sampled pixels from
    * the generator formula while the Spark side must genuinely decode
    * them), integer luminance lum = 299r + 587g + 114b, and bit k set
    * iff 64·lum_k > Σlum (integer cross-multiply — never a mean
    * division). Visually-near-identical images (same gradient, shifted
    * palette) collapse into one bucket; the cluster join mirrors d1's
    * canonical-doc selection. Scale shape: decode and hash are one
    * map-side pass (binary never shuffles), then two shuffles on the
    * 64-bit-string key — exactly d1's profile.
    */
  def m6ImagePhash(spark: SparkSession, dir: String): DataFrame =
    phashClustersOf(phashAsset(spark, dir))

  private[graft] def imagePhashOf(media: Dataset[MediaRow]): DataFrame = {
    // the slim (doc_id, phash) frame feeds TWO consumers (cluster agg +
    // join-back) — persist or the generate+decode pipeline runs twice
    // (the d3 eager-materialization discipline)
    val hashes = phashOf(media).held()
    hashes.count()
    phashClustersOf(hashes)
  }

  /** Exact-phash clustering over a slim (doc_id, phash) frame — the
    * cluster agg + join-back half of m6, factored out so the run-scoped
    * [[phashAsset]] (already on disk, re-read is cheap) and an in-memory
    * persisted frame ([[imagePhashOf]], the spec path) share one plan.
    */
  private[graft] def phashClustersOf(hashes: DataFrame): DataFrame = {
    val clusters = hashes.groupBy(col("phash"))
      .agg(count(lit(1)).as("n_cluster"), min(col("doc_id")).as("canonical"))
    hashes.join(clusters, Seq("phash"))
      .select(col("doc_id"), col("phash"), col("n_cluster"), col("canonical"))
      .orderBy(col("doc_id"))
      .limit(2000)
  }

  /** The (doc_id, phash) frame as a run-scoped parquet asset — the
    * [[mediaFeaturesAsset]] discipline applied to the decode+hash pass:
    * the image corpus is decoded and hashed ONCE per (JVM run, sfDir)
    * and every phash consumer (m6 clustering, m7 manifest, m11 banded
    * near-dup) reads the slim asset instead of re-running the decode.
    * In production this is the phash table the ingest stream
    * ([[graft.streaming.CorpusStreams.imageDedupAgainst]]) materializes
    * on arrival — the batch queries here read the same standing asset.
    */
  private[graft] def phashAsset(spark: SparkSession, dir: String): DataFrame =
    graft.RunAssets.asset(spark, "phash", dir)(phashOf(syntheticMedia(spark, dir)))

  /** (doc_id, phash) for the image rows of a media frame — the map-only
    * decode+hash pass shared by the batch clustering (m6) and the
    * streaming ingest twin ([[graft.streaming.CorpusStreams]]). Works
    * unchanged on a STREAMING Dataset (filter + mapPartitions are both
    * stream-safe), which is what makes the incremental image-dedup twin
    * the same code path as the batch hash.
    */
  private[graft] def phashOf(media: Dataset[MediaRow]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media
      .filter(col("media_type").startsWith("image/"))
      .mapPartitions { rows =>
        rows.map { r =>
          val img = readImage(r.content)
          require(img != null, s"undecodable payload for doc ${r.doc_id}")
          val (w, h) = (img.getWidth, img.getHeight)
          val lums = new Array[Long](64)
          var sum = 0L
          var j = 0
          while (j < 8) {
            var i = 0
            while (i < 8) {
              val v = img.getRGB(i * w / 8, j * h / 8) & 0xffffff
              val lum = 299L * ((v >> 16) & 0xff) +
                587L * ((v >> 8) & 0xff) + 114L * (v & 0xff)
              lums(j * 8 + i) = lum
              sum += lum
              i += 1
            }
            j += 1
          }
          val bits = new java.lang.StringBuilder(64)
          var k = 0
          while (k < 64) {
            bits.append(if (64L * lums(k) > sum) '1' else '0')
            k += 1
          }
          (r.doc_id, bits.toString)
        }
      }.toDF("doc_id", "phash")
  }

  /** Media-catalog manifest (m7): the multimodal integration query —
    * p6's "one row, whole verdict" shape for the media plane. Per
    * document: the decoded image/GIF features (m1), the perceptual-hash
    * cluster membership for stills (m6, null for animated rows), the
    * exact decoded audio energy (m4) and video byte sum (m5), joined on
    * doc_id into the row a production media catalog stores. Every leg
    * is an already-gated pipeline; the oracle composes the four gated
    * SQLs verbatim as CTEs (the s8 discipline), so the manifest checks
    * the COMPOSITION, not re-derivations. All joins are slim
    * feature-table equi-joins on doc_id — payloads died map-side inside
    * each leg; AQE picks broadcast vs shuffle per side.
    */
  /** m1's decoded feature columns as a run-scoped parquet asset — the
    * [[graft.queries.TextDedup.dupPairs]] discipline applied to the
    * decode pipeline: features are extracted ONCE per (JVM run, sfDir)
    * and every composition (m7 manifest, m10 joint gate) reads the
    * asset instead of re-decoding the payloads. m1 itself stays a
    * direct computation — it IS the decode pipeline under measurement;
    * the memo only serves compositions. In production this is the
    * feature table the ingest stream (`CorpusStreams.mediaFeatures`)
    * materializes on arrival, after which the raw bytes tier to cold
    * storage.
    */
  private[graft] def mediaFeaturesAsset(spark: SparkSession,
      dir: String): DataFrame =
    graft.RunAssets.asset(spark, "mediafeat", dir)(
      m1FeaturesOf(syntheticMedia(spark, dir)))

  def m7MediaManifest(spark: SparkSession, dir: String): DataFrame = {
    // Every decoded leg comes from a run-scoped asset (m1 features and
    // the m6 phash table) — the manifest composes feature tables, it
    // never re-decodes payloads. In production the manifest joins
    // feature tables extracted once at ingest; the assets are exactly
    // those tables.
    val feats = mediaFeaturesAsset(spark, dir)
    val phash = phashClustersOf(phashAsset(spark, dir))
      .select(col("doc_id"), col("n_cluster"), col("canonical"))
    val audio = m4AudioFeatures(spark, dir)
      .select(col("doc_id"), col("sum_sq").as("audio_sum_sq"))
    val video = m5VideoFeatures(spark, dir)
      .select(col("doc_id"), col("byte_sum").as("video_byte_sum"))
    feats
      .join(phash, Seq("doc_id"), "left")
      .join(audio, Seq("doc_id"))
      .join(video, Seq("doc_id"))
      .select(col("doc_id"), col("media_type"), col("width"), col("height"),
        col("n_frames"), col("n_cluster"), col("canonical"),
        col("audio_sum_sq"), col("video_byte_sum"))
      .orderBy(col("doc_id"))
      .limit(2000)
  }

  /** Hot-band cap for [[m11PhashNearDup]]: at most this many DISTINCT
    * hashes participate per (band, value) bucket, ranked by phash string
    * (deterministic, oracle-mirrorable). Bounds the worst band bucket at
    * CAP²/2 candidate pairs regardless of corpus size — the d6b
    * discipline in hash space. A pair dropped from a hot band survives
    * only if the two hashes share ANOTHER, uncapped band — when the hot
    * bucket was their single matching band, the pair is lost (the d3/d6b
    * recall-for-boundedness trade; the ≤3-bit pigeonhole guarantee holds
    * only where no band caps out).
    */
  private[graft] val M11_BAND_CAP = 256

  /** Banded Hamming near-dup over the image perceptual hashes (m11):
    * m6 collapses EXACT phash matches; this is the d3/d5-style LSH read
    * for the in-between — visually similar stills whose hashes differ
    * in a few bits. The 64-bit hash splits into four 16-bit bands;
    * candidate pairs share at least one band verbatim (pigeonhole:
    * recall is GUARANTEED for Hamming ≤ 3 when no band caps out, a
    * recall dial above that, exactly d3's trade; the oracle replicates
    * banding AND cap so the candidate semantics are gated, not just the
    * distance); survivors score the exact Hamming distance and pairs
    * ≤ 10 emit with the exact-duplicate flag.
    *
    * Scale shape — three ideas keep this linear-ish at 100 TB:
    *  1. Band over DISTINCT hashes, not documents. Exact-duplicate
    *     clusters (the m6 table) would otherwise multiply every band
    *     bucket by cluster size and go quadratic in documents; distinct
    *     hashes make candidate generation quadratic only in distinct
    *     VISUAL content per bucket, and doc pairs are recovered by
    *     expanding the two clusters of each close hash pair afterwards.
    *  2. The 64-char '0'/'1' hash packs into ONE long (two 32-bit conv
    *     halves); band keys are shift-and-mask and the Hamming distance
    *     is a single codegen'd `bit_count(la ^ lb)` — not 128
    *     interpreted substring calls per candidate pair.
    *  3. [[M11_BAND_CAP]] bounds any adversarially hot band bucket
    *     (near-constant rasters all share low-entropy bands).
    */
  /** Pack the 64-char '0'/'1' phash string into ONE long: first 32
    * chars → high word, last 32 → low word. conv() on a ≤32-bit binary
    * string stays far from the 64-bit unsigned edge where conv's string
    * result stops casting to long; the two words never overlap, so the
    * add is exact even when the sign bit lands.
    */
  private[graft] def packedPhash: org.apache.spark.sql.Column =
    shiftleft(conv(substring(col("phash"), 1, 32), 2, 10).cast("long"), 32) +
      conv(substring(col("phash"), 33, 32), 2, 10).cast("long")

  /** Explode a frame carrying a `phash` column into its four 16-bit
    * band keys over the packed long: band b = chars [1+16b, 16+16b] =
    * bits [63−16b .. 48−16b] of `ph`; the & 65535 mask kills
    * shiftright's sign extension. Shared by batch m11 and the streaming
    * ingest twin ([[graft.streaming.CorpusStreams.phashNearDupAlerts]]).
    */
  private[graft] def packedBands(hashes: DataFrame): DataFrame =
    hashes.withColumn("ph", packedPhash)
      .withColumn("band", explode(sequence(lit(0), lit(3))))
      .withColumn("bb", expr("shiftright(ph, 48 - band * 16) & 65535"))

  def m11PhashNearDup(spark: SparkSession, dir: String): DataFrame =
    phashNearDupOf(phashAsset(spark, dir))

  /** Cluster-expansion cap for [[m11PhashNearDup]]: at most this many
    * members per exact-dup cluster (ranked by doc_id — deterministic,
    * oracle-mirrorable) participate in doc-pair expansion. Without it
    * the expansion is quadratic in CLUSTER SIZE — a corpus with 10⁶
    * copies of one blank raster would explode 5·10¹¹ intra pairs before
    * the row limit could truncate, and a close pair of two such
    * clusters the same again. 64 keeps one cluster's intra pairs
    * (C(64,2) = 2016) and one cluster pair's inter pairs (64² = 4096)
    * at output scale; every dropped pair is recoverable from the m6
    * cluster table, which names each member's canonical exactly.
    */
  private[graft] val M11_CLUSTER_CAP = 64

  private[graft] def phashNearDupOf(hashes: DataFrame,
      bandCap: Int = M11_BAND_CAP,
      clusterCap: Int = M11_CLUSTER_CAP): DataFrame =
    phashPairsOf(hashes, bandCap, clusterCap)
      .select(col("id_a"), col("id_b"), col("hamming"),
        (col("hamming") === 0L).as("exact"))
      .orderBy(col("id_a"), col("id_b"))
      .limit(2000)

  /** The full (un-limited) m11 candidate pair set — m11 emits its
    * ordered head; [[m13HammingCurve]] aggregates the whole thing.
    */
  private[graft] def phashPairsOf(hashes: DataFrame,
      bandCap: Int = M11_BAND_CAP,
      clusterCap: Int = M11_CLUSTER_CAP): DataFrame = {
    val dh = hashes.select(col("phash")).distinct()
    val bands = packedBands(dh)
      .withColumn("rk", row_number().over(org.apache.spark.sql.expressions
        .Window.partitionBy(col("band"), col("bb")).orderBy(col("phash"))))
      .filter(col("rk") <= bandCap)
      .select(col("phash"), col("ph"), col("band"), col("bb"))
    val closePairs = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bb") === col("y.bb") &&
          col("x.phash") < col("y.phash"))
      .select(col("x.phash").as("pa"), col("y.phash").as("pb"),
        col("x.ph").as("la"), col("y.ph").as("lb"))
      .distinct()
      .withColumn("hamming", expr("bit_count(la ^ lb)").cast("long"))
      .filter(col("hamming") <= 10)
      .select(col("pa"), col("pb"), col("hamming"))
    // expand close hash pairs back to doc pairs through the exact-dup
    // clusters — capped at the first clusterCap members per cluster so
    // the expansion stays output-sized on any corpus; intra-cluster
    // pairs (hamming 0) come straight from the capped cluster table —
    // they share all four bands by construction and never route through
    // the band cap.
    val slim = hashes.select(col("doc_id"), col("phash"))
      .withColumn("crk", row_number().over(org.apache.spark.sql.expressions
        .Window.partitionBy(col("phash")).orderBy(col("doc_id"))))
      .filter(col("crk") <= clusterCap)
      .select(col("doc_id"), col("phash"))
    val inter = closePairs
      .join(slim.as("da"), col("pa") === col("da.phash"))
      .join(slim.as("db"), col("pb") === col("db.phash"))
      .select(least(col("da.doc_id"), col("db.doc_id")).as("id_a"),
        greatest(col("da.doc_id"), col("db.doc_id")).as("id_b"),
        col("hamming"))
    val intra = slim.as("a").join(slim.as("b"),
        col("a.phash") === col("b.phash") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        lit(0L).as("hamming"))
    inter.unionByName(intra)
  }

  /** Hamming threshold-tuning curve (m13): how many near-dup pairs each
    * Hamming cutoff t would admit — n_pairs per distance plus the
    * running total n_cum — over the FULL m11 candidate set (the
    * banded-and-capped pairs, not m11's 2000-row report head). This is
    * the calibration read a curation pipeline does before freezing the
    * dedup threshold (the d21 MinHash-calibration story in phash
    * space). The histogram is ≤ 11 rows (hamming 0..10), so the
    * cumulative is a tiny triangular self-join — associative integer
    * sums, no global window, no single-partition stage on data that
    * scales.
    */
  def m13HammingCurve(spark: SparkSession, dir: String): DataFrame = {
    val h = phashPairsOf(phashAsset(spark, dir))
      .groupBy(col("hamming")).agg(count(lit(1)).as("n_pairs"))
    h.as("x").join(h.as("y"), col("y.hamming") <= col("x.hamming"))
      .groupBy(col("x.hamming").as("hamming"), col("x.n_pairs").as("n_pairs"))
      .agg(sum(col("y.n_pairs")).as("n_cum"))
      .orderBy(col("hamming"))
  }

  /** Channel statistics over the really-decoded raster (m12): exact
    * integer R/G/B sums and the half-up micro mean channel value per
    * STILL image — the per-sample color/brightness profile a
    * vision-data pipeline computes before filtering washed-out or
    * near-black samples (the m1 discipline: the oracle predicts every
    * sum from the generator's pixel arithmetic, so a decoder that
    * misreads one channel, row stride, or pixel cannot hash-match).
    * GIFs are excluded like m6: palette quantization makes their
    * decoded RGB encoder-defined rather than formula-exact. Pure
    * mapPartitions — the per-pixel loop runs beside the decoder, only
    * four integers per doc ever shuffle.
    */
  def m12ColorStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val stats = syntheticMedia(spark, dir)
      .filter(_.media_type.startsWith("image/"))
      .mapPartitions { rows =>
        rows.map { r =>
          val img = readImage(r.content)
          require(img != null, s"undecodable payload for doc ${r.doc_id}")
          val (w, h) = (img.getWidth, img.getHeight)
          var sr = 0L; var sg = 0L; var sb = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              sr += (rgb >> 16) & 0xff
              sg += (rgb >> 8) & 0xff
              sb += rgb & 0xff
              x += 1
            }
            y += 1
          }
          (r.doc_id, r.media_type, w.toLong, h.toLong, sr, sg, sb)
        }
      }
      .toDF("doc_id", "media_type", "width", "height",
        "sum_r", "sum_g", "sum_b")
    val n3 = col("width") * col("height") * 3L
    stats
      .withColumn("mean_channel",
        round(intDiv((col("sum_r") + col("sum_g") + col("sum_b")) * 1000000L
          + intDiv(n3, lit(2L)), n3).cast("double") / 1e6, 6))
      .orderBy(col("doc_id"))
  }

  /** Lattice stride for [[m12bColorStatsSampled]]: every 4th pixel in
    * both axes → a deterministic 1/16 sample of the raster.
    */
  private[graft] val M12SampleStride = 4

  /** Sampled-raster channel statistics (m12b): m12's per-sample color
    * profile over a deterministic stride-4 pixel lattice instead of the
    * full raster — the at-scale default, with full-raster m12 staying
    * as the audit leg (the d9/d9b split). m12's cost at 10,000× bench
    * scale is ~4× the decode itself because the per-pixel loop touches
    * every pixel (370 s, exponent 0.85 — SCALE.md); the lattice cuts
    * the loop 16× so the pass costs ≈ one decode, and for the
    * wash-out/near-black ADMISSION read the statistic serves, a 1/16
    * systematic sample of the raster answers the same question (the
    * mean estimator is exact over the lattice, not an approximation of
    * it — and the lattice is pinned cross-engine: the oracle replays
    * the generator's pixel formula at exactly the same (x, y) grid, so
    * a decoder misreading stride or origin cannot hash-match).
    */
  def m12bColorStatsSampled(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val s = M12SampleStride
    val stats = syntheticMedia(spark, dir)
      .filter(_.media_type.startsWith("image/"))
      .mapPartitions { rows =>
        rows.map { r =>
          val img = readImage(r.content)
          require(img != null, s"undecodable payload for doc ${r.doc_id}")
          val (w, h) = (img.getWidth, img.getHeight)
          var sr = 0L; var sg = 0L; var sb = 0L; var n = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              sr += (rgb >> 16) & 0xff
              sg += (rgb >> 8) & 0xff
              sb += rgb & 0xff
              n += 1
              x += s
            }
            y += s
          }
          (r.doc_id, r.media_type, w.toLong, h.toLong, n, sr, sg, sb)
        }
      }
      .toDF("doc_id", "media_type", "width", "height", "n_sampled",
        "sum_r", "sum_g", "sum_b")
    val n3 = col("n_sampled") * 3L
    stats
      .withColumn("mean_channel",
        round(intDiv((col("sum_r") + col("sum_g") + col("sum_b")) * 1000000L
          + intDiv(n3, lit(2L)), n3).cast("double") / 1e6, 6))
      .orderBy(col("doc_id"))
  }

  /** Global luminance histogram (m16): 16 exposure bins over the
    * REALLY-decoded raster of every still image, rolled up per format —
    * the corpus-level exposure profile a vision-data pipeline reads
    * before setting its washed-out / near-black admission thresholds
    * (m12 gives the per-sample mean; this gives the distribution those
    * thresholds actually cut). Integer end to end: per-pixel luminance
    * in milli-units (299R + 587G + 114B ∈ [0, 255000]), bin =
    * `lum·16 div 255001`, so a pure-white pixel lands in bin 15 and no
    * float ever appears; the share is one half-up micro division per
    * row. GIFs are excluded like m12 (palette quantization makes their
    * RGB encoder-defined).
    *
    * Shape at scale: the 16-bin count array accumulates per PARTITION
    * beside the decoder (one Array[Long](16) per image, emitted as 16
    * slim rows), then a partial-agg groupBy collapses to ≤ |formats|·16
    * rows map-side — binary never shuffles, and the final exchange
    * carries a few dozen rows no matter the corpus size.
    */
  def m16LumHistogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    import org.apache.spark.sql.expressions.Window
    val binned = syntheticMedia(spark, dir)
      .filter(_.media_type.startsWith("image/"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val img = readImage(r.content)
          require(img != null, s"undecodable payload for doc ${r.doc_id}")
          val (w, h) = (img.getWidth, img.getHeight)
          val bins = new Array[Long](16)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              val lum = 299L * ((rgb >> 16) & 0xff) +
                587L * ((rgb >> 8) & 0xff) + 114L * (rgb & 0xff)
              bins((lum * 16L / 255001L).toInt) += 1L
              x += 1
            }
            y += 1
          }
          (0 until 16).iterator.filter(bins(_) > 0L)
            .map(b => (r.media_type, b, bins(b)))
        }
      }
      .toDF("media_type", "bin", "n_px_part")
      .groupBy(col("media_type"), col("bin"))
      .agg(sum(col("n_px_part")).as("n_px"))
    val wt = Window.partitionBy(col("media_type"))
    binned
      .withColumn("n_type", sum(col("n_px")).over(wt))
      .select(col("media_type"), col("bin").cast("long").as("bin"), col("n_px"),
        round(intDiv(col("n_px") * 1000000L + intDiv(col("n_type"), lit(2L)),
          col("n_type")).cast("double") / 1e6, 6).as("share"))
      .orderBy(col("media_type"), col("bin"))
  }

  /** Aspect-ratio curation buckets (m17): the geometry screen every
    * image-training pipeline runs before the expensive decodes —
    * extreme aspect ratios (banner ads, scanbars; w > 4h or h > 4w)
    * are dropped, the rest bucket into portrait (w/h < 3/4),
    * landscape (w/h > 4/3), or square for aspect-aware batch packing.
    * Dimensions come from the REAL ImageIO decode of the generated
    * payloads (the m1 verifiability discipline — the oracle's doc_id
    * arithmetic can only match if the containers genuinely parsed);
    * every bucket verdict is an integer cross-multiplication checked
    * in the SAME order on both engines, so no float ratio exists
    * anywhere. Per (media_type, bucket): count, total pixels, and the
    * half-up mean pixel count — a map-side decode beside the data
    * collapsing straight to a ≤ |types|·4-row table; payloads never
    * shuffle.
    */
  def m17AspectBuckets(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    val feats = extractFeatures(syntheticMedia(spark, dir), ImageIoDecoder)
      .toDF()
    val w = col("width").cast("long")
    val h = col("height").cast("long")
    val bucket = when(w > h * 4L || h > w * 4L, "extreme")
      .when(w * 4L < h * 3L, "portrait")
      .when(w * 3L > h * 4L, "landscape")
      .otherwise("square")
    feats
      .select(col("media_type"), bucket.as("bucket"), (w * h).as("px"))
      .groupBy(col("media_type"), col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("px")).as("total_px"))
      .select(col("media_type"), col("bucket"), col("n"), col("total_px"),
        round(intDiv(col("total_px") * 1000000L + intDiv(col("n"), lit(2L)),
          col("n")).cast("double") / 1e6, 6).as("mean_px"))
      .orderBy(col("media_type"), col("bucket"))
  }

  /** Perceptual-hash bit-balance audit (m18): per phash bit position,
    * the share of images setting it — the index-health screen for the
    * m6/m11/m13 hash family: a bit stuck near 0 or 1 carries no
    * Hamming information, so a degenerate bit silently halves the
    * effective hash width and inflates every banded near-dup bucket
    * (m11's cap then bites earlier). Reads the run-scoped
    * [[phashAsset]] — no re-decode — explodes the 64 positions
    * map-side, and collapses to a fixed 64-row table; the share is one
    * half-up integral division and the degenerate verdict is an
    * integer band check (share outside [0.2, 0.8]).
    */
  def m18PhashBitBalance(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftfn.GraftExpressions.intDiv
    phashAsset(spark, dir)
      .select(explode(sequence(lit(0), lit(63))).as("bit"), col("phash"))
      .select(col("bit"),
        when(expr("substring(phash, bit + 1, 1)") === "1", 1L)
          .otherwise(0L).as("b"))
      .groupBy(col("bit"))
      .agg(count(lit(1)).as("n"), sum(col("b")).as("n_set"))
      .withColumn("share_micro",
        intDiv(col("n_set") * 1000000L + intDiv(col("n"), lit(2L)),
          col("n")))
      .select(col("bit"), col("n"), col("n_set"),
        round(col("share_micro").cast("double") / 1e6, 6).as("share"),
        (col("share_micro") < 200000L || col("share_micro") > 800000L)
          .as("degenerate"))
      .orderBy(col("bit"))
  }

  /** The UNSCOPED registry — plan-inspection specs read this so
    * building a frame never executes it; every external surface goes
    * through [[all]], whose entries run under [[QueryScope.scoped]]
    * (held intermediates park at scope exit and die at the next gated
    * call or [[QueryScope.releaseAll]] — r15 cache hygiene).
    */
  private[graft] val raw: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m18_phash_bit_balance" -> (m18PhashBitBalance _),
    "m17_aspect_buckets" -> (m17AspectBuckets _),
    "m16_lum_histogram" -> (m16LumHistogram _),
    "m11_phash_neardup" -> (m11PhashNearDup _),
    "m13_hamming_curve" -> (m13HammingCurve _),
    "m12_color_stats" -> (m12ColorStats _),
    "m12b_color_stats_sampled" -> (m12bColorStatsSampled _),
    "m1_media_features" -> (m1MediaFeatures _),
    "m2_frame_sample" -> (m2FrameSample _),
    "m3_thumbnail" -> (m3Thumbnail _),
    "m4_audio_features" -> (m4AudioFeatures _),
    "m5_video_features" -> (m5VideoFeatures _),
    "m6_image_phash" -> (m6ImagePhash _),
    "m7_media_manifest" -> (m7MediaManifest _),
    "m8_scene_cuts" -> (m8SceneCuts _),
    "m9_audio_segments" -> (m9AudioSegments _),
    "m14_audio_fingerprint" -> (m14AudioFingerprint _),
    "m15_video_fingerprint" -> (m15VideoFingerprint _),
    "m10_sample_admission" -> (m10SampleAdmission _),
  )

  /** Multimodal sample admission (m10): the LAION-style joint gate — a
    * (media, caption) training sample survives iff its caption passes
    * the p4 text admission AND the REALLY-DECODED media meets the
    * minimum-resolution floor (both dims ≥ 8). Neither family can make
    * this call alone: a pristine caption on a 3×2 thumbnail and a
    * billboard image captioned with junk both die here. Joins m1's
    * decoded dims (map-side decode, slim rows) against p4's map-only
    * verdict on doc_id; the gate composes two already-gated pipelines
    * (the s8/m7 discipline) so the oracle checks the COMPOSITION.
    */
  def m10SampleAdmission(spark: SparkSession, dir: String): DataFrame =
    mediaFeaturesAsset(spark, dir)
      .join(graft.queries.Ingest.p4QualityFilter(spark, dir)
        .select(col("doc_id"), col("keep").as("admitted")), Seq("doc_id"))
      .select(col("doc_id"), col("media_type"), col("width"), col("height"),
        col("admitted"),
        (col("width") >= 8 && col("height") >= 8).as("dims_ok"))
      .withColumn("keep", col("admitted") && col("dims_ok"))
      .orderBy(col("doc_id"))
      .limit(2000)

  /** Every gated entry runs under a [[graft.queries.QueryScope.scoped]]
    * cache scope: held intermediates park at scope exit and die at the
    * next gated call or `QueryScope.releaseAll()` (r15 cache hygiene).
    */
  val all: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.QueryScope.scopedAll(raw)
}
