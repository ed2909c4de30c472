package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column plumbing.
  *
  * Media are opaque `binary` columns with typed metadata — the Spark
  * side (schema, partitioning, batch shape, lineage) is real and
  * tested. IMAGE decode/resize are REAL (JDK-built-in `javax.imageio`
  * — PNG/JPEG/GIF/BMP) and AUDIO metadata decode is REAL (JDK-built-in
  * `javax.sound.sampled` — WAV/AIFF/AU header parse → sample rate,
  * channels, duration), both with zero external libraries. Only the
  * VIDEO kernel is a STUB (no video codec exists in the JDK or this
  * container): `decodeStub` derives deterministic fake dimensions/
  * features from the md5 of the payload, so tests are reproducible and
  * the stub is trivially swappable for a real codec (same signature,
  * per-partition batching already in place). Payloads that fail to
  * parse also fall back to the stub rather than failing the partition
  * — a 100 TB corpus always contains corrupt bytes.
  *
  * 100 TB design notes:
  *  - payloads stay in executor space end-to-end (no driver collect);
  *  - decode/feature-extract run via `mapPartitions` so a real codec
  *    amortizes per-batch init (model load, JNI) across the partition —
  *    the same batching contract as Arrow-based UDFs;
  *  - metadata columns (kind/width/duration) are plain columns →
  *    predicate pushdown and partition pruning still apply to scans
  *    that filter before decoding;
  *  - frame sampling emits (media_id, frame_no) keys first and decodes
  *    after, so the shuffle moves keys, not pixels.
  */
object Multimodal {

  /** A media row: opaque payload + typed metadata. */
  case class MediaRow(media_id: Long, kind: String, bytes: Array[Byte],
      source: String)

  /** Decoded metadata. width/height are image/video dimensions (0 for
    * audio); sample_rate/channels are audio properties (0 for image/
    * video and for stub rows). */
  case class DecodedMeta(media_id: Long, kind: String, n_bytes: Long,
      width: Int, height: Int, duration_ms: Long,
      sample_rate: Int = 0, channels: Int = 0)

  /** Pluggable VIDEO codec — the one kernel this container cannot
    * implement for real (no video codec exists in the JDK). A real
    * deployment implements this pair against its native library
    * (JavaCV/FFmpeg, a JNI wrapper, …) and passes the provider to
    * [[decode]]; everything else — schema, per-partition batching,
    * corrupt-row fallback, executor-side payloads — is already the
    * production shape and covered by MultimodalSpec with a fake codec.
    *
    * Lifecycle contract: the PROVIDER is the small serializable handle
    * shipped in the task closure; `open()` runs ONCE PER PARTITION
    * (amortizing JNI/model init over the partition's rows, the same
    * contract as the digest instances above) and the returned codec is
    * `close()`d when the partition's iterator is exhausted. A codec
    * instance is only ever used by one partition-task thread. */
  trait VideoCodec extends java.io.Closeable {
    /** Container/stream metadata for one payload; None when the bytes
      * are not parseable video (the caller falls back to the stub —
      * one corrupt row must never kill a partition). */
    def decode(mediaId: Long, bytes: Array[Byte]): Option[DecodedMeta]
    override def close(): Unit = ()
  }

  /** Serializable per-partition factory for [[VideoCodec]]. */
  trait VideoCodecProvider extends Serializable {
    def open(): VideoCodec
  }

  /** Deterministic fake "decode": header fields derived from the
    * payload hash (digest instance supplied per partition). REPLACE
    * with a real codec per `kind` — the per-partition batching below
    * is the production shape. */
  private def decodeStub(md: java.security.MessageDigest, id: Long,
      kind: String, bytes: Array[Byte]): DecodedMeta = {
    md.reset()
    val h = md.digest(bytes)
    def u(i: Int): Int = h(i) & 0xff
    DecodedMeta(id, kind, bytes.length.toLong,
      width = 16 * (1 + u(0) % 240),
      height = 16 * (1 + u(1) % 135),
      duration_ms = if (kind == "image") 0L else 1000L * (1 + u(2)))
  }

  /** Real image METADATA decode via the JDK's ImageIO reader plugins;
    * None when the payload is not a parseable image (corrupt bytes, or
    * not an image at all — no registered reader claims the format
    * sniff). Header parse only (r19, guide §1.2 "per-task work"):
    * width/height come from the format header (PNG IHDR, JPEG SOF,
    * GIF logical screen, BMP info header), so the decoder reads
    * O(header) bytes — `ImageReader.getWidth/getHeight` — and the
    * pixel data is never inflated, exactly the contract [[decodeAudio]]
    * has always had (frame-length header parse, samples never
    * decoded). The previous `ImageIO.read` form paid a full O(pixels)
    * decode (plus a hidden per-row temp-FILE-backed input cache —
    * `ImageIO.read(InputStream)` wraps the stream in a
    * FileCacheImageInputStream by default) to answer a two-field
    * metadata question; on real corpora (megapixel payloads) that is
    * the difference between reading ~40 bytes and decompressing the
    * whole image. The stream here is an explicit
    * MemoryCacheImageInputStream, so no temp file is ever created.
    * Semantics note: a payload with a VALID header but corrupt pixel
    * data now yields its header metadata instead of the stub — the
    * same behavior the audio path has always had for corrupt sample
    * data (header truth is the metadata contract; MultimodalSpec pins
    * it). Caveat for formats whose header carries no checksum (the BMP
    * class): garbage bytes that happen to start with the format's magic
    * number can report arbitrary dimensions here, where a full decode
    * would have failed to the stub. Declared corpora never hold such
    * payloads; on real corrupt corpora, treat the dimensions of rows
    * that `resize` stubs as untrusted. NonFatal, not just IOException:
    * the JDK plugin readers throw IllegalArgumentException / index
    * errors on malformed headers that pass the format sniff — one such
    * row must not kill the partition. */
  private def decodeImage(id: Long, bytes: Array[Byte]): Option[DecodedMeta] =
    try {
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val r = readers.next()
          try {
            r.setInput(iis, true, true) // seekForwardOnly, ignoreMetadata
            val w = r.getWidth(0)
            val h = r.getHeight(0)
            if (w <= 0 || h <= 0) None
            else Some(DecodedMeta(id, "image", bytes.length.toLong,
              width = w, height = h, duration_ms = 0L))
          } finally r.dispose()
        }
      } finally iis.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Real audio metadata decode via the JDK's `javax.sound.sampled`
    * (WAV/AIFF/AU — the formats the built-in providers parse). Header
    * parse only: sample rate, channel count, and duration from the
    * frame length — the payload's sample data is never decoded, so the
    * per-row cost is O(header), not O(bytes). None on unparseable
    * payloads (UnsupportedAudioFileException and friends are NonFatal)
    * or streams with unknown frame length. */
  private def decodeAudio(id: Long, bytes: Array[Byte]): Option[DecodedMeta] =
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = ais.getFormat
        val frames = ais.getFrameLength
        if (frames < 0 || fmt.getFrameRate <= 0) None
        else Some(DecodedMeta(id, "audio", bytes.length.toLong,
          width = 0, height = 0,
          duration_ms = math.round(frames * 1000.0 / fmt.getFrameRate),
          sample_rate = math.round(fmt.getSampleRate),
          channels = fmt.getChannels))
      } finally ais.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Decode a media Dataset to metadata rows; one codec init per
    * partition (the `it =>` closure), streaming through rows. Images
    * (ImageIO → true width/height) and audio (javax.sound header parse
    * → true rate/channels/duration) decode for real; video decodes
    * through `videoCodec` when one is supplied (opened once per
    * partition, closed at iterator exhaustion) and falls back to the
    * stub otherwise — as do unparseable payloads of any kind. */
  def decode(media: Dataset[MediaRow],
      videoCodec: Option[VideoCodecProvider] = None): Dataset[DecodedMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val codec = videoCodec.map(_.open()) // once per partition
      // close on TASK COMPLETION, not iterator exhaustion: a
      // partially-consumed partition (limit/take stops pulling early)
      // or a failed-and-retried task never drains the iterator, and
      // the executor JVM survives both — without the listener each
      // such task would leak one native codec handle per partition.
      // The listener fires on every task end (success, failure, or
      // kill); outside a task (plain-iterator unit tests) fall back
      // to close-on-exhaustion below.
      val closeOnce = {
        val closed = new java.util.concurrent.atomic.AtomicBoolean(false)
        () => if (closed.compareAndSet(false, true)) codec.foreach(_.close())
      }
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => closeOnce()))
      val out = it.map { m =>
        val real = m.kind match {
          case "image" => decodeImage(m.media_id, m.bytes)
          case "audio" => decodeAudio(m.media_id, m.bytes)
          case "video" => codec.flatMap(c =>
            try c.decode(m.media_id, m.bytes)
            catch { case scala.util.control.NonFatal(_) => None })
          case _       => None
        }
        real.getOrElse(decodeStub(md, m.media_id, m.kind, m.bytes))
      }
      new Iterator[DecodedMeta] {
        override def hasNext: Boolean = {
          val h = out.hasNext
          if (!h) closeOnce()
          h
        }
        override def next(): DecodedMeta = out.next()
      }
    }
  }

  /** Stub feature extractor: 8-dim deterministic pseudo-embedding from
    * the payload hash (swap for a real model; batch shape identical). */
  def extractFeatures(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5") // per partition
      it.map { m =>
        md.reset()
        val h = md.digest(m.bytes)
        (m.media_id, h.take(8).map(b => (b & 0xff) / 255.0f))
      }
    }.toDF("media_id", "features")
  }

  /** Resize: REAL for parseable images (AWT bilinear scale, re-encoded
    * as PNG — headless-safe, no display needed), digest-stub for
    * audio/video and corrupt payloads. Emits the target dimensions plus
    * a digest of the resized bytes; resized payloads stay in executor
    * space (metadata-only schema downstream — the production shape).
    * Resizing needs the full pixel decode, so a row `decode()` reports
    * as a real image (from its header alone) may still fall back to the
    * stub here when its pixel data is unreadable: the two paths need
    * not agree on such a row. */
  def resize(media: Dataset[MediaRow], width: Int, height: Int): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // one digest instance per partition, reset per row (the JCA
      // provider lookup is the hot-path cost, same as MinHashAgg)
      val h = java.security.MessageDigest.getInstance("MD5")
      it.map { m =>
        val realPng: Option[Array[Byte]] =
          if (m.kind != "image") None
          else try {
            Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(m.bytes))).map { img =>
              val out = new java.awt.image.BufferedImage(
                width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
              val g = out.createGraphics()
              g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
                java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
              g.drawImage(img, 0, 0, width, height, null)
              g.dispose()
              val baos = new java.io.ByteArrayOutputStream()
              javax.imageio.ImageIO.write(out, "png", baos)
              baos.toByteArray
            }
            // NonFatal: malformed payloads throw runtime exceptions from
            // the JDK decoders, not just IOException (see decodeImage)
          } catch { case scala.util.control.NonFatal(_) => None }
        h.reset()
        realPng match {
          case Some(png) => h.update(png)
          case None =>
            h.update(m.bytes)
            h.update(s":$width:$height".getBytes("UTF-8"))
        }
        val digest = h.digest().map(b => f"$b%02x").mkString
        (m.media_id, m.kind, width, height, digest)
      }
    }.toDF("media_id", "kind", "width", "height", "resized_digest")
  }

  /** Frame-sample plan for video rows: one row per sampled frame
    * (every `everyMs`). Emits keys only — decode joins in later, so
    * the explode shuffles (media_id, frame_no), never the payload. */
  def sampleFrames(decoded: Dataset[DecodedMeta], everyMs: Long): DataFrame = {
    val d = decoded.toDF()
    d.filter(col("duration_ms") > 0)
      .select(col("media_id"),
        explode(sequence(lit(0L), col("duration_ms") - 1, lit(everyMs))).as("frame_ms"))
  }

  /** A real PCM WAV payload (16-bit mono, little-endian) with
    * deterministic sample data — genuine input for [[decodeAudio]].
    * Executor-safe: built from JDK classes only. */
  def wavBytes(durationMs: Int, sampleRate: Int = 8000, seed: Long = 0L): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(sampleRate.toFloat, 16, 1, true, false)
    val nFrames = sampleRate.toLong * durationMs / 1000
    val data = Array.tabulate[Byte]((nFrames * 2).toInt)(j => ((seed * 131 + j * 17) % 251).toByte)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, nFrames)
    val baos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
    baos.toByteArray
  }

  /** A real PNG payload (RGB, deterministic pixel fill) — genuine
    * input for [[decodeImage]], built from JDK classes only
    * (ImageIO's PNG encoder; headless-safe). Executor-safe. */
  def pngBytes(width: Int, height: Int, seed: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        img.setRGB(x, y,
          java.lang.Math.floorMod(seed * 31 + x * 7 + y * 13, 0xFFFFFF).toInt)
        x += 1
      }
      y += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** Synthetic media table for tests/demos: deterministic payloads.
    * Audio rows carry REAL WAV bytes (so the decode path is exercised
    * end-to-end); image/video rows carry opaque bytes that exercise
    * the corrupt-payload stub fallback. */
  def syntheticMedia(spark: SparkSession, n: Int): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n.toLong).as[Long].map { i =>
      val kind = if (i % 3 == 0) "image" else if (i % 3 == 1) "audio" else "video"
      val bytes =
        if (kind == "audio") wavBytes(100 + (i % 10).toInt * 50, seed = i)
        else Array.tabulate[Byte](64 + (i % 64).toInt)(j => ((i * 131 + j * 17) % 251).toByte)
      MediaRow(i, kind, bytes, s"src${i % 5}")
    }
  }
}
