package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column plumbing.
  *
  * Media travel as opaque `binary` columns with a typed metadata struct —
  * the lakehouse-standard shape (mirrors Spark's own `image` schema and
  * parquet BYTE_ARRAY storage). Decode / feature-extraction runs
  * per-partition in batches via `mapPartitions` behind the pluggable
  * [[MediaCodec]] boundary: [[ImageIoCodec]] is a REAL decoder (JDK
  * `javax.imageio`, PNG/JPEG/BMP/GIF — no external codec libs needed);
  * [[StubCodec]] is the deterministic fake for formats this container
  * can't decode (audio/video), preserving batch shape, schema and
  * partitioning so the plumbing is exercised either way.
  *
  * Scale notes: binary blobs never participate in shuffles here — metadata
  * extraction projects the blob away before any wide operation; frame
  * sampling emits (id, frame_no, feature) rows sized by the sampler, not
  * the source bytes. Partition sizing for 100 TB of media = keep
  * `maxPartitionBytes` at parquet-row-group granularity; blobs stay
  * columnar until the mapPartitions boundary.
  */
object Multimodal {

  /** The canonical media column group: blob + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),      // image|audio|video
    StructField("bytes", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("sample_rate", IntegerType, nullable = true),
      StructField("n_frames", IntegerType, nullable = true),
      StructField("mime", StringType, nullable = true)
    )), nullable = true)
  ))

  /** Synthesize a media table from any source table: deterministic fake
    * blobs (sha-derived) so plumbing tests have real bytes to move.
    */
  def synthesize(src: DataFrame, idCol: String): DataFrame =
    src.select(
      col(idCol).cast("long").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col(idCol).cast("long"), lit(3)) + 1).cast("int")).as("kind"),
      unbase64(base64(sha2(col(idCol).cast("string"), 256).cast("binary"))).as("bytes"),
      struct(
        (pmod(col(idCol).cast("long"), lit(4)) * 160 + 320).cast("int").as("width"),
        (pmod(col(idCol).cast("long"), lit(4)) * 90 + 180).cast("int").as("height"),
        lit(16000).as("sample_rate"),
        (pmod(col(idCol).cast("long"), lit(8)) + 1).cast("int").as("n_frames"),
        lit("application/octet-stream").as("mime")
      ).as("meta"))

  /** Fan the 8-byte id stream out to the session's full parallelism
    * before per-row CODEC work: media encode costs ~1 ms/clip (r20
    * probe: 5 GIF frames ≈ 1.0 ms), and a small source — one parquet
    * split — would otherwise run the whole synth+codec chain on ONE
    * core (measured r20: q176 6.2 → 1.6 s at sf0.1/32 cores from this
    * alone). Hash-partitioned on the id, so the spread is deterministic
    * under task retry (guide §2.5 — never round-robin on rows that a
    * retry could re-draw); the shuffled rows are bare longs, so the
    * exchange is negligible at any scale — unlike repartitioning a
    * corpus-bytes table, which would be a 100 TB scale-killer.
    */
  private def fanOutIds(src: DataFrame, idCol: String): DataFrame = {
    val n = src.sparkSession.sparkContext.defaultParallelism
    src.select(col(idCol).cast("long").as("id")).repartition(n, col("id"))
  }

  /** Synthesize REAL image media: one solid-color PNG per source row,
    * dimensions and fill color pure functions of the id (width =
    * id%4·16+32, height = id%3·16+32, RGB = (id, 7id, 13id) mod 256).
    * Encoding runs batched per partition through the JDK PNG writer, so
    * a decode of these bytes only reproduces the formulas if the codec
    * genuinely parses the container — which is exactly what the q32
    * oracle verifies.
    */
  def synthesizeImages(src: DataFrame, idCol: String): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(mediaSchema)
    fanOutIds(src, idCol).mapPartitions { rows =>
      ImageIoCodec.disableDiskCache()
      rows.map { r =>
        val id = r.getLong(0)
        val w = ((id % 4) * 16 + 32).toInt
        val h = ((id % 3) * 16 + 32).toInt
        val rgb = (((id % 256) << 16) | (((id * 7) % 256) << 8) | ((id * 13) % 256)).toInt
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        img.setRGB(0, 0, w, h, Array.fill(w * h)(rgb), 0, w)
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        Row(id, "image", bos.toByteArray,
          Row(w, h, null, Integer.valueOf(1), "image/png"))
      }
    }(enc)
  }

  /** Synthesize REAL audio media: one PCM-16 mono WAV per source row,
    * duration/rate/samples pure functions of the id (n = id%4·160+320
    * samples, rate = 8000 + id%3·4000 Hz, sample t = (31·id + 7919·t)
    * mod 65536 − 32768 — integer formulas, so the oracle can replay the
    * expected stats in SQL). Encoding runs batched per partition through
    * the JDK WAV writer (`javax.sound.sampled` — ships with every JVM);
    * a decode of these bytes only reproduces the formulas if the codec
    * genuinely parses the RIFF container, which is exactly what the
    * q150 oracle verifies (the [[synthesizeImages]] move for audio).
    */
  def synthesizeAudio(src: DataFrame, idCol: String): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(mediaSchema)
    fanOutIds(src, idCol).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val n = ((id % 4) * 160 + 320).toInt
        val rate = (8000 + (id % 3) * 4000).toInt
        val pcm = new Array[Byte](n * 2)
        var t = 0
        while (t < n) {
          val s = ((id * 31L + t * 7919L) % 65536L).toInt - 32768
          pcm(2 * t) = (s & 0xff).toByte          // little-endian PCM_SIGNED
          pcm(2 * t + 1) = ((s >> 8) & 0xff).toByte
          t += 1
        }
        // Direct RIFF writer, not AudioSystem.write: the JDK path costs
        // ~0.17 ms/clip of provider machinery AND is globally
        // serialized — the r20 thread probe measured it scaling
        // NEGATIVELY (0.84 s → 1.11 s from 1 → 32 threads), so the id
        // fan-out made q150 3× SLOWER until this write joined q175's
        // RIFF path. writeWavPcm16 emits the same canonical 44-byte
        // container (WavRoundTripSpec pins it against the JDK reader).
        // meta.n_frames = 1: a WAV clip is ONE frame-sampling unit — the
        // PCM sample count is payload-level ground truth surfaced by
        // decodeAudioMeta.n_samples, NOT a frame notion (n here would
        // make frameFeatures emit one full-clip re-decode per SAMPLE)
        Row(id, "audio", writeWavPcm16(rate, pcm),
          Row(null, null, Integer.valueOf(rate), Integer.valueOf(1),
            "audio/wav"))
      }
    }(enc)
  }

  /** Synthesize REAL video-like media: one multi-frame animated GIF per
    * source row (the JDK ImageIO sequence writer — a genuine container
    * with n image descriptors), frame count and per-frame fill colors
    * pure integer functions of (id, frame): n = id%6+2 frames, frame f
    * fills RGB = ((id+17f)%256, (7id+29f)%256, (13id+41f)%256) at the
    * q32 dims. Solid-color frames survive GIF's palette quantization
    * exactly, so a decode reproduces the formulas ONLY if the codec
    * truly reads frame f out of the container — per-frame color
    * variation makes "always decode frame 0" fail the oracle.
    */
  def synthesizeVideos(src: DataFrame, idCol: String): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(mediaSchema)
    fanOutIds(src, idCol).mapPartitions { rows =>
      ImageIoCodec.disableDiskCache()
      // ONE writer per task, reset between clips: the per-clip
      // getImageWritersBySuffix registry walk + createImageOutputStream
      // SPI lookup were ~20% of the ~1 ms/clip encode (r20 probe) — the
      // q175 AudioSystem lesson, smaller dose. Identical bytes out.
      val writer = javax.imageio.ImageIO.getImageWritersBySuffix("gif").next()
      rows.map { r =>
        val id = r.getLong(0)
        val w = ((id % 4) * 16 + 32).toInt
        val h = ((id % 3) * 16 + 32).toInt
        val nf = ((id % 6) + 2).toInt
        val bos = new java.io.ByteArrayOutputStream()
        val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
        try {
          writer.setOutput(ios)
          writer.prepareWriteSequence(null)
          var f = 0
          while (f < nf) {
            val rgb = ((((id + 17 * f) % 256) << 16) |
              (((id * 7 + 29 * f) % 256) << 8) |
              ((id * 13 + 41 * f) % 256)).toInt
            val img = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
            img.setRGB(0, 0, w, h, Array.fill(w * h)(rgb), 0, w)
            writer.writeToSequence(
              new javax.imageio.IIOImage(img, null, null), null)
            f += 1
          }
          writer.endWriteSequence()
        } finally { writer.reset(); ios.close() }
        Row(id, "video", bos.toByteArray,
          Row(w, h, null, Integer.valueOf(nf), "image/gif"))
      }
    }(enc)
  }

  /** Synthesize a NEAR-DUP image corpus: real 32×32 PNGs over an 8×8
    * block pattern, grouped so the expected perceptual-hash pair set is
    * a pure formula (the [[synthesizeImages]] oracle move, aimed at
    * image DEDUP instead of metadata). Per source id: g = id/4 names
    * the group, m = id%4 the member. The group's 64 base bits come from
    * md5(g) hex (bit i = nibble-MSB-first; bits 0 and 63 pinned to 0/1
    * so every image has both tones and the mean threshold can never
    * degenerate), block i (row i/8, col i%8) fills gray 224 when the
    * bit is set else 32, each block = 4×4 solid pixels with R=G=B.
    *   m=0  base image;
    *   m=1  +5 uniform brightness — different BYTES, hash-identical
    *        (the re-encode/re-expose twin: a uniform shift preserves
    *        every pixel-vs-mean comparison);
    *   m=2  bits 1, 17, 42 flipped — Hamming exactly 3 from base (the
    *        small-edit twin);
    *   m=3  bits from md5(g:alt) — an unrelated image (expected ~32
    *        bits away, never inside a ≤3 threshold).
    * A decode only reproduces these formulas if the codec genuinely
    * parses the PNG, so the q171 oracle certifies decode + hash + band
    * join + component decision end-to-end.
    */
  def synthesizeNearDupImages(src: DataFrame, idCol: String): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(mediaSchema)
    fanOutIds(src, idCol).mapPartitions { rows =>
      ImageIoCodec.disableDiskCache()
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        val id = r.getLong(0)
        val g = id / 4; val m = id % 4
        val key = if (m == 3) s"$g:alt" else g.toString
        val hex = md.digest(key.getBytes("UTF-8"))
          .take(8).map(b => f"${b & 0xff}%02x").mkString
        def bit(i: Int): Int = {
          if (i == 0) return 0
          if (i == 63) return 1
          val nib = Integer.parseInt(hex.substring(i / 4, i / 4 + 1), 16)
          val raw = (nib >> (3 - (i % 4))) & 1
          if (m == 2 && (i == 1 || i == 17 || i == 42)) 1 - raw else raw
        }
        val bump = if (m == 1) 5 else 0
        val img = new java.awt.image.BufferedImage(
          32, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var i = 0
        while (i < 64) {
          val gray = (if (bit(i) == 1) 224 else 32) + bump
          val rgb = (gray << 16) | (gray << 8) | gray
          img.setRGB((i % 8) * 4, (i / 8) * 4, 4, 4, Array.fill(16)(rgb), 0, 4)
          i += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        Row(id, "image", bos.toByteArray,
          Row(Integer.valueOf(32), Integer.valueOf(32), null,
            Integer.valueOf(1), "image/png"))
      }
    }(enc)
  }

  /** Exact `a*b > c*d` for NONNEGATIVE longs, compared as full 128-bit
    * products (`Math.multiplyHigh` + unsigned low-word compare). The
    * perceptual hashes' cross-product tests overflow a plain Long once
    * the clip is big enough — `sums(w)*n` passes 2^63 at ~1.3e8 audio
    * samples (≈25 min of 44.1 kHz stereo) or ~1.5e9 pixels — and a
    * silent wrap would flip fingerprint bits with no error. 128-bit
    * compare makes the bit exact at any input size.
    */
  private[graft] def prodGt(a: Long, b: Long, c: Long, d: Long): Boolean = {
    val h1 = java.lang.Math.multiplyHigh(a, b)
    val h2 = java.lang.Math.multiplyHigh(c, d)
    if (h1 != h2) h1 > h2
    else java.lang.Long.compareUnsigned(a * b, c * d) > 0
  }

  /** Average-hash (aHash — the public perceptual-hash textbook
    * construction): downsample the grayscale raster to an 8×8 grid by
    * exact block averaging, bit i = cell i's mean is strictly above the
    * global mean. All comparisons are EXACT integer cross-products
    * (cellSum·N > totalSum·cellCount — no float mean, no rounding), so
    * the hash replays bit-for-bit in any engine. Cell (r,c) covers pixel
    * rows [⌊r·h/8⌋, ⌊(r+1)·h/8⌋) × cols [⌊c·w/8⌋, ⌊(c+1)·w/8⌋); images
    * smaller than 8×8 produce empty cells, which hash as 0 bits.
    */
  def aHash64(w: Int, h: Int, gray: Array[Int]): Long = {
    val sums = new Array[Long](64)
    val counts = new Array[Long](64)
    var y = 0
    while (y < h) {
      val r = y * 8 / h
      var x = 0
      while (x < w) {
        val i = r * 8 + (x * 8 / w)
        sums(i) += gray(y * w + x)
        counts(i) += 1
        x += 1
      }
      y += 1
    }
    var total = 0L
    var i = 0
    while (i < 64) { total += sums(i); i += 1 }
    val n = w.toLong * h
    var hash = 0L
    i = 0
    while (i < 64) {
      if (counts(i) > 0 && prodGt(sums(i), n, total, counts(i))) hash |= (1L << i)
      i += 1
    }
    hash
  }

  /** Perceptual hash per image row: decode the raster through `codec`,
    * emit the 64-bit [[aHash64]] plus its four 16-bit band values (the
    * engine-portable face — packing bit 63 into a signed 64-bit value
    * is fine for Spark/Java but overflows engines without a u64, so the
    * bands travel alongside for oracles and cross-system handoff).
    * Non-image kinds and undecodable payloads surface with NULL hash
    * (routed, not dropped — the [[decodeMeta]] contract). One
    * mapPartitions batch; the blob never leaves the partition; output
    * is 5 numeric columns per image, shuffle-friendly at any corpus
    * size.
    */
  def perceptualHash(media: DataFrame, codec: MediaCodec): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("phash", LongType, nullable = true),
      StructField("b0", LongType, nullable = true),
      StructField("b1", LongType, nullable = true),
      StructField("b2", LongType, nullable = true),
      StructField("b3", LongType, nullable = true)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    media.select("media_id", "kind", "bytes").mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val kind = if (r.isNullAt(1)) null else r.getString(1)
        val bytes = if (r.isNullAt(2)) null else r.getAs[Array[Byte]](2)
        val dec = if (kind == "image") codec.decodeGrayPixels(bytes) else None
        dec match {
          case Some((w, h, gray)) =>
            val hsh = aHash64(w, h, gray)
            Row(id, java.lang.Long.valueOf(hsh),
              java.lang.Long.valueOf((hsh >>> 0) & 0xffffL),
              java.lang.Long.valueOf((hsh >>> 16) & 0xffffL),
              java.lang.Long.valueOf((hsh >>> 32) & 0xffffL),
              java.lang.Long.valueOf((hsh >>> 48) & 0xffffL))
          case None => Row(id, null, null, null, null, null)
        }
      }
    }(enc)
  }

  /** Canonical PCM-16 mono little-endian WAV container around a raw PCM
    * payload — the 44-byte RIFF/fmt/data header every WAV reader (and
    * the JDK's own writer) produces for this format. Byte-level writer
    * because `javax.sound.sampled.AudioSystem` costs ~2–3 ms of
    * provider/stream machinery PER CLIP (measured: q175's first cut
    * spent 937 s at 100× almost entirely inside it; the RIFF path is
    * microseconds) — at 5 M clips per increment the registry is the
    * operator. WavRoundTripSpec pins this writer against the JDK reader
    * and [[AudioWavCodec.decodePcm]] against the JDK writer, so the two
    * implementations certify each other.
    */
  def writeWavPcm16(rate: Int, pcm: Array[Byte]): Array[Byte] = {
    val n = pcm.length
    val bb = java.nio.ByteBuffer.allocate(44 + n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + n)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1.toShort)            // PCM
      .putShort(1.toShort)            // mono
      .putInt(rate)
      .putInt(rate * 2)               // byte rate
      .putShort(2.toShort)            // block align
      .putShort(16.toShort)           // bits per sample
      .put("data".getBytes("US-ASCII")).putInt(n)
      .put(pcm)
    bb.array()
  }

  /** Synthesize a NEAR-DUP audio corpus — the [[synthesizeNearDupImages]]
    * move for audio: real PCM-16 WAVs whose 64-window energy envelope is
    * a pure formula of the id, grouped so the expected fingerprint pair
    * set is closed-form. Per source id: g = id/4, m = id%4; the group's
    * 64 envelope bits come from md5("a:g") hex (bits 0/63 pinned 0/1),
    * window w carries a ±A square wave with A = 12000 when the bit is
    * set else 1000 (32 samples per window, 2048 total, 16 kHz).
    *   m=0  base clip;
    *   m=1  ×5/4 uniform gain (A = 15000/1250) — different BYTES,
    *        fingerprint-identical (loudness normalization preserves
    *        every window-vs-mean energy comparison exactly);
    *   m=2  windows 2, 23, 55 flipped — Hamming exactly 3;
    *   m=3  bits from md5("a:g:alt") — an unrelated clip.
    * A decode only reproduces these formulas if the codec genuinely
    * parses the RIFF container and returns the true waveform.
    */
  def synthesizeNearDupAudio(src: DataFrame, idCol: String): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(mediaSchema)
    fanOutIds(src, idCol).mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        val id = r.getLong(0)
        val g = id / 4; val m = id % 4
        val key = if (m == 3) s"a:$g:alt" else s"a:$g"
        val hex = md.digest(key.getBytes("UTF-8"))
          .take(8).map(b => f"${b & 0xff}%02x").mkString
        def bit(w: Int): Int = {
          if (w == 0) return 0
          if (w == 63) return 1
          val nib = Integer.parseInt(hex.substring(w / 4, w / 4 + 1), 16)
          val raw = (nib >> (3 - (w % 4))) & 1
          if (m == 2 && (w == 2 || w == 23 || w == 55)) 1 - raw else raw
        }
        val gain = m == 1
        val pcm = new Array[Byte](2048 * 2)
        var w = 0
        while (w < 64) {
          val a0 = if (bit(w) == 1) 12000 else 1000
          val a = if (gain) a0 * 5 / 4 else a0
          var t = 0
          while (t < 32) {
            val s = if (t % 2 == 0) a else -a
            val idx = (w * 32 + t) * 2
            pcm(idx) = (s & 0xff).toByte
            pcm(idx + 1) = ((s >> 8) & 0xff).toByte
            t += 1
          }
          w += 1
        }
        Row(id, "audio", writeWavPcm16(16000, pcm),
          Row(null, null, Integer.valueOf(16000), Integer.valueOf(1),
            "audio/wav"))
      }
    }(enc)
  }

  /** 64-bit energy-envelope audio fingerprint: split the waveform into
    * 64 equal-span windows, bit w = window w's |amplitude| sum is
    * strictly above its share of the total — the [[aHash64]] move in
    * the time domain (the public energy-envelope / haitsma-kalker-class
    * construction reduced to its exact-integer core). All comparisons
    * are exact cross-products (windowSum·N > total·windowLen); uniform
    * gain changes scale both sides equally, so loudness-normalized
    * re-encodes hash identically.
    */
  def audioFingerprint64(samples: Array[Int]): Long = {
    val n = samples.length
    if (n == 0) return 0L
    val sums = new Array[Long](64)
    val counts = new Array[Long](64)
    var i = 0
    while (i < n) {
      val w = (i.toLong * 64 / n).toInt
      sums(w) += math.abs(samples(i))
      counts(w) += 1
      i += 1
    }
    var total = 0L
    var w = 0
    while (w < 64) { total += sums(w); w += 1 }
    var hash = 0L
    w = 0
    while (w < 64) {
      if (counts(w) > 0 && prodGt(sums(w), n, total, counts(w))) hash |= (1L << w)
      w += 1
    }
    hash
  }

  /** Audio fingerprint per media row: decode the waveform through
    * `codec`, emit the 64-bit [[audioFingerprint64]] in the SAME
    * (media_id, phash, b0..b3) shape as [[perceptualHash]] — the
    * signature column is modality-agnostic downstream, so
    * [[phashDedup]] (banding, components, keep-min) applies unchanged.
    * Non-audio kinds and undecodable payloads surface with NULL hash.
    */
  def audioFingerprint(media: DataFrame, codec: MediaCodec): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("phash", LongType, nullable = true),
      StructField("b0", LongType, nullable = true),
      StructField("b1", LongType, nullable = true),
      StructField("b2", LongType, nullable = true),
      StructField("b3", LongType, nullable = true)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    media.select("media_id", "kind", "bytes").mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val kind = if (r.isNullAt(1)) null else r.getString(1)
        val bytes = if (r.isNullAt(2)) null else r.getAs[Array[Byte]](2)
        val dec = if (kind == "audio") codec.decodePcm(bytes) else None
        dec match {
          case Some((_, _, samples)) =>
            val hsh = audioFingerprint64(samples)
            Row(id, java.lang.Long.valueOf(hsh),
              java.lang.Long.valueOf((hsh >>> 0) & 0xffffL),
              java.lang.Long.valueOf((hsh >>> 16) & 0xffffL),
              java.lang.Long.valueOf((hsh >>> 32) & 0xffffL),
              java.lang.Long.valueOf((hsh >>> 48) & 0xffffL))
          case None => Row(id, null, null, null, null, null)
        }
      }
    }(enc)
  }

  /** Synthesize a NEAR-DUP video corpus — the [[synthesizeNearDupImages]]
    * move for multi-frame containers: real 5-frame animated GIFs (32×32,
    * 8×8 blocks of 4×4 solid gray pixels) whose per-frame block patterns
    * are pure formulas of the id, built so the EVEN-frame majority fold
    * is closed-form. Per source id: g = id/4, m = id%4; the group's 64
    * member bits come from md5("v:g") hex (m=3: md5("v:g:alt"); bits
    * 0/63 pinned 0/1; m=2 flips bits 3, 29, 47 in EVERY frame).
    * Frame f's pattern:
    *   f ∈ {0,2,4} (the everyNth=2 SAMPLE) — member bits with ONE extra
    *     noise-bit flip per frame (f=0→bit 5, f=2→bit 21, f=4→bit 40):
    *     each noise bit is flipped in exactly 1 of the 3 sampled frames,
    *     so the strict-majority fold recovers the member bits EXACTLY
    *     while every frame's raster (and hash) differs — "hash frame 0
    *     only" fails the oracle;
    *   f ∈ {1,3} (unsampled) — the INVERTED member bits: a decoy that
    *     corrupts the majority if the operator samples the wrong frames.
    * Members (the q171 group structure): m=0 base; m=1 +5 uniform
    * brightness on every frame (different bytes, signature-identical);
    * m=2 Hamming exactly 3; m=3 unrelated.
    */
  def synthesizeNearDupVideos(src: DataFrame, idCol: String): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(mediaSchema)
    fanOutIds(src, idCol).mapPartitions { rows =>
      ImageIoCodec.disableDiskCache()
      val md = java.security.MessageDigest.getInstance("MD5")
      // one writer per task, reset per clip — see synthesizeVideos
      val writer = javax.imageio.ImageIO.getImageWritersBySuffix("gif").next()
      rows.map { r =>
        val id = r.getLong(0)
        val g = id / 4; val m = id % 4
        val key = if (m == 3) s"v:$g:alt" else s"v:$g"
        val hex = md.digest(key.getBytes("UTF-8"))
          .take(8).map(b => f"${b & 0xff}%02x").mkString
        def memberBit(i: Int): Int = {
          if (i == 0) return 0
          if (i == 63) return 1
          val nib = Integer.parseInt(hex.substring(i / 4, i / 4 + 1), 16)
          val raw = (nib >> (3 - (i % 4))) & 1
          if (m == 2 && (i == 3 || i == 29 || i == 47)) 1 - raw else raw
        }
        val noiseBit = Map(0 -> 5, 2 -> 21, 4 -> 40)
        val bump = if (m == 1) 5 else 0
        val bos = new java.io.ByteArrayOutputStream()
        val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
        try {
          writer.setOutput(ios)
          writer.prepareWriteSequence(null)
          var f = 0
          while (f < 5) {
            val img = new java.awt.image.BufferedImage(
              32, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
            var i = 0
            while (i < 64) {
              val b0 = memberBit(i)
              val b =
                if (f % 2 == 0) { if (noiseBit(f) == i) 1 - b0 else b0 }
                else 1 - b0
              val gray = (if (b == 1) 224 else 32) + bump
              val rgb = (gray << 16) | (gray << 8) | gray
              img.setRGB((i % 8) * 4, (i / 8) * 4, 4, 4, Array.fill(16)(rgb), 0, 4)
              i += 1
            }
            writer.writeToSequence(
              new javax.imageio.IIOImage(img, null, null), null)
            f += 1
          }
          writer.endWriteSequence()
        } finally { writer.reset(); ios.close() }
        Row(id, "video", bos.toByteArray,
          Row(Integer.valueOf(32), Integer.valueOf(32), null,
            Integer.valueOf(5), "image/gif"))
      }
    }(enc)
  }

  /** Per-CLIP perceptual signature for multi-frame media: decode the
    * sampled frames' gray rasters through `codec` (ONE container open
    * per clip — the [[frameFeatures]] batch contract), hash each frame
    * with [[aHash64]], and fold the per-frame hashes into one 64-bit
    * clip signature by STRICT bit majority (bit i set iff more than
    * half of the decoded sampled frames set it; ties → 0, so the fold
    * is deterministic at any frame count). A re-encoded / uniformly
    * re-exposed / container-rewritten clip keeps every frame hash and
    * hence the fold; a clip sharing most frames lands within a small
    * Hamming distance — exactly the signature-space contract
    * [[NearDup.signaturePairs]] and [[phashDedup]] already serve for
    * images (q171) and audio (q175), so the whole dedup chain downstream
    * is unchanged. Output shape = [[perceptualHash]]: (media_id, phash,
    * b0..b3); non-video kinds, undecodable containers, and clips with NO
    * decodable sampled frame surface with NULL signature (routed, never
    * dropped). Blobs never leave the partition.
    *
    * Scale: one linear decode pass per clip, 5 numeric columns out —
    * the pair/CC stages downstream see signatures only. Sampling stride
    * `everyNth` bounds decode cost per clip exactly like
    * [[frameFeatures]].
    */
  def videoSignature(media: DataFrame, codec: MediaCodec,
                     everyNth: Int = 2): DataFrame = {
    require(everyNth >= 1, s"videoSignature needs everyNth >= 1, got $everyNth")
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("phash", LongType, nullable = true),
      StructField("b0", LongType, nullable = true),
      StructField("b1", LongType, nullable = true),
      StructField("b2", LongType, nullable = true),
      StructField("b3", LongType, nullable = true)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    media.select("media_id", "kind", "bytes", "meta.n_frames")
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val kind = if (r.isNullAt(1)) null else r.getString(1)
          val bytes = if (r.isNullAt(2)) null else r.getAs[Array[Byte]](2)
          val nFrames = if (r.isNullAt(3)) 0 else r.getInt(3)
          val frameHashes: Array[Long] =
            if (kind != "video" || bytes == null || nFrames <= 0) Array.emptyLongArray
            else codec.decodeGrayFrames(bytes, 0 until nFrames by everyNth)
              .collect { case (_, Some((w, h, gray))) => aHash64(w, h, gray) }
              .toArray
          if (frameHashes.isEmpty) Row(id, null, null, null, null, null)
          else {
            val nf = frameHashes.length
            var hsh = 0L
            var i = 0
            while (i < 64) {
              var c = 0
              var j = 0
              while (j < nf) {
                if (((frameHashes(j) >>> i) & 1L) == 1L) c += 1
                j += 1
              }
              if (2 * c > nf) hsh |= (1L << i)
              i += 1
            }
            Row(id, java.lang.Long.valueOf(hsh),
              java.lang.Long.valueOf((hsh >>> 0) & 0xffffL),
              java.lang.Long.valueOf((hsh >>> 16) & 0xffffL),
              java.lang.Long.valueOf((hsh >>> 32) & 0xffffL),
              java.lang.Long.valueOf((hsh >>> 48) & 0xffffL))
          }
        }
      }(enc)
  }

  /** Perceptual-hash image DEDUP decision: [[perceptualHash]] output →
    * one row per image with its four hash bands, its near-dup component
    * label, and the keep flag (component minimum wins — the q51/q70
    * decision shape pointed at images). The pair stage is
    * [[NearDup.signaturePairs]] over DISTINCT hashes (collapse-first:
    * exact-hash groups — re-encodes, brightness twins — never expand
    * into per-instance pair streams), the grouping is
    * [[Dedup.connectedComponents]] over representative pairs only, and
    * members inherit their representative's label: since a
    * representative is its group's MINIMUM id, the component minimum
    * over representatives IS the component minimum over members, so the
    * inherited label equals what member-level CC would produce.
    * Images with NULL hash (undecodable, non-image kinds) keep their own
    * id as component — routed, not dropped.
    *
    * Scale: blobs are gone before this stage (5 numeric columns per
    * image); blocking is banded (zero cartesian); CC runs on the
    * collapsed representative graph; the confirm threshold sits inside
    * the banding guarantee so recall is EXACT (all pairs at Hamming
    * <= maxDist, no more, no fewer — the blocking scheme is purely a
    * cost optimization).
    */
  def phashDedup(hashes: DataFrame, maxDist: Int = 3): DataFrame = {
    // Land the signature frame ONCE before fanning out: `sigs` feeds the
    // group table, the banding self-join AND the final label join, and
    // upstream sits the real per-clip codec decode (mapPartitions — opaque
    // to Catalyst, so no subtree reuse). Without the cut the decode chain
    // is replicated per reference and runs ~6× per execution (measured
    // r20: q176 15.7 s → one-decode plan; 6 longs/clip is the cheapest
    // thing in the pipeline to materialize, blobs stay upstream).
    val sigs = hashes.select(col("media_id").as("id"), col("phash").as("sig"),
      col("b0"), col("b1"), col("b2"), col("b3"))
      .transform(graft.plans.Iterative.cutSized)
    val groups = sigs.filter(col("sig").isNotNull)
      .groupBy("sig").agg(min("id").as("rid"))
    val pairs = graft.operators.NearDup.signaturePairs(
      sigs, "id", "sig", maxDist, collapseExact = true)
    val comps = graft.operators.Dedup.connectedComponents(
      pairs.select("id_a", "id_b"), "id_a", "id_b")
      .withColumnRenamed("id", "rid")
    sigs.join(groups, Seq("sig"), "left")
      .join(comps, Seq("rid"), "left")
      .select(col("id").as("media_id"), col("b0"), col("b1"), col("b2"), col("b3"),
        coalesce(col("comp"), col("rid"), col("id")).as("comp"))
      .withColumn("keep", col("media_id") === col("comp"))
  }

  /** DECODED audio metadata: parse each audio row's WAV container
    * through `codec` and emit the measured rate/width/length and
    * integer amplitude stats — ground truth from the bytes (the
    * [[decodeMeta]] analog). Non-audio kinds and undecodable payloads
    * surface with NULL measurements (routed, not dropped). One
    * mapPartitions batch; the blob never leaves the partition.
    */
  def decodeAudioMeta(media: DataFrame, codec: MediaCodec): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("kind", StringType, nullable = true),
      StructField("sample_rate", IntegerType, nullable = true),
      StructField("channels", IntegerType, nullable = true),
      StructField("bits", IntegerType, nullable = true),
      StructField("n_samples", LongType, nullable = true),
      StructField("mean_abs", LongType, nullable = true),
      StructField("peak", IntegerType, nullable = true)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    media.select("media_id", "kind", "bytes").mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val kind = if (r.isNullAt(1)) null else r.getString(1)
        val bytes = if (r.isNullAt(2)) null else r.getAs[Array[Byte]](2)
        val dec = if (kind == "audio") codec.decodeAudio(bytes) else None
        dec match {
          case Some(a) => Row(id, kind, Integer.valueOf(a.sampleRate),
            Integer.valueOf(a.channels), Integer.valueOf(a.bits),
            java.lang.Long.valueOf(a.nSamples),
            java.lang.Long.valueOf(a.meanAbs), Integer.valueOf(a.peak))
          case None => Row(id, kind, null, null, null, null, null, null)
        }
      }
    }(enc)
  }

  /** Blob-free metadata projection (what a catalog scan should read —
    * column pruning keeps the bytes on disk).
    */
  def metadataOnly(media: DataFrame): DataFrame =
    media.select(col("media_id"), col("kind"),
      length(col("bytes")).as("n_bytes"),
      col("meta.width"), col("meta.height"), col("meta.sample_rate"),
      col("meta.n_frames"), col("meta.mime"))

  /** DECODED metadata: parse each image row's container through `codec`
    * and emit the measured width/height and mean channel values —
    * ground truth from the bytes themselves, where [[metadataOnly]]
    * merely projects the declared struct. Non-image kinds and
    * undecodable payloads surface with NULL measurements (routed, not
    * dropped — a corrupt blob in 100 TB of media must be countable).
    * One mapPartitions batch; the blob never leaves the partition.
    */
  def decodeMeta(media: DataFrame, codec: MediaCodec): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("kind", StringType, nullable = true),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("mean_r", IntegerType, nullable = true),
      StructField("mean_g", IntegerType, nullable = true),
      StructField("mean_b", IntegerType, nullable = true)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    media.select("media_id", "kind", "bytes").mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val kind = if (r.isNullAt(1)) null else r.getString(1)
        val bytes = if (r.isNullAt(2)) null else r.getAs[Array[Byte]](2)
        val dec = if (kind == "image") codec.decodeImage(bytes) else None
        dec match {
          case Some(d) => Row(id, kind, Integer.valueOf(d.width),
            Integer.valueOf(d.height), Integer.valueOf(d.meanR),
            Integer.valueOf(d.meanG), Integer.valueOf(d.meanB))
          case None => Row(id, kind, null, null, null, null, null)
        }
      }
    }(enc)
  }

  /** Resize: fit image/video media into a target box, keeping the
    * metadata struct honest (aspect-preserving scaled width/height; audio
    * rows pass through untouched). The pixel resample itself is stubbed
    * as a deterministic content hash — a real codec would swap in a
    * mapPartitions batch exactly like [[frameFeatures]]; everything else
    * (schema, conditional routing by kind, metadata math) is real.
    */
  def resize(media: DataFrame, maxW: Int, maxH: Int): DataFrame = {
    val scale = least(
      lit(maxW.toDouble) / col("meta.width"),
      lit(maxH.toDouble) / col("meta.height"), lit(1.0))
    // resizable = image/video WITH usable dimensions: a NULL meta (or a
    // zero width/height, whose division nulls out `scale`) must pass the
    // row through untouched — resizing would otherwise propagate NULL
    // into `bytes` and silently destroy the payload
    val resizable = col("kind").isin("image", "video") &&
      col("meta.width") > 0 && col("meta.height") > 0
    // target dims are computed ONCE against the ORIGINAL meta (as temp
    // columns) before meta is replaced — referencing meta.width in a later
    // withColumn would silently re-evaluate against the resized struct
    media
      .withColumn("__w", (col("meta.width") * scale).cast("int"))
      .withColumn("__h", (col("meta.height") * scale).cast("int"))
      .withColumn("bytes",
        when(resizable,
          udfFreeResizeBytes(col("bytes"), col("__w"), col("__h"))).otherwise(col("bytes")))
      .withColumn("meta",
        when(resizable, struct(
          col("__w").as("width"), col("__h").as("height"),
          col("meta.sample_rate"), col("meta.n_frames"), col("meta.mime")))
          .otherwise(col("meta")))
      .drop("__w", "__h")
  }

  /** Deterministic stand-in for the pixel resample: real systems hand the
    * byte batch to a codec here; the stub derives bytes from (payload,
    * target box) so plumbing tests see size/metadata effects.
    */
  private def udfFreeResizeBytes(bytes: org.apache.spark.sql.Column,
                                 w: org.apache.spark.sql.Column,
                                 h: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    unbase64(base64(sha2(concat(base64(bytes), w.cast("string"), h.cast("string")), 256).cast("binary")))

  /** Frame-sample features: one row per sampled frame per media item,
    * batched per partition through `codec` (default [[StubCodec]] — video
    * containers have no JDK decoder; swap a real codec in production).
    */
  def frameFeatures(media: DataFrame, everyNth: Int,
                    codec: MediaCodec = StubCodec): DataFrame = {
    // API-boundary guard: 0 would throw 'step cannot be 0' per-row deep
    // inside mapPartitions, and a negative stride silently samples nothing
    require(everyNth >= 1, s"frameFeatures needs everyNth >= 1, got $everyNth")
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_no", IntegerType, nullable = false),
      StructField("feature", ArrayType(FloatType), nullable = true)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    media.select("media_id", "bytes", "meta.n_frames")
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          val bytes = if (r.isNullAt(1)) Array.emptyByteArray else r.getAs[Array[Byte]](1)
          val nFrames = if (r.isNullAt(2)) 0 else r.getInt(2)
          // the BATCH codec entry: container-seeking codecs open the clip
          // once for all sampled frames instead of once per frame
          codec.decodeFrames(bytes, 0 until nFrames by everyNth)
            .map { case (f, feat) => Row(id, f, feat) }
        }
      }(enc)
  }
}

/** One decoded image: container header dims + integer mean per channel
  * (exact for solid-color test images; floor-of-mean otherwise).
  */
case class DecodedImage(width: Int, height: Int, meanR: Int, meanG: Int, meanB: Int)

/** The decode kernel boundary. Implementations run INSIDE mapPartitions
  * batches (must be Serializable); they see raw bytes and nothing else,
  * so swapping a production codec (libjpeg/ffmpeg via JNI, a Pandas-UDF
  * sidecar, …) never touches the Spark-side plumbing.
  */
trait MediaCodec extends Serializable {
  /** Parse an image container; None when the bytes aren't decodable. */
  def decodeImage(bytes: Array[Byte]): Option[DecodedImage]
  /** Frame-level feature vector for video/audio sampling. */
  def decodeFrame(bytes: Array[Byte], frame: Int): Array[Float]
  /** Parse an audio container; None when the bytes aren't decodable.
    * Default None so image-only codecs stay source-compatible.
    */
  def decodeAudio(bytes: Array[Byte]): Option[DecodedAudio] = None
  /** Full grayscale raster of an image container: (width, height,
    * row-major gray values) where gray = (R + G + B) / 3 per pixel
    * (integer floor). The perceptual-hash entry point — hashing needs
    * pixels, not just channel means. Default None so feature-only
    * codecs stay source-compatible; a sidecar codec for foreign formats
    * implements this to join the image-dedup family.
    */
  def decodeGrayPixels(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] = None
  /** Raw PCM samples of an audio container: (sampleRate, channels,
    * interleaved sample values). The audio-fingerprint entry point —
    * fingerprinting needs the waveform, not just clip-level stats.
    * Default None; a sidecar codec implements this to join the
    * audio-dedup family.
    */
  def decodePcm(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] = None
  /** Batch decode: features for the given frame indexes of ONE container,
    * one (frame, feature) pair per requested index IN ORDER, null feature
    * for out-of-range/corrupt frames (the [[decodeFrame]] contract).
    * Default loops [[decodeFrame]] — source-compatible for stateless
    * codecs; container-seeking codecs override it to open the container
    * ONCE per clip instead of once per sampled frame.
    */
  def decodeFrames(bytes: Array[Byte],
                   frames: Seq[Int]): Iterator[(Int, Array[Float])] =
    frames.iterator.map(f => (f, decodeFrame(bytes, f)))
  /** Batch GRAY-RASTER decode: (width, height, row-major gray values)
    * for the given frame indexes of ONE container — [[decodeGrayPixels]]
    * at frame granularity, the perceptual-hash entry point for
    * multi-frame media. One pair per requested index IN ORDER, None for
    * out-of-range/corrupt frames (one bad frame never fails the clip).
    * Default None-for-all so feature-only codecs stay source-compatible;
    * container-seeking codecs override it to open the container ONCE
    * per clip (the [[decodeFrames]] contract).
    */
  def decodeGrayFrames(bytes: Array[Byte], frames: Seq[Int])
      : Iterator[(Int, Option[(Int, Int, Array[Int])])] =
    frames.iterator.map(f => (f, None))
}

/** One decoded audio clip: container header format + integer amplitude
  * stats over every sample (mean_abs = floor of the |sample| mean — the
  * integer-mean discipline of [[DecodedImage]]'s channel means).
  */
case class DecodedAudio(sampleRate: Int, channels: Int, bits: Int,
                        nSamples: Long, meanAbs: Long, peak: Int)

/** REAL image decode via the JDK's `javax.imageio` (PNG/JPEG/BMP/GIF —
  * ships with every JVM, no container dependency). Mean channel values
  * are computed over every pixel, so the result is ground truth from the
  * payload, not the declared metadata. Corrupt/unknown bytes → None.
  *
  * Registry-overhead probe (r20, the q171 follow-up to q175's
  * AudioSystem lesson): a full ImageIO PNG decode measures ~65–130 µs
  * per small clip, of which reader/stream creation is only ~20% and the
  * raw IDAT inflate floor is ~30% — nothing like AudioSystem's ~98%
  * provider-machinery share (2–3 ms/clip). A hand-rolled PNG walk would
  * buy ≤2–3×, not the audio path's 90×, at the price of a second
  * filter/palette decoder to certify — not taken; ImageIO stays the
  * image decode path.
  */
object ImageIoCodec extends MediaCodec {

  /** ImageIO defaults to DISK-backed stream caches — a temp-file write
    * and read around every encode/decode, which measured ~30× slower on
    * small images AND churned the whole shared JVM (the q32 bench
    * regression). In-container media work is always byte-array-sized, so
    * every codec entry point routes through the in-memory cache. The
    * setting is JVM-global and idempotent; nothing here relies on the
    * disk cache.
    */
  def disableDiskCache(): Unit = javax.imageio.ImageIO.setUseCache(false)

  def decodeImage(bytes: Array[Byte]): Option[DecodedImage] =
    if (bytes == null || bytes.isEmpty) None
    else scala.util.Try {
      disableDiskCache()
      Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
    }.toOption.flatten.map { img =>
      val w = img.getWidth; val h = img.getHeight
      // ONE bulk color-converted grab, not w×h getRGB calls (each pays a
      // color-model dispatch; the bulk call converts the scanline batch)
      val px = img.getRGB(0, 0, w, h, null, 0, w)
      var sr = 0L; var sg = 0L; var sb = 0L
      var i = 0
      while (i < px.length) {
        val p = px(i)
        sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
        i += 1
      }
      val n = w.toLong * h
      DecodedImage(w, h, (sr / n).toInt, (sg / n).toInt, (sb / n).toInt)
    }

  /** Frame feature from the decoded image itself: dims + channel means
    * (+ the frame index) — pixel-derived, unlike the stub.
    */
  def decodeFrame(bytes: Array[Byte], frame: Int): Array[Float] =
    decodeImage(bytes) match {
      case Some(d) => Array(d.width.toFloat, d.height.toFloat,
        d.meanR / 255.0f, d.meanG / 255.0f, d.meanB / 255.0f, frame.toFloat)
      case None => null
    }

  override def decodeGrayPixels(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
    if (bytes == null || bytes.isEmpty) None
    else scala.util.Try {
      disableDiskCache()
      Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
    }.toOption.flatten.map { img =>
      val w = img.getWidth; val h = img.getHeight
      val px = img.getRGB(0, 0, w, h, null, 0, w)
      val gray = new Array[Int](px.length)
      var i = 0
      while (i < px.length) {
        val p = px(i)
        gray(i) = (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)) / 3
        i += 1
      }
      (w, h, gray)
    }
}

/** REAL audio decode via the JDK's `javax.sound.sampled` (WAV/AIFF/AU —
  * ships with every JVM, no container dependency). Amplitude stats walk
  * every decoded PCM-16 sample, so the result is ground truth from the
  * payload, not the declared metadata (the [[ImageIoCodec]] move for
  * audio). Corrupt/unknown bytes, or PCM the stats walk can't interpret
  * (non-16-bit, big-endian), → None.
  */
object AudioWavCodec extends MediaCodec {
  def decodeImage(bytes: Array[Byte]): Option[DecodedImage] = None

  override def decodeAudio(bytes: Array[Byte]): Option[DecodedAudio] =
    if (bytes == null || bytes.isEmpty) None
    else decodeAudioRiff(bytes).orElse(decodeAudioJdk(bytes))

  /** Fast path for the overwhelmingly common container: the certified
    * direct RIFF walk ([[decodePcm]] — WavRoundTripSpec pins it against
    * JDK-written containers), stats folded with the same arithmetic as
    * the AudioSystem form below. Two reasons it leads: the provider
    * registry costs ~0.1–3 ms/clip, and `AudioSystem` is globally
    * SERIALIZED — the r20 thread probe measured it scaling negatively
    * (0.84 → 1.11 s, 1 → 32 threads), so after the synthesis id fan-out
    * it was the new bottleneck. Anything the walk declines (AIFF/AU,
    * extensible formats, malformed chunks) falls back to the JDK path
    * and behaves exactly as before.
    */
  private def decodeAudioRiff(bytes: Array[Byte]): Option[DecodedAudio] =
    decodePcm(bytes).flatMap { case (rate, channels, samples) =>
      val total = samples.length
      if (total == 0) None
      else {
        var sumAbs = 0L
        var peak = 0
        var i = 0
        while (i < total) {
          val a = math.abs(samples(i))
          sumAbs += a
          if (a > peak) peak = a
          i += 1
        }
        Some(DecodedAudio(rate, channels, 16,
          (total / channels).toLong, sumAbs / total, peak))
      }
    }

  private def decodeAudioJdk(bytes: Array[Byte]): Option[DecodedAudio] =
    scala.util.Try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val f = ais.getFormat
        val ok = f.getEncoding ==
          javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
          f.getSampleSizeInBits == 16 && !f.isBigEndian
        if (!ok) None
        else {
          val pcm = ais.readAllBytes()
          val n = pcm.length / (2 * f.getChannels)
          var sumAbs = 0L
          var peak = 0
          var i = 0
          while (i + 1 < pcm.length) {
            val s = ((pcm(i) & 0xff) | (pcm(i + 1) << 8)).toShort.toInt
            val a = math.abs(s)
            sumAbs += a
            if (a > peak) peak = a
            i += 2
          }
          val total = pcm.length / 2 // per-sample stats across channels
          if (total == 0) None
          else Some(DecodedAudio(f.getSampleRate.toInt, f.getChannels, 16,
            n.toLong, sumAbs / total, peak))
        }
      } finally ais.close()
    }.toOption.flatten

  /** Frame feature from the decoded clip: format + normalized amplitude
    * stats (+ the frame index) — payload-derived, unlike the stub.
    */
  def decodeFrame(bytes: Array[Byte], frame: Int): Array[Float] =
    decodeAudio(bytes) match {
      case Some(a) => Array(a.sampleRate.toFloat, a.nSamples.toFloat,
        a.meanAbs / 32768.0f, a.peak / 32768.0f, frame.toFloat)
      case None => null
    }

  /** Direct RIFF chunk walk, NOT `AudioSystem`: the JDK's provider
    * registry + stream plumbing costs ~2–3 ms PER CLIP (measured — it
    * dominated q175's first-cut 937 s at 100×), which at crawl scale
    * makes the service lookup the operator. The container parse itself
    * is the public 3-chunk RIFF/fmt/data walk; only PCM-16 LE is
    * accepted (None otherwise — same contract as the AudioSystem form).
    * WavRoundTripSpec pins this parser against JDK-WRITTEN containers
    * (and [[Multimodal.writeWavPcm16]] against the JDK reader), so the
    * fast path can never drift from the reference implementation.
    */
  override def decodePcm(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
    if (bytes == null || bytes.length < 44) None
    else scala.util.Try {
      val bb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def tag4(at: Int): String =
        new String(bytes, at, 4, "US-ASCII")
      if (tag4(0) != "RIFF" || tag4(8) != "WAVE") None
      else {
        var pos = 12
        var rate = 0; var channels = 0; var fmtOk = false
        var data: Option[(Int, Int)] = None // (offset, len)
        while (pos + 8 <= bytes.length && (data.isEmpty || !fmtOk)) {
          val tag = tag4(pos)
          val len = bb.getInt(pos + 4)
          if (len < 0 || pos + 8 + len > bytes.length) { pos = bytes.length }
          else {
            if (tag == "fmt " && len >= 16) {
              val audioFormat = bb.getShort(pos + 8).toInt
              channels = bb.getShort(pos + 10).toInt
              rate = bb.getInt(pos + 12)
              val bits = bb.getShort(pos + 22).toInt
              fmtOk = audioFormat == 1 && bits == 16 && channels >= 1
            } else if (tag == "data") {
              data = Some((pos + 8, len))
            }
            pos += 8 + len + (len & 1) // chunks are word-aligned
          }
        }
        data match {
          case Some((off, len)) if fmtOk =>
            val n = len / 2
            val out = new Array[Int](n)
            var i = 0
            while (i < n) {
              out(i) = bb.getShort(off + 2 * i).toInt
              i += 1
            }
            Some((rate, channels, out))
          case _ => None
        }
      }
    }.toOption.flatten
}

/** REAL multi-frame decode via the JDK's ImageIO GIF reader: seeks frame
  * `frame` INSIDE the container (getNumImages counts the image
  * descriptors; read(frame) decodes that frame's raster) and returns the
  * [[ImageIoCodec]]-shaped feature — dims + per-channel means + the frame
  * index. The last genuinely-decodable "video" seam the JDK offers;
  * formats needing external codecs (mp4/webm) stay behind [[StubCodec]]
  * as the documented swap point. Out-of-range frames and corrupt bytes →
  * null (routed, not thrown — the [[Multimodal.frameFeatures]] contract).
  *
  * [[decodeFrames]] is the hot entry point: ONE reader + ONE descriptor
  * scan per clip, then one raster decode per sampled frame — linear in
  * frames, where per-frame [[decodeFrame]] calls re-open the container
  * each time (O(frames²)-ish raster work; kept only as the stateless
  * single-frame fallback).
  *
  * Contract note: ImageIO's `read(frame)` decodes each frame's raster
  * WITHOUT compositing GIF disposal methods — frames using partial or
  * restore-previous disposal decode as their own raster only. Exact for
  * full-frame-replacement GIFs (all the synthesized corpora here); a
  * disposal-compositing decoder is an external-codec swap like mp4.
  */
object GifFrameCodec extends MediaCodec {
  def decodeImage(bytes: Array[Byte]): Option[DecodedImage] = None

  private def features(img: java.awt.image.BufferedImage, frame: Int): Array[Float] = {
    val w = img.getWidth; val h = img.getHeight
    val px = img.getRGB(0, 0, w, h, null, 0, w)
    var sr = 0L; var sg = 0L; var sb = 0L
    var i = 0
    while (i < px.length) {
      val p = px(i)
      sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
      i += 1
    }
    val n = w.toLong * h
    Array(w.toFloat, h.toFloat, (sr / n).toFloat / 255.0f,
      (sg / n).toFloat / 255.0f, (sb / n).toFloat / 255.0f, frame.toFloat)
  }

  def decodeFrame(bytes: Array[Byte], frame: Int): Array[Float] =
    if (frame < 0) null
    else decodeFrames(bytes, Seq(frame)).next()._2

  override def decodeFrames(bytes: Array[Byte],
                            frames: Seq[Int]): Iterator[(Int, Array[Float])] = {
    if (bytes == null || bytes.isEmpty)
      return frames.iterator.map(f => (f, null: Array[Float]))
    val decoded: Map[Int, Array[Float]] = scala.util.Try {
      ImageIoCodec.disableDiskCache()
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) { iis.close(); Map.empty[Int, Array[Float]] }
      else {
        val reader = readers.next()
        try {
          reader.setInput(iis)
          val n = reader.getNumImages(true) // ONE descriptor scan per clip
          frames.iterator
            .filter(f => f >= 0 && f < n)
            .map(f => f -> scala.util.Try(features(reader.read(f), f))
              .getOrElse(null: Array[Float])) // one bad frame ≠ a bad clip
            .toMap
        } finally { reader.dispose(); iis.close() }
      }
    }.getOrElse(Map.empty)
    frames.iterator.map(f => (f, decoded.getOrElse(f, null)))
  }

  /** Gray rasters at frame granularity: the same one-reader-per-clip
    * seek walk as [[decodeFrames]], yielding the [[MediaCodec.decodeGrayPixels]]
    * gray conversion ((R+G+B)/3 integer floor) per sampled frame — the
    * per-frame perceptual-hash feed for video dedup.
    */
  override def decodeGrayFrames(bytes: Array[Byte], frames: Seq[Int])
      : Iterator[(Int, Option[(Int, Int, Array[Int])])] = {
    if (bytes == null || bytes.isEmpty)
      return frames.iterator.map(f => (f, None))
    val decoded: Map[Int, (Int, Int, Array[Int])] = scala.util.Try {
      ImageIoCodec.disableDiskCache()
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) { iis.close(); Map.empty[Int, (Int, Int, Array[Int])] }
      else {
        val reader = readers.next()
        try {
          reader.setInput(iis)
          val n = reader.getNumImages(true) // ONE descriptor scan per clip
          frames.iterator
            .filter(f => f >= 0 && f < n)
            .flatMap { f =>
              scala.util.Try {
                val img = reader.read(f)
                val w = img.getWidth; val h = img.getHeight
                val px = img.getRGB(0, 0, w, h, null, 0, w)
                val gray = new Array[Int](px.length)
                var i = 0
                while (i < px.length) {
                  val p = px(i)
                  gray(i) = (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)) / 3
                  i += 1
                }
                f -> ((w, h, gray))
              }.toOption // one bad frame ≠ a bad clip
            }.toMap
        } finally { reader.dispose(); iis.close() }
      }
    }.getOrElse(Map.empty)
    frames.iterator.map(f => (f, decoded.get(f)))
  }
}

/** Deterministic fake for formats with no in-container decoder
  * (mp4/webm-class video — no JDK decoder exists): derives an 8-dim
  * feature from the bytes — same signature, same batch shape, honest
  * plumbing; the documented swap point for an external-codec sidecar.
  *
  * The swap contract is no longer assertion-by-docs: ExternalCodecSpec
  * drives `frameFeatures`/`decodeMeta` through a codec for a synthetic
  * container no JDK decoder knows ("FKV1") and pins that format,
  * per-frame payloads, the one-open-per-clip batch shape, out-of-range
  * null features, and corrupt-input row survival all carry through the
  * boundary — any sidecar honoring [[MediaCodec]] gets the same
  * guarantees.
  */
object StubCodec extends MediaCodec {
  def decodeImage(bytes: Array[Byte]): Option[DecodedImage] = None
  def decodeFrame(bytes: Array[Byte], frame: Int): Array[Float] = {
    val h = java.util.Arrays.hashCode(bytes) * 31 + frame
    Array.tabulate(8)(i => ((h >>> (i * 4)) & 0xff).toFloat / 255.0f)
  }
}
