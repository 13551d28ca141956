package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata structs.
  *
  * The IMAGE and WAV paths are REAL codecs — the JDK ships them
  * (javax.imageio: PNG/JPEG/BMP/GIF; javax.sound.sampled: WAV/PCM),
  * so decode, resize and header inspection below run genuine byte
  * parsing with zero external dependencies. VIDEO gets container
  * metadata only ([[parseMp4Meta]]): the JDK has no video codec, so
  * frame decode and sampling need ffmpeg on the cluster.
  *
  * Scale shape: codecs run as per-row UDFs inside the scan stage —
  * map-side only, no shuffle; pair with `partitionForPayload` so a
  * partition of payloads fits executor memory.
  */
object Multimodal {

  /** Decoded image header: codec name + dimensions. */
  case class ImageMeta(format: String, width: Int, height: Int)

  /** Decoded WAV header: PCM parameters + duration. */
  case class WavMeta(sample_rate: Int, channels: Int, bits: Int,
      frames: Long, duration_s: Double)

  /** Canonical media schema: raw bytes + source metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image|audio|video
    StructField("bytes", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("mime", StringType, nullable = true),
      StructField("source_url", StringType, nullable = true))),
      nullable = true)))

  /** Build a media table from any table with an id + payload-ish
    * column (here we derive deterministic fake bytes from text —
    * STUB standing in for real downloaded media). */
  def syntheticMedia(df: DataFrame, idCol: String,
      seedCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("media_id"),
      (when(pmod(col(idCol), lit(3)) === 0, "image")
        .when(pmod(col(idCol), lit(3)) === 1, "audio")
        .otherwise("video")).as("kind"),
      // STUB: deterministic fake payload (sha2 of the seed as bytes)
      to_binary(sha2(col(seedCol).cast("string"), 256), lit("hex"))
        .as("bytes"),
      struct(lit("application/octet-stream").as("mime"),
        concat(lit("synthetic://"), col(idCol)).as("source_url"))
        .as("meta"))

  /** REAL image header decode via javax.imageio: identifies the
    * codec and reads dimensions from the header WITHOUT decoding
    * pixels (ImageReader.getWidth/getHeight are metadata reads).
    * Returns null for null/unparseable bytes. */
  def decodeImage(bytes: Column): Column = {
    val f = udf((b: Array[Byte]) => {
      if (b == null) None
      else {
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(b))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) None
          else {
            val r = readers.next()
            try {
              r.setInput(iis)
              Some(ImageMeta(r.getFormatName.toLowerCase,
                r.getWidth(0), r.getHeight(0)))
            } finally r.dispose()
          }
        } catch { case _: Exception => None } finally iis.close()
      }
    })
    f(bytes)
  }

  /** REAL image resize: decode, scale into a `maxSide` bounding box
    * preserving aspect ratio (never upscale), re-encode as PNG.
    * Null in / undecodable in → null out. Per-row map work — no
    * shuffle; runs headless (BufferedImage needs no display). */
  def resizeImage(bytes: Column, maxSide: Int): Column = {
    val f = udf((b: Array[Byte]) => {
      if (b == null) None
      else try {
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(b))
        if (img == null) None
        else {
          val w = img.getWidth; val h = img.getHeight
          val scale = math.min(maxSide.toDouble / math.max(w, h), 1.0)
          val nw = math.max(1, math.round(w * scale).toInt)
          val nh = math.max(1, math.round(h * scale).toInt)
          val out = new java.awt.image.BufferedImage(nw, nh,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = out.createGraphics()
          try g.drawImage(img, 0, 0, nw, nh, null) finally g.dispose()
          val baos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(out, "png", baos)
          Some(baos.toByteArray)
        }
      } catch { case _: Exception => None }
    })
    f(bytes)
  }

  /** REAL WAV header decode via javax.sound.sampled: PCM format
    * parameters and exact duration. Null/unparseable → null. */
  def decodeWav(bytes: Column): Column = {
    val f = udf((b: Array[Byte]) => {
      if (b == null) None
      else try {
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(b))
        try {
          val fmt = ais.getFormat
          val frames = ais.getFrameLength
          Some(WavMeta(fmt.getSampleRate.toInt, fmt.getChannels,
            fmt.getSampleSizeInBits, frames,
            frames.toDouble / fmt.getSampleRate))
        } finally ais.close()
      } catch { case _: Exception => None }
    })
    f(bytes)
  }

  /** Deterministic PNG payload generator (REAL encoder): a w×h RGB
    * image whose pixels are a fixed function of position — used to
    * materialize genuine media bytes from tabular test data. */
  def encodePng(width: Column, height: Column): Column = {
    val f = udf((w: Int, h: Int) => {
      val img = new java.awt.image.BufferedImage(math.max(1, w),
        math.max(1, h), java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          img.setRGB(x, y, ((x * 31 + y * 17) & 0xffffff))
          x += 1
        }
        y += 1
      }
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    })
    f(width, height)
  }

  /** Deterministic BLOCK-CONSTANT PNG generator (REAL encoder) — the
    * oracle-exact sibling of [[encodePng]]: a side×side RGB image
    * (side floored to a multiple of 8, min 8) painted as the 8×8
    * grid of constant-color blocks aHash partitions it into, colors
    * a modular function of (imgId, block index). Because every
    * pixel of an aHash block shares one color, the kernel's block
    * means are INTEGERS (exact in IEEE doubles) and the global
    * threshold is an exact /64 shift, so `imageAHash` of these bytes
    * equals the closed-form bit test `64·luma_blk > Σ luma` — pure
    * integer arithmetic any engine replays bit-for-bit (gate q508
    * oracles the whole encode→decode→hash path this way; q396 keeps
    * the mixed-pixel path under its invariance specs). */
  def encodePngBlocks(imgId: Column, side: Column): Column = {
    val f = udf((id: Long, side0: Int) => {
      val side = math.max(8, side0 - side0 % 8)
      val bs = side / 8
      val img = new java.awt.image.BufferedImage(side, side,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < side) {
        var x = 0
        while (x < side) {
          val blk = (y / bs) * 8 + (x / bs)
          val r = ((id * 13 + blk * 7) % 256).toInt
          val g = ((id * 29 + blk * 11) % 256).toInt
          val b = ((id * 5 + blk * 3) % 256).toInt
          img.setRGB(x, y, (r << 16) | (g << 8) | b)
          x += 1
        }
        y += 1
      }
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    })
    f(imgId, side)
  }

  /** Deterministic WAV payload generator (REAL encoder): mono 16-bit
    * PCM of `frames` samples of a position-derived waveform. */
  def encodeWav(sampleRate: Column, frames: Column): Column = {
    val f = udf((rate: Int, n0: Int) => {
      val n = math.max(0, n0)
      val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1,
        true, false)
      val pcm = new Array[Byte](n * 2)
      var i = 0
      while (i < n) {
        val v = ((i * 2731) % 65536 - 32768).toShort
        pcm(2 * i) = (v & 0xff).toByte
        pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
        i += 1
      }
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
      val baos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
      baos.toByteArray
    })
    f(sampleRate, frames)
  }

  /** 64-bit perceptual average-hash (aHash) of REAL image bytes —
    * the standard near-duplicate-image fingerprint for training-data
    * dedup: decode (javax.imageio), integer luma
    * (299r + 587g + 114b), 8×8 floor-partitioned block means, one
    * bit per block (mean > global mean of the 64 block means),
    * row-major bit order. All pixel arithmetic is integer sums in a
    * fixed loop order, so the hash is a pure function of the pixel
    * content — identical across executors, runs and re-encodes of
    * the same pixels (PNG↔BMP invariance is spec'd). Null or
    * undecodable bytes → null. Per-row map work, no shuffle. */
  def imageAHash(bytes: Column): Column = {
    val f = udf((b: Array[Byte]) => {
      if (b == null) None
      else try {
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(b))
        if (img == null) None
        else {
          val w = img.getWidth; val h = img.getHeight
          val sums = Array.ofDim[Long](8, 8)
          val cnts = Array.ofDim[Long](8, 8)
          var y = 0
          while (y < h) {
            val by = (y.toLong * 8 / h).toInt
            var x = 0
            while (x < w) {
              val bx = (x.toLong * 8 / w).toInt
              val rgb = img.getRGB(x, y)
              val gray = 299L * ((rgb >> 16) & 0xff) +
                587L * ((rgb >> 8) & 0xff) + 114L * (rgb & 0xff)
              sums(by)(bx) += gray
              cnts(by)(bx) += 1
              x += 1
            }
            y += 1
          }
          val means = Array.ofDim[Double](64)
          var i = 0
          while (i < 64) {
            val c = cnts(i / 8)(i % 8)
            means(i) = if (c == 0) 0.0 else sums(i / 8)(i % 8).toDouble / c
            i += 1
          }
          var tot = 0.0
          i = 0
          while (i < 64) { tot += means(i); i += 1 }
          val thr = tot / 64
          var hash = 0L
          i = 0
          while (i < 64) {
            if (means(i) > thr) hash |= (1L << (63 - i))
            i += 1
          }
          Some(hash)
        }
      } catch { case _: Exception => None }
    })
    f(bytes)
  }

  /** Near-duplicate image candidate pairs by banding the 64-bit
    * aHash into 8 bands of 8 bits (the simhash pigeonhole shape:
    * pairs within `maxHamming` ≤ 7 bit flips share at least one
    * untouched band, so banding loses NO qualifying pair); the band
    * bucket groupBy is the only shuffle, verification is
    * bit_count(xor) on the joined rows, and `maxBucket` caps
    * degenerate buckets (flat-color corpora) exactly like the text
    * dedup family. Emits (l/r ids, hashes, hamming). */
  def imageNearDupPairs(df: DataFrame, idCol: String,
      hashCol: String, maxHamming: Int = 7,
      maxBucket: Long = 100000L): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 7,
      s"maxHamming in [0,7] (8x8-bit pigeonhole bound), got $maxHamming")
    val base = df.filter(col(hashCol).isNotNull)
      .select(col(idCol).as("id"), col(hashCol).as("ah"))
    val banded = base.select(col("id"), col("ah"),
        posexplode(expr(
          "transform(sequence(0, 7), b -> shiftright(ah, b * 8) & 255)")))
      .toDF("id", "ah", "band", "bucket")
      .withColumn("__bc__", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy("band", "bucket")))
      .filter(col("__bc__") <= maxBucket).drop("__bc__")
    val a = banded.as("a"); val b = banded.as("b")
    a.join(b, col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("l_id"), col("b.id").as("r_id"),
        col("a.ah").as("l_hash"), col("b.ah").as("r_hash"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("l_hash").bitwiseXOR(col("r_hash"))))
      .filter(col("hamming") <= maxHamming)
  }

  /** INCREMENTAL near-duplicate media dedup — the shard-vs-corpus
    * form of [[imageNearDupPairs]] (the text family's
    * minhashLshAgainst, for perceptual hashes): each new row's
    * 64-bit fingerprint is banded into the same 8×8-bit pigeonhole
    * buckets, joined against the CORPUS side's banded table (which a
    * production pipeline persists once and appends to — never
    * re-bands), and candidate pairs are verified by exact hamming.
    * Within maxHamming ≤ 7 flips the pigeonhole guarantees at least
    * one untouched shared band, so banding loses no qualifying
    * pair. Corpus hot buckets (flat-color corpora) are dropped by a
    * COUNT-FILTER aggregate — map-side partial agg, no window sort
    * over the growing corpus (SCALE.md, "streaming incremental corpus
    * dedup — the deployment capstone"). Emits
    * (new id, corpus id, both hashes, hamming). */
  def imageNearDupAgainst(newDf: DataFrame, corpus: DataFrame,
      idCol: String, hashCol: String, maxHamming: Int = 7,
      maxBucket: Long = 100000L): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 7,
      s"maxHamming in [0,7] (8x8-bit pigeonhole bound), got $maxHamming")
    def banded(df: DataFrame, pfx: String): DataFrame =
      df.filter(col(hashCol).isNotNull)
        .select(col(idCol).as(s"${pfx}_id"),
          col(hashCol).as(s"${pfx}_hash"))
        .select(col(s"${pfx}_id"), col(s"${pfx}_hash"),
          posexplode(expr(s"transform(sequence(0, 7), " +
            s"b -> shiftright(${pfx}_hash, b * 8) & 255)")))
        .toDF(s"${pfx}_id", s"${pfx}_hash", "band", "bucket")
    val cb = banded(corpus, "corpus")
    val hot = cb.groupBy("band", "bucket")
      .agg(count(lit(1)).as("__bc__"))
      .filter(col("__bc__") > maxBucket).select("band", "bucket")
    val cbCapped = cb.join(hot, Seq("band", "bucket"), "left_anti")
    banded(newDf, "new").join(cbCapped, Seq("band", "bucket"))
      .select(col("new_id"), col("corpus_id"),
        col("new_hash"), col("corpus_hash"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("new_hash").bitwiseXOR(col("corpus_hash"))))
      .filter(col("hamming") <= maxHamming)
  }

  /** 64-bit audio energy fingerprint — the [[imageAHash]] sibling
    * for near-duplicate AUDIO: decode WAV/PCM
    * (javax.sound.sampled), per-sample |amplitude|, 64
    * floor-partitioned frame-block energy sums (exact integer), one
    * bit per block (energy·64 > total energy, cross-multiplied — an
    * exact integer comparison, no float threshold), temporal order.
    * A pure function of the PCM content: invariant to container
    * re-encoding, stable across executors. Pairs via
    * [[imageNearDupPairs]] (the banding is hash-agnostic). Null or
    * undecodable bytes → null. */
  def audioEnergyHash(bytes: Column): Column = {
    val f = udf((b: Array[Byte]) => {
      if (b == null) None
      else try {
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(b))
        try {
          val fmt = ais.getFormat
          if (fmt.getSampleSizeInBits != 16) None
          else {
            val raw = readAllBytes(ais)
            val ch = fmt.getChannels
            val big = fmt.isBigEndian
            val nFrames = raw.length / (2 * ch)
            if (nFrames < 64) None
            else {
              val sums = new Array[Long](64)
              var i = 0
              while (i < nFrames) {
                val blk = (i.toLong * 64 / nFrames).toInt
                var c = 0
                var acc = 0L
                while (c < ch) {
                  val o = (i * ch + c) * 2
                  val v =
                    if (big) ((raw(o) << 8) | (raw(o + 1) & 0xff)).toShort
                    else ((raw(o + 1) << 8) | (raw(o) & 0xff)).toShort
                  acc += math.abs(v.toLong)
                  c += 1
                }
                sums(blk) += acc
                i += 1
              }
              var tot = 0L
              var j = 0
              while (j < 64) { tot += sums(j); j += 1 }
              var hash = 0L
              j = 0
              while (j < 64) {
                if (sums(j) * 64 > tot) hash |= (1L << (63 - j))
                j += 1
              }
              Some(hash)
            }
          }
        } finally ais.close()
      } catch { case _: Exception => None }
    })
    f(bytes)
  }

  private def readAllBytes(in: java.io.InputStream): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
    bos.toByteArray
  }

  /** Image metadata stub kept for the synthetic (non-decodable)
    * payload path: width/height/format derived deterministically from
    * the byte content. Use `decodeImage` for real image bytes. */
  def decodeImageStub(bytes: Column): Column = {
    val h = xxhash64(bytes)
    when(bytes.isNotNull, struct(
      (pmod(h, lit(1920L)) + 1).cast("int").as("width"),
      (pmod(h, lit(1080L)) + 1).cast("int").as("height"),
      when(pmod(h, lit(2)) === 0, "png").otherwise("jpeg").as("format")))
  }

  /** Resize plan: target box preserving aspect ratio (pure metadata
    * math — real at any scale; the pixel work happens in the codec
    * stub's place). */
  def resizePlan(meta: Column, maxSide: Int): Column = {
    val w = meta.getField("width").cast("double")
    val h = meta.getField("height").cast("double")
    val scale = least(lit(maxSide) / greatest(w, h), lit(1.0))
    struct(round(w * scale).cast("int").as("width"),
      round(h * scale).cast("int").as("height"))
  }

  /** Parsed ISO-BMFF (MP4/MOV) container metadata. */
  case class Mp4Meta(brand: String, timescale: Int,
      duration_ticks: Long, duration_s: Double, n_tracks: Int,
      handlers: Seq[String], codecs: Seq[String])

  private val mp4Containers =
    Set("moov", "trak", "mdia", "minf", "stbl")

  /** REAL MP4/ISO-BMFF box-structure walk (pure JDK byte parsing —
    * no codec library needed for METADATA): ftyp major brand, mvhd
    * timescale/duration, per-trak hdlr handler type ('vide'/'soun')
    * and stsd first-entry codec fourcc. Handles 32-bit, 64-bit
    * (size==1) and to-end (size==0) box sizes; returns null for
    * null/unparseable bytes. Pixel/sample DECODE remains out of
    * scope in this container (no JDK video codec) — frame sampling
    * over real frame counts needs ffmpeg on the cluster. */
  def parseMp4Meta(bytes: Column): Column = {
    val f = udf((b: Array[Byte]) => {
      if (b == null) None
      else try {
        def u32(o: Int): Long =
          ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
            ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
        def u64(o: Int): Long = (u32(o) << 32) | u32(o + 4)
        def fourcc(o: Int): String =
          new String(b.slice(o, o + 4), "ISO-8859-1")
        var brand = ""
        var timescale = 0; var durTicks = 0L
        val handlers = scala.collection.mutable.ArrayBuffer[String]()
        val codecs = scala.collection.mutable.ArrayBuffer[String]()
        var nTracks = 0
        // walk boxes in [from, to); descend into container boxes
        def walk(from: Int, to: Int): Unit = {
          var o = from
          while (o + 8 <= to) {
            val size0 = u32(o)
            val tp = fourcc(o + 4)
            val (payload, size) =
              if (size0 == 1L && o + 16 <= to) (o + 16, u64(o + 8))
              else if (size0 == 0L) (o + 8, (to - o).toLong)
              else (o + 8, size0)
            if (size < 8 || o + size > to) return // corrupt: stop
            val end = o + size.toInt
            tp match {
              case "ftyp" if brand.isEmpty =>
                brand = fourcc(payload)
              case "mvhd" =>
                val v = b(payload) & 0xff
                if (v == 1) {
                  timescale = u32(payload + 20).toInt
                  durTicks = u64(payload + 24)
                } else {
                  timescale = u32(payload + 12).toInt
                  durTicks = u32(payload + 16)
                }
              case "trak" =>
                nTracks += 1
                walk(payload, end)
              case "hdlr" =>
                handlers += fourcc(payload + 8)
              case "stsd" =>
                // entry_count at +4; first sample entry box at +8
                if (u32(payload + 4) > 0 && payload + 16 <= end)
                  codecs += fourcc(payload + 12)
              case t if mp4Containers.contains(t) =>
                walk(payload, end)
              case _ => ()
            }
            o = end
          }
        }
        walk(0, b.length)
        if (brand.isEmpty && timescale == 0) None
        else Some(Mp4Meta(brand, timescale, durTicks,
          if (timescale > 0) durTicks.toDouble / timescale else 0.0,
          nTracks, handlers.toSeq, codecs.toSeq))
      } catch { case _: Exception => None }
    })
    f(bytes)
  }

  /** Synthesize a minimal-but-valid ISO-BMFF box structure (ftyp +
    * moov(mvhd + per-track trak(tkhd, mdia(mdhd, hdlr,
    * minf(stbl(stsd(entry))))))) — the q101 encode→decode pattern
    * for video: parameters in, real container bytes out, so
    * [[parseMp4Meta]] is exercised on genuine box layout. Track 0
    * is video (vide/avc1), any further tracks audio (soun/mp4a). */
  def encodeMp4(timescale: Column, durationTicks: Column,
      nTracks: Column): Column = {
    val f = udf((ts: Int, dur: Long, nt: Int) => {
      def box(tp: String, payload: Array[Byte]*): Array[Byte] = {
        val n = 8 + payload.map(_.length).sum
        val bb = java.nio.ByteBuffer.allocate(n)
        bb.putInt(n).put(tp.getBytes("ISO-8859-1"))
        payload.foreach(bb.put)
        bb.array()
      }
      def full(tail: Array[Byte]): Array[Byte] = {
        // FullBox: version 0 + 24-bit flags 0
        val bb = java.nio.ByteBuffer.allocate(4 + tail.length)
        bb.putInt(0).put(tail)
        bb.array()
      }
      def be32(vs: Long*): Array[Byte] = {
        val bb = java.nio.ByteBuffer.allocate(4 * vs.length)
        vs.foreach(v => bb.putInt(v.toInt))
        bb.array()
      }
      val ftyp = box("ftyp",
        "isom".getBytes("ISO-8859-1"), be32(0x200),
        "isomiso2".getBytes("ISO-8859-1"))
      val mvhd = box("mvhd", full(be32(0, 0, ts, dur, 0x00010000,
        0x01000000, 0, 0,
        0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000,
        0, 0, 0, 0, 0, 0, nt + 1)))
      val traks = (0 until nt).map { i =>
        val video = i == 0
        val handler = if (video) "vide" else "soun"
        val codec = if (video) "avc1" else "mp4a"
        // creation, modification, track_id, reserved, duration,
        // reserved x2, layer+alt, volume+reserved, matrix, w, h
        val tkhd = box("tkhd", full(be32(0, 0, i + 1, 0, dur,
          0, 0, 0, 0,
          0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000,
          640 << 16, 360 << 16)))
        val mdhd = box("mdhd", full(be32(0, 0, ts, dur,
          0x55C40000L))) // language 'und' + pre_defined
        val hdlr = box("hdlr", full(be32(0)),
          handler.getBytes("ISO-8859-1"),
          be32(0, 0, 0), Array[Byte](0)) // reserved + empty name
        // minimal sample entry: 6 reserved bytes + data_ref_index 1
        val entry = box(codec,
          Array[Byte](0, 0, 0, 0, 0, 0, 0, 1))
        val stsd = box("stsd", full(be32(1)), entry)
        val stbl = box("stbl", stsd)
        val minf = box("minf", stbl)
        val mdia = box("mdia", mdhd, hdlr, minf)
        box("trak", tkhd, mdia)
      }
      val moov = box("moov", (mvhd +: traks): _*)
      ftyp ++ moov
    })
    f(timescale, durationTicks, nTracks)
  }

  /** Repartition guidance for large binary columns: target ~128 MB
    * per partition given an average payload size. Pass `rowCount`
    * when known (e.g. from catalog stats or an earlier action) —
    * otherwise this runs one counting scan of the table. */
  def partitionForPayload(df: DataFrame, avgBytesPerRow: Long,
      targetPartitionBytes: Long = 128L << 20,
      rowCount: Option[Long] = None): DataFrame = {
    val rowsPerPartition =
      math.max(1L, targetPartitionBytes / math.max(1L, avgBytesPerRow))
    val rows = rowCount.getOrElse(df.count())
    val n = math.max(1, (rows / rowsPerPartition).toInt + 1)
    df.repartition(n)
  }
}
