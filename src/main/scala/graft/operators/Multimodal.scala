package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling (driver mandate): image/audio/video payloads
  * travel as opaque `binary` columns next to a typed metadata struct; the
  * pipeline stages are decode → feature-extract → resize / frame-sample.
  *
  * Every media kind decodes for REAL: image rows are deterministic
  * PNG/BMP payloads encoded and decoded with `javax.imageio` (in-JDK,
  * headless-safe); audio rows are RIFF/WAVE PCM through a chunk-walking
  * parser; video rows are genuine ISO-BMFF containers whose frames are
  * real PNGs (motion-PNG — the lossless analog of MJPEG, since only a
  * lossless codec lets the oracle recompute decoded pixels) demuxed and
  * decoded frame by frame. Everything Spark-side is at-scale-shaped: schema
  * (binary + metadata struct), partition-parallel `mapPartitions` over
  * typed rows (the Scala analog of mapInPandas batch processing: one
  * iterator per partition, so per-partition codec/model setup amortizes),
  * and codegen expressions for the cheap byte-level operations.
  */
/** (doc_id, 64-bit perceptual hash) — the row type of the fingerprint
  * catalogs. TOP-LEVEL on purpose: as a `private` class nested in the
  * object, Spark's generated deserializer could not reference its
  * constructor, so every task of every fingerprint query paid a failed
  * Janino compile (~100 ms) plus the interpreted-encoder fallback —
  * 104 failed compiles across one verify run, all from this one class.
  */
final case class DHashRow(doc_id: Long, dhash: Long)

object Multimodal {

  /** Typed media metadata — what StructField alone can't say about a blob. */
  val mediaMetaType: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false)))

  /** Deterministic small image: pixels from a splitmix64 stream seeded by
    * `seed`, so the same (seed, w, h) always encodes byte-identical
    * payloads. Package-visible for the decode round-trip spec.
    */
  private[graft] def syntheticImage(seed: Long, w: Int, h: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var s = seed
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        s += 0x9e3779b97f4a7c15L
        img.setRGB(x, y, (mix64(s) & 0xffffff).toInt)
        x += 1
      }
      y += 1
    }
    img
  }

  /** ImageIO's default stream cache spools every encode/decode through a
    * temp FILE; for small in-memory payloads the disk round-trip dominates
    * the codec work. One-time per-JVM switch to the in-memory cache.
    */
  private lazy val imageIoInMemory: Unit = javax.imageio.ImageIO.setUseCache(false)

  private[graft] def encodeImage(seed: Long, w: Int, h: Int, fmt: String): Array[Byte] = {
    imageIoInMemory
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(syntheticImage(seed, w, h), fmt, bos)
    bos.toByteArray
  }

  /** The splitmix64 finalizer — the ONE copy of the mix constants; the
    * q_mm02 oracle spells the identical rounds in HUGEINT arithmetic, so
    * any edit here must be mirrored there (and nowhere else).
    */
  private[graft] def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Deterministic signed 16-bit PCM sample `i` of the stream seeded by
    * `seed` — the same splitmix64 chain as [[syntheticImage]]'s pixels
    * (s = seed + (i+1)·γ, [[mix64]]), low 16 bits recentered.
    */
  private[graft] def syntheticSample(seed: Long, i: Int): Int =
    ((mix64(seed + (i + 1) * 0x9e3779b97f4a7c15L)) & 0xffffL).toInt - 32768

  /** Real RIFF/WAVE encoder: canonical 44-byte header (PCM, mono,
    * 16-bit, 8 kHz) + little-endian samples. Pure JVM — WAV needs no
    * codec library, which is why the audio path can be REAL in this
    * container while mp4 cannot.
    */
  private[graft] def encodeWav(seed: Long, nSamples: Int): Array[Byte] =
    encodeWavSamples(Array.tabulate(nSamples)(syntheticSample(seed, _)))

  /** The RIFF container around EXPLICIT samples — lets [[graft.tools
    * .ScaleGen]] plant perturbed-copy (near-duplicate) audio rows that a
    * pure (seed, n) encoder cannot express.
    */
  private[graft] def encodeWavSamples(samples: Array[Int]): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(8000).putInt(16000) // sample rate, byte rate
      .putShort(2).putShort(16) // block align, bits/sample
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < samples.length) { bb.putShort(samples(i).toShort); i += 1 }
    bb.array()
  }

  /** Pixel dimensions of one video frame. Small on purpose: the q_mm02
    * oracle regenerates EVERY frame pixel of every mp4 row in DuckDB.
    */
  private[graft] val Mp4FrameW = 4
  private[graft] val Mp4FrameH = 3

  /** Frame SLOT size for the synthetic mp4 container: each frame is a real
    * PNG (motion-PNG — the lossless analog of MJPEG's JPEG-per-frame;
    * lossless is what lets the oracle regenerate decoded pixels exactly,
    * where JPEG's DCT round-trip could not be recomputed in SQL)
    * zero-padded to this fixed size. Equal-size samples mean the stsz box
    * needs no per-sample table, so the moov size — and therefore
    * [[Mp4HeaderLen]] — is a constant, which is what lets [[sampleFrames]]
    * address frame i as a pure substring expression. PNG readers stop at
    * IEND, so the zero pad is invisible to the decoder.
    */
  private[graft] val Mp4FrameSize = 256

  /** Byte offset of the first mdat payload byte: ftyp(16) + moov(60) +
    * mdat header(8).
    */
  private[graft] val Mp4HeaderLen = 84

  /** Minimal deterministic PNG encoder for tiny RGB frames: 8-bit
    * truecolor IHDR, one zlib STORED (uncompressed) deflate block, CRC32/
    * Adler32 checksums — a spec-valid PNG any reader decodes (the mp4
    * round-trip spec decodes these through ImageIO and compares pixels),
    * but without the ImageIO writer's per-call plugin/stream/deflater
    * machinery, which costs more than a 4x3 frame's pixels at
    * n_frames × corpus scale. Encoding is the SYNTHETIC SOURCE side;
    * the decode path — the part a real pipeline runs — stays ImageIO.
    */
  private[graft] def encodeTinyPng(seed: Long, w: Int, h: Int): Array[Byte] = {
    // raw scanlines: filter byte 0 + RGB triples, pixels from the chain
    val raw = new Array[Byte](h * (1 + w * 3))
    var s = seed
    var p = 0
    var y = 0
    while (y < h) {
      raw(p) = 0; p += 1
      var x = 0
      while (x < w) {
        s += 0x9e3779b97f4a7c15L
        val v = (mix64(s) & 0xffffff).toInt
        raw(p) = ((v >> 16) & 0xff).toByte
        raw(p + 1) = ((v >> 8) & 0xff).toByte
        raw(p + 2) = (v & 0xff).toByte
        p += 3; x += 1
      }
      y += 1
    }
    require(raw.length <= 0xffff, "tiny-PNG encoder: one stored block only")
    val idat = new Array[Byte](2 + 5 + raw.length + 4)
    idat(0) = 0x78; idat(1) = 0x01 // zlib header, no compression hints
    idat(2) = 0x01 // final + stored block
    idat(3) = (raw.length & 0xff).toByte
    idat(4) = ((raw.length >> 8) & 0xff).toByte
    idat(5) = (~raw.length & 0xff).toByte
    idat(6) = ((~raw.length >> 8) & 0xff).toByte
    System.arraycopy(raw, 0, idat, 7, raw.length)
    val adler = new java.util.zip.Adler32(); adler.update(raw)
    val a = adler.getValue.toInt
    val az = 7 + raw.length
    idat(az) = ((a >> 24) & 0xff).toByte; idat(az + 1) = ((a >> 16) & 0xff).toByte
    idat(az + 2) = ((a >> 8) & 0xff).toByte; idat(az + 3) = (a & 0xff).toByte
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h).put(8.toByte).put(2.toByte) // 8-bit truecolor
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    val out = java.nio.ByteBuffer.allocate(
      8 + (12 + 13) + (12 + idat.length) + 12)
    out.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    def chunk(tag: String, data: Array[Byte]): Unit = {
      out.putInt(data.length).put(tag.getBytes("US-ASCII")).put(data)
      val crc = new java.util.zip.CRC32()
      crc.update(tag.getBytes("US-ASCII")); crc.update(data)
      out.putInt(crc.getValue.toInt)
    }
    chunk("IHDR", ihdr)
    chunk("IDAT", idat)
    chunk("IEND", Array.emptyByteArray)
    out.array()
  }

  /** Real ISO-BMFF (mp4) container writer: ftyp, a minimal
    * moov>trak>mdia>minf>stbl>stsz chain declaring `nFrames` equal-size
    * samples, and an mdat whose frame payloads are REAL PNG images.
    * Frame f's pixels continue the doc-level splitmix64 chain at offset
    * f·(w·h) — i.e. the video's pixel stream is one chain chopped into
    * frames — so the q_mm02 oracle regenerates all of it from doc_id
    * alone, exactly as it does for still images.
    */
  /** The fixed ISO-BMFF header (ftyp + moov chain + mdat box header) in
    * front of `nFrames` equal `Mp4FrameSize` slots — shared by the
    * synthetic encoder and the [[trimLastFrame]] remux so both emit
    * byte-identical containers.
    */
  private def putMp4Header(bb: java.nio.ByteBuffer, nFrames: Int): Unit = {
    def box(size: Int, tag: String): Unit = {
      bb.putInt(size); bb.put(tag.getBytes("US-ASCII"))
    }
    box(16, "ftyp"); bb.put("isom".getBytes("US-ASCII")); bb.putInt(0)
    box(60, "moov"); box(52, "trak"); box(44, "mdia"); box(36, "minf")
    box(28, "stbl")
    box(20, "stsz"); bb.putInt(0) // version/flags
    bb.putInt(Mp4FrameSize); bb.putInt(nFrames)
    box(8 + nFrames * Mp4FrameSize, "mdat")
  }

  private[graft] def encodeMp4(seed: Long, nFrames: Int,
      frameW: Int = Mp4FrameW, frameH: Int = Mp4FrameH): Array[Byte] = {
    // frame dims are a parameter (default: the fixture 4x3 the oracles
    // regenerate) because the dHash of a 4x3 frame carries only ~9
    // informative bits — the 9x8 sampling grid hits just 12 distinct
    // pixels and most gradient comparisons are pixel-vs-itself. Fine for
    // oracle-exact catalogs; fatal for a SCALE corpus, where a 2^9 hash
    // space makes every frame-hash a collision bucket and the near-dup
    // self-join degenerates toward all-pairs. ScaleGen's media decades
    // use 8x6 (~40 informative bits, still inside the 256 B slot).
    val dataLen = nFrames * Mp4FrameSize
    val bb = java.nio.ByteBuffer.allocate(Mp4HeaderLen + dataLen) // big-endian
    putMp4Header(bb, nFrames)
    val fpix = frameW * frameH
    var f = 0
    while (f < nFrames) {
      // chain offset: pixel j of frame f is chain element f·fpix + j
      val png = encodeTinyPng(seed + f.toLong * fpix * 0x9e3779b97f4a7c15L,
        frameW, frameH)
      require(png.length <= Mp4FrameSize,
        s"PNG frame (${png.length} B) exceeds the $Mp4FrameSize B slot")
      val at = bb.position()
      bb.put(png)
      bb.position(at + Mp4FrameSize) // allocate() zero-fills → zero pad
      f += 1
    }
    bb.array()
  }

  /** Real ISO-BMFF demuxer: walks the top-level boxes, descends the moov
    * chain to stsz for (sampleSize, sampleCount), locates the mdat
    * payload, and returns the frame byte ranges. None on malformed input.
    */
  private[graft] def demuxMp4(blob: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    val bb = java.nio.ByteBuffer.wrap(blob) // ISO-BMFF is big-endian
    def tag(): String = { val b = new Array[Byte](4); bb.get(b); new String(b, "US-ASCII") }
    var sampleSize = -1; var sampleCount = -1
    var mdat: Array[Byte] = null
    def walk(end: Int): Boolean = {
      while (bb.position() + 8 <= end) {
        val start = bb.position()
        val size = bb.getInt; val t = tag()
        // `size > end - start`, not `start + size > end`: a hostile size
        // near Int.MaxValue overflows the sum and sails past the guard
        if (size < 8 || size > end - start) return false
        t match {
          case "moov" | "trak" | "mdia" | "minf" | "stbl" =>
            if (!walk(start + size)) return false
          case "stsz" =>
            if (size != 20) return false
            bb.getInt // version/flags
            sampleSize = bb.getInt; sampleCount = bb.getInt
          case "mdat" =>
            mdat = java.util.Arrays.copyOfRange(blob, start + 8, start + size)
          case _ => // ftyp etc: skip
        }
        bb.position(start + size)
      }
      true
    }
    if (!walk(blob.length)) return None
    if (sampleSize <= 0 || sampleCount < 0 || mdat == null ||
        mdat.length.toLong != sampleSize.toLong * sampleCount) None
    else Some((sampleSize, sampleCount, mdat))
  }

  /** Real RIFF/WAVE decoder: validates the RIFF/WAVE magic, walks the
    * chunk list to `data`, returns the signed 16-bit LE samples. None on
    * anything malformed (caller quarantines / falls back).
    */
  private[graft] def decodeWav(blob: Array[Byte]): Option[Array[Int]] = {
    if (blob.length < 44) return None
    val bb = java.nio.ByteBuffer.wrap(blob).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag(): String = { val b = new Array[Byte](4); bb.get(b); new String(b, "US-ASCII") }
    if (tag() != "RIFF") return None
    bb.getInt // riff size
    if (tag() != "WAVE") return None
    while (bb.remaining() >= 8) {
      val t = tag(); val len = bb.getInt
      if (t == "data") {
        if (len < 0 || len > bb.remaining()) return None
        val out = new Array[Int](len / 2)
        var i = 0
        while (i < out.length) { out(i) = bb.getShort.toInt; i += 1 }
        return Some(out)
      } else {
        if (len < 0 || len > bb.remaining()) return None
        // chunks are word-aligned, but a final odd-length chunk may end
        // the file without its pad byte — clamp instead of overrunning
        bb.position(bb.position() +
          math.min(len + (len & 1), bb.remaining()))
      }
    }
    None
  }

  /** Attach a deterministic synthetic media payload to each document:
    * image-format rows (png/bmp) carry a real ImageIO-encoded image whose
    * metadata dims match the payload; audio/video rows carry the UTF-8
    * text bytes as an opaque stand-in blob with synthetic dims. Real
    * pipelines read `spark.read.format("binaryFile")` or parquet with a
    * binary column; the downstream operators only see (blob, meta) and
    * don't care. The image encode is a UDF by design: this function IS
    * the synthetic source, not an operator — nothing downstream depends
    * on how the bytes were produced.
    */
  /** Engine-portable pseudo-random draw from doc_id: multiplicative hash
    * in exact integer math (`((doc_id mod 1000003 + salt) * 2654435761)
    * mod m`), so the q_mm01/q_mm03 oracles recompute the identical meta
    * in DuckDB. The inner mod bounds the product at ~2.7e15 — inside
    * BIGINT for both engines (DuckDB errors on 64-bit overflow rather
    * than wrapping, so staying in range is correctness, not hygiene).
    */
  private def draw(salt: Int, m: Int): org.apache.spark.sql.Column =
    pmod((pmod(col("doc_id"), lit(1000003L)) + salt) * lit(2654435761L), lit(m.toLong))

  def withMedia(docs: DataFrame): DataFrame = {
    // The codec work below is CPU-bound at ~tens of µs per frame; a real
    // 100 TB media corpus arrives in many files and parallelizes at the
    // scan, but this synthetic source reads ONE small parquet file (one
    // partition), which would serialize every encode onto a single core.
    // The round-robin exchange of the (tiny, pre-blob) text rows
    // reproduces the many-file shape; every derived value is a pure
    // per-row function of doc_id, so placement doesn't affect results.
    val spread = docs.repartition(
      docs.sparkSession.sparkContext.defaultParallelism)
    val enc = udf((seed: Long, w: Int, h: Int, fmt: String) => encodeImage(seed, w, h, fmt))
    val encA = udf((seed: Long, n: Int) => encodeWav(seed, n))
    val encV = udf((seed: Long, n: Int) => encodeMp4(seed, n))
    val fmt = element_at(array(lit("png"), lit("bmp"), lit("wav"), lit("mp4")),
      (draw(0, 4) + 1).cast("int"))
    val isImage = fmt.isin("png", "bmp")
    // image payloads stay small (4..19 px per side); audio/video rows keep
    // the synthetic large dims so qMM01's per-format profile stays varied
    val w = when(isImage, (draw(1, 16) + 4).cast("int"))
      .otherwise((draw(1, 1920) + 16).cast("int"))
    val h = when(isImage, (draw(2, 16) + 4).cast("int"))
      .otherwise((draw(2, 1080) + 16).cast("int"))
    // wav sample counts are independent of the (large) visual dims so the
    // oracle's sample regeneration stays corpus-sized, not pixels-sized
    val nSamples = (draw(4, 1500) + 100).cast("int")
    val nFrames = (draw(3, 300) + 1).cast("int")
    spread.select(
      col("doc_id"),
      // the pixel/sample/byte-stream seed is doc_id ITSELF (r5): any
      // engine can then regenerate the expected payload content from the
      // row alone — the q_mm02 oracle recomputes the splitmix64 stream in
      // DuckDB and checks the decoded features end-to-end (xxhash64, the
      // previous seed, has no DuckDB twin)
      when(isImage, enc(col("doc_id"), w, h, fmt))
        .when(fmt === "wav", encA(col("doc_id"), nSamples))
        .otherwise(encV(col("doc_id"), nFrames)).as("blob"),
      struct(
        fmt.as("format"),
        w.as("width"),
        h.as("height"),
        nFrames.as("n_frames"))
        .as("meta"))
  }

  final case class MediaRow(doc_id: Long, blob: Array[Byte],
      format: String, width: Int, height: Int, n_frames: Int)
  final case class FeatureRow(doc_id: Long, features: Array[Float])

  /** Real image decode + feature fold: ImageIO decode (PNG/BMP — any
    * format the JDK's registry sniffs from the bytes), then fold per-pixel
    * luminance into `dim` buckets in row-major pixel order — the same fold
    * shape as [[byteFoldFallback]], but over DECODED PIXELS. Returns None when
    * the bytes don't decode (corrupt row → caller falls back /
    * quarantines).
    *
    * Accumulation is EXACT-INTEGER by bucket (sum of R+G+B per bucket,
    * one double division + float rounding at the end) rather than
    * sequential float adds: same information, but every value is a
    * deterministic function of the pixel multiset — which is what lets
    * the q_mm02 oracle recompute the identical floats in another engine
    * (sequential float32 accumulation is order-sensitive and
    * unreproducible outside this exact loop).
    */
  def decodeAndEmbedImage(blob: Array[Byte], dim: Int): Option[Array[Float]] = {
    // FastImage fast path for the common PNG/BMP layouts; anything it
    // declines decodes through ImageIO exactly as before (bit-equal
    // pixels either way — the fast path produces getRGB values)
    val raster = FastImage.decode(blob).orElse {
      imageIoInMemory
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(blob))
      if (img == null) None
      else {
        val (w, h) = (img.getWidth, img.getHeight)
        Some(new FastImage.Raster(w, h, img.getRGB(0, 0, w, h, null, 0, w)))
      }
    }
    raster.map { r =>
      val sums = new Array[Long](dim)
      val px = r.argb // linear index i == y·w + x (row-major)
      var i = 0
      while (i < px.length) {
        val rgb = px(i)
        sums(i % dim) +=
          ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
        i += 1
      }
      // luminance = mean of R,G,B scaled to [0,1]: bucket / (3*255)
      sums.map(s => (s / 765.0).toFloat)
    }
  }

  /** Real audio decode + feature fold: RIFF/WAVE parse ([[decodeWav]]),
    * then fold |sample| into `dim` buckets in sample order — the audio
    * twin of [[decodeAndEmbedImage]], with the same exact-integer
    * accumulation discipline (one double division + float rounding at
    * the end) so the q_mm02 oracle can regenerate identical floats.
    */
  def decodeAndEmbedAudio(blob: Array[Byte], dim: Int): Option[Array[Float]] =
    decodeWav(blob).map { samples =>
      val sums = new Array[Long](dim)
      var i = 0
      while (i < samples.length) {
        sums(i % dim) += math.abs(samples(i)); i += 1
      }
      // amplitude scaled to [0,1]: bucket / 32768
      sums.map(s => (s / 32768.0).toFloat)
    }

  /** Real video decode + feature fold: ISO-BMFF demux ([[demuxMp4]]) hands
    * over the mdat payload, then EVERY frame's PNG decodes through ImageIO
    * and its pixels fold into the luminance buckets with a GLOBAL pixel
    * index continuing across frames — the video is one pixel stream, so
    * the fold is [[decodeAndEmbedImage]]'s with n_frames·w·h pixels. Same
    * exact-integer accumulation discipline (one double division + float
    * rounding at the end). None when the container or any frame fails to
    * decode (caller quarantines / falls back).
    */
  def decodeAndEmbedVideo(blob: Array[Byte], dim: Int): Option[Array[Float]] = {
    demuxMp4(blob).flatMap { case (slot, nFrames, mdat) =>
      val sums = new Array[Long](dim)
      var k = 0 // global pixel index across frames
      var f = 0
      var ok = true
      // the FastImage direct decode serves the common in-slot PNG
      // layouts; a reused ImageIO PNG reader (created LAZILY — only if
      // some frame falls outside the fast envelope) covers the rest,
      // with the same quarantine-not-crash contract as before
      var reader: javax.imageio.ImageReader = null
      try while (f < nFrames && ok) {
        FastImage.decode(mdat, f * slot, slot) match {
          case Some(r) =>
            val px = r.argb // linear index continues the global stream
            var i = 0
            while (i < px.length) {
              val rgb = px(i)
              sums(k % dim) +=
                ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
              k += 1
              i += 1
            }
          case None =>
            imageIoInMemory
            if (reader == null)
              reader = javax.imageio.ImageIO
                .getImageReadersByFormatName("png").next()
            val iis = javax.imageio.ImageIO.createImageInputStream(
              new java.io.ByteArrayInputStream(mdat, f * slot, slot))
            // NonFatal, not just IOException: ImageIO PNG readers throw
            // IllegalArgumentException / IIO runtime errors on corrupt
            // data, and the quarantine contract says ANY bad frame falls
            // back rather than killing the task; close in finally so no
            // reader failure path leaks the stream. createImageInputStream
            // can return NULL (no registered SPI): setInput(null) would
            // throw OUTSIDE the catch and the finally would NPE on top of
            // it — treat it as one more bad frame instead
            val img =
              if (iis == null) null
              else try {
                reader.setInput(iis)
                try reader.read(0)
                catch { case scala.util.control.NonFatal(_) => null }
              } finally iis.close()
            if (img == null) ok = false
            else {
              val (w, h) = (img.getWidth, img.getHeight)
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val rgb = img.getRGB(x, y)
                  sums(k % dim) +=
                    ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
                  k += 1
                  x += 1
                }
                y += 1
              }
            }
        }
        f += 1
      } finally if (reader != null) reader.dispose()
      if (!ok) None else Some(sums.map(s => (s / 765.0).toFloat))
    }
  }

  /** Quarantine fallback for blobs that fail their format's real decoder
    * (corrupt rows, unknown formats): a deterministic byte fold with the
    * same exact-integer bucket discipline, so a bad row degrades to a
    * stable vector instead of killing the task. Every declared format
    * (png/bmp/wav/mp4) runs a REAL decode above; this is never the
    * primary path.
    */
  def byteFoldFallback(blob: Array[Byte], dim: Int): Array[Float] = {
    val sums = new Array[Long](dim)
    var i = 0
    while (i < blob.length) {
      sums(i % dim) += (blob(i) & 0xff)
      i += 1
    }
    sums.map(s => (s / 255.0).toFloat)
  }

  /** Feature extraction over the blob column: partition-parallel typed
    * mapPartitions (per-partition setup cost amortized across its rows —
    * where a codec or ONNX session would be initialized once). Image rows
    * decode for real via ImageIO, audio rows via the RIFF/PCM parser,
    * video rows via ISO-BMFF demux + per-frame PNG decode. A row whose
    * bytes fail to decode falls back to [[byteFoldFallback]] rather than
    * killing the task (a production pipeline would quarantine it).
    */
  def extractFeatures(spark: SparkSession, media: DataFrame, dim: Int = 16): DataFrame = {
    import spark.implicits._
    media.select(col("doc_id"), col("blob"), col("meta.format").as("format"),
        col("meta.width").as("width"), col("meta.height").as("height"),
        col("meta.n_frames").as("n_frames"))
      .as[MediaRow]
      .mapPartitions { rows =>
        // per-partition init would go here (codec handle, model session)
        rows.map { r =>
          val feats = r.format match {
            case "png" | "bmp" | "jpeg" =>
              decodeAndEmbedImage(r.blob, dim)
                .getOrElse(byteFoldFallback(r.blob, dim))
            case "wav" =>
              decodeAndEmbedAudio(r.blob, dim)
                .getOrElse(byteFoldFallback(r.blob, dim))
            case "mp4" => // real container demux + per-frame PNG decode
              decodeAndEmbedVideo(r.blob, dim)
                .getOrElse(byteFoldFallback(r.blob, dim))
            case _ => byteFoldFallback(r.blob, dim)
          }
          FeatureRow(r.doc_id, feats)
        }
      }
      .toDF()
  }

  /** "Resize": crop the blob to its first `maxBytes` bytes — the plumbing
    * twin of an image resize (payload shrinks, schema unchanged; a real
    * codec-aware resize replaces the expression, not the plan). Pure
    * expression, stays in codegen. For image rows the REAL pixel resize
    * is [[resizeImages]].
    */
  def resize(media: DataFrame, maxBytes: Int = 1024): DataFrame =
    media.withColumn("blob_small",
      when(length(col("blob")) <= maxBytes, col("blob"))
        .otherwise(substring(col("blob"), 1, maxBytes)))

  /** REAL image resize for png/bmp rows: decode → area-scaled redraw →
    * re-encode at `factor`-reduced dimensions (min 1px). Non-image rows
    * and undecodable blobs pass through unchanged — the
    * quarantine-not-crash policy extractFeatures uses. Same
    * partition-parallel shape (per-partition codec amortization).
    */
  def resizeImages(spark: SparkSession, media: DataFrame, factor: Int = 2): DataFrame = {
    import spark.implicits._
    media.select(col("doc_id"), col("blob"), col("meta.format").as("format"),
        col("meta.width").as("width"), col("meta.height").as("height"),
        col("meta.n_frames").as("n_frames"))
      .as[MediaRow]
      .mapPartitions { rows =>
        imageIoInMemory
        rows.map { r =>
          val out = r.format match {
            case "png" | "bmp" =>
              val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.blob))
              if (img == null) r.blob
              else {
                val (w2, h2) = (math.max(1, img.getWidth / factor),
                  math.max(1, img.getHeight / factor))
                val small = new java.awt.image.BufferedImage(w2, h2,
                  java.awt.image.BufferedImage.TYPE_INT_RGB)
                val g = small.createGraphics()
                g.drawImage(img.getScaledInstance(w2, h2,
                  java.awt.Image.SCALE_AREA_AVERAGING), 0, 0, null)
                g.dispose()
                val bos = new java.io.ByteArrayOutputStream()
                javax.imageio.ImageIO.write(small, r.format, bos)
                bos.toByteArray
              }
            case _ => r.blob
          }
          (r.doc_id, out, r.format)
        }
      }
      .toDF("doc_id", "blob_small", "format")
  }

  /** Frame sampling for "video" rows: explode n_frames into every k-th
    * frame index and slice that frame's REAL byte range out of the
    * container's mdat payload (one output row per sampled frame). The
    * equal-size-frame layout makes the offset `Mp4HeaderLen + i×frame`
    * a constant expression, so the extractor stays pure codegen — no
    * per-row demux call on this path (extractFeatures demuxes properly;
    * this is the bulk slicing path).
    */
  def sampleFrames(media: DataFrame, everyK: Int = 10): DataFrame =
    media.filter(col("meta.format") === "mp4")
      .select(col("doc_id"), col("meta.n_frames").as("n_frames"), col("blob"))
      .withColumn("frame_idx",
        explode(sequence(lit(0), col("n_frames") - 1, lit(everyK))))
      .withColumn("frame_bytes",
        substring(col("blob"),
          (col("frame_idx") * Mp4FrameSize + Mp4HeaderLen + 1).cast("int"),
          lit(Mp4FrameSize)))
      .select("doc_id", "frame_idx", "frame_bytes")

  // ---------------------------------------------------------------- queries

  /** Q-MM01 — media metadata profile, oracle-checked (r4): count / dims /
    * frame totals per format, all recomputable from the portable meta
    * derivation in [[withMedia]]. Averages are exact-integer sums with one
    * double division (the q_a01 determinism recipe). Blob payload SIZES
    * are codec output (ImageIO bytes) and deliberately stay out of the
    * oracle-checked columns — the decode round-trip spec covers payload
    * realness instead.
    */
  def qMM01(s: SparkSession, d: String): DataFrame =
    withMedia(Tables.documents(s, d))
      .groupBy(col("meta.format").as("format"))
      .agg(count(lit(1)).as("n"),
        (sum(col("meta.width")).cast("double") / count(lit(1))).as("avg_w"),
        (sum(col("meta.height")).cast("double") / count(lit(1))).as("avg_h"),
        sum(col("meta.n_frames")).as("frames_total"))
      .orderBy("format")

  /** Q-MM02 — feature extraction, oracle-checked (r5): per-doc squared
    * feature norm. For image rows this pins the ENTIRE media path —
    * deterministic pixels → ImageIO encode → decode → integer-exact
    * luminance buckets → float features → left-fold norm — because the
    * DuckDB oracle regenerates the expected pixels directly from the
    * splitmix64 stream (seed = doc_id) and must land on bit-identical
    * doubles; a lossy codec, a decode bug, or a channel-order mixup all
    * flip the hash. wav rows (r5) pin the REAL audio path the same way:
    * splitmix64 samples → RIFF/PCM encode → chunk-walking decode →
    * integer-exact |amplitude| buckets — the oracle regenerates the
    * sample stream. mp4 rows (r7) pin the REAL video path: splitmix64
    * pixel stream → per-frame PNG encode into the mdat → box-walking
    * demux → per-frame ImageIO decode → the same luminance fold with the
    * pixel index continuing across frames — the oracle regenerates the
    * whole n_frames·w·h pixel stream from doc_id. All three media kinds
    * are hash-pinned end to end through their full codec round-trips.
    */
  def qMM02(s: SparkSession, d: String): DataFrame = {
    val feats = extractFeatures(s, withMedia(Tables.documents(s, d)))
    feats.select(col("doc_id"),
        aggregate(col("features"), lit(0.0d),
          (acc, x) => acc + x.cast("double") * x.cast("double")).as("sq_norm"))
      .orderBy("doc_id")
  }

  /** Q-MM03 — frame sampling, oracle-checked (r4): sampled frame count per
    * doc — DuckDB recomputes `floor((n_frames-1)/10)+1` over the portable
    * meta for the mp4 rows.
    */
  def qMM03(s: SparkSession, d: String): DataFrame =
    sampleFrames(withMedia(Tables.documents(s, d)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sampled"))
      .orderBy("doc_id")

  /** 9×8 difference hash (dHash) of a decoded image: nearest-neighbor
    * sample the image onto a 9-wide × 8-tall grayscale grid, then bit
    * (y·8+x) is set when grid(y, x+1) > grid(y, x) — 64 horizontal
    * gradient signs, the classic perceptual fingerprint (near-identical
    * images differ in a few bits; unrelated images differ in ~32).
    * INTEGER arithmetic end-to-end — luminance is (299R+587G+114B)/1000
    * truncated, the sample coordinate is x·w/9 (floor) — so another
    * engine rebuilds the exact hash from regenerated pixels (the q_mm04
    * oracle does, in SQL). None when the bytes don't decode (caller
    * quarantines — the extractFeatures policy).
    */
  def dHashOf(blob: Array[Byte]): Option[Long] =
    FastImage.decode(blob) match {
      case Some(r) => Some(dHashRaster(r))
      case None => // outside the fast envelope → ImageIO, as before
        imageIoInMemory
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(blob))
        if (img == null) None else Some(dHashImage(img))
    }

  /** The dHash kernel over any decoded frame — shared by the image path
    * ([[dHashOf]]) and the per-frame video path ([[videoFrameDHashes]]).
    * Nearest-neighbor grid sampling upscales tiny frames too (a 4×3
    * video frame maps grid column gx to pixel gx·4/9). `rgbAt` is the
    * only raster access, so the [[FastImage.Raster]] fast path and the
    * BufferedImage fallback hash through the SAME arithmetic (two call
    * sites → bimorphic, still JIT-inlined).
    */
  private def dHashGrid(w: Int, h: Int, rgbAt: (Int, Int) => Int): Long = {
    val g = Array.ofDim[Int](8, 9)
    var gy = 0
    while (gy < 8) {
      var gx = 0
      while (gx < 9) {
        val rgb = rgbAt(gx * w / 9, gy * h / 8)
        g(gy)(gx) = (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff)
          + 114 * (rgb & 0xff)) / 1000
        gx += 1
      }
      gy += 1
    }
    var hash = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (g(y)(x + 1) > g(y)(x)) hash |= (1L << (y * 8 + x))
        x += 1
      }
      y += 1
    }
    hash
  }

  private def dHashImage(img: java.awt.image.BufferedImage): Long =
    dHashGrid(img.getWidth, img.getHeight, img.getRGB)

  private def dHashRaster(r: FastImage.Raster): Long =
    dHashGrid(r.w, r.h, r.rgb)

  /** Perceptual-hash catalog of the IMAGE rows: doc_id → 64-bit dHash.
    * Partition-parallel typed mapPartitions (the extractFeatures shape);
    * undecodable blobs are dropped here — a production pipeline routes
    * them to the byteFoldFallback quarantine instead of hashing garbage.
    * The hash is a pure per-row map: zero shuffle at any corpus size,
    * and the 8-byte fingerprint — not the image — is what every
    * downstream dedup join shuffles.
    */
  def imageDHash(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.filter(col("meta.format").isin("png", "bmp"))
      .select(col("doc_id"), col("blob"))
      .as[(Long, Array[Byte])]
      .mapPartitions(rows => rows.flatMap { case (id, blob) =>
        dHashOf(blob).map(DHashRow(id, _))
      })
      .toDF()
  }

  /** Banded Hamming near-dup join over any (doc_id, hash) fingerprint
    * catalog — the multimodal member of the dedup family (LLMOps
    * MinHash/SimHash for text, Similarity LSH for embeddings, THIS for
    * perceptual hashes of decoded media). The `hashBits`-bit hash splits
    * into bands of 8 bits; two hashes within Hamming distance
    * `maxHamming` < bands must agree on ≥ 1 band (pigeonhole), so the
    * band equi-join ([[Banded.selfPairs]], which states the one-row-per-
    * doc_id precondition) has FULL recall and the all-pairs comparison
    * never exists. Exact Hamming verify (bit_count of xor) filters
    * candidates; output is (doc_a, doc_b, hamming), doc_a < doc_b. The
    * join never pins `hashes`: a decode-side caller checkpoints its own
    * catalog, a persisted one is re-scanned.
    */
  def hammingNearDupPairs(hashes: DataFrame, hashCol: String,
      hashBits: Int, maxHamming: Int, ordered: Boolean = true): DataFrame = {
    require(hashBits % 8 == 0 && hashBits >= 16 && hashBits <= 64,
      s"hammingNearDupPairs: hashBits must be a multiple of 8 in [16,64], got $hashBits")
    val bands = hashBits / 8
    require(maxHamming >= 0 && maxHamming < bands,
      s"hammingNearDupPairs: $bands bands of 8 bits give full recall only " +
        s"for maxHamming < $bands, got $maxHamming")
    val keyed = hashes.select(col("doc_id"), col(hashCol).as("h64"),
      array((0 until bands).map(b =>
        shiftrightunsigned(col(hashCol), b * 8).bitwiseAND(lit(255L))): _*)
        .as("keys"))
    val pairs = Banded.selfPairs(keyed, "doc_id", "keys", carry = Seq("h64"))
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        bit_count(col("h64_a").bitwiseXOR(col("h64_b"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
    // ordered = false for ORDER-INSENSITIVE consumers (connected
    // components, keeper ranking); the declared pair queries keep the
    // deterministic total order
    if (ordered) pairs.orderBy("doc_a", "doc_b") else pairs
  }

  /** Image near-dup pairs: [[hammingNearDupPairs]] over the [[imageDHash]]
    * catalog (8 bands — full recall to Hamming 7). The decoded catalog is
    * pinned (2 longs per item) so that no re-run stage repeats the decode.
    */
  def imageNearDupPairs(spark: SparkSession, media: DataFrame,
      maxHamming: Int = 6): DataFrame =
    hammingNearDupPairs(imageDHash(spark, media).localCheckpoint(), "dhash",
      64, maxHamming)

  /** `bits`-bit audio energy fingerprint (the dHash analog for sound,
    * the shape acoustic fingerprints like Chromaprint reduce to): decode
    * the RIFF/PCM payload, fold |amplitude| into `bits + 1` time frames
    * (sample i → frame i·(bits+1)/n, exact BIGINT sums), bit b is set
    * when frame b+1 is louder than frame b — energy-gradient signs,
    * invariant to uniform gain and robust to small edits. INTEGER
    * end-to-end, so the q_mm05 oracle rebuilds the exact default
    * fingerprint from regenerated PCM. None when the bytes don't parse
    * (quarantine policy).
    *
    * WIDTH is an operating point, exactly like the LSH band width
    * (bits=16→20 in Similarity): the banded near-dup join's no-signal
    * candidate term grows as n²/2^8 per band, and — more importantly —
    * the probability that two UNRELATED clips land within the serving
    * Hamming radius falls exponentially with bits. SLOPES.md records
    * the 32-bit default saturating at the 10M+ clip scale; a
    * deployment there sets bits=48/64 (finer time grid, same gradient
    * semantics) — spec-pinned: a within-frame permutation collides at
    * 32 bits and separates at 48.
    */
  def audioFingerprintOf(blob: Array[Byte], bits: Int = 32): Option[Long] = {
    require(bits >= 1 && bits <= 64, s"audio fingerprint bits $bits")
    decodeWav(blob).map { samples =>
      val n = samples.length
      if (n == 0) 0L
      else {
        val nf = bits + 1
        val e = new Array[Long](nf)
        var i = 0
        // long arithmetic: i * nf wraps Int past ~2^57/nf samples (a
        // valid multi-hour PCM payload) and a negative index would kill
        // the task instead of fingerprinting the row
        while (i < n) { e((i.toLong * nf / n).toInt) += math.abs(samples(i)); i += 1 }
        var h = 0L
        var b = 0
        while (b < bits) {
          if (e(b + 1) > e(b)) h |= (1L << b)
          b += 1
        }
        h
      }
    }
  }

  /** Fingerprint catalog of the AUDIO rows: doc_id → `bits`-bit energy
    * fingerprint. Same partition-parallel shape and quarantine policy as
    * [[imageDHash]]; the ≤8-byte fingerprint — not the waveform — is
    * what every downstream dedup join shuffles.
    */
  def audioFingerprint(spark: SparkSession, media: DataFrame,
      bits: Int = 32): DataFrame = {
    import spark.implicits._
    media.filter(col("meta.format") === "wav")
      .select(col("doc_id"), col("blob"))
      .as[(Long, Array[Byte])]
      .mapPartitions(rows => rows.flatMap { case (id, blob) =>
        audioFingerprintOf(blob, bits).map(DHashRow(id, _))
      })
      .toDF("doc_id", "afp")
  }

  /** Audio near-dup pairs: [[hammingNearDupPairs]] over the `bits`-bit
    * fingerprints (bits/8 bands — full recall to Hamming bits/8 - 1;
    * the default 32/4 serves Hamming ≤ 3), the decoded catalog pinned as
    * in [[imageNearDupPairs]].
    */
  def audioNearDupPairs(spark: SparkSession, media: DataFrame,
      maxHamming: Int = 3, bits: Int = 32,
      ordered: Boolean = true): DataFrame = {
    // the banded join's constraint, checked at THIS boundary: fingerprints
    // alone accept any width in [1,64], but a width the 8-bit banding
    // can't split would otherwise surface downstream as a confusing
    // hashBits error after the decode work was already planned
    require(bits % 8 == 0 && bits >= 16 && bits <= 64,
      s"audioNearDupPairs: the banded Hamming join needs a fingerprint " +
        s"width that is a multiple of 8 in [16,64], got $bits " +
        s"(audioFingerprintOf alone accepts any width in [1,64])")
    hammingNearDupPairs(audioFingerprint(spark, media, bits).localCheckpoint(),
      "afp", bits, maxHamming, ordered = ordered)
  }

  /** Per-frame dHash list of an mp4 payload: ISO-BMFF demux, each frame's
    * PNG decoded through ImageIO (the [[decodeAndEmbedVideo]] loop), each
    * frame hashed with the shared [[dHashImage]] kernel. None when the
    * container or any frame fails to decode (quarantine policy).
    */
  def videoFrameDHashes(blob: Array[Byte]): Option[Array[Long]] = {
    demuxMp4(blob).flatMap { case (slot, nFrames, mdat) =>
      val out = new Array[Long](nFrames)
      var ok = true
      var f = 0
      // FastImage direct decode for in-slot PNGs; lazy reused ImageIO
      // reader for anything it declines (same quarantine contract)
      var reader: javax.imageio.ImageReader = null
      try while (f < nFrames && ok) {
        FastImage.decode(mdat, f * slot, slot) match {
          case Some(r) => out(f) = dHashRaster(r)
          case None =>
            imageIoInMemory
            if (reader == null)
              reader = javax.imageio.ImageIO
                .getImageReadersByFormatName("png").next()
            val iis = javax.imageio.ImageIO.createImageInputStream(
              new java.io.ByteArrayInputStream(mdat, f * slot, slot))
            val img =
              if (iis == null) null
              else try {
                reader.setInput(iis)
                try reader.read(0)
                catch { case scala.util.control.NonFatal(_) => null }
              } finally iis.close()
            if (img == null) ok = false
            else out(f) = dHashImage(img)
        }
        f += 1
      } finally if (reader != null) reader.dispose()
      if (!ok) None else Some(out)
    }
  }

  /** Frame-fingerprint POSTINGS of the VIDEO rows: (doc_id, frame, dhash)
    * — a video's perceptual identity is its frame-hash SET, the exact
    * shingle idiom the text dedup family uses (a video is a document,
    * frames are its shingles). Pure per-row decode fan-out; the postings
    * — 3 longs per frame, never pixels — are what downstream joins
    * shuffle.
    */
  def videoFrameDHash(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.filter(col("meta.format") === "mp4")
      .select(col("doc_id"), col("blob"))
      .as[(Long, Array[Byte])]
      .mapPartitions(rows => rows.flatMap { case (id, blob) =>
        videoFrameDHashes(blob).toSeq.flatMap(hs =>
          hs.iterator.zipWithIndex.map { case (h, f) => (id, f, h) })
      })
      .toDF("doc_id", "frame", "dhash")
  }

  /** Video near-dup pairs by frame-hash Jaccard — the video member of
    * the perceptual dedup family, composed exactly like text n-gram
    * dedup: distinct (doc, frame-dhash) postings self-join on the hash
    * (fan-out bounded per shared frame, never videos²), intersection
    * counts against per-video distinct-frame counts, keep pairs with
    * J ≥ `minJaccard`. A re-encode, a trim, or a frame edit keeps most
    * frame hashes identical; unrelated videos share none.
    */
  def videoNearDupPairs(spark: SparkSession, media: DataFrame,
      minJaccard: Double = 0.8, maxVideosPerFrame: Int = 0,
      ordered: Boolean = true): DataFrame =
    // localCheckpoint (the qL19 pattern): the postings feed both self-join
    // sides AND the per-video size aggregate — pinning the (doc_id, frame,
    // dhash) longs runs the demux + per-frame PNG decode ONCE instead of
    // once per consumer exchange
    videoJaccardPairs(videoFrameDHash(spark, media).localCheckpoint(),
      minJaccard, maxVideosPerFrame, ordered = ordered)

  /** The frame-set Jaccard join over ANY (doc_id, …, dhash) postings
    * frame — the decode-free half of [[videoNearDupPairs]], shared with
    * the [[FingerprintStore]] serving path. It never pins `postings`.
    */
  private[operators] def videoJaccardPairs(postings: DataFrame,
      minJaccard: Double, maxVideosPerFrame: Int,
      ordered: Boolean = true): DataFrame = {
    val raw = postings.select("doc_id", "dhash").distinct()
    // BOILERPLATE-FRAME cap (the sourceOverlap(maxSourcesPerShingle)
    // discipline, applied to the video family): a frame hash shared by
    // thousands of videos — black frames, channel intros, logo cards at
    // a real crawl — turns the hash self-join's per-key fan-out
    // quadratic. With a cap K, such hashes are excluded from BOTH the
    // intersection and the per-video sizes (Jaccard stays a true ratio
    // over the surviving frame universe) via one keys-only pre-count,
    // bounding fan-out at K² per hash at any corpus size. 0 = uncapped
    // (the spec-pinned exact semantics).
    val posts =
      if (maxVideosPerFrame <= 0) raw
      else raw.join(
        raw.groupBy("dhash").agg(count(lit(1)).as("n_vids"))
          .where(col("n_vids") <= maxVideosPerFrame)
          .select("dhash"),
        Seq("dhash"))
    // PROBE-SIDE LOCALITY + EXPLOSION PARALLELISM: hash the postings by
    // doc_id so that every posting of a video sits in ONE task. The
    // hash self-join streams the probe side in this partitioning, so
    // all the join rows of a candidate pair (one per SHARED frame hash
    // — measured ~60 per surviving pair on the saturated bench fixture)
    // surface in the same map task and the PARTIAL pair aggregate
    // collapses them to one row; with the group keys prefixed by doc_a
    // the doc_id partitioning even satisfies the aggregate, removing
    // the pair exchange outright. The partition count is EXPLICIT
    // (defaultParallelism, scale-adaptive): the postings are only
    // kilobytes-to-megabytes before the join but fan out ~270× through
    // the saturated hash buckets, and AQE — sizing from the PRE-join
    // bytes — would coalesce the exchange to one partition and run the
    // entire quadratic bucket scan single-threaded (measured 5.4 s in
    // 1 task vs 0.4 s across 32 at sf0.1).
    val local = posts.repartition(
      posts.sparkSession.sparkContext.defaultParallelism, col("doc_id"))
    val sizes = local.groupBy("doc_id").agg(count(lit(1)).as("n_fr"))
    // Sizes ride WITH the postings through the hash self-join (one
    // posting-sized join against the per-video counts) instead of being
    // re-attached to the PAIR set afterwards: under frame-hash
    // saturation the candidate pair set is far larger than the postings,
    // so the two former pair-sized size-joins (2 exchanges of the pair
    // aggregate) collapse into one postings-sized join, and the group
    // key (doc_a, doc_b, n_a, n_b) adds no rows — sizes are functionally
    // determined by the ids.
    val withN = local.join(sizes, Seq("doc_id"))
    // LENGTH-BOUND candidate filter (the set-similarity-join size filter):
    // J(A,B) ≥ t forces |A∩B| ≥ t·|A∪B| with |A∩B| ≤ min(n_a,n_b) and
    // |A∪B| ≥ max(n_a,n_b), so a pair can only survive the final Jaccard
    // gate if the SAME double expression evaluated at the intersection's
    // upper bound (inter = least(n_a, n_b)) passes it. Spelling the bound
    // with the final filter's own arithmetic — not t·n ≤ n rearrangements
    // — makes it safe against double rounding: inter/(S−inter) over exact
    // integer operands is weakly monotone in inter under correct
    // rounding, so bound-pass is implied by any true-pair pass and the
    // filter can never drop a surviving pair. Saturated buckets (unrelated
    // videos sharing low-entropy hashes) are dropped at the JOIN, before
    // they fan into the pair aggregation.
    val boundOk = least(col("a.n_fr"), col("b.n_fr")).cast("double") /
      (col("a.n_fr") + col("b.n_fr") -
        least(col("a.n_fr"), col("b.n_fr"))).cast("double") >= minJaccard
    val pairs = withN.as("a")
      .join(withN.as("b"),
        col("a.dhash") === col("b.dhash") &&
          col("a.doc_id") < col("b.doc_id") && boundOk)
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n_fr").as("n_a"), col("b.n_fr").as("n_b"))
      .agg(count(lit(1)).as("inter"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")).cast("double"))
          .as("jaccard"))
      .where(col("jaccard") >= minJaccard)
    // ordered = false for order-insensitive consumers — the global
    // sort's range-sampling pass re-runs the final pair aggregate over
    // the candidate exchange (measured ~+70% on the saturated serving
    // join); declared pair queries keep the deterministic total order
    if (ordered) pairs.orderBy("doc_a", "doc_b") else pairs
  }

  /** Q-MM06 — per-frame video dHash catalog over the real demux + decode
    * path, oracle-checked: the DuckDB oracle regenerates every frame's
    * 4×3 pixels from the splitmix64 stream (one chain chopped into
    * frames, the q_mm02 video discipline), samples the same 9×8 grid
    * (nearest-neighbor UPSCALING for the tiny frames), and rebuilds each
    * frame's 64-bit hash in HUGEINT SQL. [[videoNearDupPairs]] — the
    * frame-set Jaccard join over this catalog — is spec-pinned on a
    * constructed spliced-frame near-duplicate.
    */
  def qMM06(s: SparkSession, d: String): DataFrame =
    videoFrameDHash(s, withMedia(Tables.documents(s, d)))
      .orderBy("doc_id", "frame")

  /** Q-MM05 — audio fingerprint catalog over the real RIFF/PCM decode
    * path, oracle-checked: the DuckDB oracle regenerates every wav row's
    * sample stream from splitmix64 (the q_mm02 discipline), folds the
    * same 33 integer frame energies, and rebuilds the 32-bit gradient
    * fingerprint — completing the perceptual-dedup family across all
    * three media kinds (image dHash q_mm04, THIS for audio; video frames
    * are PNG images and reuse the image path per frame).
    */
  def qMM05(s: SparkSession, d: String): DataFrame =
    audioFingerprint(s, withMedia(Tables.documents(s, d)))
      .orderBy("doc_id")

  /** Q-MM04 — perceptual-hash (dHash) catalog over the real decode path,
    * oracle-checked: per image doc, the 64-bit difference hash. Pins
    * decode → integer luminance → nearest-neighbor 9×8 grid → gradient
    * bits end-to-end, because the DuckDB oracle regenerates the expected
    * pixels from the splitmix64 stream (seed = doc_id, the q_mm02
    * discipline) and rebuilds the hash in integer SQL — a lossy codec, a
    * channel-order mixup, or an off-by-one in the grid sampling all flip
    * the hash. The near-dup JOIN over these hashes is
    * [[imageNearDupPairs]], spec-pinned on constructed near-identical
    * images (the synthetic corpus's random pixels produce no true
    * near-dups — any pair here would be vacuous).
    */
  def qMM04(s: SparkSession, d: String): DataFrame =
    imageDHash(s, withMedia(Tables.documents(s, d)))
      .orderBy("doc_id")

  // ---- planted near-duplicate fixtures for the near-dup JOIN oracles ----

  /** Twin ids live far above every real doc_id so a planted row can never
    * collide with corpus mass (documents ids are corpus-ordinal; the
    * decade fixtures top out orders of magnitude below this).
    */
  private[graft] val TwinOffset = 10000000L

  /** Samples zeroed at the head of a planted audio twin — a leading-
    * silence edit, the smallest real-world near-dup mutation: it
    * perturbs only the first 1-2 of the 33 frame energies, so the
    * gradient fingerprint moves 0-2 bits, well inside the Hamming-3
    * serving threshold.
    */
  private[graft] val AudioTwinSilence = 16

  /** PLANT deterministic audio near-duplicates (the q_l44 mutation
    * idiom, applied to media): every third wav row gets a twin at
    * `doc_id + TwinOffset` whose payload is the ORIGINAL BLOB decoded,
    * its first [[AudioTwinSilence]] samples silenced, and re-encoded —
    * a true decode→edit→re-encode near-dup, not a re-synthesis. Because
    * the mutation is a pure function of the original's deterministic
    * samples, the DuckDB oracle regenerates the twins' fingerprints
    * exactly (q_mm07) and rebuilds the expected pair set all-pairs.
    */
  def plantAudioTwins(s: SparkSession, media: DataFrame): DataFrame = {
    val mutate = udf((blob: Array[Byte]) =>
      decodeWav(blob).map { ss =>
        val out = ss.clone()
        var i = 0
        while (i < math.min(AudioTwinSilence, out.length)) { out(i) = 0; i += 1 }
        encodeWavSamples(out)
      }.orNull)
    media.filter(col("meta.format") === "wav" && col("doc_id") % 3 === 0)
      .select((col("doc_id") + lit(TwinOffset)).as("doc_id"),
        mutate(col("blob")).as("blob"), col("meta"))
      .filter(col("blob").isNotNull)
  }

  /** PLANT deterministic image near-duplicates: every third image row
    * (png/bmp) at least 10 px wide gets a twin at `doc_id + TwinOffset`
    * whose payload is the ORIGINAL BLOB decoded, its bottom-right
    * pixel blacked, and re-encoded — a true decode→edit→re-encode
    * near-dup (the watermark/retouch case): the twin's BYTES differ
    * from the original's, but its dHash is bit-identical because the
    * 9×8 sampling grid provably never reads column w−1 when w ≥ 10
    * (max sampled column = ⌊8w/9⌋ < w−1 ⟺ w > 9), so the pair sits at
    * Hamming 0 inside any serving radius AND the DuckDB oracle
    * regenerates the twin's hash from the original's seed with no
    * mutation model. (Sub-10-px images are skipped: their grid cells
    * alias every pixel, so no edit is hash-invisible — and the audio
    * silence twins / video trim twins in the same composed query
    * already exercise the nonzero-radius semantics.)
    */
  def plantImageTwins(s: SparkSession, media: DataFrame): DataFrame = {
    val mutate = udf((blob: Array[Byte]) => {
      imageIoInMemory
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(blob))
      if (img == null) null
      else {
        img.setRGB(img.getWidth - 1, img.getHeight - 1, 0xFF000000)
        val fmt = // re-encode in the claimed container
          if (blob.length >= 2 && blob(0) == 'B' && blob(1) == 'M') "bmp"
          else "png"
        // ImageIO.write returns FALSE (leaving the stream empty) when no
        // writer accepts the image type — e.g. the BMP writer rejecting
        // alpha. Ignoring it would plant a 0-byte "twin" that passes
        // isNotNull and quarantines engine-side while the oracle still
        // expects its hash. Retry through the universally-writable
        // 3BYTE_BGR raster; only then give up (null → twin dropped).
        def enc(i: java.awt.image.BufferedImage): Option[Array[Byte]] = {
          val out = new java.io.ByteArrayOutputStream()
          if (javax.imageio.ImageIO.write(i, fmt, out)) Some(out.toByteArray)
          else None
        }
        enc(img).orElse {
          val bgr = new java.awt.image.BufferedImage(img.getWidth,
            img.getHeight, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
          val g = bgr.createGraphics()
          g.drawImage(img, 0, 0, null)
          g.dispose()
          enc(bgr)
        }.orNull
      }
    })
    media.filter(col("meta.format").isin("png", "bmp") &&
        col("doc_id") % 3 === 0 && col("meta.width") >= 10)
      .select((col("doc_id") + lit(TwinOffset)).as("doc_id"),
        mutate(col("blob")).as("blob"), col("meta"))
      .filter(col("blob").isNotNull)
  }

  /** Remux an mp4 payload minus its LAST frame slot — the trim edit of
    * a planted video twin. Demux the real container, drop one slot,
    * re-emit through the SAME header writer the encoder uses. None for
    * single-frame payloads (a zero-frame twin has no postings) or a
    * non-fixture slot size.
    */
  private[graft] def trimLastFrame(blob: Array[Byte]): Option[Array[Byte]] =
    demuxMp4(blob).flatMap { case (slot, n, mdat) =>
      if (n < 2 || slot != Mp4FrameSize) None
      else {
        val dataLen = (n - 1) * slot
        val bb = java.nio.ByteBuffer.allocate(Mp4HeaderLen + dataLen)
        putMp4Header(bb, n - 1)
        bb.put(mdat, 0, dataLen)
        Some(bb.array())
      }
    }

  /** PLANT deterministic video near-duplicates: every third mp4 row
    * (with ≥ 2 frames) gets a twin at `doc_id + TwinOffset` whose
    * payload is the original demuxed and re-muxed without its last
    * frame — the trim edit. The twin's frame-hash SET is a subset of
    * the original's, so the Jaccard join (q_mm08) finds the pair
    * whenever enough distinct frame hashes survive the trim, and the
    * DuckDB oracle rebuilds the identical postings from the splitmix64
    * chain (frames 0..F-2 of the original's seed).
    */
  def plantVideoTwins(s: SparkSession, media: DataFrame): DataFrame = {
    val trim = udf((blob: Array[Byte]) => trimLastFrame(blob).orNull)
    media.filter(col("meta.format") === "mp4" && col("doc_id") % 3 === 0)
      .select((col("doc_id") + lit(TwinOffset)).as("doc_id"),
        trim(col("blob")).as("blob"),
        struct(col("meta.format").as("format"), col("meta.width").as("width"),
          col("meta.height").as("height"),
          (col("meta.n_frames") - 1).as("n_frames")).as("meta"))
      .filter(col("blob").isNotNull)
  }

  /** Real media dimensions, probed from HEADERS only (no pixel/sample
    * decode): PNG reads IHDR's big-endian width/height, BMP reads the
    * BITMAPINFOHEADER's little-endian pair (single images: n_frames =
    * 1), mp4 walks the box chain to stsz for the frame count and the
    * first frame's PNG IHDR for the frame dims. WAV returns all-zero —
    * audio genuinely has no pixel dimensions, so 0 = not-applicable is
    * the honest value, not an unprobed placeholder. Any malformed or
    * unknown payload probes to zeros (the quarantine-not-crash policy);
    * the real decoders downstream re-validate everything they read.
    */
  final case class MediaDims(width: Int, height: Int, n_frames: Int)
  def probeDims(format: String, blob: Array[Byte]): MediaDims = {
    def be32(b: Array[Byte], o: Int): Int =
      ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
        ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
    def le32(b: Array[Byte], o: Int): Int =
      ((b(o + 3) & 0xff) << 24) | ((b(o + 2) & 0xff) << 16) |
        ((b(o + 1) & 0xff) << 8) | (b(o) & 0xff)
    val none = MediaDims(0, 0, 0)
    try format match {
      case "png" if blob.length >= 24 && (blob(0) & 0xff) == 0x89 &&
          blob(1) == 'P' && blob(2) == 'N' && blob(3) == 'G' =>
        MediaDims(be32(blob, 16), be32(blob, 20), 1)
      case "bmp" if blob.length >= 26 && blob(0) == 'B' && blob(1) == 'M' =>
        MediaDims(le32(blob, 18), le32(blob, 22), 1)
      case "mp4" =>
        demuxMp4(blob) match {
          case Some((_, nFrames, mdat))
              if mdat.length >= 24 && (mdat(0) & 0xff) == 0x89 =>
            MediaDims(be32(mdat, 16), be32(mdat, 20), nFrames)
          case Some((_, nFrames, _)) => MediaDims(0, 0, nFrames)
          case None => none
        }
      case _ => none
    } catch { case scala.util.control.NonFatal(_) => none }
  }

  /** The doc_id of the deliberately-corrupt payload [[qMM09]] plants to
    * exercise the quarantine leg — far outside both the corpus and the
    * twin ranges.
    */
  private[graft] val CorruptMediaId = 88000001L

  /** Q-MM09 — the COMPOSED media prep pipeline, the media twin of the
    * text family's composed q_l39: raw media FILES on disk →
    * [[graft.io.Readers.binaryMedia]] ingestion (recursive listing,
    * extension glob pushed into the file listing, ids from the numeric
    * file stems) → format quarantine (a planted corrupt payload claims
    * `.wav`, fails the RIFF parse, and is dropped at the fingerprint
    * stage — one quarantined row, never a failed job) → audio
    * fingerprint catalog → banded-Hamming near-dup join → connected
    * components → cluster KEEPER resolution (longest clip wins, sample
    * count read off the container length; ties to the smallest id — a
    * silence twin preserves length, so the original outranks it
    * deterministically).
    *
    * Oracle-checked end to end: files are named `<doc_id>.wav` where
    * doc_id is the corpus id, so the DuckDB oracle regenerates every
    * fingerprint from the id (the q_mm07 chain), rebuilds the pair set
    * all-pairs, resolves clusters with the recursive transitive-closure
    * CTE (the q_l19/q_l45 idiom), and recomputes each keeper.
    *
    * Scale shape: the fixture WRITE is the synthetic-source side
    * ([[writeMediaFixtureDriverSide]] — driver-side, deterministic
    * path, stands in for the crawl that delivered the corpus; it is NOT
    * part of the pipeline under test, which starts at the file
    * listing). The pipeline itself never shuffles a blob:
    * fingerprints are a per-partition map over the file scan, the join
    * and CC move (id, fingerprint) longs, and the keeper ordering key
    * (sample count) is a header-length expression evaluated scan-side.
    */
  /** Write a media frame to disk as a `<doc_id>.<format>` file tree
    * (4 `shard=N` subdirs — the recursive-listing shape a sharded crawl
    * delivery has) — the FIXTURE side of the composed pipelines, NOT an
    * operator: it stands in for the crawl that delivered the corpus.
    * The blob ENCODE/collect runs as ONE parallel Spark job and only
    * the file writes run driver-side (the fixture is bounded by
    * construction — tens of MB at bench SF — so the collect is a
    * fixture-sized transfer, not a corpus operator; a toLocalIterator
    * here would serialize the encode work to one task at a time, +1.4 s
    * per q_mm09 pass measured). Driver-side writing is what makes the
    * fixture correct on a real cluster too — an executor-side
    * foreachPartition write would scatter files across worker-local
    * filesystems and the driver's listing would miss them. The target
    * dir is DETERMINISTIC per caller and rebuilt from scratch when this
    * runs (delete + recreate); callers go through [[stageFixtureOnce]],
    * which skips the rebuild entirely while the recipe marker matches —
    * one footprint, built once per (dataset, recipe).
    */
  private[graft] def writeMediaFixtureDriverSide(s: SparkSession,
      media: DataFrame, dir: String): Unit = {
    import s.implicits._
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root)) { // fresh tree, bounded footprint
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.delete)
    }
    media.select(col("doc_id"), col("meta.format"), col("blob"))
      .as[(Long, String, Array[Byte])]
      .collect().foreach { case (id, fmt, blob) =>
        val d = root.resolve(s"shard=${(id % 4).toInt}")
        java.nio.file.Files.createDirectories(d)
        java.nio.file.Files.write(d.resolve(s"$id.$fmt"), blob)
      }
  }

  /** Deterministic per-dataset scratch dir under the JVM tmpdir — the
    * fixture/store location the composed media queries stage into.
    */
  private[graft] def scratchDir(tag: String, d: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft-$tag-" +
      java.lang.Long.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(d).toLong & 0xffffffffL)

  /** Register a PER-PROCESS scratch tree for recursive deletion at JVM
    * exit — unlike the marker-guarded shared fixtures (which later runs
    * reuse), a per-pid tree is garbage the moment its JVM dies, and
    * without this every bench/verify process would leak a full store
    * under java.io.tmpdir.
    */
  private[graft] def deleteOnExit(path: String): String = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(rm)
        f.delete(): Unit
      }
      rm(new java.io.File(path))
    }))
    path
  }

  /** Bump whenever the fixture CONTENT recipe changes — the synthetic
    * encoders, the twin mutations, the corrupt plant, the shard layout,
    * or any DIGEST kernel a staged store downstream of the tree derives
    * from (q_l59's `mm10s` store is staged behind the same version) —
    * so stale staged trees and stores invalidate. The staged tree is
    * keyed on (tag, dataset dir + a documents.parquet file fingerprint,
    * this version): a dataset REGENERATED at the same path invalidates
    * automatically; a code change is this constant's job.
    */
  private[graft] val MediaFixtureVersion = "v1"

  /** Listing fingerprint of the dataset's documents table (names, sizes,
    * mtimes) — the staged-fixture key's defense against a dataset
    * regenerated in place, which a path-only key would silently serve a
    * stale tree for.
    */
  private def datasetFingerprint(d: String): String = {
    import java.nio.file.{Files, Paths}
    val root = Paths.get(d, "documents.parquet")
    if (!Files.exists(root)) return "absent"
    val st = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      val acc = st.iterator().asScala
        .filter(p => Files.isRegularFile(p))
        .map(p => s"${p.getFileName}:${Files.size(p)}:" +
          Files.getLastModifiedTime(p).toMillis)
        .toSeq.sorted.mkString("|")
      java.lang.Long.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(acc).toLong & 0xffffffffL)
    } finally st.close()
  }

  private object FixtureLock

  /** Stage a composed query's media fixture tree ONCE per (tag, dataset,
    * [[MediaFixtureVersion]]): `build` runs only when the sibling
    * `<dir>.fixture-<hash>` marker is missing (the marker commits LAST,
    * so a crashed build rebuilds whole), and repeated bench/verify
    * passes of q_mm09/q_mm10 price the PIPELINE instead of re-billing
    * ~30 s of fixture ENCODE scaffolding per pass — drift in the
    * pipeline stays visible in the row. An OS file lock (`<dir>.lock`,
    * JVM-monitor-wrapped for in-process callers) serializes concurrent
    * JVMs (bench beside verify on the same dataset): the loser of the
    * race finds the winner's marker and reuses the tree instead of
    * clobbering it mid-read — the hazard the bare deterministic
    * delete+recreate had.
    */
  private[graft] def stageFixtureOnce(tag: String, d: String)
      (build: String => Unit): String = {
    import java.nio.file.{Files, Paths, StandardOpenOption}
    val dir = scratchDir(tag, d)
    val recipeHash = java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3
        .stringHash(s"$tag:$MediaFixtureVersion:${datasetFingerprint(d)}")
        .toLong & 0xffffffffL)
    val marker = Paths.get(s"$dir.fixture-$recipeHash")
    val lockPath = Paths.get(s"$dir.lock")
    FixtureLock.synchronized {
      Files.createDirectories(lockPath.getParent)
      val ch = java.nio.channels.FileChannel.open(lockPath,
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val lk = ch.lock()
        try {
          if (!Files.exists(marker)) {
            // stale markers of older recipes: this tree is being replaced
            import scala.jdk.CollectionConverters._
            val parent = Paths.get(dir).getParent
            val base = Paths.get(dir).getFileName.toString + ".fixture-"
            val ls = Files.list(parent)
            try ls.iterator().asScala
              .filter(_.getFileName.toString.startsWith(base))
              .foreach(Files.delete)
            finally ls.close()
            build(dir)
            Files.write(marker, Array.emptyByteArray)
          }
        } finally lk.release()
      } finally ch.close()
    }
    dir
  }

  def qMM09(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val corpus = withMedia(Tables.documents(s, d))
    val wav = corpus.filter(col("meta.format") === "wav")
    val tmp = stageFixtureOnce("mm09", d) { dir =>
      writeMediaFixtureDriverSide(s,
        wav.unionByName(plantAudioTwins(s, wav)), dir)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, s"$CorruptMediaId.wav"),
        Array.fill[Byte](64)(7))
    }
    // ---- the pipeline under test starts at the file listing
    val media = graft.io.Readers.binaryMedia(s, tmp, Some("*.wav"),
      idFromStem = true)
    // ordered = false: the pairs feed connected components (order-
    // insensitive); skips the range-sample re-run of the pair dedup
    val pairs = audioNearDupPairs(s, media, ordered = false)
    val comp = TrainPrep.connectedComponents(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
    val ns = media.select(col("doc_id").as("id"),
      ((length(col("blob")) - 44) / 2).cast("long").as("n_samples"))
    val w = Window.partitionBy("comp")
      .orderBy(col("n_samples").desc, col("id"))
    comp.join(ns, Seq("id"))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("comp").as("cluster_id"))
      .agg(count(lit(1)).as("size"),
        max(when(col("rn") === 1, col("id"))).as("keeper_id"),
        max(when(col("rn") === 1, col("n_samples"))).as("kept_samples"))
      .orderBy("cluster_id")
  }

  /** Q-MM10 — the MIXED-MEDIA corpus prep pipeline, the full multimodal
    * composition the store exists for: one file tree holding all four
    * formats (png/bmp/wav/mp4, plus planted twins per modality and one
    * corrupt payload) → [[graft.io.Readers.binaryMedia]] ingestion →
    * [[FingerprintStore.bootstrap]] (every blob decodes EXACTLY ONCE
    * into the three digest catalogs; the corrupt row quarantines in the
    * ledger) → all three near-dup families SERVED FROM THE STORE
    * (image banded-Hamming, audio banded-Hamming, video frame-set
    * Jaccard — zero decode work, blobs never in any join plan) → ONE
    * connected-components pass over the unified pair set (modalities
    * can't cross-link: pairs only form within a catalog, so one CC is
    * both correct and one less pass than three) → a unified keeper
    * table, one row per cluster with its modality, size and keeper.
    *
    * KEEPER RULE, one expression across modalities (computed scan-side
    * off headers, never a decode): keep the RICHEST member — pixels
    * (w·h) for images, sample count for audio, frame count for video —
    * ties to the smallest id. An exact image twin ties on pixels and
    * loses on id; a silence audio twin preserves length and loses on
    * id; a trimmed video twin genuinely has fewer frames.
    *
    * Oracle-checked end to end: the DuckDB oracle regenerates all three
    * digest catalogs from the splitmix64 chains (the q_mm04/05/06
    * spellings, twins folded in per q_mm07/08), rebuilds each family's
    * pair set all-pairs, resolves the union's clusters with the
    * recursive transitive-closure CTE and recomputes every keeper.
    *
    * Scale shape: fixture write is driver-side synthetic-source
    * scaffolding ([[writeMediaFixtureDriverSide]]); the pipeline under
    * test starts at the file listing. Decode cost rides the bootstrap
    * (once per corpus lifetime — later analyses re-read the store);
    * every exchange after the scan carries ids + digests only. The
    * video join's cost at bench SF is the q_mm08-adjudicated fixture
    * entropy (4×3 frames ⇒ ~9 informative dHash bits), not the plan.
    */
  /** Stage the q_mm10/q_l59 mixed-media fixture tree (all four formats,
    * per-modality twins, one corrupt payload) once per dataset — the
    * shared synthetic-source scaffolding of the composed queries.
    */
  private[graft] def stageMm10Fixture(s: SparkSession, d: String): String = {
    val corpus = withMedia(Tables.documents(s, d))
    val media = corpus
      .unionByName(plantImageTwins(s, corpus))
      .unionByName(plantAudioTwins(s, corpus))
      .unionByName(plantVideoTwins(s, corpus))
    stageFixtureOnce("mm10", d) { dir =>
      writeMediaFixtureDriverSide(s, media, dir)
      java.nio.file.Files.write( // claims png, fails the decoder →
        java.nio.file.Paths.get(dir, s"$CorruptMediaId.png"), // ledger
        Array.fill[Byte](64)(7)) // quarantine
    }
  }

  /** Cluster-ranked mixed-media items over a bootstrapped fingerprint
    * store: all three near-dup families SERVED FROM THE STORE, one
    * connected-components pass over the unified pair set (modalities
    * can't cross-link: pairs only form within a catalog), then the
    * cross-modality richness rank — (id, modality, comp, richness, rn),
    * rn = 1 is the cluster's keeper. Shared by [[qMM10]]'s keeper table
    * and the unified corpus-prep capstone's media-loser drop
    * ([[TrainPrep.qL59]]). `ingested` supplies richness scan-side
    * (headers + blob length — never a decode); only (id, digest) longs
    * cross the joins' exchanges.
    */
  private[graft] def mixedMediaRanked(s: SparkSession, ingested: DataFrame,
      store: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ordered = false throughout: these pair sets exist only to feed
    // the order-insensitive connected-components pass — the orderBy of
    // the declared pair queries would re-run each family's final pair
    // aggregate once more for the range sample and then discard the
    // order at the very next exchange
    val pairs = FingerprintStore.imageNearDupPairs(s, store,
        ordered = false)
      .select("doc_a", "doc_b")
      .unionByName(FingerprintStore.audioNearDupPairs(s, store,
        ordered = false)
        .select("doc_a", "doc_b"))
      .unionByName(FingerprintStore.videoNearDupPairs(s, store,
        ordered = false)
        .select("doc_a", "doc_b"))
    // hopsPerRound = 3: this graph's low-entropy fixture hashes chain
    // clusters to diameter ~15 (r20 measurement), so batching hops cuts
    // the round barriers ~3x (TrainPrep.connectedComponents class doc)
    val comp = TrainPrep.connectedComponents(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")),
      hopsPerRound = 3)
    val rich = ingested.select(col("doc_id").as("id"),
      when(col("meta.format").isin("png", "bmp"), lit("image"))
        .when(col("meta.format") === "wav", lit("audio"))
        .otherwise(lit("video")).as("modality"),
      when(col("meta.format").isin("png", "bmp"),
        col("meta.width").cast("long") * col("meta.height"))
        .when(col("meta.format") === "wav",
          ((length(col("blob")) - 44) / 2).cast("long"))
        .otherwise(col("meta.n_frames").cast("long")).as("richness"))
    val w = Window.partitionBy("comp")
      .orderBy(col("richness").desc, col("id"))
    comp.join(rich, Seq("id"))
      .withColumn("rn", row_number().over(w))
  }

  def qMM10(s: SparkSession, d: String): DataFrame = {
    val tmp = stageMm10Fixture(s, d)
    // ---- the pipeline under test starts at the file listing
    val ingested = graft.io.Readers.binaryMedia(s, tmp,
      idFromStem = true)
    // per-PROCESS store dir: this query re-bootstraps every run by
    // design (it prices the decode), so unlike the staged fixture there
    // is nothing to share across JVMs — and a shared deterministic path
    // would let one JVM's overwrite-bootstrap clobber another's mid-scan
    // (the stageFixtureOnce concurrency story, completed at the store);
    // per-pid ⇒ garbage at JVM death, so it registers for exit cleanup
    val store = deleteOnExit(scratchDir("mm10-store", d) +
      s"-p${ProcessHandle.current().pid()}")
    FingerprintStore.bootstrap(s, ingested, store)
    mixedMediaRanked(s, ingested, store)
      .groupBy(col("comp").as("cluster_id"))
      .agg(min("modality").as("modality"),
        count(lit(1)).as("size"),
        max(when(col("rn") === 1, col("id"))).as("keeper_id"))
      .orderBy("cluster_id")
  }

  /** Q-MM07 — the AUDIO near-dup JOIN itself, oracle-checked on planted
    * duplicates: corpus wav rows plus [[plantAudioTwins]] run through
    * the banded-Hamming join ([[audioNearDupPairs]]), and the DuckDB
    * oracle regenerates every fingerprint — originals from the
    * splitmix64 stream, twins with the leading-silence mutation folded
    * into the frame energies — and rebuilds the expected pair set
    * all-pairs (the oracle may be quadratic; the engine never is).
    * Completes the r13 verdict gap: the pair SETS, not just the
    * fingerprint catalogs, are now oracle-tier.
    */
  def qMM07(s: SparkSession, d: String): DataFrame = {
    val media = withMedia(Tables.documents(s, d))
    audioNearDupPairs(s, media.unionByName(plantAudioTwins(s, media)))
  }

  /** Q-MM08 — the VIDEO near-dup JOIN, oracle-checked on planted trim
    * twins: corpus mp4 rows plus [[plantVideoTwins]] through the
    * frame-set Jaccard join ([[videoNearDupPairs]]); the oracle
    * rebuilds the per-frame hashes for originals AND twins (frames
    * 0..F-2 of the same chain) and recomputes Jaccard over distinct
    * frame-hash sets all-pairs.
    */
  def qMM08(s: SparkSession, d: String): DataFrame = {
    val media = withMedia(Tables.documents(s, d))
    videoNearDupPairs(s, media.unionByName(plantVideoTwins(s, media)))
  }
}
