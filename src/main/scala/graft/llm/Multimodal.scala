package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (SURVEY.md extension list): image/audio/video
  * payloads are opaque `binary` columns with typed metadata; decode /
  * feature-extract / frame-sample run partition-batched so a real codec
  * would amortize per-batch model/library setup — the Scala analogue of a
  * batched pandas UDF.
  *
  * The codec itself is STUBBED (this container has no image/audio
  * libraries): `decodeStub` is a deterministic fake that "parses" a
  * 4-byte width/height header. Everything around it — schema, encoders,
  * partition batching, feature shape — is real and tested.
  */
object Multimodal {

  /** An opaque media payload with typed metadata. */
  final case class MediaRow(doc_id: Long, media: Array[Byte], format: String)

  final case class Decoded(
      doc_id: Long, format: String, width: Int, height: Int,
      n_frames: Int, features: Array[Double])

  /** STUB decode — deterministic fake in place of a real codec.
    * "Header": bytes 0-1 → width, bytes 2-3 → height (big-endian),
    * frame count from payload length. A real implementation would call
    * the codec here and nothing else changes. */
  def decodeStub(bytes: Array[Byte]): (Int, Int, Int) = {
    def u(i: Int): Int = if (i < bytes.length) bytes(i) & 0xff else 0
    val w = (u(0) << 8 | u(1)) % 1920 + 1
    val h = (u(2) << 8 | u(3)) % 1080 + 1
    val frames = bytes.length % 24 + 1
    (w, h, frames)
  }

  /** STUB feature extraction: 16-bin byte histogram, L1-normalized —
    * stands in for an embedding/feature model, with the real batch shape. */
  def byteHistogram(bytes: Array[Byte]): Array[Double] = {
    val bins = new Array[Double](16)
    bytes.foreach(b => bins((b & 0xff) / 16) += 1.0)
    val n = math.max(bytes.length, 1).toDouble
    bins.map(_ / n)
  }

  /** Frame-sample: every k-th 16-byte "frame" of the payload. */
  def frameSample(bytes: Array[Byte], every: Int): Array[Array[Byte]] =
    bytes.grouped(16).zipWithIndex
      .collect { case (frame, i) if i % every == 0 => frame }
      .toArray

  /** STUB resize: nearest-neighbor downsample of the payload treated as a
    * row-major byte "image" — deterministic index arithmetic in place of a
    * real scaler; output is always targetW*targetH bytes. */
  def resizeStub(bytes: Array[Byte], srcW: Int, srcH: Int,
      targetW: Int, targetH: Int): Array[Byte] = {
    require(targetW > 0 && targetH > 0, "target dims must be positive")
    val out = new Array[Byte](targetW * targetH)
    var y = 0
    while (y < targetH) {
      val sy = y.toLong * srcH / targetH
      var x = 0
      while (x < targetW) {
        val sx = x.toLong * srcW / targetW
        val idx = sy * srcW + sx
        out(y * targetW + x) =
          if (idx < bytes.length) bytes(idx.toInt) else 0
        x += 1
      }
      y += 1
    }
    out
  }

  /** Partition-batched decode: one pass per partition, codec setup
    * amortized per batch (the `mapInPandas` batch shape). */
  def decode(ds: Dataset[MediaRow]): Dataset[Decoded] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions { rows =>
      // real codecs would initialize here, once per partition-batch
      rows.map { r =>
        val (w, h, f) = decodeStub(r.media)
        Decoded(r.doc_id, r.format, w, h, f, byteHistogram(r.media))
      }
    }
  }

  /** Documents' text bytes as stand-in media payloads. */
  def mediaFromDocuments(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    graft.core.Tables.documents(spark, dir)
      .select(col("doc_id"),
        col("text").cast(org.apache.spark.sql.types.BinaryType).as("media"),
        lit("fake/raw").as("format"))
      .as[MediaRow]
  }

  /** End-to-end: payloads → batched decode → typed metadata + features. */
  def decodedTable(spark: SparkSession, dir: String): DataFrame =
    decode(mediaFromDocuments(spark, dir))
      .toDF()
      .withColumn("feat_sum",
        aggregate(col("features"), lit(0.0), (a, x) => a + x))
      .orderBy(col("doc_id"))

  /** Registry-facing projection of [[decodedTable]]: scalar columns only —
    * the driver's result hasher can't canonicalize array columns — and
    * every column oracle-expressible. The stub decode is integer
    * arithmetic on payload bytes, and the generated documents are pure
    * ASCII at every scale factor (byte i == codepoint of char i+1), so
    * DuckDB replays width/height/frames from `ascii(substring(...))` and
    * the histogram's support size from distinct `codepoint/16` bins —
    * keeping the mapPartitions decode AND byteHistogram load-bearing in
    * the hash compare instead of rows-only. */
  def decodedDigest(spark: SparkSession, dir: String): DataFrame =
    decode(mediaFromDocuments(spark, dir))
      .toDF()
      .select(col("doc_id"), col("format"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("n_frames").cast("long").as("n_frames"),
        size(filter(col("features"), x => x > 0.0)).cast("long")
          .as("feat_nonzero"))
      .orderBy(col("doc_id"))

  // ---- Real codec path: 24-bit BMP ---------------------------------------
  // The one image format a pure JVM can parse honestly with zero native
  // libraries: uncompressed 24bpp BMP (BITMAPFILEHEADER + BITMAPINFOHEADER,
  // bottom-up rows padded to 4 bytes). The fixture generator writes real
  // BMP files as binary payloads; [[decodeBmp]] parses the actual bytes —
  // width/height/pixels come from the HEADER, not from metadata — and the
  // oracle re-parses the same bytes independently in SQL (hex-string
  // little-endian field extraction). This makes the decode query honest
  // end-to-end; [[decodeStub]] remains only for the fake/raw payloads.

  final case class BmpRow(doc_id: Long, media: Array[Byte])
  final case class BmpDecoded(
      doc_id: Long, width: Long, height: Long, n_px: Long,
      px_sum: Long, mean_px: Double)

  private def le32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  private def le16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  /** Real 24bpp-BMP encoder (fixture generation only): bottom-up rows,
    * zero padding to 4-byte row boundaries, 54-byte header. */
  def encodeBmp24(width: Int, height: Int,
      pixel: (Int, Int, Int) => Int): Array[Byte] = {
    require(width > 0 && height > 0, "bmp dims must be positive")
    val rowSize = (width * 3 + 3) / 4 * 4
    val dataSize = rowSize * height
    val out = new Array[Byte](54 + dataSize)
    def put32(off: Int, v: Int): Unit = {
      out(off) = v.toByte; out(off + 1) = (v >> 8).toByte
      out(off + 2) = (v >> 16).toByte; out(off + 3) = (v >> 24).toByte
    }
    out(0) = 'B'; out(1) = 'M'
    put32(2, out.length); put32(10, 54)
    put32(14, 40); put32(18, width); put32(22, height)
    out(26) = 1; out(28) = 24 // planes = 1, bpp = 24
    put32(34, dataSize)
    var y = 0
    while (y < height) {
      val rowOff = 54 + (height - 1 - y) * rowSize // bottom-up
      var x = 0
      while (x < width) {
        var c = 0
        while (c < 3) {
          out(rowOff + x * 3 + c) = (pixel(x, y, c) & 0xff).toByte
          c += 1
        }
        x += 1
      }
      y += 1
    }
    out
  }

  /** Real BMP parse: validates magic/bpp/compression, reads width/height
    * and the pixel offset FROM THE HEADER, walks bottom-up rows skipping
    * the 4-byte padding. Malformed payloads fail loudly. */
  def decodeBmp(bytes: Array[Byte]): BmpDecoded = {
    require(bytes.length >= 54 && bytes(0) == 'B' && bytes(1) == 'M',
      s"not a BMP payload (${bytes.length} bytes)")
    val pxOff = le32(bytes, 10)
    val width = le32(bytes, 18)
    val height = le32(bytes, 22)
    val bpp = le16(bytes, 28)
    val compression = le32(bytes, 30)
    require(bpp == 24 && compression == 0,
      s"unsupported BMP variant: bpp=$bpp compression=$compression")
    require(width > 0 && height > 0, s"bad dims ${width}x$height")
    val rowSize = (width * 3 + 3) / 4 * 4
    require(bytes.length >= pxOff + rowSize * height, "truncated pixel data")
    var sum = 0L
    var y = 0
    while (y < height) {
      val rowOff = pxOff + y * rowSize
      var i = 0
      while (i < width * 3) { // walk pixels only; padding skipped
        sum += bytes(rowOff + i) & 0xff
        i += 1
      }
      y += 1
    }
    BmpDecoded(-1L, width, height, width.toLong * height, sum,
      sum.toDouble / (width.toLong * height * 3).toDouble)
  }

  /** Deterministic BMP fixture: 200 real images, dims and pixels pure
    * index arithmetic on doc_id, written once as a binary-column parquet
    * both engines read byte-identically. Padding bytes are zero, which
    * the oracle's whole-tail pixel sum relies on (the engine's parser
    * skips padding structurally). */
  /** Media fixtures are generated once and reused across sessions, so a
    * crash mid-write must never leave a partial parquet dir a later
    * session accepts as complete: the build goes to a `.tmp` sibling and
    * lands by ATOMIC rename — existence implies complete (the
    * DerivedFixture rule, applied to these source-independent tables). */
  private def commitFixture(path: String)(write: String => Unit): Unit = {
    val tmp = path + ".tmp"
    graft.streaming.CommitFiles.rmTree(new java.io.File(tmp)) // orphaned crash leftovers
    write(tmp)
    java.nio.file.Files.move(java.nio.file.Paths.get(tmp),
      java.nio.file.Paths.get(path),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  object BmpFixture {
    val path: String = graft.core.Fixtures.path("bmp_media.parquet")
    def ensure(spark: SparkSession): String = synchronized {
      if (!new java.io.File(path).exists()) {
        import spark.implicits._
        val rows = (0L until 200L).map { id =>
          val w = (id % 16 + 1).toInt
          val h = (id % 8 + 1).toInt
          BmpRow(id, encodeBmp24(w, h,
            (x, y, c) => ((id * 7 + y * 31 + x * 13 + c * 5) % 256).toInt))
        }
        commitFixture(path)(tmp => rows.toDF("doc_id", "media")
          .repartition(1).write.mode("overwrite").parquet(tmp))
      }
      path
    }
  }

  /** Registry query: real BMP payloads → partition-batched real decode.
    * Every output column derives from bytes the parser actually read. */
  def bmpDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = BmpFixture.ensure(spark)
    spark.read.parquet(p).as[BmpRow]
      .mapPartitions { rows =>
        // a real codec library would initialize here, once per batch
        rows.map(r => decodeBmp(r.media).copy(doc_id = r.doc_id))
      }
      .toDF()
      .orderBy(col("doc_id"))
  }

  /** DuckDB replay of [[bmpDecode]]: re-parses the BMP bytes in SQL —
    * little-endian header fields from hex pairs, pixel sum over the
    * post-header tail (zero padding makes tail-sum == pixel-sum). */
  val bmpDecodeSql: String = {
    def leField(byteOff: Int, nBytes: Int): String =
      (0 until nBytes).reverse
        .map(i => s"substr(h, ${2 * (byteOff + i) + 1}, 2)")
        .mkString("CAST('0x' || ", " || ", " AS BIGINT)")
    s"""WITH raw AS (
       |  SELECT doc_id, media, hex(media) AS h
       |  FROM read_parquet('${BmpFixture.path}/*.parquet')),
       |hdr AS (
       |  SELECT doc_id, h,
       |    ${leField(18, 4)} AS width,
       |    ${leField(22, 4)} AS height,
       |    ${leField(10, 4)} AS px_off,
       |    octet_length(media) AS nbytes
       |  FROM raw)
       |SELECT doc_id, width, height, width * height AS n_px,
       |  CAST(list_sum(list_transform(range(px_off, nbytes),
       |    i -> CAST('0x' || substr(h, CAST(i * 2 + 1 AS INT), 2) AS INT)))
       |    AS BIGINT) AS px_sum,
       |  CAST(list_sum(list_transform(range(px_off, nbytes),
       |    i -> CAST('0x' || substr(h, CAST(i * 2 + 1 AS INT), 2) AS INT)))
       |    AS DOUBLE) / CAST(width * height * 3 AS DOUBLE) AS mean_px
       |FROM hdr ORDER BY doc_id""".stripMargin
  }

  final case class BmpResized(doc_id: Long, width: Long, height: Long,
      out_w: Long, out_h: Long, out_sum: Long)

  /** Real nearest-neighbor resize over the REAL BMP payload (the
    * brief's resize op with an honest codec, unlike [[resizeStub]]'s
    * fake-bytes stand-in): for output pixel (X, Y) of a fixed
    * `outW`×`outH` target, sample source pixel
    * (⌊X·w/outW⌋, ⌊Y·h/outH⌋) — integer arithmetic only, up- and
    * down-sampling both exercised by the fixture's 1..16 × 1..8 dims —
    * and checksum the 3 sampled channels. Coordinates are in STORED row
    * order (BMP bottom-up): a checksum is orientation-invariant in
    * meaning and keeping storage order keeps the SQL replay honest
    * byte arithmetic. Output is all integers, so cross-engine parity
    * needs no float tolerance. */
  def resizeBmpSum(bytes: Array[Byte], outW: Int, outH: Int): BmpResized = {
    require(bytes.length >= 54 && bytes(0) == 'B' && bytes(1) == 'M',
      s"not a BMP payload (${bytes.length} bytes)")
    val pxOff = le32(bytes, 10)
    val width = le32(bytes, 18)
    val height = le32(bytes, 22)
    require(le16(bytes, 28) == 24 && le32(bytes, 30) == 0,
      "unsupported BMP variant")
    require(width > 0 && height > 0, s"bad dims ${width}x$height")
    val rowSize = (width * 3 + 3) / 4 * 4
    require(bytes.length >= pxOff + rowSize * height, "truncated pixel data")
    var sum = 0L
    var yy = 0
    while (yy < outH) {
      val sy = yy * height / outH
      var xx = 0
      while (xx < outW) {
        val off = pxOff + sy * rowSize + (xx * width / outW) * 3
        sum += (bytes(off) & 0xff) + (bytes(off + 1) & 0xff) + (bytes(off + 2) & 0xff)
        xx += 1
      }
      yy += 1
    }
    BmpResized(-1L, width, height, outW, outH, sum)
  }

  /** The fixed resize target the registry query grades: small enough
    * that the 36-sample SQL replay stays readable, and sitting inside
    * the fixture's 1..16 × 1..8 dim range so both up- and down-sampling
    * paths are exercised across the 200 images. */
  private[llm] val ResizeW = 4
  private[llm] val ResizeH = 3

  /** Registry query: real BMP payloads → partition-batched real
    * nearest-neighbor resize checksum at the fixed target. */
  def bmpResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = BmpFixture.ensure(spark)
    spark.read.parquet(p).as[BmpRow]
      .mapPartitions { rows =>
        rows.map(r => resizeBmpSum(r.media, ResizeW, ResizeH).copy(doc_id = r.doc_id))
      }
      .toDF()
      .orderBy(col("doc_id"))
  }

  /** DuckDB replay of [[bmpResize]]: the identical header fields and
    * the identical ⌊X·w/outW⌋ / ⌊Y·h/outH⌋ sampling, unrolled over the
    * outW·outH·3 sampled channel bytes. */
  val bmpResizeSql: String = {
    def leField(byteOff: Int, nBytes: Int): String =
      (0 until nBytes).reverse
        .map(i => s"substr(h, ${2 * (byteOff + i) + 1}, 2)")
        .mkString("CAST('0x' || ", " || ", " AS BIGINT)")
    val n = ResizeW * ResizeH * 3
    s"""WITH raw AS (
       |  SELECT doc_id, media, hex(media) AS h
       |  FROM read_parquet('${BmpFixture.path}/*.parquet')),
       |hdr AS (
       |  SELECT doc_id, h,
       |    ${leField(18, 4)} AS width,
       |    ${leField(22, 4)} AS height,
       |    ${leField(10, 4)} AS px_off
       |  FROM raw)
       |SELECT doc_id, width, height,
       |  CAST($ResizeW AS BIGINT) AS out_w, CAST($ResizeH AS BIGINT) AS out_h,
       |  CAST(list_sum(list_transform(range(0, $n), i ->
       |    CAST('0x' || substr(h, CAST((px_off
       |      + ((i // 3) // $ResizeW * height // $ResizeH)
       |        * ((width * 3 + 3) // 4 * 4)
       |      + ((i // 3) % $ResizeW * width // $ResizeW) * 3
       |      + (i % 3)) * 2 + 1 AS INT), 2) AS INT)))
       |    AS BIGINT) AS out_sum
       |FROM hdr ORDER BY doc_id""".stripMargin
  }

  // ---- WAV: the audio counterpart of the BMP path ------------------------
  // Canonical 44-byte RIFF/PCM header + 8-bit unsigned mono/stereo
  // samples. Same honesty contract as BMP: the fixture holds REAL WAV
  // bytes, the parser reads format/channels/rate/length FROM THE HEADER,
  // and the oracle re-parses the identical bytes in SQL. All outputs are
  // integers (sample sums, peak, integer-division duration), so parity
  // needs no float tolerance at all.

  final case class WavRow(doc_id: Long, media: Array[Byte])
  final case class WavDecoded(
      doc_id: Long, channels: Long, sample_rate: Long, n_samples: Long,
      amp_sum: Long, amp_peak: Long, duration_ms: Long)

  /** Real 8-bit-PCM WAV encoder (fixture generation only). */
  def encodeWav8(channels: Int, sampleRate: Int, nSamples: Int,
      sample: (Int, Int) => Int): Array[Byte] = {
    require(channels >= 1 && sampleRate > 0 && nSamples >= 0, "bad wav params")
    val dataSize = nSamples * channels
    val out = new Array[Byte](44 + dataSize)
    def put32(off: Int, v: Int): Unit = {
      out(off) = v.toByte; out(off + 1) = (v >> 8).toByte
      out(off + 2) = (v >> 16).toByte; out(off + 3) = (v >> 24).toByte
    }
    def put16(off: Int, v: Int): Unit = {
      out(off) = v.toByte; out(off + 1) = (v >> 8).toByte
    }
    def tag(off: Int, s: String): Unit =
      s.zipWithIndex.foreach { case (ch, i) => out(off + i) = ch.toByte }
    tag(0, "RIFF"); put32(4, 36 + dataSize); tag(8, "WAVE")
    tag(12, "fmt "); put32(16, 16); put16(20, 1) // PCM
    put16(22, channels); put32(24, sampleRate)
    put32(28, sampleRate * channels) // byteRate (8-bit)
    put16(32, channels); put16(34, 8) // blockAlign, bits
    tag(36, "data"); put32(40, dataSize)
    var i = 0
    while (i < nSamples) {
      var c = 0
      while (c < channels) {
        out(44 + i * channels + c) = (sample(i, c) & 0xff).toByte
        c += 1
      }
      i += 1
    }
    out
  }

  /** Real WAV parse: validates RIFF/WAVE/fmt/PCM/8-bit, reads channels,
    * rate and data length from the header. Malformed payloads fail
    * loudly. duration_ms is integer (floor) so both engines agree. */
  def decodeWav(bytes: Array[Byte]): WavDecoded = {
    require(bytes.length >= 44 &&
      bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F' &&
      bytes(8) == 'W' && bytes(9) == 'A' && bytes(10) == 'V' && bytes(11) == 'E',
      s"not a WAV payload (${bytes.length} bytes)")
    val fmt = le16(bytes, 20)
    val bits = le16(bytes, 34)
    require(fmt == 1 && bits == 8, s"unsupported WAV variant: fmt=$fmt bits=$bits")
    val channels = le16(bytes, 22)
    val rate = le32(bytes, 24)
    val dataSize = le32(bytes, 40)
    require(channels >= 1 && rate > 0, s"bad wav header ch=$channels rate=$rate")
    require(bytes.length >= 44 + dataSize, "truncated sample data")
    val nSamples = dataSize / channels
    var sum = 0L
    var peak = 0L
    var i = 44
    val end = 44 + dataSize
    while (i < end) {
      val v = bytes(i) & 0xff
      sum += v
      if (v > peak) peak = v
      i += 1
    }
    WavDecoded(-1L, channels, rate, nSamples, sum, peak,
      nSamples.toLong * 1000L / rate)
  }

  /** Deterministic WAV fixture: 200 real clips, params and samples pure
    * index arithmetic on doc_id. */
  object WavFixture {
    val path: String = graft.core.Fixtures.path("wav_media.parquet")
    def ensure(spark: SparkSession): String = synchronized {
      if (!new java.io.File(path).exists()) {
        import spark.implicits._
        val rows = (0L until 200L).map { id =>
          val ch = (id % 2 + 1).toInt
          val rate = 8000 * (id % 3 + 1).toInt
          val n = (id % 50 + 10).toInt
          WavRow(id, encodeWav8(ch, rate, n,
            (i, c) => ((id * 11 + i * 17 + c * 3) % 256).toInt))
        }
        commitFixture(path)(tmp => rows.toDF("doc_id", "media")
          .repartition(1).write.mode("overwrite").parquet(tmp))
      }
      path
    }
  }

  /** Registry query: real WAV payloads → partition-batched real decode. */
  def wavDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = WavFixture.ensure(spark)
    spark.read.parquet(p).as[WavRow]
      .mapPartitions { rows =>
        rows.map(r => decodeWav(r.media).copy(doc_id = r.doc_id))
      }
      .toDF()
      .orderBy(col("doc_id"))
  }

  /** DuckDB replay of [[wavDecode]]: header fields from hex pairs, sample
    * sum/peak over the 44-byte-offset tail. */
  val wavDecodeSql: String = {
    def leField(byteOff: Int, nBytes: Int): String =
      (0 until nBytes).reverse
        .map(i => s"substr(h, ${2 * (byteOff + i) + 1}, 2)")
        .mkString("CAST('0x' || ", " || ", " AS BIGINT)")
    s"""WITH raw AS (
       |  SELECT doc_id, media, hex(media) AS h
       |  FROM read_parquet('${WavFixture.path}/*.parquet')),
       |hdr AS (
       |  SELECT doc_id, h,
       |    ${leField(22, 2)} AS channels,
       |    ${leField(24, 4)} AS sample_rate,
       |    ${leField(40, 4)} AS data_size
       |  FROM raw),
       |amp AS (
       |  SELECT doc_id, channels, sample_rate,
       |    data_size // channels AS n_samples,
       |    list_transform(range(44, 44 + data_size),
       |      i -> CAST('0x' || substr(h, CAST(i * 2 + 1 AS INT), 2) AS INT)) AS vs
       |  FROM hdr)
       |SELECT doc_id, channels, sample_rate, n_samples,
       |  CAST(COALESCE(list_sum(vs), 0) AS BIGINT) AS amp_sum,
       |  CAST(COALESCE(list_max(vs), 0) AS BIGINT) AS amp_peak,
       |  n_samples * 1000 // sample_rate AS duration_ms
       |FROM amp ORDER BY doc_id""".stripMargin
  }

  final case class BmpHist(doc_id: Long, n_px: Long, hist: Array[Long],
      mode_bin: Long)

  /** Real 16-bin intensity histogram over the REAL BMP payload — the
    * classic image feature vector, computed from pixel bytes the parser
    * actually addresses (row padding EXCLUDED, unlike the decode query's
    * tail sum which exploits zeroed padding). Bin = v >> 4; mode_bin is
    * the FIRST argmax. Pure integer counts, so the DuckDB replay is
    * exact. */
  def bmpHistOf(bytes: Array[Byte]): BmpHist = {
    require(bytes.length >= 54 && bytes(0) == 'B' && bytes(1) == 'M',
      s"not a BMP payload (${bytes.length} bytes)")
    val pxOff = le32(bytes, 10)
    val width = le32(bytes, 18)
    val height = le32(bytes, 22)
    require(le16(bytes, 28) == 24 && le32(bytes, 30) == 0,
      "unsupported BMP variant")
    require(width > 0 && height > 0, s"bad dims ${width}x$height")
    val rowSize = (width * 3 + 3) / 4 * 4
    require(bytes.length >= pxOff + rowSize * height, "truncated pixel data")
    val hist = new Array[Long](16)
    var y = 0
    while (y < height) {
      var i = pxOff + y * rowSize
      val end = i + width * 3
      while (i < end) {
        hist((bytes(i) & 0xff) >> 4) += 1
        i += 1
      }
      y += 1
    }
    var mode = 0
    var b = 1
    while (b < 16) { if (hist(b) > hist(mode)) mode = b; b += 1 }
    BmpHist(-1L, width.toLong * height, hist, mode)
  }

  /** Registry query: real BMP payloads → partition-batched histogram
    * feature vectors. Narrow map, no shuffle. The 16-bin vector is
    * surfaced LONG-FORM (doc_id, bin, n — 16 ordered rows per doc, with
    * the per-doc n_px/mode_bin scalars repeated): the driver's hasher
    * sorts raw pandas frames and cannot grade a nested column, so no
    * registry query may emit a top-level LIST (`OutputSurfaceSpec`). */
  def bmpHist(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = BmpFixture.ensure(spark)
    spark.read.parquet(p).as[BmpRow]
      .mapPartitions { rows =>
        rows.map(r => bmpHistOf(r.media).copy(doc_id = r.doc_id))
      }
      .toDF()
      .select(col("doc_id"), col("n_px"), col("mode_bin"),
        posexplode(col("hist")).as(Seq("bin", "n")))
      .select(col("doc_id"), col("bin").cast("long").as("bin"), col("n"),
        col("n_px"), col("mode_bin"))
      .orderBy(col("doc_id"), col("bin"))
  }

  /** DuckDB replay of [[bmpHist]]: the identical padding-skipping pixel
    * addressing (channel index i → row i div 3w, offset i mod 3w inside
    * the stride-aligned row), then 16 per-bin counts over the byte
    * list, unnested long-form to match the Spark surface. */
  val bmpHistSql: String = {
    def leField(byteOff: Int, nBytes: Int): String =
      (0 until nBytes).reverse
        .map(i => s"substr(h, ${2 * (byteOff + i) + 1}, 2)")
        .mkString("CAST('0x' || ", " || ", " AS BIGINT)")
    s"""WITH raw AS (
       |  SELECT doc_id, media, hex(media) AS h
       |  FROM read_parquet('${BmpFixture.path}/*.parquet')),
       |hdr AS (
       |  SELECT doc_id, h,
       |    ${leField(18, 4)} AS width,
       |    ${leField(22, 4)} AS height,
       |    ${leField(10, 4)} AS px_off
       |  FROM raw),
       |px AS (
       |  SELECT doc_id, width * height AS n_px,
       |    list_transform(range(0, width * height * 3), i ->
       |      CAST('0x' || substr(h, CAST((px_off
       |        + (i // (width * 3)) * ((width * 3 + 3) // 4 * 4)
       |        + (i % (width * 3))) * 2 + 1 AS INT), 2) AS BIGINT) // 16) AS bins
       |  FROM hdr),
       |hx AS (
       |  SELECT doc_id, n_px,
       |    list_transform(range(0, 16), b ->
       |      CAST(len(list_filter(bins, x -> x = b)) AS BIGINT)) AS hist
       |  FROM px)
       |SELECT doc_id, CAST(t.b AS BIGINT) AS bin,
       |  hist[CAST(t.b AS INT) + 1] AS n, n_px,
       |  CAST(list_position(hist, list_max(hist)) - 1 AS BIGINT) AS mode_bin
       |FROM hx, range(0, 16) t(b)
       |ORDER BY doc_id, bin""".stripMargin
  }

  final case class BmpEdges(doc_id: Long, n_px: Long, gx_sum: Long,
      gy_sum: Long, edge_energy: Long, max_grad: Long, sharpness_q3: Long)

  /** Real gradient-energy extraction over the REAL BMP payload — the
    * sharpness/blur signal of image curation (a blurry or flat image has
    * low first-difference energy, the classic no-reference focus
    * measure). Per-pixel intensity is the exact integer channel sum
    * (B+G+R, 0..765); gx/gy are Σ|first differences| along stored rows
    * and columns (the fixture's bottom-up storage flip leaves both sums
    * and the max untouched). sharpness_q3 is per-pixel edge energy
    * ×1000, floor — all-integer, so the DuckDB replay is exact. */
  def bmpEdgesOf(bytes: Array[Byte]): BmpEdges = {
    require(bytes.length >= 54 && bytes(0) == 'B' && bytes(1) == 'M',
      s"not a BMP payload (${bytes.length} bytes)")
    val pxOff = le32(bytes, 10)
    val width = le32(bytes, 18)
    val height = le32(bytes, 22)
    require(le16(bytes, 28) == 24 && le32(bytes, 30) == 0,
      "unsupported BMP variant")
    require(width > 0 && height > 0, s"bad dims ${width}x$height")
    val rowSize = (width * 3 + 3) / 4 * 4
    require(bytes.length >= pxOff + rowSize * height, "truncated pixel data")
    def inten(x: Int, y: Int): Long = {
      val off = pxOff + y * rowSize + x * 3
      ((bytes(off) & 0xff) + (bytes(off + 1) & 0xff) +
        (bytes(off + 2) & 0xff)).toLong
    }
    var gx = 0L
    var gy = 0L
    var maxG = 0L
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val v = inten(x, y)
        if (x > 0) {
          val d = math.abs(v - inten(x - 1, y))
          gx += d; if (d > maxG) maxG = d
        }
        if (y > 0) {
          val d = math.abs(v - inten(x, y - 1))
          gy += d; if (d > maxG) maxG = d
        }
        x += 1
      }
      y += 1
    }
    val nPx = width.toLong * height
    BmpEdges(-1L, nPx, gx, gy, gx + gy, maxG, (gx + gy) * 1000L / nPx)
  }

  /** Registry query: real BMP payloads → partition-batched gradient
    * energy. Narrow map, no shuffle — the same 100 TB shape as every
    * codec query: one row per image, decode linear in payload bytes. */
  def bmpEdges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = BmpFixture.ensure(spark)
    spark.read.parquet(p).as[BmpRow]
      .mapPartitions { rows =>
        rows.map(r => bmpEdgesOf(r.media).copy(doc_id = r.doc_id))
      }
      .toDF()
      .orderBy(col("doc_id"))
  }

  /** DuckDB replay of [[bmpEdges]]: per-pixel intensity list via the
    * padding-aware addressing (pixel p → row p div w at the 4-byte
    * stride, channel bytes summed), then |first differences| filtered to
    * same-row (p mod w ≠ 0) for gx and p ≥ w for gy. */
  val bmpEdgesSql: String = {
    def leField(byteOff: Int, nBytes: Int): String =
      (0 until nBytes).reverse
        .map(i => s"substr(h, ${2 * (byteOff + i) + 1}, 2)")
        .mkString("CAST('0x' || ", " || ", " AS BIGINT)")
    def chan(c: Int): String =
      s"""CAST('0x' || substr(h, CAST((px_off
         |        + (p // width) * ((width * 3 + 3) // 4 * 4)
         |        + (p % width) * 3 + $c) * 2 + 1 AS INT), 2) AS BIGINT)""".stripMargin
    s"""WITH raw AS (
       |  SELECT doc_id, media, hex(media) AS h
       |  FROM read_parquet('${BmpFixture.path}/*.parquet')),
       |hdr AS (
       |  SELECT doc_id, h,
       |    ${leField(18, 4)} AS width,
       |    ${leField(22, 4)} AS height,
       |    ${leField(10, 4)} AS px_off
       |  FROM raw),
       |px AS (
       |  SELECT doc_id, width, width * height AS n_px,
       |    list_transform(range(0, width * height), p ->
       |      ${chan(0)}
       |      + ${chan(1)}
       |      + ${chan(2)}) AS iv
       |  FROM hdr),
       |gr AS (
       |  SELECT doc_id, n_px,
       |    list_transform(list_filter(range(0, n_px), p -> p % width != 0),
       |      p -> abs(iv[CAST(p + 1 AS INT)] - iv[CAST(p AS INT)])) AS gxs,
       |    list_transform(list_filter(range(0, n_px), p -> p >= width),
       |      p -> abs(iv[CAST(p + 1 AS INT)]
       |        - iv[CAST(p + 1 - width AS INT)])) AS gys
       |  FROM px)
       |SELECT doc_id, n_px,
       |  CAST(COALESCE(list_sum(gxs), 0) AS BIGINT) AS gx_sum,
       |  CAST(COALESCE(list_sum(gys), 0) AS BIGINT) AS gy_sum,
       |  CAST(COALESCE(list_sum(gxs), 0) + COALESCE(list_sum(gys), 0)
       |    AS BIGINT) AS edge_energy,
       |  CAST(greatest(COALESCE(list_max(gxs), 0), COALESCE(list_max(gys), 0))
       |    AS BIGINT) AS max_grad,
       |  CAST((COALESCE(list_sum(gxs), 0) + COALESCE(list_sum(gys), 0))
       |    * 1000 // n_px AS BIGINT) AS sharpness_q3
       |FROM gr ORDER BY doc_id""".stripMargin
  }

  final case class WavEnergy(doc_id: Long, channels: Long, n_windows: Long,
      energy_sum: Long, energy_peak: Long, peak_window: Long)

  /** The fixed analysis window: 8 sample frames (× channels interleaved
    * bytes). The fixture's clips are 10..59 frames, so every clip yields
    * ≥1 full window and up to 7 — both the single- and multi-window
    * paths are exercised across the 200 clips. */
  private[llm] val EnergyWin = 8

  /** Real windowed audio-energy extraction over the REAL WAV payload
    * (the audio feature-extract op of the brief, honest codec): split
    * the PCM stream into non-overlapping [[EnergyWin]]-frame windows
    * (trailing partial frame dropped, like every fixed-frame audio
    * featurizer), and per window sum (v−128)² over all channel bytes —
    * squared deviation from the 8-bit-unsigned midpoint, i.e. signal
    * energy. peak_window is the FIRST argmax. All-integer outputs, so
    * the DuckDB replay needs no float tolerance. */
  def wavEnergyOf(bytes: Array[Byte]): WavEnergy = {
    val d = decodeWav(bytes) // header validation + dims; sums unused here
    val channels = le16(bytes, 22)
    val nWindows = (d.n_samples / EnergyWin).toInt
    var sum = 0L
    var peak = Long.MinValue
    var peakAt = -1L
    var j = 0
    while (j < nWindows) {
      var e = 0L
      var i = 44 + j * EnergyWin * channels
      val end = i + EnergyWin * channels
      while (i < end) {
        val v = (bytes(i) & 0xff) - 128
        e += v.toLong * v
        i += 1
      }
      sum += e
      if (e > peak) { peak = e; peakAt = j }
      j += 1
    }
    WavEnergy(-1L, channels, nWindows, sum,
      if (nWindows == 0) 0L else peak, peakAt)
  }

  /** Registry query: real WAV payloads → partition-batched windowed
    * energy. Narrow per-partition map, no shuffle; the final orderBy is
    * presentation-only. */
  def wavEnergy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = WavFixture.ensure(spark)
    spark.read.parquet(p).as[WavRow]
      .mapPartitions { rows =>
        rows.map(r => wavEnergyOf(r.media).copy(doc_id = r.doc_id))
      }
      .toDF()
      .orderBy(col("doc_id"))
  }

  /** DuckDB replay of [[wavEnergy]]: identical header parse, then the
    * identical per-window Σ(v−128)² via nested list_transform over the
    * hex pairs; first-argmax via list_position on the window list. */
  val wavEnergySql: String = {
    def leField(byteOff: Int, nBytes: Int): String =
      (0 until nBytes).reverse
        .map(i => s"substr(h, ${2 * (byteOff + i) + 1}, 2)")
        .mkString("CAST('0x' || ", " || ", " AS BIGINT)")
    s"""WITH raw AS (
       |  SELECT doc_id, media, hex(media) AS h
       |  FROM read_parquet('${WavFixture.path}/*.parquet')),
       |hdr AS (
       |  SELECT doc_id, h,
       |    ${leField(22, 2)} AS channels,
       |    ${leField(40, 4)} AS data_size
       |  FROM raw),
       |win AS (
       |  SELECT doc_id, channels,
       |    (data_size // channels) // $EnergyWin AS n_windows,
       |    list_transform(range(0, (data_size // channels) // $EnergyWin),
       |      j -> list_sum(list_transform(
       |        list_transform(range(0, $EnergyWin * channels), t ->
       |          CAST('0x' || substr(h,
       |            CAST((44 + j * $EnergyWin * channels + t) * 2 + 1 AS INT),
       |            2) AS BIGINT) - 128),
       |        v -> v * v))) AS ew
       |  FROM hdr)
       |SELECT doc_id, channels, n_windows,
       |  CAST(COALESCE(list_sum(ew), 0) AS BIGINT) AS energy_sum,
       |  CAST(COALESCE(list_max(ew), 0) AS BIGINT) AS energy_peak,
       |  CAST(COALESCE(list_position(ew, list_max(ew)), 0) - 1 AS BIGINT)
       |    AS peak_window
       |FROM win ORDER BY doc_id""".stripMargin
  }

  final case class WavSilence(doc_id: Long, channels: Long, n_frames: Long,
      n_silent: Long, n_runs: Long, longest_run: Long, lead_silence: Long)

  /** Silence threshold: a sample frame is silent when EVERY channel byte
    * deviates from the 8-bit midpoint by at most this. 32 puts the
    * fixture's near-uniform bytes at ≈ 25% silent per channel, so mono
    * and stereo clips both carry non-trivial run structure. */
  private[llm] val SilenceDev = 32L

  /** Real silence detection over the REAL WAV payload — the audio-trim /
    * VAD-first-pass primitive of audio curation: find maximal runs of
    * silent sample frames, their count and longest length, and the
    * leading-silence length (the trim offset a cleaner would cut).
    * All-integer, exact across engines. */
  def wavSilenceOf(bytes: Array[Byte]): WavSilence = {
    val d = decodeWav(bytes) // header validation; sums unused here
    val channels = le16(bytes, 22)
    val n = d.n_samples.toInt
    var nSilent = 0L
    var nRuns = 0L
    var longest = 0L
    var lead = 0L
    var cur = 0L
    var leadOpen = true
    var f = 0
    while (f < n) {
      var silent = true
      var c = 0
      while (c < channels && silent) {
        val v = (bytes(44 + f * channels + c) & 0xff) - 128
        if (math.abs(v) > SilenceDev) silent = false
        c += 1
      }
      if (silent) {
        nSilent += 1
        cur += 1
        if (cur > longest) longest = cur
        if (leadOpen) lead += 1
      } else {
        if (cur > 0) nRuns += 1
        cur = 0
        leadOpen = false
      }
      f += 1
    }
    if (cur > 0) nRuns += 1
    WavSilence(-1L, channels, n, nSilent, nRuns, longest, lead)
  }

  /** Registry query: real WAV payloads → partition-batched silence-run
    * detection. Narrow per-partition map, no shuffle. */
  def wavSilence(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = WavFixture.ensure(spark)
    spark.read.parquet(p).as[WavRow]
      .mapPartitions { rows =>
        rows.map(r => wavSilenceOf(r.media).copy(doc_id = r.doc_id))
      }
      .toDF()
      .orderBy(col("doc_id"))
  }

  /** DuckDB replay of [[wavSilence]]: per-frame silent flags from the hex
    * pairs (max channel |deviation| ≤ [[SilenceDev]]), then the classic
    * gaps-and-islands grouping (frame − ROW_NUMBER over silent frames)
    * to recover maximal runs; lead_silence is the run starting at frame
    * 0. */
  val wavSilenceSql: String = {
    def leField(byteOff: Int, nBytes: Int): String =
      (0 until nBytes).reverse
        .map(i => s"substr(h, ${2 * (byteOff + i) + 1}, 2)")
        .mkString("CAST('0x' || ", " || ", " AS BIGINT)")
    s"""WITH raw AS (
       |  SELECT doc_id, media, hex(media) AS h
       |  FROM read_parquet('${WavFixture.path}/*.parquet')),
       |hdr AS (
       |  SELECT doc_id, h,
       |    ${leField(22, 2)} AS channels,
       |    ${leField(40, 4)} AS data_size
       |  FROM raw),
       |fr AS (
       |  SELECT doc_id, channels, data_size // channels AS n_frames, h
       |  FROM hdr),
       |frames AS (
       |  SELECT doc_id, channels, n_frames,
       |    unnest(range(0, n_frames)) AS f, h
       |  FROM fr),
       |flags AS (
       |  SELECT doc_id, f,
       |    list_max(list_transform(range(0, channels), c ->
       |      abs(CAST('0x' || substr(h,
       |        CAST((44 + f * channels + c) * 2 + 1 AS INT), 2) AS BIGINT)
       |        - 128))) <= $SilenceDev AS silent
       |  FROM frames),
       |isl AS (
       |  SELECT doc_id, f,
       |    f - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY f) AS grp
       |  FROM flags WHERE silent),
       |runs AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS run_len,
       |    CAST(MIN(f) AS BIGINT) AS run_start
       |  FROM isl GROUP BY doc_id, grp),
       |agg AS (
       |  SELECT doc_id,
       |    CAST(SUM(run_len) AS BIGINT) AS n_silent,
       |    CAST(COUNT(*) AS BIGINT) AS n_runs,
       |    CAST(MAX(run_len) AS BIGINT) AS longest_run,
       |    CAST(COALESCE(MAX(CASE WHEN run_start = 0 THEN run_len END), 0)
       |      AS BIGINT) AS lead_silence
       |  FROM runs GROUP BY doc_id)
       |SELECT fr.doc_id, fr.channels, fr.n_frames,
       |  COALESCE(a.n_silent, 0) AS n_silent,
       |  COALESCE(a.n_runs, 0) AS n_runs,
       |  COALESCE(a.longest_run, 0) AS longest_run,
       |  COALESCE(a.lead_silence, 0) AS lead_silence
       |FROM fr LEFT JOIN agg a ON a.doc_id = fr.doc_id
       |ORDER BY fr.doc_id""".stripMargin
  }

  // ---- YUV4MPEG2: the video counterpart ----------------------------------
  // The one VIDEO container a pure JVM can parse honestly: YUV4MPEG2
  // (.y4m) — an ASCII parameter line ("YUV4MPEG2 W.. H.. F..:1 ... C444"
  // terminated by \n), then per frame a "FRAME\n" marker followed by the
  // raw plane bytes (3·w·h for C444). Same honesty contract as BMP/WAV:
  // the fixture holds REAL y4m streams (arbitrary non-ASCII plane
  // bytes), the parser reads dims/fps FROM THE HEADER and validates
  // every frame marker, and the oracle re-parses the identical bytes in
  // SQL (header text recovered from hex pairs, frame offsets computed
  // from the parsed dims). This makes the brief's frame-sample op real;
  // [[frameSample]] remains only for the fake/raw payloads.

  final case class Y4mRow(doc_id: Long, media: Array[Byte])
  final case class Y4mSampled(doc_id: Long, width: Long, height: Long,
      fps: Long, n_frames: Long, n_sampled: Long, sample_sum: Long)

  /** Every k-th frame is decoded; 3 exercises skip-heavy and
    * single-frame clips across the fixture's 1..10 frame counts. */
  private[llm] val FrameEvery = 3

  /** Real YUV4MPEG2 encoder (fixture generation only): C444 planes,
    * FRAME markers, standard parameter line. */
  def encodeY4m(width: Int, height: Int, fps: Int, nFrames: Int,
      pix: (Int, Int) => Int): Array[Byte] = {
    require(width > 0 && height > 0 && fps > 0 && nFrames >= 0, "bad y4m params")
    val hdr = s"YUV4MPEG2 W$width H$height F$fps:1 Ip A1:1 C444\n"
      .getBytes("US-ASCII")
    val frameBytes = 3 * width * height
    val out = new Array[Byte](hdr.length + nFrames * (6 + frameBytes))
    System.arraycopy(hdr, 0, out, 0, hdr.length)
    var f = 0
    while (f < nFrames) {
      val off = hdr.length + f * (6 + frameBytes)
      out(off) = 'F'; out(off + 1) = 'R'; out(off + 2) = 'A'
      out(off + 3) = 'M'; out(off + 4) = 'E'; out(off + 5) = '\n'
      var t = 0
      while (t < frameBytes) {
        out(off + 6 + t) = (pix(f, t) & 0xff).toByte
        t += 1
      }
      f += 1
    }
    out
  }

  /** The shared real-y4m parser: validates the magic, parses W/H/F and
    * the C444 tag from the parameter line, checks EVERY frame's
    * "FRAME\n" marker and that the stream length is an exact frame
    * multiple, and returns (width, height, fps, per-frame plane-byte
    * sums). Malformed payloads fail loudly. Both the frame-sample and
    * the scene-cut queries ride this one parse. */
  private[llm] def y4mFrameSums(
      bytes: Array[Byte]): (Long, Long, Long, Array[Long]) = {
    val magic = "YUV4MPEG2 ".getBytes("US-ASCII")
    require(bytes.length > magic.length &&
      magic.indices.forall(i => bytes(i) == magic(i)),
      s"not a y4m payload (${bytes.length} bytes)")
    var nl = magic.length
    while (nl < bytes.length && bytes(nl) != '\n') nl += 1
    require(nl < bytes.length, "unterminated y4m header")
    val htxt = new String(bytes, 0, nl, "US-ASCII")
    def param(tag: Char): Long = {
      val m = s" $tag(\\d+)".r.findFirstMatchIn(htxt)
      require(m.isDefined, s"y4m header missing $tag parameter: $htxt")
      m.get.group(1).toLong
    }
    val width = param('W')
    val height = param('H')
    val fps = param('F') // numerator; fixture rates are integral (den 1)
    require(htxt.contains(" C444"), s"unsupported y4m chroma: $htxt")
    val frameBytes = 3 * width.toInt * height.toInt
    val body = bytes.length - (nl + 1)
    require(body % (6 + frameBytes) == 0,
      s"truncated y4m stream: $body bytes after header")
    val nFrames = body / (6 + frameBytes)
    val sums = new Array[Long](nFrames)
    var f = 0
    while (f < nFrames) {
      val off = nl + 1 + f * (6 + frameBytes)
      require(bytes(off) == 'F' && bytes(off + 1) == 'R' &&
        bytes(off + 2) == 'A' && bytes(off + 3) == 'M' &&
        bytes(off + 4) == 'E' && bytes(off + 5) == '\n',
        s"bad FRAME marker at byte $off")
      var sum = 0L
      var t = off + 6
      val end = t + frameBytes
      while (t < end) { sum += bytes(t) & 0xff; t += 1 }
      sums(f) = sum
      f += 1
    }
    (width, height, fps, sums)
  }

  /** Real y4m frame-sample over [[y4mFrameSums]]'s parse: checksums
    * every `every`-th frame's plane bytes. */
  def sampleY4m(bytes: Array[Byte], every: Int): Y4mSampled = {
    require(every > 0, "sample period must be positive")
    val (width, height, fps, sums) = y4mFrameSums(bytes)
    var sum = 0L
    var sampled = 0L
    var f = 0
    while (f < sums.length) {
      if (f % every == 0) { sampled += 1; sum += sums(f) }
      f += 1
    }
    Y4mSampled(-1L, width, height, fps, sums.length.toLong, sampled, sum)
  }

  /** Deterministic y4m fixture: 200 real clips, dims/fps/frame-count and
    * plane bytes pure index arithmetic on doc_id. */
  object Y4mFixture {
    val path: String = graft.core.Fixtures.path("y4m_media.parquet")
    def ensure(spark: SparkSession): String = synchronized {
      if (!new java.io.File(path).exists()) {
        import spark.implicits._
        val rows = (0L until 200L).map { id =>
          val w = (id % 8 + 1).toInt
          val h = (id % 6 + 1).toInt
          val fps = (24 + id % 7).toInt
          val frames = (id % 10 + 1).toInt
          Y4mRow(id, encodeY4m(w, h, fps, frames,
            (f, t) => ((id * 13 + f * 7 + t * 3) % 256).toInt))
        }
        commitFixture(path)(tmp => rows.toDF("doc_id", "media")
          .repartition(1).write.mode("overwrite").parquet(tmp))
      }
      path
    }
  }

  /** Registry query: real y4m payloads → partition-batched frame
    * sampling. Narrow map, no shuffle. */
  def y4mFrames(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = Y4mFixture.ensure(spark)
    spark.read.parquet(p).as[Y4mRow]
      .mapPartitions { rows =>
        rows.map(r => sampleY4m(r.media, FrameEvery).copy(doc_id = r.doc_id))
      }
      .toDF()
      .orderBy(col("doc_id"))
  }

  /** Shared oracle prologue (CTEs `raw`..`fr`): header text recovered
    * char-by-char from hex pairs up to the first 0x0A, dims/fps
    * regexp-extracted from it, frame count from the parsed dims. */
  private val y4mPrologueSql: String =
    s"""raw AS (
       |  SELECT doc_id, media, hex(media) AS hx, octet_length(media) AS nb
       |  FROM read_parquet('${Y4mFixture.path}/*.parquet')),
       |hl AS (
       |  SELECT doc_id, hx, nb,
       |    list_position(list_transform(range(0, nb),
       |      i -> substr(hx, CAST(i*2+1 AS INT), 2) = '0A'), true) - 1
       |      AS hdr_len
       |  FROM raw),
       |hdr AS (
       |  SELECT doc_id, hx, nb, hdr_len,
       |    array_to_string(list_transform(range(0, hdr_len),
       |      i -> chr(CAST('0x' || substr(hx, CAST(i*2+1 AS INT), 2) AS INT))),
       |      '') AS htxt
       |  FROM hl),
       |dims AS (
       |  SELECT doc_id, hx, nb, hdr_len,
       |    CAST(regexp_extract(htxt, ' W(\\d+)', 1) AS BIGINT) AS width,
       |    CAST(regexp_extract(htxt, ' H(\\d+)', 1) AS BIGINT) AS height,
       |    CAST(regexp_extract(htxt, ' F(\\d+)', 1) AS BIGINT) AS fps
       |  FROM hdr),
       |fr AS (
       |  SELECT doc_id, hx, hdr_len, width, height, fps,
       |    (nb - hdr_len - 1) // (6 + 3 * width * height) AS n_frames
       |  FROM dims)""".stripMargin

  /** DuckDB replay of [[y4mFrames]]: the identical every-3rd-frame plane
    * checksum at offsets computed from the parsed dims. */
  val y4mFramesSql: String =
    s"""WITH $y4mPrologueSql
       |SELECT doc_id, width, height, fps, n_frames,
       |  CAST((n_frames + ${FrameEvery - 1}) // $FrameEvery AS BIGINT)
       |    AS n_sampled,
       |  CAST(COALESCE(list_sum(list_transform(
       |    list_filter(range(0, n_frames), f -> f % $FrameEvery = 0),
       |    f -> list_sum(list_transform(range(0, 3 * width * height), t ->
       |      CAST('0x' || substr(hx,
       |        CAST((hdr_len + 1 + f * (6 + 3 * width * height) + 6 + t) * 2
       |          + 1 AS INT), 2) AS BIGINT))))), 0) AS BIGINT) AS sample_sum
       |FROM fr ORDER BY doc_id""".stripMargin

  // ---- scene-cut detection: frame-differencing over the real stream ------
  // The video-curation primitive on top of the same honest parse: a shot
  // boundary ("cut") is a frame whose plane-byte sum jumps by more than
  // [[CutPerByte]] per byte from its predecessor — frame-differencing
  // energy, the classic first-pass cut detector. All-integer (sums and
  // absolute deltas of byte values), so cross-engine parity is exact;
  // the threshold scales with the parsed frame size, not a magic
  // constant, so clips of different dims grade on the same footing.

  final case class Y4mScene(doc_id: Long, n_frames: Long, n_deltas: Long,
      n_cuts: Long, max_delta: Long, first_cut: Option[Long])

  /** Cut threshold: mean per-byte |delta| strictly above this. The
    * fixture's per-byte deltas have median ≈ 7, p90 ≈ 10, so 8 splits
    * clips non-trivially (47/200 clips carry ≥ 1 cut). */
  private[llm] val CutPerByte = 8L

  /** Per-clip scene-cut stats from [[y4mFrameSums]]'s parse: delta f
    * (1-based over frames) is |sum(f) − sum(f−1)|; a cut is a delta
    * strictly above CutPerByte·frameBytes. `first_cut` is the first
    * cutting frame index, None when the clip has no cut (including
    * single-frame clips, which have zero deltas). */
  def sceneY4m(bytes: Array[Byte]): Y4mScene = {
    val (width, height, _, sums) = y4mFrameSums(bytes)
    val thr = CutPerByte * 3L * width * height
    var nCuts = 0L
    var maxD = 0L
    var first: Option[Long] = None
    var f = 1
    while (f < sums.length) {
      val d = math.abs(sums(f) - sums(f - 1))
      if (d > maxD) maxD = d
      if (d > thr) {
        nCuts += 1
        if (first.isEmpty) first = Some(f.toLong)
      }
      f += 1
    }
    Y4mScene(-1L, sums.length.toLong, math.max(0L, sums.length - 1L),
      nCuts, maxD, first)
  }

  /** Registry query: real y4m payloads → partition-batched scene-cut
    * detection. Narrow map, no shuffle — the 100 TB story is the same as
    * [[y4mFrames]]: each clip is one row, decode cost is linear in clip
    * bytes, nothing leaves the partition. */
  def y4mScenes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = Y4mFixture.ensure(spark)
    spark.read.parquet(p).as[Y4mRow]
      .mapPartitions { rows =>
        rows.map(r => sceneY4m(r.media).copy(doc_id = r.doc_id))
      }
      .toDF()
      .orderBy(col("doc_id"))
  }

  /** DuckDB replay of [[y4mScenes]]: per-frame plane sums from the hex
    * pairs, 1-based consecutive |deltas|, threshold-counted; the list
    * elements are HUGEINT internally (list_sum), every output casts to
    * BIGINT. `list_position` of the first over-threshold delta IS the
    * 1-based cutting frame index; NULL when no cut. */
  val y4mScenesSql: String =
    s"""WITH $y4mPrologueSql,
       |fsum AS (
       |  SELECT doc_id, n_frames, 3 * width * height AS fb,
       |    list_transform(range(0, n_frames), f ->
       |      list_sum(list_transform(range(0, 3 * width * height), t ->
       |        CAST('0x' || substr(hx,
       |          CAST((hdr_len + 1 + f * (6 + 3 * width * height) + 6 + t) * 2
       |            + 1 AS INT), 2) AS BIGINT)))) AS fs
       |  FROM fr),
       |dl AS (
       |  SELECT doc_id, n_frames, $CutPerByte * fb AS thr,
       |    list_transform(range(1, n_frames), f ->
       |      abs(fs[CAST(f + 1 AS INT)] - fs[CAST(f AS INT)])) AS ds
       |  FROM fsum)
       |SELECT doc_id, n_frames,
       |  CAST(n_frames - 1 AS BIGINT) AS n_deltas,
       |  CAST(COALESCE(list_sum(list_transform(ds,
       |    d -> CASE WHEN d > thr THEN 1 ELSE 0 END)), 0) AS BIGINT) AS n_cuts,
       |  CAST(COALESCE(list_max(ds), 0) AS BIGINT) AS max_delta,
       |  CAST(NULLIF(list_position(list_transform(ds, d -> d > thr), true), 0)
       |    AS BIGINT) AS first_cut
       |FROM dl ORDER BY doc_id""".stripMargin

  // ---- perceptual hash: image near-dup dedup over REAL BMP bytes ---------
  // The image counterpart of the text simhash family: an 8×8 average-hash
  // (aHash) over the real 24bpp-BMP decode — nearest-neighbor sample the
  // image onto a fixed 8×8 luma grid, threshold each cell at the grid
  // mean, giving a 64-bit signature whose Hamming distance is the classic
  // near-duplicate-image yardstick. The signature is carried as FOUR
  // 16-bit band values (b0..b3, each in [0, 65535]) rather than one
  // signed 64-bit word: the bands are exactly the Hamming-LSH blocking
  // key the pairs query needs (a pair within Hamming radius r must agree
  // on ≥1 of 4 bands whenever its flipped bits avoid one band — the
  // standard pigeonhole argument at r < 4 per-band flips), and staying
  // in [0, 65535] keeps the DuckDB replay free of the BIGINT sign-bit
  // minefield. All-integer arithmetic (luma·64 > total, never a float
  // mean), so cross-engine parity is exact.

  final case class Phash(doc_id: Long, b0: Long, b1: Long, b2: Long,
      b3: Long, n_bits: Long)

  /** 8×8 aHash over a real BMP payload: header-driven parse (same
    * validation as [[decodeBmp]]), ⌊X·w/8⌋/⌊Y·h/8⌋ nearest-neighbor grid
    * sample, 3-channel luma sum per cell, strict `luma·64 > Σluma`
    * threshold. Bit i (X = i mod 8, Y = i div 8) lands in band i div 16
    * at weight 1 << (i mod 16). Grid rows are in STORED (bottom-up)
    * order — the bmpResize convention: a dedup signature only needs
    * orientation consistency, and stored order keeps the SQL replay's
    * byte arithmetic honest. */
  def phashOf(bytes: Array[Byte]): Phash = {
    require(bytes.length >= 54 && bytes(0) == 'B' && bytes(1) == 'M',
      s"not a BMP payload (${bytes.length} bytes)")
    val pxOff = le32(bytes, 10)
    val width = le32(bytes, 18)
    val height = le32(bytes, 22)
    require(le16(bytes, 28) == 24 && le32(bytes, 30) == 0,
      "unsupported BMP variant")
    require(width > 0 && height > 0, s"bad dims ${width}x$height")
    val rowSize = (width * 3 + 3) / 4 * 4
    require(bytes.length >= pxOff + rowSize * height, "truncated pixel data")
    val lum = new Array[Long](64)
    var total = 0L
    var i = 0
    while (i < 64) {
      val off = pxOff + (i / 8 * height / 8) * rowSize + (i % 8 * width / 8) * 3
      lum(i) = (bytes(off) & 0xff) + (bytes(off + 1) & 0xff) +
        (bytes(off + 2) & 0xff)
      total += lum(i)
      i += 1
    }
    val bands = new Array[Long](4)
    var nBits = 0L
    i = 0
    while (i < 64) {
      if (lum(i) * 64 > total) {
        bands(i / 16) |= 1L << (i % 16)
        nBits += 1
      }
      i += 1
    }
    Phash(-1L, bands(0), bands(1), bands(2), bands(3), nBits)
  }

  /** Deterministic near-dup image fixture: 150 real BMPs in 50 planted
    * groups of 3 — group g = id/3 fixes dims and the base pixel pattern;
    * variant v = id%3 inverts a sparse diagonal stripe of pixels
    * ((x+y) mod (6+3v) = 0), so within-group signatures sit a few
    * Hamming bits apart while cross-group signatures are unrelated.
    * The per-group pattern varies the SPATIAL SHAPE (quadratic x²/y²
    * curvature plus linear frequencies), never just an additive
    * brightness term — aHash is deliberately brightness-invariant (every
    * luma and the mean shift together), so a brightness-only group
    * difference would make all same-dim groups collide; and dims start
    * at 12×10 so all 64 grid cells sample distinct pixels (tiny images
    * collapse the signature's entropy). Separate from [[BmpFixture]]
    * because dedup needs planted structure, not 200 singletons. */
  object PhashFixture {
    val path: String = graft.core.Fixtures.path("phash_media.parquet")
    def ensure(spark: SparkSession): String = synchronized {
      if (!new java.io.File(path).exists()) {
        import spark.implicits._
        val rows = (0L until 150L).map { id =>
          val g = id / 3
          val v = (id % 3).toInt
          val w = (g % 12 + 12).toInt
          val h = (g % 6 + 10).toInt
          BmpRow(id, encodeBmp24(w, h, (x, y, c) => {
            val base = ((x * x * (3 + g % 9) + y * y * (2 + g % 5) +
              x * (7 + 2 * (g % 13)) + y * (5 + 2 * (g % 11)) + c * 5)
              % 256).toInt
            if (v > 0 && (x + y) % (6 + 3 * v) == 0) 255 - base else base
          }))
        }
        commitFixture(path)(tmp => rows.toDF("doc_id", "media")
          .repartition(1).write.mode("overwrite").parquet(tmp))
      }
      path
    }
  }

  /** Unordered signature table (shared by the graded query and the pairs
    * join; the registry query adds the presentation orderBy). */
  private def phashTable(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val p = PhashFixture.ensure(spark)
    spark.read.parquet(p).as[BmpRow]
      .mapPartitions(rows => rows.map(r => phashOf(r.media).copy(doc_id = r.doc_id)))
      .toDF()
  }

  /** Registry query: real BMP payloads → 8×8 aHash signatures. Narrow
    * partition-batched map, no shuffle. */
  def phash(spark: SparkSession, dir: String): DataFrame =
    phashTable(spark).orderBy(col("doc_id"))

  private def phashHdrSql: String = {
    def leField(byteOff: Int, nBytes: Int): String =
      (0 until nBytes).reverse
        .map(i => s"substr(h, ${2 * (byteOff + i) + 1}, 2)")
        .mkString("CAST('0x' || ", " || ", " AS BIGINT)")
    s"""raw AS MATERIALIZED (
       |  SELECT doc_id, hex(media) AS h
       |  FROM read_parquet('${PhashFixture.path}/*.parquet')),
       |hdr AS (
       |  SELECT doc_id, h,
       |    ${leField(18, 4)} AS width,
       |    ${leField(22, 4)} AS height,
       |    ${leField(10, 4)} AS px_off
       |  FROM raw),
       |lum AS MATERIALIZED (
       |  SELECT doc_id,
       |    list_transform(range(0, 64), i ->
       |      CAST('0x' || substr(h, CAST((px_off
       |        + (i // 8 * height // 8) * ((width * 3 + 3) // 4 * 4)
       |        + (i % 8 * width // 8) * 3) * 2 + 1 AS INT), 2) AS BIGINT)
       |    + CAST('0x' || substr(h, CAST((px_off
       |        + (i // 8 * height // 8) * ((width * 3 + 3) // 4 * 4)
       |        + (i % 8 * width // 8) * 3 + 1) * 2 + 1 AS INT), 2) AS BIGINT)
       |    + CAST('0x' || substr(h, CAST((px_off
       |        + (i // 8 * height // 8) * ((width * 3 + 3) // 4 * 4)
       |        + (i % 8 * width // 8) * 3 + 2) * 2 + 1 AS INT), 2) AS BIGINT))
       |      AS lum
       |  FROM hdr),
       |ph AS MATERIALIZED (
       |  SELECT doc_id,
       |${(0 until 4).map(k =>
            s"""    CAST(list_sum(list_transform(range(0, 16), j ->
               |      CASE WHEN lum[${16 * k} + j + 1] * 64 > total
               |      THEN 1 << j ELSE 0 END)) AS BIGINT) AS b$k""".stripMargin)
            .mkString(",\n")},
       |    CAST(len(list_filter(lum, x -> x * 64 > total)) AS BIGINT)
       |      AS n_bits
       |  FROM (SELECT doc_id, lum, list_sum(lum) AS total FROM lum))""".stripMargin
  }

  /** DuckDB replay of [[phash]]: identical header parse, grid addressing,
    * integer threshold and band packing over the hex pairs. */
  val phashSql: String =
    s"""WITH ${phashHdrSql}
       |SELECT doc_id, b0, b1, b2, b3, n_bits FROM ph
       |ORDER BY doc_id""".stripMargin

  /** Any band bucket larger than this is a degenerate signature (e.g.
    * all-dark band 0) — comparing inside it is quadratic noise, the same
    * hot-band rule the simhash pairs query applies. */
  private[llm] val PhashBandCap = 50L

  /** Keep pairs within this Hamming radius of the 64-bit signature —
    * the classic aHash near-duplicate threshold region. */
  private[llm] val PhashHammingMax = 12L

  /** Registry query: banded Hamming near-dup pairs over the signatures —
    * image dedup, blocked exactly like text simhash: candidates must
    * share one exact 16-bit band (4 buckets per doc, never all-pairs),
    * hot bands are capped at [[PhashBandCap]], and survivors are graded
    * by exact Hamming distance ≤ [[PhashHammingMax]]. At 100 TB the
    * band self-join is the only shuffle and stays linear in docs per
    * non-degenerate bucket. */
  def phashPairs(spark: SparkSession, dir: String): DataFrame =
    phashPairsTable(spark).orderBy(col("doc_a"), col("doc_b"))

  /** Unordered near-dup pair table (shared by the graded pairs query and
    * the connected-components grouping) — the graded pin of
    * [[phashPairsOf]]: 16-bit bands, the [[PhashBandCap]]/
    * [[PhashHammingMax]] knobs. */
  private[llm] def phashPairsTable(spark: SparkSession): DataFrame =
    phashPairsOf(phashTable(spark), bandBits = 16, cap = PhashBandCap,
      hammingMax = PhashHammingMax)

  /** Band-width-parameterized banded Hamming pair join (SCALING.md: the
    * phash analogue of the minhash modulus rule). `bandBits` fixes the
    * per-band value space at 2^bandBits: once the corpus approaches
    * `cap × 2^bandBits` images, EVERY band value goes hot and the
    * hot-band cap deletes the candidate set instead of taming skew —
    * recall collapses silently, exactly the minhash saturation mode.
    * Deployments must scale the band width with corpus size (keep
    * expected band df = images/2^bandBits well under the cap; bandBits ≥
    * log2(100 × images) keeps E[df] ≤ 0.01 — `PhashScaleSpec` proves
    * both directions at 10× the fixture's image count). Wider bands
    * trade blocking recall: a pair within Hamming radius r is GUARANTEED
    * a clean shared band only while r < 64/bandBits (pigeonhole), so at
    * bandBits=32 the guarantee drops to r ≤ 1 and multi-probe or a
    * second hash becomes the recall knob. The graded queries pin
    * bandBits=16 (guarantee covers r ≤ 3; probabilistic beyond). */
  private[llm] def phashPairsOf(ph: DataFrame, bandBits: Int, cap: Long,
      hammingMax: Long): DataFrame = {
    require(bandBits >= 1 && bandBits <= 32 && 64 % bandBits == 0,
      s"phashPairsOf: bandBits must divide 64 and be <= 32, got $bandBits")
    val nBands = 64 / bandBits
    // the four stored 16-bit words ARE bits [16j, 16j+16) of the aHash:
    // reassemble and re-slice at the requested width (<<48 wraps the
    // sign bit; value bits are preserved and the unsigned shift below
    // never sees the sign)
    val sig = col("b0") + shiftleft(col("b1"), 16) +
      shiftleft(col("b2"), 32) + shiftleft(col("b3"), 48)
    val mask = if (bandBits == 64) -1L else (1L << bandBits) - 1
    val bandVals = array((0 until nBands).map(j =>
      shiftrightunsigned(sig, j * bandBits).bitwiseAND(lit(mask))): _*)
    val bands = ph.select(col("doc_id"), col("b0"), col("b1"), col("b2"),
        col("b3"), posexplode(bandVals))
      .withColumnRenamed("pos", "band_no")
      .withColumnRenamed("col", "bv")
    val ok = bands.groupBy(col("band_no"), col("bv"))
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= cap)
      .select(col("band_no"), col("bv"))
    val capped = bands.join(ok, Seq("band_no", "bv"))
    val l = capped.select(col("band_no"), col("bv"),
      col("doc_id").as("doc_a"), col("b0").as("a0"), col("b1").as("a1"),
      col("b2").as("a2"), col("b3").as("a3"))
    val r = capped.select(col("band_no"), col("bv"),
      col("doc_id").as("doc_b"), col("b0").as("r0"), col("b1").as("r1"),
      col("b2").as("r2"), col("b3").as("r3"))
    l.join(r, Seq("band_no", "bv"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (bit_count(col("a0").bitwiseXOR(col("r0"))) +
          bit_count(col("a1").bitwiseXOR(col("r1"))) +
          bit_count(col("a2").bitwiseXOR(col("r2"))) +
          bit_count(col("a3").bitwiseXOR(col("r3")))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= hammingMax)
      .distinct()
  }

  /** Registry query: connected components over the phash near-dup graph —
    * the image-dedup endgame, mirroring `dedup_clusters`' relation shape:
    * every fixture image labeled with its component's min doc_id, the
    * canonical (minimum) member flagged. Reuses [[Dedup.ccLabels]]'
    * active-set min-label propagation; singletons never enter the loop. */
  def phashGroups(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = PhashFixture.ensure(spark)
    val docs = spark.read.parquet(p).select(col("doc_id"))
    // cached: ccLabels unions both orientations of the inline-derived
    // pair set before its lineage cut (in-plan; released per query)
    val pairs = phashPairsTable(spark).select(col("doc_a"), col("doc_b"))
      .cache()
    docs.join(Dedup.ccLabels(pairs), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"))
      .withColumn("is_canonical", col("doc_id") === col("cluster"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB replay of [[phashGroups]]: the pairs CTEs plus an unbounded
    * UNION-deduped recursive reachability closure, min-label per node. */
  val phashGroupsSql: String =
    s"""WITH RECURSIVE ${phashHdrSql},
       |bands AS MATERIALIZED (
       |  SELECT doc_id, b0, b1, b2, b3, band_no,
       |    CASE band_no WHEN 0 THEN b0 WHEN 1 THEN b1
       |      WHEN 2 THEN b2 ELSE b3 END AS bv
       |  FROM ph CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band_no)),
       |ok AS (
       |  SELECT band_no, bv FROM bands
       |  GROUP BY band_no, bv HAVING count(*) <= $PhashBandCap),
       |capped AS MATERIALIZED (
       |  SELECT bands.* FROM bands JOIN ok USING (band_no, bv)),
       |prs AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM capped a JOIN capped b USING (band_no, bv)
       |  WHERE a.doc_id < b.doc_id
       |    AND bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
       |      + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
       |      <= $PhashHammingMax),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM prs
       |          UNION ALL SELECT doc_b, doc_a FROM prs),
       |reach AS (
       |  SELECT doc_id, doc_id AS lbl FROM raw
       |  UNION
       |  SELECT e.src AS doc_id, r.lbl
       |  FROM edges e JOIN reach r ON e.dst = r.doc_id)
       |SELECT doc_id, MIN(lbl) AS cluster, doc_id = MIN(lbl) AS is_canonical
       |FROM reach GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** DuckDB replay of [[phashPairs]]: the identical signature CTE, band
    * unnest, hot-band cap, blocked self-join and Hamming grade. */
  val phashPairsSql: String =
    s"""WITH ${phashHdrSql},
       |bands AS MATERIALIZED (
       |  SELECT doc_id, b0, b1, b2, b3, band_no,
       |    CASE band_no WHEN 0 THEN b0 WHEN 1 THEN b1
       |      WHEN 2 THEN b2 ELSE b3 END AS bv
       |  FROM ph CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band_no)),
       |ok AS (
       |  SELECT band_no, bv FROM bands
       |  GROUP BY band_no, bv HAVING count(*) <= $PhashBandCap),
       |capped AS MATERIALIZED (
       |  SELECT bands.* FROM bands JOIN ok USING (band_no, bv))
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
       |     + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
       |    AS BIGINT) AS hamming
       |FROM capped a JOIN capped b USING (band_no, bv)
       |WHERE a.doc_id < b.doc_id
       |  AND bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
       |    + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
       |    <= $PhashHammingMax
       |ORDER BY doc_a, doc_b""".stripMargin

  /** DuckDB replay of [[decodedDigest]] (see its ASCII-payload note). */
  val decodedDigestSql: String =
    """SELECT doc_id, 'fake/raw' AS format,
      |  CAST((ascii(substring(text,1,1))*256 + ascii(substring(text,2,1)))
      |       % 1920 + 1 AS BIGINT) AS width,
      |  CAST((ascii(substring(text,3,1))*256 + ascii(substring(text,4,1)))
      |       % 1080 + 1 AS BIGINT) AS height,
      |  CAST(length(text) % 24 + 1 AS BIGINT) AS n_frames,
      |  CAST(CASE WHEN length(text) = 0 THEN 0
      |       ELSE len(list_distinct(list_transform(string_split(text, ''),
      |            c -> ascii(c)//16))) END AS BIGINT) AS feat_nonzero
      |FROM documents ORDER BY doc_id""".stripMargin
}
