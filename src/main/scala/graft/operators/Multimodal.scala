package graft.operators

import java.awt.image.BufferedImage

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns: image/audio/video payloads ride through the
  * engine as opaque `binary` columns with typed metadata. Header
  * metadata (PNG IHDR, WAV fmt) parses as pure codegen byte
  * expressions; pixel-level decode is REAL via the JDK-native
  * `javax.imageio` (PNG/JPEG/BMP/GIF — zlib inflate + defiltering,
  * no external codec library), running partition-parallel through
  * [[decodeFeatures]] / [[decodeFrameSample]] / [[decodePixelResize]].
  * Formats the JDK cannot decode (video, proprietary codecs) would
  * plug in at [[readImage]] with an external library.
  */
object Multimodal {

  /** Per-doc outputs take `sorted = true` only for deterministic
    * correctness-gate dumps: a global sort of corpus-cardinality output
    * is the most expensive operator in the plan at scale and carries no
    * semantics — production callers pass `sorted = false`.
    */
  private def gateSort(df: DataFrame, sorted: Boolean, by: Column*): DataFrame =
    if (sorted) df.orderBy(by: _*) else df

  /** C12: typed metadata for a binary payload column: byte length,
    * 8-byte header (magic-number window) and a content digest — the
    * columns a 100 TB media pipeline partitions and dedups on without
    * ever decoding.
    */
  def binaryMeta(df: DataFrame, idCol: String, binCol: String, sorted: Boolean = true): DataFrame =
    gateSort(df.select(
      col(idCol),
      length(col(binCol)).cast("long").as("byte_len"),
      lower(hex(substring(col(binCol), 1, 8))).as("header_hex"),
      md5(col(binCol)).as("content_md5")
    ), sorted, col(idCol))

  /** C13: deterministic frame/chunk sampling — frame f starts at byte
    * f*stride, `frameLen` bytes, only complete frames. One generate +
    * projection, no shuffle; cardinality is bounded by maxFrames.
    */
  def frameSample(
      df: DataFrame,
      idCol: String,
      binCol: String,
      frameLen: Int = 16,
      stride: Int = 64,
      maxFrames: Int = 4,
      sorted: Boolean = true
  ): DataFrame = {
    val frames = array((0 until maxFrames).map { f =>
      col(binCol).substr(lit(1 + f * stride), lit(frameLen))
    }: _*)
    gateSort(
      df.select(col(idCol), length(col(binCol)).as("__len"), posexplode(frames))
        .toDF(idCol, "__len", "frame_idx", "frame")
        .filter(col("__len") >= col("frame_idx") * stride + frameLen)
        .select(col(idCol), col("frame_idx").cast("long").as("frame_idx"), lower(hex(col("frame"))).as("frame_hex")),
      sorted, col(idCol), col("frame_idx"))
  }

  /** C22: strided byte downsampling — the "resize" analog expressed on
    * the opaque payload: keep every `stride`-th byte, at most
    * `maxBytes` of them, as lowercase hex. A real image resize swaps
    * the byte stride for a pixel kernel inside the decoder; the
    * Spark-side shape — a pure codegen projection over binary, no
    * shuffle, output bounded per row — is identical.
    */
  def byteResize(
      df: DataFrame,
      idCol: String,
      binCol: String,
      stride: Int = 4,
      maxBytes: Int = 16,
      sorted: Boolean = true
  ): DataFrame = {
    val n = length(col(binCol)).cast("long")
    // Hex only the sampled 1-byte slice inside the lambda. Referencing a
    // full-payload hex() column here would inline it into the transform
    // lambda and re-evaluate it once per element (maxBytes x per row) —
    // the defect class fixed for dup_ngram_mass in f7d437c.
    val sampled = transform(
      sequence(lit(0), lit(maxBytes - 1)),
      i => when(i * stride < n, lower(hex(col(binCol).substr(i * stride + 1, lit(1)))))
    )
    gateSort(df.select(
      col(idCol),
      n.as("byte_len"),
      array_join(filter(sampled, x => x.isNotNull), "").as("resized_hex")
    ), sorted, col(idCol))
  }

  /** C43: REAL container-header parsing — unlike [[decodeStub]], this
    * is not a stand-in: it reads the PNG signature and IHDR fields
    * (width, height, bit depth, color type) from the leading bytes of
    * any actual PNG file, as pure codegen'd column expressions
    * (binary substring + hex + base-16 conv — no codec library, no
    * UDF). At 100 TB this is the metadata pass a media pipeline runs
    * BEFORE deciding what to decode: a linear scan emitting a few
    * ints per blob, with full predicate pushdown on the results.
    * Non-PNG payloads come back `is_png = 0` with NULL dims.
    */
  def parsePngMeta(df: DataFrame, idCol: String, binCol: String, sorted: Boolean = true): DataFrame = {
    val b = col(binCol)
    def beInt(offset1Based: Int): Column =
      conv(hex(substring(b, offset1Based, 4)), 16, 10).cast("long")
    def byteAt(offset1Based: Int): Column =
      conv(hex(substring(b, offset1Based, 1)), 16, 10).cast("long")
    val isPng = hex(substring(b, 1, 8)) === "89504E470D0A1A0A" &&
      hex(substring(b, 13, 4)) === "49484452" // IHDR chunk type
    gateSort(df.select(
      col(idCol),
      when(isPng, 1L).otherwise(0L).as("is_png"),
      when(isPng, beInt(17)).as("width"),
      when(isPng, beInt(21)).as("height"),
      when(isPng, byteAt(25)).as("bit_depth"),
      when(isPng, byteAt(26)).as("color_type")
    ), sorted, col(idCol))
  }

  /** Deterministic synthetic PNG header bytes (signature + IHDR) for a
    * (width, height) — byte-faithful to the spec, so [[parsePngMeta]]
    * exercises the same parse a real .png file would take.
    */
  def pngHeaderBytes(width: Column, height: Column): Column =
    unhex(concat(
      lit("89504E470D0A1A0A"), // signature
      lit("0000000D"),         // IHDR length = 13
      lit("49484452"),         // "IHDR"
      lpad(hex(width.cast("long")), 8, "0"),
      lpad(hex(height.cast("long")), 8, "0"),
      lit("08"),               // bit depth
      lit("06"),               // color type RGBA
      lit("000000")            // compression, filter, interlace
    ))

  /** Little-endian unsigned int read from `nBytes` bytes at 1-based
    * `offset` of a binary column — per-byte conv + positional weights
    * (RIFF/WAV fields are little-endian; hex+conv alone reads BE).
    */
  private def leUint(b: Column, offset: Int, nBytes: Int): Column =
    (0 until nBytes).map { i =>
      conv(hex(substring(b, offset + i, 1)), 16, 10).cast("long") * (1L << (8 * i))
    }.reduce(_ + _)

  /** C46: REAL WAV/RIFF header parsing — the audio pendant of
    * [[parsePngMeta]]: RIFF/WAVE/fmt signatures checked, then
    * channels, sample rate and bit depth decoded from the canonical
    * PCM fmt chunk (little-endian, hence [[leUint]]) — all pure
    * codegen column expressions, no codec, no UDF. Assumes the
    * canonical fmt-first layout (what encoders including the JDK
    * write) and rejects anything else via the explicit "fmt " check.
    */
  def parseWavMeta(df: DataFrame, idCol: String, binCol: String, sorted: Boolean = true): DataFrame = {
    val b = col(binCol)
    val isWav = hex(substring(b, 1, 4)) === "52494646" && // "RIFF"
      hex(substring(b, 9, 4)) === "57415645" &&           // "WAVE"
      hex(substring(b, 13, 4)) === "666D7420"             // "fmt "
    gateSort(df.select(
      col(idCol),
      when(isWav, 1L).otherwise(0L).as("is_wav"),
      when(isWav, leUint(b, 23, 2)).as("n_channels"),
      when(isWav, leUint(b, 25, 4)).as("sample_rate"),
      when(isWav, leUint(b, 35, 2)).as("bits_per_sample")
    ), sorted, col(idCol))
  }

  /** Little-endian hex string of `v` over `nBytes` bytes (staging
    * helper for byte-faithful synthetic WAV headers).
    */
  private def leHex(v: Column, nBytes: Int): Column =
    concat((0 until nBytes).map(i =>
      lpad(hex(shiftright(v.cast("long"), 8 * i).bitwiseAND(lit(255L))), 2, "0")): _*)

  /** C90 (mm_webp_meta): REAL WebP container parsing — the modern
    * web-image format whose THREE bitstream variants store dimensions
    * three different ways (RIFF container spec + VP8 RFC 6386 §9.1 +
    * WebP lossless/extended format docs): after the RIFF/"WEBP"
    * signature, the first chunk's fourcc selects the decode —
    * `VP8 ` (lossy): 3-byte frame tag, the 9D 01 2A sync code, then
    * 14-bit width/height in two LE16s; `VP8L` (lossless): the 0x2F
    * signature byte, then width−1 and height−1 as back-to-back 14-bit
    * fields of one LE32; `VP8X` (extended): canvas width−1/height−1
    * as LE24s after the flag byte. All pure codegen column
    * expressions over fixed offsets ([[leUint]] + bitwise masks — the
    * variant dispatch is a CASE, not a walk), no codec, no UDF.
    * Non-WebP payloads report `is_webp = 0` with NULL variant/dims.
    */
  def parseWebpMeta(df: DataFrame, idCol: String, binCol: String, sorted: Boolean = true): DataFrame = {
    val b = col(binCol)
    val isWebp = hex(substring(b, 1, 4)) === "52494646" && // "RIFF"
      hex(substring(b, 9, 4)) === "57454250"               // "WEBP"
    val fourcc = hex(substring(b, 13, 4))
    val vp8 = fourcc === "56503820"  // "VP8 "
    val vp8l = fourcc === "5650384C" // "VP8L"
    val vp8x = fourcc === "56503858" // "VP8X"
    val vp8Sync = hex(substring(b, 24, 3)) === "9D012A"
    val lSig = hex(substring(b, 21, 1)) === "2F"
    val lBits = leUint(b, 22, 4)
    val variant = when(vp8, "VP8").when(vp8l, "VP8L").when(vp8x, "VP8X")
    val width = when(vp8 && vp8Sync, leUint(b, 27, 2).bitwiseAND(lit(0x3FFFL)))
      .when(vp8l && lSig, lBits.bitwiseAND(lit(0x3FFFL)) + 1L)
      .when(vp8x, leUint(b, 25, 3) + 1L)
    val height = when(vp8 && vp8Sync, leUint(b, 29, 2).bitwiseAND(lit(0x3FFFL)))
      .when(vp8l && lSig, shiftright(lBits, 14).bitwiseAND(lit(0x3FFFL)) + 1L)
      .when(vp8x, leUint(b, 28, 3) + 1L)
    gateSort(df.select(
      col(idCol),
      when(isWebp, 1L).otherwise(0L).as("is_webp"),
      when(isWebp, variant).as("variant"),
      when(isWebp, width).as("width"),
      when(isWebp, height).as("height")
    ), sorted, col(idCol))
  }

  /** Byte-faithful synthetic WebP files for [[parseWebpMeta]] — the
    * mp4Bytes discipline: a pure hex-concat projection (closed-form
    * fields, no staging pass needed) emitting the exact container an
    * encoder writes for each of the three variants. `variant` 0 =
    * lossy `VP8 ` (zeroed key-frame tag + sync code + 14-bit LE16
    * dims), 1 = lossless `VP8L` (0x2F + the packed 14+14-bit LE32,
    * odd-sized chunk padded to even per RIFF), 2 = extended `VP8X`
    * (flag byte + LE24 canvas dims − 1). Dims must fit 14 bits.
    */
  def webpBytes(variant: Column, width: Column, height: Column): Column = {
    val w = width.cast("long")
    val h = height.cast("long")
    // "VP8 " lossy: 10-byte payload -> RIFF size 4 + 8 + 10 = 22
    val lossy = concat(
      lit("56503820"), leHex(lit(10L), 4), // "VP8 " + chunk size 10
      lit("000000"),                       // key-frame tag (type 0)
      lit("9D012A"),                       // sync code
      leHex(w, 2), leHex(h, 2))
    // "VP8L": 5-byte payload + 1 RIFF pad byte -> size 4 + 8 + 5 + 1 = 18
    val lossless = concat(
      lit("5650384C"), leHex(lit(5L), 4),  // "VP8L" + chunk size 5
      lit("2F"),
      leHex((w - 1L) + shiftleft(h - 1L, 14), 4), // 14+14 bits, version 0
      lit("00"))                           // RIFF even-alignment pad
    // "VP8X": 10-byte payload -> size 4 + 8 + 10 = 22
    val extended = concat(
      lit("56503858"), leHex(lit(10L), 4), // "VP8X" + chunk size 10
      lit("00"), lit("000000"),            // flags + reserved
      leHex(w - 1L, 3), leHex(h - 1L, 3))
    val body = when(variant === 0L, lossy)
      .when(variant === 1L, lossless)
      .otherwise(extended)
    val riffSize = when(variant === 1L, lit(18L)).otherwise(lit(22L))
    unhex(concat(
      lit("52494646"), leHex(riffSize, 4), // "RIFF" + size
      lit("57454250"),                     // "WEBP"
      body))
  }

  /** Deterministic synthetic WAV header bytes (RIFF + canonical PCM
    * fmt chunk) — byte-faithful, so [[parseWavMeta]] takes the same
    * parse path a real .wav file does.
    */
  def wavHeaderBytes(channels: Column, sampleRate: Column, bits: Column): Column =
    unhex(concat(
      lit("52494646"), lit("00000000"), // "RIFF" + size (unused here)
      lit("57415645"), lit("666D7420"), // "WAVE" + "fmt "
      lit("10000000"), lit("0100"),     // fmt size 16 LE, PCM = 1 LE
      leHex(channels, 2),
      leHex(sampleRate, 4),
      lit("00000000"), lit("0000"),     // byte rate + block align (unused)
      leHex(bits, 2)
    ))

  /** C81 (mm_wav_rms): REAL PCM sample decode + signal statistics —
    * the step BEYOND [[parseWavMeta]]'s header fields: the 16-bit
    * little-endian samples of the data chunk are decoded and folded
    * into (n, Σs, Σs², max|s|) — the silence/clipping/loudness
    * screen an audio pipeline runs before transcoding, expressed as
    * ONE native-kernel call per row ([[graft.functions.VecOps
    * .wavPcmStats]], a primitive byte loop — the TIFF lesson applies
    * doubly here: thousands of per-sample HOF reads would allocate
    * strings per BYTE). RMS/dBFS are one double op away from the
    * exact integer moments; the moments themselves stay engine-exact.
    * Non-WAV / non-PCM16 payloads report `is_pcm16 = 0` with NULLs.
    */
  def parseWavPcmStats(df: DataFrame, idCol: String, binCol: String, maxSamples: Int = 65536, sorted: Boolean = true): DataFrame = {
    val m = graft.functions.VecOps.wav_pcm_stats(col(binCol), maxSamples)
    def f(i: Int): Column = element_at(col("__m"), i)
    gateSort(
      df.select(col(idCol), m.as("__m"))
        .select(
          col(idCol),
          f(1).as("is_pcm16"),
          // sum_s can be ANY long (negative included), so every field
          // gates on the is_pcm16 flag, not on a -1 sentinel
          when(f(1) === 1L, f(2)).as("n_samples"),
          when(f(1) === 1L, f(3)).as("sum_s"),
          when(f(1) === 1L, f(4)).as("sum_sq"),
          when(f(1) === 1L, f(5)).as("max_abs")),
      sorted, col(idCol))
  }

  /** Deterministic synthetic 16-bit PCM WAV (canonical header + data
    * chunk) — sample i is the signed interpretation of
    * (seed·31 + i·7) mod 2^16, a full-range ramp pattern with a
    * closed-form oracle, stored little-endian exactly as a real
    * encoder writes it. Staged to parquet once per scale dir (the
    * per-sample hex concat here is the expensive staging step the
    * parse kernel must not pay on every run).
    */
  def wavPcmBytes(seed: Column, nSamples: Column): Column = {
    val n = nSamples.cast("long")
    val samples = array_join(
      transform(sequence(lit(0L), n - 1L), i => {
        val u = (seed.cast("long") * 31L + i * 7L) % 65536L
        concat(
          lpad(hex(u.bitwiseAND(lit(255L))), 2, "0"),
          lpad(hex(shiftright(u, 8)), 2, "0"))
      }),
      "")
    unhex(concat(
      lit("52494646"), lit("00000000"), // "RIFF" + size (unused)
      lit("57415645"), lit("666D7420"), // "WAVE" + "fmt "
      lit("10000000"), lit("0100"),     // fmt size 16 LE, PCM = 1
      lit("0100"),                      // 1 channel
      leHex(lit(16000L), 4),            // sample rate
      lit("00000000"), lit("0000"),     // byte rate + block align (unused)
      lit("1000"),                      // 16 bits LE
      lit("64617461"),                  // "data"
      leHex(n * 2L, 4),                 // data chunk byte size
      samples))
  }

  /** C82 (mm_exif_meta): EXIF orientation + dimensions from JPEG —
    * the composition of the marker walk (C61) and the IFD walk (C75):
    * APP1 located, `Exif\0\0` checked, then a TIFF 6.0 directory scan
    * with EXIF's RELATIVE offsets for tags 274/256/257 in either byte
    * order, one native-kernel call per row
    * ([[graft.functions.VecOps.exifMeta]]). Orientation is the field
    * an image pipeline MUST read before any resize — values 5–8 mean
    * the logical dims are the stored dims swapped. JPEGs without APP1
    * (e.g. bare JFIF) and non-JPEGs report `has_exif = 0`.
    */
  def parseExifMeta(df: DataFrame, idCol: String, binCol: String, maxHops: Int = 12, maxEntries: Int = 32, sorted: Boolean = true): DataFrame = {
    val m = graft.functions.VecOps.exif_meta(col(binCol), maxHops, maxEntries)
    def f(i: Int): Column = element_at(col("__m"), i)
    gateSort(
      df.select(col(idCol), m.as("__m"))
        .select(
          col(idCol),
          f(1).as("has_exif"),
          when(f(1) === 1L,
            when(f(2) === 0L, lit("II")).otherwise(lit("MM"))).as("byte_order"),
          when(f(3) >= 0L, f(3)).as("orientation"),
          when(f(4) >= 0L, f(4)).as("width"),
          when(f(5) >= 0L, f(5)).as("height")),
      sorted, col(idCol))
  }

  /** Deterministic synthetic EXIF JPEG bytes: SOI + APP1 carrying a
    * big-endian TIFF IFD with Orientation/ImageWidth/ImageLength
    * SHORT entries + EOI — byte-faithful to EXIF 2.3 §4.5.2, so
    * [[parseExifMeta]] takes the walk a camera JPEG does. Spec covers
    * a little-endian hand-built twin and APP0-before-APP1 layouts.
    */
  def exifJpegBytes(orientation: Column, width: Column, height: Column): Column = {
    def be16(v: Column): Column = lpad(hex(v.cast("long")), 4, "0")
    def shortEntry(tag: String, v: Column): Column =
      concat(lit(tag), lit("0003"), lit("00000001"), be16(v), lit("0000"))
    unhex(concat(
      lit("FFD8"),                         // SOI
      lit("FFE1"), lit("003A"),            // APP1, length 58
      lit("457869660000"),                 // "Exif\0\0"
      lit("4D4D002A"), lit("00000008"),    // TIFF: "MM", 42, IFD at +8
      lit("0003"),                         // 3 directory entries
      shortEntry("0100", width),           // ImageWidth
      shortEntry("0101", height),          // ImageLength
      shortEntry("0112", orientation),     // Orientation
      lit("00000000"),                     // next IFD: none
      lit("FFD9")))                        // EOI
  }

  /** Staged PNG encoder with STRUCTURED content: diagonal stripes
    * whose direction/frequency depend on the id — unlike
    * [[encodeStagedPng]]'s smooth gradient (which any mean-relative
    * hash maps to one bitmap — aHash is brightness-invariant BY
    * DESIGN, so gradient images all collide), stripe geometry varies
    * the aHash bit pattern per id. Channel values stay < 256 for
    * w ≤ 16, h ≤ 8.
    */
  def encodeStagedPngStripes(spark: SparkSession, df: DataFrame, idCol: String, wCol: String, hCol: String): DataFrame =
    encodeStaged(spark, df, idCol, wCol, hCol, "png", "png") { (id, w, h) =>
      require(w >= 1 && w <= 16 && h >= 1 && h <= 8,
        s"striped staged PNG dims must be in [1,16]x[1,8]; got ${w}x$h")
      painted(w, h) { (x, y) =>
        val phase = (x * (1 + (id % 5).toInt) + y * (1 + (id % 3).toInt)) % 4
        val r = if (phase < 2) 200 else 20
        (r << 16) | ((x * 3) << 8) | (y * 5)
      }
    }

  /** C83 (mm_phash_dedup): perceptual-hash image dedup over REAL
    * decoded pixels — the visual near-dup signal a multimodal corpus
    * dedups on when byte hashes miss re-encoded copies: the classic
    * aHash (average hash) over an 8×8 box-resize grid of the DECODED
    * image ([[decodePixelResize]], genuine `javax.imageio` pixels),
    * bit = block gray-sum above the image mean — the comparison is
    * gray·64 > total, exact integers, no float mean — assembled into
    * a 16-hex-char hash (8 row bytes, built by conditional
    * aggregation, never an order-sensitive collect_list).
    *
    * Plan: decode is one partition-parallel pass; the per-image fold
    * (total, bits, row bytes, hash) runs under image-keyed
    * aggregations — 64 rows per image, map-side combinable. Cost is
    * Θ(pixels); nothing quadratic anywhere — equal hashes group
    * directly, the same keyed-agg shape as exact dedup.
    */
  def imageAHash(
      spark: SparkSession,
      df: DataFrame,
      idCol: String,
      binCol: String
  ): DataFrame = {
    val blocks = decodePixelResize(spark, df, idCol, binCol, outW = 8, outH = 8, sorted = false)
    val gray = blocks.select(
      col(idCol), col("bx"), col("by"),
      (col("sum_r") + col("sum_g") + col("sum_b")).as("v"))
    val withTotal = gray.select(
      col(idCol), col("bx"), col("by"), col("v"),
      sum(col("v")).over(org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))).as("tv"))
    val rowBytes = withTotal
      .groupBy(col(idCol), col("by"))
      .agg(sum(expr("CASE WHEN v * 64 > tv THEN shiftleft(1L, CAST(bx AS INT)) ELSE 0L END")).as("rb"))
    rowBytes
      .groupBy(col(idCol))
      .agg(concat(
        (0 until 8).map(by =>
          lpad(lower(hex(max(when(col("by") === by, col("rb"))))), 2, "0")): _*).as("phash"))
  }

  /** C85 index build: one row per distinct perceptual hash in the
    * image corpus with its canonical (minimum) id — [[imageAHash]]
    * over decoded pixels, then the [[graft.operators.Dedup
    * .buildHashIndex]] shape (C28 discipline). The persisted index is
    * (16-hex-char phash, kept_id): ~24 bytes per distinct VISUAL, so
    * probes of later batches never re-decode or re-shuffle the corpus
    * images — the production form of batch [[imageAHash]] dedup.
    */
  def buildPhashIndex(spark: SparkSession, corpus: DataFrame, idCol: String, binCol: String): DataFrame =
    imageAHash(spark, corpus, idCol, binCol)
      .groupBy(col("phash"))
      .agg(min(col(idCol).cast("long")).as("kept_id"))

  private[graft] def requirePhashIndex(index: DataFrame): Unit =
    require(index.columns.toSet == Set("phash", "kept_id"),
      s"not a phash index: ${index.columns.mkString(",")}")

  /** C85 probe: decode + hash ONLY the batch, then one hash-keyed
    * left join against the index — batch-shaped cost (Θ(batch
    * pixels) decode + a join that shuffles 16-char hashes, AQE
    * broadcasts whichever side is small). Output (idCol, is_dup,
    * dup_of) for every batch row, the [[graft.operators.Dedup
    * .exactAgainstIndex]] contract on the visual signal.
    */
  def phashAgainstIndex(
      spark: SparkSession,
      batch: DataFrame,
      idCol: String,
      binCol: String,
      index: DataFrame
  ): DataFrame = {
    requirePhashIndex(index)
    imageAHash(spark, batch, idCol, binCol)
      .select(col(idCol).cast("long").as("__bid"), col("phash"))
      .join(index, Seq("phash"), "left")
      .select(
        col("__bid").as(idCol),
        when(col("kept_id").isNotNull, 1L).otherwise(0L).as("is_dup"),
        col("kept_id").as("dup_of"))
      .orderBy(col(idCol))
  }

  /** C85 state advance: fold a processed batch into the phash index,
    * FIRST-SEEN-WINS like [[graft.operators.Dedup.updateHashIndex]] —
    * hashes already indexed keep their canonical id (anti-join drops
    * them from the batch side), so replaying the same batch is
    * idempotent and canonical ids never churn. The returned frame
    * REPLACES the old index (write-new-then-promote).
    */
  def updatePhashIndex(
      index: DataFrame,
      spark: SparkSession,
      batch: DataFrame,
      idCol: String,
      binCol: String
  ): DataFrame = {
    requirePhashIndex(index)
    index.unionByName(
      buildPhashIndex(spark, batch, idCol, binCol)
        .join(index.select(col("phash")), Seq("phash"), "left_anti"))
  }

  /** C61: REAL JPEG dimension parsing — unlike PNG/WAV, JPEG has no
    * fixed-offset header: the SOF frame segment sits behind a
    * variable-length marker chain (APPn/DQT/COM...), so the parse is
    * a BOUNDED MARKER WALK expressed as an `aggregate` fold over a
    * constant hop sequence — still a pure codegen column expression
    * (dynamic-offset substring + hex + conv per hop), no codec, no
    * UDF. Fold state is the 1-based offset of the next marker's 0xFF;
    * negated when an SOF marker (C0–CF minus C4/C8/CC, per ITU T.81)
    * is found, 0 on desync/overrun. `maxHops` bounds work per blob —
    * baseline encoders (including the JDK's: SOI, APP0, DQT×2, SOF0)
    * reach SOF within a handful of segments; blobs whose SOF sits
    * deeper just report not-parsed rather than scanning megabytes.
    * Non-JPEG payloads come back `is_jpeg = 0` with NULL dims.
    */
  def parseJpegMeta(df: DataFrame, idCol: String, binCol: String, maxHops: Int = 12, sorted: Boolean = true): DataFrame = {
    val b = col(binCol)
    def byteAt(pos: Column): Column = conv(hex(b.substr(pos.cast("int"), lit(1))), 16, 10).cast("long")
    def be16(pos: Column): Column = conv(hex(b.substr(pos.cast("int"), lit(2))), 16, 10).cast("long")
    def isSof(m: Column): Column =
      m.between(0xC0L, 0xCFL) && m =!= 0xC4L && m =!= 0xC8L && m =!= 0xCCL
    val soi = hex(substring(b, 1, 2)) === "FFD8"
    // T.81 B.1.1.2: a marker may be preceded by any number of 0xFF
    // fill bytes (some encoders pad with them) — slide one byte per
    // hop over FF-FF. TEM (0x01) and RSTn (D0–D7) are standalone
    // length-less markers: hop 2, never read a length field. EOI /
    // SOS before any SOF means dims aren't in the walked prefix:
    // desync to not-parsed rather than hopping into entropy data.
    val walk = aggregate(
      sequence(lit(1), lit(maxHops)),
      lit(3L), // first marker after SOI
      (off, _) =>
        when(off <= 0L || off.isNull, coalesce(off, lit(0L)))         // done / desynced
          .when(byteAt(off) =!= 0xFFL, lit(0L))                        // not a marker: desync
          .when(byteAt(off + 1L) === 0xFFL, off + 1L)                  // FF fill byte: slide
          .when(isSof(byteAt(off + 1)), -off)                          // found: negate
          .when(byteAt(off + 1L) === 0x01L ||
            byteAt(off + 1L).between(0xD0L, 0xD7L), off + 2L)          // TEM/RSTn: length-less
          .when(byteAt(off + 1L) === 0xD9L ||
            byteAt(off + 1L) === 0xDAL, lit(0L))                       // EOI/SOS: no SOF ahead
          .otherwise(coalesce(off + 2L + be16(off + 2L), lit(0L))))    // hop the segment
    gateSort(
      df.select(col(idCol), b, when(soi, walk).otherwise(lit(0L)).as("__sof"))
        .select(
          col(idCol),
          when(col("__sof") < 0, 1L).otherwise(0L).as("is_jpeg"),
          when(col("__sof") < 0, be16(-col("__sof") + 7L)).as("width"),
          when(col("__sof") < 0, be16(-col("__sof") + 5L)).as("height"),
          when(col("__sof") < 0, byteAt(-col("__sof") + 9L)).as("n_components")),
      sorted, col(idCol))
  }

  /** C64 (mm_gif_meta): REAL GIF header parsing — the third fixed-
    * offset image format next to [[parsePngMeta]]: "GIF87a"/"GIF89a"
    * signature, then the Logical Screen Descriptor's width/height as
    * little-endian uint16 at offsets 7/9 (1-based) — pure codegen
    * column expressions ([[leUint]] handles the byte order), no
    * codec, no UDF. Proven on genuine JDK-encoded GIFs
    * ([[encodeStagedGif]]); non-GIF payloads report `is_gif = 0`
    * with NULL dims.
    */
  def parseGifMeta(df: DataFrame, idCol: String, binCol: String, sorted: Boolean = true): DataFrame = {
    val b = col(binCol)
    val isGif = hex(substring(b, 1, 4)) === "47494638" && // "GIF8"
      (hex(substring(b, 5, 2)) === "3761" || hex(substring(b, 5, 2)) === "3961") // "7a" | "9a"
    gateSort(df.select(
      col(idCol),
      when(isGif, 1L).otherwise(0L).as("is_gif"),
      when(isGif, leUint(b, 7, 2)).as("width"),
      when(isGif, leUint(b, 9, 2)).as("height")
    ), sorted, col(idCol))
  }

  /** C75 (mm_tiff_meta): REAL TIFF header + IFD parsing — unlike the
    * fixed-offset PNG/GIF headers, TIFF stores dimensions in a tag
    * directory at a DYNAMIC offset, in EITHER byte order ("II"
    * little-endian / "MM" big-endian, TIFF 6.0 §2): read the
    * byte-order mark, check magic 42, follow the IFD pointer, scan up
    * to `maxEntries` 12-byte directory entries for tags 256
    * (ImageWidth) / 257 (ImageLength), and decode the inline
    * SHORT(3)/LONG(4) value in the header's endianness — all pure
    * codegen column expressions (a bounded HOF scan like the JPEG
    * marker walk), no codec, no UDF. Proven on genuine JDK-encoded
    * TIFFs ([[encodeStagedTiff]], which writes "MM") and on
    * hand-built "II" files in spec; non-TIFF payloads report
    * `is_tiff = 0` with NULL order/dims.
    */
  def parseTiffMeta(df: DataFrame, idCol: String, binCol: String, maxEntries: Int = 32, sorted: Boolean = true): DataFrame = {
    // one native-kernel call per row ([[graft.functions.VecOps.tiffMeta]]
    // — byte-order mark, magic 42, IFD pointer, bounded directory walk
    // for tags 256/257 with SHORT(3)/LONG inline values, all in a
    // primitive loop). The previous pure-column formulation spelled each
    // byte read as conv(hex(substr(...))) inside a transform over the
    // entry window — ~1,500 string-allocating ops per row, measured
    // 4-11s for 33k rows at sf0.1 vs ~0.2s for the kernel, bit-equal
    // output (spec covers JDK "MM" files, hand-built "II", junk).
    val m = graft.functions.VecOps.tiff_meta(col(binCol), maxEntries)
    gateSort(
      df.select(col(idCol), m.as("__m"))
        .select(
          col(idCol),
          element_at(col("__m"), 1).as("is_tiff"),
          when(element_at(col("__m"), 1) === 1L,
            when(element_at(col("__m"), 2) === 0L, lit("II")).otherwise(lit("MM")))
            .as("byte_order"),
          when(element_at(col("__m"), 3) >= 0L, element_at(col("__m"), 3)).as("width"),
          when(element_at(col("__m"), 4) >= 0L, element_at(col("__m"), 4)).as("height")),
      sorted, col(idCol))
  }

  /** C79 (mm_mp4_meta): REAL MP4/ISO-BMFF container parsing — the
    * video pendant of [[parseTiffMeta]]: a bounded box walk (u32-BE
    * size + 4-char type per box, ISO/IEC 14496-12) finds `ftyp`
    * (major brand), `moov`, then `mvhd` (timescale + duration,
    * version 0 and 1 layouts) and counts `trak` children — all in the
    * native kernel [[graft.functions.VecOps.mp4Meta]] (one call per
    * row, a primitive loop; the TIFF lesson: spelling dynamic-offset
    * byte reads as `conv(hex(substr))` HOF trees allocates thousands
    * of strings per row). At 100 TB this is the metadata pass a video
    * pipeline runs BEFORE deciding what to transcode: a linear scan
    * emitting a few ints per blob, full predicate pushdown on the
    * results. Non-MP4 payloads report `is_mp4 = 0` with NULL fields;
    * duration is NULL when mvhd sits past the walk bound or carries
    * the 64-bit unknown sentinel.
    */
  def parseMp4Meta(df: DataFrame, idCol: String, binCol: String, maxBoxes: Int = 32, sorted: Boolean = true): DataFrame = {
    val m = graft.functions.VecOps.mp4_meta(col(binCol), maxBoxes)
    def f(i: Int): Column = element_at(col("__m"), i)
    gateSort(
      df.select(col(idCol), m.as("__m"))
        .select(
          col(idCol),
          f(1).as("is_mp4"),
          // brand u32 -> 4 ASCII chars ("isom", "mp42", ...)
          when(f(2) >= 0L, decode(unhex(lpad(hex(f(2)), 8, "0")), "UTF-8")).as("major_brand"),
          when(f(3) >= 0L, f(3)).as("timescale"),
          when(f(4) >= 0L, f(4)).as("duration"),
          // -1 = no moov found (e.g. ftyp-only prefix): NULL, not a count
          when(f(5) >= 0L, f(5)).as("n_tracks")),
      sorted, col(idCol))
  }

  /** Deterministic synthetic MP4 bytes (ftyp + moov[mvhd + n trak
    * stubs]) — byte-faithful to ISO/IEC 14496-12 (version-0 mvhd with
    * the full 108-byte layout: rate/volume/matrix/next-track-id), so
    * [[parseMp4Meta]] takes the same walk a real .mp4 header does.
    * Spec fixtures additionally cover version-1 mvhd, free-box
    * prefixes, largesize and truncation (hand-built there).
    */
  def mp4Bytes(timescale: Column, duration: Column, nTracks: Column): Column = {
    def be32(v: Column): Column = lpad(hex(v.cast("long")), 8, "0")
    val mvhd = concat(
      lit("0000006C6D766864"), // size 108 + "mvhd"
      lit("00000000"),         // version 0 + flags
      lit("0000000000000000"), // creation + modification time
      be32(timescale),
      be32(duration),
      lit("00010000"), lit("0100"), // rate 1.0, volume 1.0
      lit("0" * 20),                // 10 reserved bytes
      // unity matrix (§8.2.2.3)
      lit("000100000000000000000000" + "000000000001000000000000" + "000000000000000040000000"),
      lit("0" * 48),                // 6x4 pre_defined
      lit("00000001"))              // next_track_id
    val moovSize = lit(8L) + lit(108L) + nTracks.cast("long") * 8L
    unhex(concat(
      lit("0000001866747970"),     // ftyp size 24
      lit("69736F6D"),             // major brand "isom"
      lit("00000200"),             // minor version
      lit("69736F6D6D703432"),     // compatible: "isom", "mp42"
      be32(moovSize), lit("6D6F6F76"), // moov header
      mvhd,
      repeat(lit("000000087472616B"), nTracks.cast("int")) // 8-byte trak stubs
    ))
  }

  /** Persist a deterministic staged-payload frame to parquet ONCE per
    * (source data, version) and serve every later call from the stored
    * bytes — the similarity-index build-once discipline applied to the
    * mm_* test payloads. The encoders behind `build` (per-row JDK
    * `ImageIO` writes) cost 10-50x the parse kernels they feed, so
    * leaving them inside a benched query measures the staging harness,
    * not the operator. The fingerprint pins the source files' (path,
    * mtime, length): a regenerated scale dir restages, an unchanged
    * one goes straight to the parquet read.
    */
  def stageBytesIfAbsent(
      spark: SparkSession,
      source: DataFrame,
      dir: String,
      version: String
  )(build: => DataFrame): DataFrame = {
    graft.sources.Catalog.buildOnce(spark, source, dir, "#" + version) {
      build.write.mode("overwrite").parquet(s"$dir/payloads")
    }
    graft.sources.Catalog.readParquet(spark, s"$dir/payloads")
  }

  /** Stage REAL TIFF files through the JDK encoder (big-endian
    * header, baseline IFD with SHORT width/height tags, uncompressed
    * strips) so [[parseTiffMeta]] walks the directory an actual .tif
    * carries — the same staging discipline as [[encodeStagedJpeg]].
    */
  def encodeStagedTiff(spark: SparkSession, df: DataFrame, idCol: String, wCol: String, hCol: String): DataFrame =
    encodeStaged(spark, df, idCol, wCol, hCol, "tiff", "tiff")(flatFill)

  /** Stage REAL GIF files through the JDK encoder (GIF89a + logical
    * screen descriptor + LZW image data) so [[parseGifMeta]] parses
    * the bytes an actual .gif carries — the same staging discipline
    * as [[encodeStagedJpeg]].
    */
  def encodeStagedGif(spark: SparkSession, df: DataFrame, idCol: String, wCol: String, hCol: String): DataFrame =
    encodeStaged(spark, df, idCol, wCol, hCol, "gif", "gif")(flatFill)

  /** Stage REAL JPEG files through the JDK encoder (JFIF APP0, quant
    * tables, baseline SOF0, entropy-coded data) so [[parseJpegMeta]]
    * exercises the marker walk an actual .jpg takes. Pixel content is
    * irrelevant to the meta parse — a flat fill keeps encode cheap.
    */
  def encodeStagedJpeg(spark: SparkSession, df: DataFrame, idCol: String, wCol: String, hCol: String): DataFrame =
    encodeStaged(spark, df, idCol, wCol, hCol, "jpg", "jpeg")(flatFill)

  /** Feature row produced by the real decoder. */
  case class MediaFeatures(id: Long, width: Int, height: Int, featureNorm: Double)

  // ---------------------------------------------------------------
  // REAL pixel decode (JDK-native javax.imageio — no external codec
  // library needed for PNG/JPEG/BMP/GIF). Executor-side helpers are
  // in the companion so generated/serialized closures reference only
  // static methods + primitives.
  // ---------------------------------------------------------------

  /** ImageIO's default temp-FILE cache would turn every decode into
    * disk IO on the executor — stream-only decode instead. Safe to
    * set per-JVM; lazily triggered by the first decode on each
    * executor.
    */
  @transient private lazy val imageIoInit: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  private[graft] def readImage(bytes: Array[Byte]): Option[BufferedImage] = {
    imageIoInit
    Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
  }

  /** Decode + feature-extract over binary payloads, partition-parallel
    * (iterator-to-iterator, nothing materialized). REAL decode via
    * `javax.imageio` — PNG payloads go through actual zlib inflate +
    * scanline defiltering and come back as pixels; `featureNorm` is
    * mean luminance (sum of R+G+B over 3*255*w*h). Payloads ImageIO
    * cannot decode (plain text, truncated files) are dropped — a
    * 100 TB media sweep quarantines those rows upstream via
    * [[binaryMeta]] header checks, it does not fail the job.
    */
  def decodeFeatures(spark: SparkSession, df: DataFrame, idCol: String, binCol: String): Dataset[MediaFeatures] = {
    import spark.implicits._
    decoded(spark, df, idCol, binCol) { (id, img) =>
      val w = img.getWidth; val h = img.getHeight
      val (sr, sg, sb) = channelSums(img, 0, w, 0, h)
      Iterator(MediaFeatures(id, w, h, (sr + sg + sb).toDouble / (3.0 * 255.0 * w * h)))
    }
  }

  /** The decoders' one skeleton: every payload ImageIO can read, as
    * (id, image), through `f`; partition-parallel, undecodable
    * payloads dropped.
    */
  private def decoded[T: Encoder](spark: SparkSession, df: DataFrame, idCol: String, binCol: String)(
      f: (Long, BufferedImage) => Iterator[T]): Dataset[T] = {
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol)).as[(Long, Array[Byte])].mapPartitions { it =>
      it.flatMap { case (id, bytes) => readImage(bytes).iterator.flatMap(img => f(id, img)) }
    }
  }

  /** Exact Long (Σr, Σg, Σb) over the pixels x0 ≤ x < x1, y0 ≤ y < y1. */
  private def channelSums(img: BufferedImage, x0: Int, x1: Int, y0: Int, y1: Int): (Long, Long, Long) = {
    var sr = 0L; var sg = 0L; var sb = 0L
    var y = y0
    while (y < y1) {
      var x = x0
      while (x < x1) {
        val rgb = img.getRGB(x, y)
        sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
        x += 1
      }
      y += 1
    }
    (sr, sg, sb)
  }

  /** Stage REAL PNG files (signature, IHDR, zlib-compressed filtered
    * scanlines — written by the JDK encoder, so [[decodeFeatures]] and
    * friends exercise a genuine decode) with a deterministic pixel
    * pattern the DuckDB oracle can integrate in closed form:
    * r = (id mod 200) + y, g = (id mod 100) + x, b = x + y — all < 256
    * for w, h ≤ 16. Output: (idCol, w, h, png binary).
    */
  def encodeStagedPng(spark: SparkSession, df: DataFrame, idCol: String, wCol: String, hCol: String): DataFrame =
    encodeStaged(spark, df, idCol, wCol, hCol, "png", "png") { (id, w, h) =>
      require(w >= 1 && w <= 16 && h >= 1 && h <= 16,
        s"staged PNG dims must be in [1,16] so channel values stay < 256; got ${w}x$h")
      painted(w, h)((x, y) => (((id % 200).toInt + y) << 16) | (((id % 100).toInt + x) << 8) | (x + y))
    }

  /** The staged encoders' one skeleton: per (id, w, h) row of `df`,
    * `paint` draws the image and the JDK writes it as `format`; the
    * output is (idCol, wCol, hCol, `outCol` bytes).
    */
  private def encodeStaged(spark: SparkSession, df: DataFrame, idCol: String, wCol: String, hCol: String,
      format: String, outCol: String)(paint: (Long, Int, Int) => BufferedImage): DataFrame = {
    import spark.implicits._
    val out = df.select(col(idCol).cast("long"), col(wCol).cast("int"), col(hCol).cast("int"))
      .as[(Long, Int, Int)].mapPartitions { it =>
        it.map { case (id, w, h) =>
          val img = paint(id, w, h)
          imageIoInit
          val baos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, format, baos)
          (id, w, h, baos.toByteArray)
        }
      }
    out.toDF(idCol, wCol, hCol, outCol)
  }

  /** A w×h RGB image whose pixel (x, y) is `rgb(x, y)`. */
  private def painted(w: Int, h: Int)(rgb: (Int, Int) => Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb(x, y))
    img
  }

  /** One flat colour per id: the TIFF, GIF and JPEG meta parsers read
    * headers only, and a flat fill keeps the encode cheap.
    */
  private def flatFill(id: Long, w: Int, h: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    g.setColor(new java.awt.Color((id % 256).toInt, ((id * 7) % 256).toInt, ((id * 13) % 256).toInt))
    g.fillRect(0, 0, w, h)
    g.dispose()
    img
  }

  /** C13, de-stubbed: frame sampling over DECODED pixels. Frame `f` is
    * pixel row `y = f * rowStride` (the 1-D analog of video frame
    * sampling at a fixed timestep); emitted per frame are the exact
    * Long channel sums across the row — integer-exact, so the oracle
    * reproduces them bit-for-bit from the staged pattern. Decode is
    * real (`javax.imageio`): a corrupt payload or a wrong defilter
    * would change every sum. Partition-parallel, no shuffle, output
    * bounded by maxFrames per row.
    */
  def decodeFrameSample(
      spark: SparkSession,
      df: DataFrame,
      idCol: String,
      binCol: String,
      rowStride: Int = 4,
      maxFrames: Int = 4,
      sorted: Boolean = true
  ): DataFrame = {
    import spark.implicits._
    val out = decoded(spark, df, idCol, binCol) { (id, img) =>
      val w = img.getWidth
      (0 until maxFrames).iterator
        .map(f => (f, f * rowStride))
        .takeWhile(_._2 < img.getHeight)
        .map { case (f, y) =>
          val (sr, sg, sb) = channelSums(img, 0, w, y, y + 1)
          (id, f.toLong, w.toLong, sr, sg, sb)
        }
    }
    gateSort(out.toDF(idCol, "frame_idx", "width", "sum_r", "sum_g", "sum_b"),
      sorted, col(idCol), col("frame_idx"))
  }

  /** C22 pixel form: REAL box-filter downsample over decoded pixels —
    * the image is partitioned into an outW × outH grid of equal
    * blocks and each block emits its exact Long channel sums (the
    * numerators of a box-average; integer-exact so the oracle checks
    * bit-for-bit, and a caller divides by the block area for the
    * resized pixel). Requires w % outW == 0 and h % outH == 0 — exact
    * partition blocks; fractional-overlap kernels need float weights
    * and lose oracle-exactness, so non-divisible dims fail loudly
    * rather than silently approximate.
    */
  def decodePixelResize(
      spark: SparkSession,
      df: DataFrame,
      idCol: String,
      binCol: String,
      outW: Int = 2,
      outH: Int = 2,
      sorted: Boolean = true
  ): DataFrame = {
    import spark.implicits._
    val out = decoded(spark, df, idCol, binCol) { (id, img) =>
      val w = img.getWidth; val h = img.getHeight
      require(w % outW == 0 && h % outH == 0,
        s"decodePixelResize needs exact blocks: ${w}x$h image vs ${outW}x$outH grid")
      val bw = w / outW; val bh = h / outH
      for (by <- (0 until outH).iterator; bx <- 0 until outW) yield {
        val (sr, sg, sb) = channelSums(img, bx * bw, (bx + 1) * bw, by * bh, (by + 1) * bh)
        (id, bx.toLong, by.toLong, sr, sg, sb)
      }
    }
    gateSort(out.toDF(idCol, "bx", "by", "sum_r", "sum_g", "sum_b"),
      sorted, col(idCol), col("by"), col("bx"))
  }

  /** C98: per-image RGB color histogram over REAL decoded pixels —
    * the feature-extraction sibling of [[decodePixelResize]] (which
    * averages; histograms are what image dedup/quality gates bucket
    * on — a thumbnail and its original share a color histogram long
    * after resampling breaks byte equality). Each channel quantizes
    * to 256 >> (8−bits) levels and the (r,g,b) cell packs to one
    * id (r'·4^2 + g'·4 + b' for bits=2); output is the SPARSE
    * (image, cell, n_px) grid — empty cells are absent, the standard
    * sparse-histogram contract. Decode is `javax.imageio` over the
    * staged payload (genuinely not expressible as a Catalyst
    * projection — the mm-family exception), everything after is a
    * keyed agg with map-side partials.
    */
  def decodeColorHist(
      spark: SparkSession,
      df: DataFrame,
      idCol: String,
      binCol: String,
      bits: Int = 2,
      sorted: Boolean = true
  ): DataFrame = {
    import spark.implicits._
    require(bits >= 1 && bits <= 8, s"bits must be 1..8, got $bits")
    val shift = 8 - bits
    val side = 1 << bits
    val out = decoded(spark, df, idCol, binCol) { (id, img) =>
      val counts = new scala.collection.mutable.HashMap[Int, Long]()
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          val rgb = img.getRGB(x, y)
          val cell = ((((rgb >> 16) & 0xff) >> shift) * side +
            ((((rgb >> 8) & 0xff)) >> shift)) * side + ((rgb & 0xff) >> shift)
          counts.update(cell, counts.getOrElse(cell, 0L) + 1L)
          x += 1
        }
        y += 1
      }
      counts.iterator.map { case (cell, n) => (id, cell.toLong, n) }
    }
    gateSort(out.toDF(idCol, "cell", "n_px"), sorted, col(idCol), col("cell"))
  }
}
