package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.plans.Lineage.TruncateOps

/** Multimodal columns for training-data pipelines (SURVEY.md §2.11):
  * image/audio/video payloads travel as opaque `binary` columns with a
  * typed metadata struct; decode / feature-extraction / resize /
  * frame-sampling run as in-plan scalar transforms.
  *
  * Two codec tiers:
  *  - IMAGE decode is REAL: `javax.imageio` (JDK-builtin PNG codec, no
  *    external libraries) encodes deterministic fixture PNGs and
  *    decodes them back to pixels inside the plan — luminance
  *    histograms and nearest-neighbor resizes operate on actual
  *    decoded rasters, and because the fixture pattern is a closed-form
  *    function of (id, x, y), the whole encode→decode→feature path has
  *    an exact DuckDB twin.
  *  - AUDIO decode is REAL too: `javax.sound.sampled` (JDK-builtin WAV
  *    PCM) encodes deterministic fixture clips and decodes them back
  *    to signed samples inside the plan — amplitude histograms and
  *    per-frame energies run on actual decoded PCM, with closed-form
  *    SQL twins like the image path.
  *  - VIDEO: the JDK ships no video codec, so clips travel in a
  *    minimal length-prefixed frame container ("GVID": magic + frame
  *    count + [len][PNG] per frame — the MJPEG idea with PNG frames)
  *    whose FRAMES are real codec work: each sampled frame decodes
  *    through `javax.imageio` and features run on actual pixels, with
  *    the same closed-form SQL twins as still images. The byte-level
  *    `decodeToFeatures` remains for truly foreign containers.
  *
  * At 100 TB: binary payloads dominate scan width — keep them in their
  * own parquet column (never inside a struct with hot scalars) so
  * column pruning skips them unless decoded; feature extraction is
  * narrow (no shuffle), so throughput scales with executors.
  */
object Multimodal {


  /** Fan the documents input out before the REAL codec chains
    * (optimization r17, the Html.pageFromDocs device; gated + sized
    * r18 through graft.plans.FanOut): the documents table is one scan
    * task at every shipped SF, so encode — and every downstream decode
    * planned in the same stage — otherwise runs single-threaded. The
    * codec weight sizes tasks for javax.imageio-grade per-row cost
    * (measured sweet spot ~8-10 tasks on the sub-MB fixture; 32 was
    * 2-5x slower). ONLY the imageio/video builders call this — the
    * WAV-PCM and byte-histogram builders measured faster UNFANNED than
    * with any exchange (r18 A/B: audio_features 544ms unfanned vs
    * 706/1626ms at 2/32-way), so they keep the plain scan. */
  private def fanDocs(docs: DataFrame): DataFrame =
    graft.plans.FanOut.fanOutIfNarrow(docs, col("doc_id"),
      graft.plans.FanOut.CodecBytesPerTask)

  /** Build an opaque media table from the documents table: text bytes
    * stand in for an encoded payload (deterministic fake acquisition).
    * Metadata derives width/height from byte length so downstream
    * logic has real variation to chew on. */
  def fakeMediaFromDocs(docs: DataFrame): DataFrame =
    // no fan-out: text→bytes + byte histograms are cheaper per row
    // than any exchange (the fanDocs doc's r18 A/B)
    docs.select(
      col("doc_id").as("media_id"),
      encode(col("text"), "UTF-8").as("content"),
      struct(
        lit("fake/raw").as("format"),
        length(col("text")).cast(LongType).as("n_bytes"),
        (pmod(col("doc_id"), lit(64)) + 16).cast(IntegerType).as("width"),
        (pmod(col("doc_id"), lit(48)) + 16).cast(IntegerType).as("height")).as("meta"))

  private val featureDim = 16

  /** Codec-free payload featurizer: byte-value histogram over 16
    * buckets, L1-normalized — the opaque-format path (audio/video,
    * where the container ships no codec) standing where an FFT/frame
    * decoder would. For images the REAL decoder below
    * (`imageLumaHistogram`) replaces this. */
  private def decodeToFeatures(bytes: Array[Byte]): Array[Float] = {
    val hist = new Array[Float](featureDim)
    if (bytes == null || bytes.isEmpty) return hist
    var i = 0
    while (i < bytes.length) {
      hist((bytes(i) & 0xff) / featureDim) += 1f
      i += 1
    }
    var j = 0
    while (j < featureDim) { hist(j) /= bytes.length; j += 1 }
    hist
  }

  /** Feature extraction INSIDE the Catalyst plan: the stub decoder runs
    * as a scalar UDF over the binary column, so column pruning, AQE and
    * codegen above/below it survive (the previous `.rdd.mapPartitions`
    * exit severed the plan — no pruning through it, Row boxing per
    * record). Narrow (no shuffle); output is joinable back on media_id. */
  def extractFeatures(media: DataFrame): DataFrame = {
    val decode = udf((bytes: Array[Byte]) => decodeToFeatures(bytes))
    media.select(col("media_id"), decode(col("content")).as("features"))
  }

  /** Gate-friendly exploded form: one (media_id, bucket, weight) row per
    * non-zero histogram bucket — scalar columns only, so generic
    * row-compare tooling can sort/hash it (an array<float> column
    * cannot be lexicographically sorted by the driver's pandas gate).
    * weight stays a single float32 division (cnt/len), widened to
    * double, so a byte-exact SQL oracle can reproduce it. */
  def featureBuckets(media: DataFrame): DataFrame =
    extractFeatures(media)
      .select(col("media_id"), posexplode(col("features")).as(Seq("bucket", "weight")))
      .where(col("weight") > 0f)
      .select(col("media_id"), col("bucket").cast(LongType).as("bucket"),
        col("weight").cast(DoubleType).as("weight"))

  /** Opaque-payload "resize": truncate/zero-pad the payload to nBytes,
    * updating metadata — the byte-level path for formats with no
    * in-container codec (images get the real pixel resize:
    * `resizeImage`). */
  def resize(media: DataFrame, nBytes: Int): DataFrame = {
    val resized = substring(col("content"), 1, nBytes)
    media.select(
      col("media_id"),
      rpad(resized, nBytes, Array[Byte](0)).as("content"),
      struct(
        col("meta.format").as("format"),
        lit(nBytes.toLong).as("n_bytes"),
        col("meta.width"), col("meta.height")).as("meta"))
  }

  // ---- Real image codec layer: javax.imageio (JDK-builtin, no external
  // codecs). The fixture pattern is a closed-form function of
  // (id, x, y), so every decoded-pixel feature has an exact SQL twin —
  // the encode→decode roundtrip is verified end-to-end, not stubbed. ----

  /** Gray value of pixel (x, y) in fixture image `id`:
    * ((id mod 256)·31 + x·7 + y·13) mod 256. All arithmetic stays in
    * Int range regardless of id, and the same formula is the DuckDB
    * oracle's pixel source. */
  private[graft] def patternValue(id: Long, x: Int, y: Int): Int =
    (((id % 256).toInt * 31 + x * 7 + y * 13) % 256)

  private[graft] def encodePng(id: Long, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = patternValue(id, x, y)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private[graft] def decodeImage(bytes: Array[Byte]): java.awt.image.BufferedImage =
    javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))

  /** Real-PNG media table: per-document deterministic pattern images,
    * PNG-encoded inside the plan (a narrow scalar UDF — the encode cost
    * scales with executors, no shuffle). Dimensions vary with doc_id so
    * downstream decode logic sees real variation. */
  def pngMediaFromDocs(docs: DataFrame): DataFrame = {
    val enc = udf((id: Long, w: Int, h: Int) => encodePng(id, w, h))
    val w = (pmod(col("doc_id"), lit(64)) + 16).cast(IntegerType)
    val h = (pmod(col("doc_id"), lit(48)) + 16).cast(IntegerType)
    fanDocs(docs).select(col("doc_id").as("media_id"),
        enc(col("doc_id"), w, h).as("content"),
        w.as("width"), h.as("height"))
      .select(col("media_id"), col("content"),
        struct(
          lit("image/png").as("format"),
          length(col("content")).cast(LongType).as("n_bytes"),
          col("width"), col("height")).as("meta"))
  }

  /** REAL image decode + feature extraction: `ImageIO.read` the PNG,
    * bulk-read the raster, histogram the 16 luminance buckets
    * (lum = (r+g+b)/3; PNG is lossless so gray fixtures decode
    * bit-exact). Counts stay integral — no float normalization — so
    * the DuckDB twin matches by hash, proving the codec path, not just
    * the plumbing. Narrow (no shuffle); explodes to scalar rows the
    * gate can sort. */
  def imageLumaHistogram(media: DataFrame): DataFrame = {
    val decode = udf((bytes: Array[Byte]) => {
      val img = decodeImage(bytes)
      val w = img.getWidth
      val h = img.getHeight
      val rgb = img.getRGB(0, 0, w, h, null, 0, w)
      val hist = new Array[Long](featureDim)
      var i = 0
      while (i < rgb.length) {
        val p = rgb(i)
        val lum = (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)) / 3
        hist(lum / featureDim) += 1L
        i += 1
      }
      hist
    })
    media.select(col("media_id"), posexplode(decode(col("content"))).as(Seq("bucket", "n_px")))
      .where(col("n_px") > 0L)
      .select(col("media_id"), col("bucket").cast(LongType).as("bucket"), col("n_px"))
  }

  /** Fused decode → resize → features: one codec pass. The standalone
    * [[resizeImage]] re-encodes a PNG (the storage-path contract:
    * resized payloads written back to a binary column), but a feature
    * pipeline that resizes ONLY to normalize dimensions before
    * featurization should never pay encode+decode again — this fuses
    * the nearest-neighbor remap (same exact mapping) with the
    * histogram over the in-memory raster. Same result as
    * imageLumaHistogram(resizeImage(m)), roughly half the codec work. */
  def imageLumaHistogramResized(media: DataFrame, dstW: Int, dstH: Int): DataFrame = {
    val decode = udf((bytes: Array[Byte]) => {
      val src = decodeImage(bytes)
      val sw = src.getWidth
      val sh = src.getHeight
      val srgb = src.getRGB(0, 0, sw, sh, null, 0, sw)
      val hist = new Array[Long](featureDim)
      var y = 0
      while (y < dstH) {
        var x = 0
        while (x < dstW) {
          val p = srgb((y * sh / dstH) * sw + (x * sw / dstW))
          val lum = (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)) / 3
          hist(lum / featureDim) += 1L
          x += 1
        }
        y += 1
      }
      hist
    })
    media.select(col("media_id"), posexplode(decode(col("content"))).as(Seq("bucket", "n_px")))
      .where(col("n_px") > 0L)
      .select(col("media_id"), col("bucket").cast(LongType).as("bucket"), col("n_px"))
  }

  /** REAL pixel resize: decode, nearest-neighbor remap with the exact
    * integer mapping src = (dst · srcDim) / dstDim (floor), re-encode
    * PNG. The explicit mapping (not AffineTransformOp's sampling) keeps
    * the operation closed-form so resized-image features stay
    * oracle-checkable; NN is the deterministic choice a dataloader
    * makes when exactness matters more than smoothing. */
  def resizeImage(media: DataFrame, dstW: Int, dstH: Int): DataFrame = {
    val rs = udf((bytes: Array[Byte]) => {
      val src = decodeImage(bytes)
      val sw = src.getWidth
      val sh = src.getHeight
      val srgb = src.getRGB(0, 0, sw, sh, null, 0, sw)
      val dst = new java.awt.image.BufferedImage(dstW, dstH, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < dstH) {
        var x = 0
        while (x < dstW) {
          dst.setRGB(x, y, srgb((y * sh / dstH) * sw + (x * sw / dstW)))
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(dst, "png", bos)
      bos.toByteArray
    })
    media.select(
      col("media_id"),
      rs(col("content")).as("content"))
      .select(col("media_id"), col("content"),
        struct(
          lit("image/png").as("format"),
          length(col("content")).cast(LongType).as("n_bytes"),
          lit(dstW).as("width"), lit(dstH).as("height")).as("meta"))
  }

  /** SAFE decode audit — the production posture for a 100 TB media
    * crawl, where one corrupt payload must not kill the job: try the
    * codec, return (decode_ok, width, height) with NULLs instead of
    * an exception. Downstream feature passes filter on `decode_ok`;
    * the audit COUNTS the loss instead of hiding it (a silent skip
    * reads as "covered everything" when it didn't). Narrow UDF. */
  def imageDecodeAudit(media: DataFrame): DataFrame = {
    val audit = udf((bytes: Array[Byte]) => {
      try {
        val img = decodeImage(bytes)
        if (img == null) null else Array(img.getWidth, img.getHeight)
      } catch { case _: Exception => null }
    })
    media.select(col("media_id"), audit(col("content")).as("wh"))
      .select(col("media_id"), col("wh").isNotNull.as("decode_ok"),
        element_at(col("wh"), 1).as("width"), element_at(col("wh"), 2).as("height"))
  }

  /** Perceptual image hash (aHash — average hash, public): decode,
    * nearest-neighbor map to 8×8 luminances (the SAME mapping as
    * [[imageLumaHistogramResized]]/[[resizeImage]]), then one bit per
    * cell — set iff 64·lum > Σlum (the integer-exact form of
    * "above the mean"), packed row-major as a 64-char bit string.
    * Compression- and rescale-robust where a byte digest is not: the
    * integer NN mapping COMPOSES exactly (floor(4·x·w/32) =
    * floor(x·w/8)), so a nearest-neighbor-rescaled copy provably
    * yields the identical hash while its PNG bytes differ — exact
    * dedup on the hash then catches re-encoded/rescaled copies.
    * Narrow UDF (codec work, embarrassingly parallel); dedup after it
    * is one group-by on the 64-char key. */
  private def aHashOf(img: java.awt.image.BufferedImage): String = {
    val sw = img.getWidth
    val sh = img.getHeight
    val rgb = img.getRGB(0, 0, sw, sh, null, 0, sw)
    val lums = new Array[Long](64)
    var total = 0L
    var y = 0
    var i = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        val p = rgb((y * sh / 8) * sw + (x * sw / 8))
        val lum = (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)) / 3
        lums(i) = lum
        total += lum
        i += 1
        x += 1
      }
      y += 1
    }
    val sb = new StringBuilder(64)
    var j = 0
    while (j < 64) {
      sb.append(if (64L * lums(j) > total) '1' else '0')
      j += 1
    }
    sb.toString
  }

  def imageAHash(media: DataFrame): DataFrame = {
    val ah = udf((bytes: Array[Byte]) => aHashOf(decodeImage(bytes)))
    media.select(col("media_id"), ah(col("content")).as("ahash"))
  }

  /** Banded Hamming NEAR-dup join over aHash bit strings — perceptual
    * dedup's real form (small edits flip a few hash bits, so exact
    * hash equality misses them): candidates from `nBands` exact band
    * matches, then an exact Hamming verify via two 32-bit words and
    * bit_count. LOSSLESS for the threshold by pigeonhole: maxDist <
    * nBands means any qualifying pair agrees exactly on at least one
    * band — the all-pairs product never materializes (the
    * fuzzy-edit-join posture; the oracle twin may brute-force, the
    * operator may not).
    *
    * Band width is the selectivity knob: 8-bit bands have only 256
    * keys, so corpus-scale hash sets make every bucket dense and the
    * candidate set quadratic-ish (measured 23s at sf0.1); 16-bit
    * bands (65 536 keys) keep buckets sparse at the cost of a tighter
    * lossless threshold (3 < 4 bands). Hot band keys (flat image
    * regions hash alike) remain the skew point — AQE's skew-join
    * case, salting the fallback, exactly like LSH banding. */
  def aHashNearDups(hashes: DataFrame, maxDist: Int = 3, nBands: Int = 4,
                    idCol: String = "media_id", hashCol: String = "ahash"): DataFrame = {
    require(maxDist < nBands, "losslessness needs maxDist < nBands (pigeonhole)")
    val bandW = 64 / nBands
    // materialize the (id, hash) relation once: it feeds the band
    // explode AND the two rejoins below — without this the upstream
    // hash computation (a codec decode per row) would run three times
    val hs = hashes.select(col(idCol).as("id"), col(hashCol).as("h"))
      .truncateLineage
    val bands = hs.select(col("id"), col("h"),
      posexplode(array((0 until nBands).map(b =>
        substring(col("h"), b * bandW + 1, bandW)): _*)).as(Seq("band", "key")))
    // the pair-dedup runs on 16-byte id pairs, NOT on pairs carrying
    // two 64-char hash strings — hashes rejoin onto the (much smaller)
    // deduped candidate set
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val h = hs
    def w32(c: org.apache.spark.sql.Column, s: Int) =
      conv(substring(c, s, 32), 2, 10).cast(LongType)
    val dist = bit_count(w32(col("h_a"), 1).bitwiseXOR(w32(col("h_b"), 1))) +
      bit_count(w32(col("h_a"), 33).bitwiseXOR(w32(col("h_b"), 33)))
    cand
      .join(h.select(col("id").as("id_a"), col("h").as("h_a")), Seq("id_a"))
      .join(h.select(col("id").as("id_b"), col("h").as("h_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), dist.cast(LongType).as("dist"))
      .where(col("dist") <= maxDist)
  }

  /** Video prefix hash — the clipped-video detector: the aHash of
    * FRAME 0. A re-encode that truncates the clip keeps the leading
    * frames, so it provably shares the hash while the container bytes
    * differ; frame 0 is the cheapest prefix invariant (extend to a
    * stride-sampled hash sequence for stronger identity). */
  def videoPrefixAHash(media: DataFrame): DataFrame = {
    val vh = udf((bytes: Array[Byte]) => aHashOf(decodeVideoFrames(bytes)(0)))
    media.select(col("media_id"), vh(col("content")).as("vhash"))
  }

  // ---- JPEG codec layer: javax.imageio's JDK-builtin JPEG plugin —
  // the codec real crawls are dominated by. JPEG is LOSSY, so unlike
  // the PNG layer the decoded raster only approximates the closed-form
  // pattern: oracles pin what survives the codec EXACTLY (container
  // markers, dimensions, decode success) and grade the lossy part as
  // tolerance verdicts (per-pixel luma error bound, aHash drift bound)
  // whose expected outcome is a pinned boolean — a broken decode path
  // flips the boolean and the hash gate screams. Encode quality is
  // EXPLICIT (ImageWriteParam, not the writer default) so the bytes
  // are a deterministic function of (id, w, h) within a JDK. ----

  private[graft] def encodeJpeg(id: Long, w: Int, h: Int,
                                quality: Float = 0.95f): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = patternValue(id, x, y)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(quality)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
    } finally {
      ios.close()
      writer.dispose()
    }
    bos.toByteArray
  }

  /** Real-JPEG media table: the pngMediaFromDocs sibling — same
    * closed-form pattern images and per-doc dimensions, JPEG-encoded
    * in-plan (narrow scalar UDF, scales with executors). */
  def jpegMediaFromDocs(docs: DataFrame): DataFrame = {
    val enc = udf((id: Long, w: Int, h: Int) => encodeJpeg(id, w, h))
    val w = (pmod(col("doc_id"), lit(64)) + 16).cast(IntegerType)
    val h = (pmod(col("doc_id"), lit(48)) + 16).cast(IntegerType)
    fanDocs(docs).select(col("doc_id").as("media_id"),
        enc(col("doc_id"), w, h).as("content"),
        w.as("width"), h.as("height"))
      .select(col("media_id"), col("content"),
        struct(
          lit("image/jpeg").as("format"),
          length(col("content")).cast(LongType).as("n_bytes"),
          col("width"), col("height")).as("meta"))
  }

  /** JPEG decode audit: per payload, the invariants lossy compression
    * CANNOT move — SOI/EOI container markers in the raw bytes (no
    * decode needed: column functions on the binary), decoded
    * dimensions equal to the metadata struct's, a non-empty payload,
    * and the per-pixel luma error against the closed-form pattern
    * within `tol` (the one LOSSY invariant — a verdict boolean, exact
    * to compare, its expected value pinned by the oracle). A codec
    * failure rowwise NULLs the decode columns rather than killing the
    * scan (codec-per-row failure isolation, like decode audits
    * elsewhere in this file). */
  def jpegDecodeAudit(media: DataFrame, tol: Int = 8): DataFrame = {
    val dims = udf((id: Long, bytes: Array[Byte]) => {
      try {
        val img = decodeImage(bytes) // ImageIO.read — container-agnostic
        if (img == null) None
        else {
          val w = img.getWidth
          val h = img.getHeight
          val rgb = img.getRGB(0, 0, w, h, null, 0, w)
          var maxErr = 0
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val p = rgb(y * w + x)
              val lum = (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)) / 3
              val err = math.abs(lum - patternValue(id, x, y))
              if (err > maxErr) maxErr = err
              x += 1
            }
            y += 1
          }
          Some((w, h, maxErr))
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    })
    media
      .withColumn("__d", dims(col("media_id"), col("content")))
      .select(col("media_id"),
        (hex(substring(col("content"), 1, 2)) === "FFD8").as("soi_ok"),
        (hex(substring(col("content"), -2, 2)) === "FFD9").as("eoi_ok"),
        col("__d._1").as("width"), col("__d._2").as("height"),
        (col("__d._1") === col("meta.width") &&
          col("__d._2") === col("meta.height")).as("dims_ok"),
        (col("__d._3") <= tol).as("luma_ok"))
  }

  /** aHash drift of a lossy re-encode: for each image present in both
    * relations (the original and its JPEG re-encode), the exact
    * Hamming distance between the two aHashes. Perceptual dedup's
    * core premise made measurable — a re-encode moves the hash only a
    * few bits, so banded near-dup joins still catch it; this exposes
    * the actual drift per image for thresholding. Narrow codec UDFs +
    * one equi-join on media_id. */
  def aHashDrift(orig: DataFrame, reenc: DataFrame): DataFrame = {
    def w32(c: org.apache.spark.sql.Column, s: Int) =
      conv(substring(c, s, 32), 2, 10).cast(LongType)
    imageAHash(orig).withColumnRenamed("ahash", "h_a")
      .join(imageAHash(reenc).withColumnRenamed("ahash", "h_b"), Seq("media_id"))
      .select(col("media_id"),
        (bit_count(w32(col("h_a"), 1).bitwiseXOR(w32(col("h_b"), 1))) +
          bit_count(w32(col("h_a"), 33).bitwiseXOR(w32(col("h_b"), 33))))
          .cast(LongType).as("dist"))
  }

  // ---- Real audio codec layer: javax.sound.sampled (JDK-builtin WAV
  // PCM — lossless, no external codecs). Like the image layer, the
  // fixture waveform is a closed-form function of (id, sample index),
  // so decoded-sample features have an exact SQL twin and the
  // encode→decode roundtrip is verified end-to-end. ----

  /** Sample i of fixture clip `id`, signed 16-bit:
    * ((id mod 97)·31 + i·7919) mod 65536 − 32768. Stays in Int range
    * for any clip under ~270k samples (ours cap at 4 760). */
  private[graft] def sampleValue(id: Long, i: Int): Int =
    ((id % 97).toInt * 31 + i * 7919) % 65536 - 32768

  private[graft] def encodeWav(id: Long, n: Int): Array[Byte] = {
    val data = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = sampleValue(id, i)
      data(2 * i) = (s & 0xff).toByte
      data(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(16000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Real WAV decode: container parsing via AudioSystem, then the
    * 16-bit little-endian PCM frames back to signed samples. */
  private[graft] def decodeWavSamples(bytes: Array[Byte]): Array[Int] = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val raw = ais.readAllBytes()
    val out = new Array[Int](raw.length / 2)
    var i = 0
    while (i < out.length) {
      out(i) = (raw(2 * i + 1) << 8) | (raw(2 * i) & 0xff) // high byte sign-extends
      i += 1
    }
    out
  }

  /** Real-WAV media table: per-document deterministic PCM clips,
    * WAV-encoded inside the plan; clip length varies with doc_id
    * (800–4 720 samples) so decode logic sees real variation. */
  def wavMediaFromDocs(docs: DataFrame): DataFrame = {
    val enc = udf((id: Long, n: Int) => encodeWav(id, n))
    val n = ((pmod(col("doc_id"), lit(50)) + 10) * 80).cast(IntegerType)
    // no fan-out: WAV PCM synthesis + decode measured faster unfanned
    // than with any exchange width (the fanDocs doc's r18 A/B)
    docs.select(col("doc_id").as("media_id"),
        enc(col("doc_id"), n).as("content"), n.as("n_samples"))
      .select(col("media_id"), col("content"),
        struct(
          lit("audio/wav").as("format"),
          length(col("content")).cast(LongType).as("n_bytes"),
          col("n_samples"), lit(16000).as("sample_rate")).as("meta"))
  }

  /** Audio PREFIX fingerprint — the clipped-copy detector: each of the
    * first `k` decoded samples quantized to a 3-bit amplitude band
    * ((s+32768)/8192, digits 0-7), concatenated as a digit string. A
    * re-encoded clip that truncates the recording keeps the same
    * prefix waveform, so it provably shares the fingerprint while its
    * WAV bytes (and any byte digest) differ — exact dedup on the
    * fingerprint then groups recordings by shared prefix. (3-bit bands
    * rather than sign bits: sign flips only near the zero boundary, so
    * sign-prefixes lump distinct recordings; band digits discriminate
    * at every 8192-step crossing.) Narrow codec UDF. */
  def audioPrefixFingerprint(media: DataFrame, k: Int = 64): DataFrame = {
    val fp = udf((bytes: Array[Byte]) => {
      val s = decodeWavSamples(bytes)
      val m = math.min(k, s.length)
      val sb = new StringBuilder(m)
      var i = 0
      while (i < m) {
        sb.append(('0' + (s(i) + 32768) / 8192).toChar)
        i += 1
      }
      sb.toString
    })
    media.select(col("media_id"), fp(col("content")).as("afp"))
  }

  /** REAL audio decode + feature extraction: amplitude histogram over
    * 16 buckets of the decoded signed samples. Integral counts — the
    * DuckDB twin evaluates the closed-form waveform over the sample
    * grid, so a hash match proves the WAV container + PCM roundtrip. */
  def audioAmplitudeHistogram(media: DataFrame): DataFrame = {
    val decode = udf((bytes: Array[Byte]) => {
      val samples = decodeWavSamples(bytes)
      val hist = new Array[Long](featureDim)
      var i = 0
      while (i < samples.length) {
        hist((samples(i) + 32768) / 4096) += 1L
        i += 1
      }
      hist
    })
    media.select(col("media_id"), posexplode(decode(col("content"))).as(Seq("bucket", "n_samples")))
      .where(col("n_samples") > 0L)
      .select(col("media_id"), col("bucket").cast(LongType).as("bucket"), col("n_samples"))
  }

  /** Per-frame energy (sum of squared samples over fixed 256-sample
    * frames, last frame partial) — the integral stand-in for RMS/VAD
    * windowing, exactly reproducible in SQL. */
  def audioFrameEnergy(media: DataFrame, frameSamples: Int = 256): DataFrame = {
    val decode = udf((bytes: Array[Byte]) => {
      val samples = decodeWavSamples(bytes)
      val nFrames = (samples.length + frameSamples - 1) / frameSamples
      val energy = new Array[Long](nFrames)
      var i = 0
      while (i < samples.length) {
        energy(i / frameSamples) += samples(i).toLong * samples(i)
        i += 1
      }
      energy
    })
    media.select(col("media_id"), posexplode(decode(col("content"))).as(Seq("frame_idx", "energy")))
      .select(col("media_id"), col("frame_idx").cast(LongType).as("frame_idx"), col("energy"))
  }

  // ---- Video: GVID container (magic + frame count + length-prefixed
  // PNG frames). The container is minimal by necessity — the JDK has
  // no video demuxer — but every frame is a real PNG decoded by
  // javax.imageio, so frame extraction + per-frame featurization
  // exercise genuine codec work with an exact SQL twin. ----

  private[graft] def encodeVideo(id: Long, nFrames: Int, w: Int, h: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(bos)
    dos.writeBytes("GVID")
    dos.writeInt(nFrames)
    var f = 0
    while (f < nFrames) {
      // per-frame pattern id id·7+f: frames of one clip differ, and
      // the oracle reproduces it as (doc_id*7 + f) closed-form
      val png = encodePng(id * 7 + f, w, h)
      dos.writeInt(png.length)
      dos.write(png)
      f += 1
    }
    dos.flush()
    bos.toByteArray
  }

  private[graft] def decodeVideoFrames(bytes: Array[Byte]): Array[java.awt.image.BufferedImage] = {
    val dis = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val magic = new Array[Byte](4)
    dis.readFully(magic)
    require(new String(magic, "US-ASCII") == "GVID", "not a GVID clip")
    val n = dis.readInt()
    Array.fill(n) {
      val len = dis.readInt()
      val png = new Array[Byte](len)
      dis.readFully(png)
      decodeImage(png)
    }
  }

  /** Real-video media table: 2–5 PNG frames per clip, 16×12 each. */
  def videoFromDocs(docs: DataFrame, w: Int = 16, h: Int = 12): DataFrame = {
    val enc = udf((id: Long, nf: Int) => encodeVideo(id, nf, w, h))
    val nf = (pmod(col("doc_id"), lit(4)) + 2).cast(IntegerType)
    fanDocs(docs).select(col("doc_id").as("media_id"),
        enc(col("doc_id"), nf).as("content"), nf.as("n_frames"))
      .select(col("media_id"), col("content"),
        struct(
          lit("video/gvid").as("format"),
          length(col("content")).cast(LongType).as("n_bytes"),
          col("n_frames"), lit(w).as("width"), lit(h).as("height")).as("meta"))
  }

  /** REAL frame sampling + featurization: every `stride`-th frame is
    * PNG-decoded and luminance-histogrammed. One UDF pass per clip
    * returns the sampled frames' histograms; frame_idx = ordinal ×
    * stride reconstructs which frames were kept (deterministic, so the
    * SQL twin samples the same frames). */
  def videoFrameFeatures(media: DataFrame, stride: Int = 2): DataFrame = {
    val decode = udf((bytes: Array[Byte]) => {
      val frames = decodeVideoFrames(bytes)
      (0 until frames.length by stride).map { f =>
        val img = frames(f)
        val w = img.getWidth
        val h = img.getHeight
        val rgb = img.getRGB(0, 0, w, h, null, 0, w)
        val hist = new Array[Long](featureDim)
        var i = 0
        while (i < rgb.length) {
          val p = rgb(i)
          hist(((((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)) / 3) / featureDim) += 1L
          i += 1
        }
        hist
      }.toArray
    })
    media.select(col("media_id"), posexplode(decode(col("content"))).as(Seq("ord", "hist")))
      .select(col("media_id"), (col("ord") * stride).cast(LongType).as("frame_idx"),
        posexplode(col("hist")).as(Seq("bucket", "n_px")))
      .where(col("n_px") > 0L)
      .select(col("media_id"), col("frame_idx"),
        col("bucket").cast(LongType).as("bucket"), col("n_px"))
  }

  /** Frame sampling: split the payload into fixed-size "frames" and
    * keep every `stride`-th — posexplode keeps the frame index. */
  def sampleFrames(media: DataFrame, frameBytes: Int = 64, stride: Int = 4): DataFrame = {
    val nFrames = ceil(col("meta.n_bytes") / lit(frameBytes.toDouble)).cast(IntegerType)
    media
      .where(col("meta.n_bytes") > 0) // sequence(0, -1) is illegal
      .select(col("media_id"), col("content"), nFrames.as("n_frames"))
      .select(col("media_id"),
        posexplode(expr(s"transform(sequence(0, n_frames - 1, $stride), " +
          s"i -> substring(content, i * $frameBytes + 1, $frameBytes))"))
          .as(Seq("frame_idx", "frame")))
      .select(col("media_id"), col("frame_idx"), col("frame"))
  }
}
