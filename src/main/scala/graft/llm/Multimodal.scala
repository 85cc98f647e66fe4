package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video payloads travel as
  * opaque `binary` columns with a typed metadata struct beside them, and
  * decode/feature steps run partition-wise so one task amortizes decoder
  * setup over a whole batch of rows (the same batching contract a Pandas
  * UDF / mapInPandas pipeline uses on the Python side — here it's
  * `mapPartitions` over a typed Dataset, the Scala-native equivalent).
  *
  * Two codec boundaries share that plumbing: [[ImageCodec]] is a REAL
  * image path over the JDK's `javax.imageio` (PNG/BMP/GIF decode to
  * actual pixels — zero new dependencies), exercised end-to-end by
  * `mm_ahash_real_png` and MultimodalSpec's planted-near-dup tests;
  * [[MediaCodec]] stays the clearly-marked deterministic STUB for the
  * formats no in-container codec ships (audio/video), and its synthetic
  * byte convention remains the oracle-able twin the other mm_* DuckDB
  * oracles rebuild.
  */
object Multimodal {

  /** One media row: payload + typed metadata. */
  final case class MediaRow(
      media_id: Long,
      media: Array[Byte],
      format: String,
      width: Int,
      height: Int)

  final case class MediaFeatures(
      media_id: Long,
      n_bytes: Int,
      format: String,
      features: Array[Float])

  /** STUB decoder boundary. A real deployment swaps this object for one
    * backed by an actual codec (e.g. javax.imageio / ffmpeg bindings);
    * the signatures are the contract. The fake is deterministic in the
    * payload bytes so the pipeline is testable end-to-end.
    */
  object MediaCodec {
    /** STUB: "decode" = byte-histogram-derived features (deterministic). */
    def decodeToFeatures(payload: Array[Byte], dims: Int): Array[Float] = {
      val out = new Array[Float](dims)
      var i = 0
      while (i < payload.length) {
        out(i % dims) += (payload(i) & 0xff) / 255.0f
        i += 1
      }
      out
    }

    /** STUB: resize would re-encode; the fake truncates/pads the payload
      * to the byte budget implied by the target box.
      */
    def resize(payload: Array[Byte], w: Int, h: Int): Array[Byte] =
      java.util.Arrays.copyOf(payload, w * h)

    /** STUB: frame sampling for video payloads — every nth byte stands in
      * for every nth frame.
      */
    def sampleFrames(payload: Array[Byte], everyN: Int): Array[Byte] =
      payload.zipWithIndex.collect { case (b, i) if i % everyN == 0 => b }
  }

  /** REAL image codec over the JDK's `javax.imageio` — zero new
    * dependencies: PNG/BMP/GIF (+ JPEG where the JDK ships the plugin)
    * decode to actual pixels, and the aHash / resize paths below operate
    * on those pixels. [[MediaCodec]] above stays the oracle-able
    * synthetic twin (its byte-histogram convention is what the DuckDB
    * mm_* oracles rebuild); THIS object is the production boundary the
    * `mm_ahash_real_png` query and MultimodalSpec's planted-near-dup
    * tests exercise end-to-end.
    *
    * Every arithmetic step is deterministic integer math (area-average
    * downsampling via floor-division block ranges, milli-unit block
    * luma, integer mean) — no Graphics2D rendering hints, no FP
    * accumulation order — so a DuckDB oracle can replay the whole hash
    * from the source pixel bytes: gray PNG encode→decode is lossless,
    * which is exactly what the oracle compare proves about this codec.
    */
  object ImageCodec {
    import java.awt.image.BufferedImage
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
    import javax.imageio.ImageIO

    /** Encode an 8-bit grayscale pixel array (row-major, w·h bytes) as a
      * real PNG via the JDK encoder. Raster bytes are written directly —
      * no colorspace conversion, so encode∘decode is the identity on the
      * samples (PNG is lossless).
      */
    def encodeGrayPng(pixels: Array[Byte], w: Int, h: Int): Array[Byte] = {
      require(pixels.length >= w * h, s"need ${w * h} bytes, got ${pixels.length}")
      val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
      img.getRaster.setDataElements(0, 0, w, h,
        java.util.Arrays.copyOf(pixels, w * h))
      val bos = new ByteArrayOutputStream()
      ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    /** Decode any javax.imageio-supported payload to (luma samples 0–255
      * row-major, w, h); None when the bytes are not a decodable image.
      * Grayscale rasters read band 0 directly; color images reduce via
      * the integer ITU-R 601 luma (299r + 587g + 114b) / 1000.
      */
    def decodeGray(payload: Array[Byte]): Option[(Array[Int], Int, Int)] = {
      if (payload == null || payload.isEmpty) return None
      val img =
        try ImageIO.read(new ByteArrayInputStream(payload))
        catch { case _: java.io.IOException => null }
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        val out = new Array[Int](w * h)
        if (img.getType == BufferedImage.TYPE_BYTE_GRAY) {
          val raster = img.getRaster
          var y = 0
          var i = 0
          while (y < h) {
            var x = 0
            while (x < w) { out(i) = raster.getSample(x, y, 0); i += 1; x += 1 }
            y += 1
          }
        } else {
          var y = 0
          var i = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              out(i) = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
                (rgb & 0xff) * 114) / 1000
              i += 1
              x += 1
            }
            y += 1
          }
        }
        Some((out, w, h))
      }
    }

    /** 8×8 block milli-luma grid: pixel (x, y) belongs to block
      * (y·8 div h)·8 + (x·8 div w); each block publishes
      * ⌊Σ luma · 1000 / n_pixels⌋. Requires w, h ≥ 1; blocks can be
      * empty only below 8 px a side (they publish 0).
      */
    def blockMilli(samples: Array[Int], w: Int, h: Int): Array[Long] = {
      val sums = new Array[Long](64)
      val cnts = new Array[Long](64)
      var y = 0
      var i = 0
      while (y < h) {
        val byBase = (y * 8 / h) * 8
        var x = 0
        while (x < w) {
          val b = byBase + x * 8 / w
          sums(b) += samples(i)
          cnts(b) += 1
          i += 1
          x += 1
        }
        y += 1
      }
      Array.tabulate(64)(b => if (cnts(b) == 0) 0L else sums(b) * 1000 / cnts(b))
    }

    /** Real-pixel aHash: decode, 8×8 integer block grid, bit b set iff
      * block_milli(b) > ⌊Σ blocks / 64⌋. Null for undecodable payloads
      * (the [[Multimodal.aHash]] null contract).
      */
    def aHash(payload: Array[Byte]): java.lang.Long =
      decodeGray(payload) match {
        case None => null
        case Some((s, w, h)) =>
          val blocks = blockMilli(s, w, h)
          var tot = 0L
          var i = 0
          while (i < 64) { tot += blocks(i); i += 1 }
          val mean = tot / 64
          var hsh = 0L
          i = 0
          while (i < 64) { if (blocks(i) > mean) hsh |= (1L << i); i += 1 }
          hsh
      }

    /** Deterministic area-average resample to (tw, th), re-encoded as
      * gray PNG. Target pixel (tx, ty) averages the source block
      * x ∈ [⌊tx·w/tw⌋, max(⌊(tx+1)·w/tw⌋, start+1)) (floor division,
      * clamped non-empty so upsampling degenerates to nearest-neighbor).
      * Empty array for undecodable payloads.
      */
    def resizeGrayPng(payload: Array[Byte], tw: Int, th: Int): Array[Byte] =
      decodeGray(payload) match {
        case None => Array.empty[Byte]
        case Some((s, w, h)) =>
          val out = new Array[Byte](tw * th)
          var ty = 0
          while (ty < th) {
            val y0 = ty * h / th
            val y1 = math.max((ty + 1) * h / th, y0 + 1)
            var tx = 0
            while (tx < tw) {
              val x0 = tx * w / tw
              val x1 = math.max((tx + 1) * w / tw, x0 + 1)
              var sum = 0L
              var y = y0
              while (y < y1) {
                var x = x0
                while (x < x1) { sum += s(y * w + x); x += 1 }
                y += 1
              }
              out(ty * tw + tx) =
                (sum / ((y1 - y0).toLong * (x1 - x0))).toByte
              tx += 1
            }
            ty += 1
          }
          encodeGrayPng(out, tw, th)
      }
  }

  /** Synthesize a deterministic media table from any id+text source —
    * payload bytes derived from md5 so every engine/test run agrees.
    * `repeatTimesSql` scales payload length (a SQL expression over the
    * source columns, e.g. "doc_id % 5 + 1") for ops that need
    * variable-length streams; both mm queries and their oracles derive
    * from THIS one format/payload convention.
    */
  def synthesize(docs: DataFrame, idCol: String, textCol: String,
      repeatTimesSql: String = "1"): DataFrame =
    docs.select(
      col(idCol).cast("long").as("media_id"),
      unhex(expr(s"repeat(md5($textCol), CAST(($repeatTimesSql) AS INT))"))
        .as("media"),
      element_at(array(lit("png"), lit("jpeg"), lit("wav")),
        (col(idCol) % 3 + 1).cast("int")).as("format"),
      (col(idCol) % 64 + 1).cast("int").as("width"),
      (col(idCol) % 48 + 1).cast("int").as("height"))

  final case class FrameRow(media_id: Long, media: Array[Byte], format: String)

  /** Partition-wise frame sampling — every-Nth-frame selection through
    * the same batched decode boundary as [[extractFeatures]] (the stub
    * treats every Nth byte as every Nth frame; a real codec samples
    * keyframes). Returns (media_id, format, n_sampled).
    */
  def sampleFrameCounts(media: DataFrame, everyN: Int)
      (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    media.select("media_id", "media", "format").as[FrameRow]
      .mapPartitions { rows =>
        // null payload → zero frames, never an NPE (the EdgeCaseSpec
        // contract every operator honors)
        rows.map(r => (r.media_id, r.format,
          if (r.media == null) 0
          else MediaCodec.sampleFrames(r.media, everyN).length))
      }.toDF("media_id", "format", "n_sampled")
  }

  /** 64-bit average-hash perceptual fingerprint: decode to a 64-bin
    * feature vector (through the same codec boundary as
    * [[extractFeatures]]), set each bit where the bin exceeds the mean.
    * The classic aHash construction — near-identical media differ in few
    * bits, so the SAME pigeonhole hamming search that dedups text
    * SimHashes ([[SimHash.hammingPairs]]) dedups images/audio. Null or
    * empty payloads return null (no bits to compare — they'd otherwise
    * all collide at distance 0, the SimHash empty-shingle failure mode).
    */
  def aHash(payload: Array[Byte]): java.lang.Long = {
    if (payload == null || payload.isEmpty) return null
    val f = MediaCodec.decodeToFeatures(payload, 64)
    var mean = 0.0
    var i = 0
    while (i < 64) { mean += f(i); i += 1 }
    mean /= 64
    var h = 0L
    i = 0
    while (i < 64) { if (f(i) > mean) h |= (1L << i); i += 1 }
    h
  }

  /** Perceptual near-duplicate media pairs (hamming(aHash) ≤ maxDist):
    * one decode pass for signatures, then bucketed candidate search —
    * payloads never pairwise-compared, the 100 TB contract.
    */
  def phashNearDup(media: DataFrame, maxDist: Int = 3): DataFrame = {
    val hashUdf = udf((p: Array[Byte]) => aHash(p))
    SimHash.hammingPairs(
      media.select(col("media_id"), hashUdf(col("media")).as("sig"))
        .filter(col("sig").isNotNull),
      "media_id", "sig", maxDist)
  }

  /** [[phashNearDup]] over REAL image payloads: `javax.imageio` decode →
    * [[ImageCodec.aHash]] on actual pixels, then the identical bucketed
    * pigeonhole search. Undecodable payloads hash to null and drop —
    * corrupt crawl bytes never poison the pair set. Same 100 TB shape:
    * one decode pass for signatures, payloads never pairwise-compared.
    * Deliberate library API, pinned by LlmSpecs.
    */
  def phashNearDupImage(media: DataFrame, maxDist: Int = 3): DataFrame = {
    val hashUdf = udf((p: Array[Byte]) => ImageCodec.aHash(p))
    SimHash.hammingPairs(
      media.select(col("media_id"), hashUdf(col("media")).as("sig"))
        .filter(col("sig").isNotNull),
      "media_id", "sig", maxDist)
  }

  /** Aspect-preserving resize plan: for each image, the target (tw, th)
    * fitting a `box`×`box` budget with the aspect ratio kept, plus the
    * `bucketPx`-pixel size bucket the row batches into. ALL integer
    * arithmetic (`(side · box) div long_side` — no FP, so a DuckDB twin
    * replays it exactly). Vision preprocessing at scale is bucketed
    * exactly like this: a decode/resize batch wants same-shaped tensors,
    * so rows group by target-size bucket BEFORE the expensive decode —
    * the relational plan here is the shuffle key; [[resizeTo]] is the
    * partition-wise byte path that consumes it.
    */
  def resizePlan(media: DataFrame, box: Int = 224,
      bucketPx: Int = 32): DataFrame =
    media.filter(col("format").isin("png", "jpeg"))
      .withColumn("_ls", greatest(col("width"), col("height")))
      .withColumn("tw", expr(s"(width * $box) div _ls").cast("int"))
      .withColumn("th", expr(s"(height * $box) div _ls").cast("int"))
      .withColumn("bw", expr(s"tw div $bucketPx").cast("int"))
      .withColumn("bh", expr(s"th div $bucketPx").cast("int"))
      .drop("_ls")

  /** Partition-wise resize through the stub codec boundary: one decoder
    * setup per partition, rows arrive pre-bucketed by [[resizePlan]]'s
    * (bw, bh) shuffle key in a real pipeline. Returns (media_id, tw, th,
    * out_bytes); null payloads produce 0 bytes, never an NPE.
    */
  def resizeTo(media: DataFrame, box: Int = 224)
      (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    resizePlan(media, box)
      .select("media_id", "media", "tw", "th")
      .as[(Long, Array[Byte], Int, Int)]
      .mapPartitions { rows =>
        rows.map { case (id, payload, tw, th) =>
          val out =
            if (payload == null) Array.empty[Byte]
            else MediaCodec.resize(payload, tw, th)
          (id, tw, th, out.length)
        }
      }.toDF("media_id", "tw", "th", "out_bytes")
  }

  /** [[resizeTo]] over REAL image payloads: the same
    * [[resizePlan]]-bucketed partition-wise boundary, but the byte path
    * is `javax.imageio` decode → deterministic integer area-average →
    * PNG re-encode ([[ImageCodec.resizeGrayPng]]). Returns (media_id,
    * tw, th, out_w, out_h, out_bytes) with out_w/out_h read back from a
    * decode of the produced payload — the roundtrip check is part of the
    * contract; undecodable inputs yield (0, 0, 0).
    * Deliberate library API, pinned by LlmSpecs.
    */
  def resizeToImage(media: DataFrame, box: Int = 224)
      (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    resizePlan(media, box)
      .select("media_id", "media", "tw", "th")
      .as[(Long, Array[Byte], Int, Int)]
      .mapPartitions { rows =>
        rows.map { case (id, payload, tw, th) =>
          val out = ImageCodec.resizeGrayPng(payload, tw, th)
          ImageCodec.decodeGray(out) match {
            case Some((_, ow, oh)) => (id, tw, th, ow, oh, out.length)
            case None => (id, tw, th, 0, 0, 0)
          }
        }
      }.toDF("media_id", "tw", "th", "out_w", "out_h", "out_bytes")
  }

  /** Partition-wise feature extraction — the mapInPandas-equivalent
    * batched decode. Decoder init happens once per partition, not per
    * row; partition sizing (spark.sql.files.maxPartitionBytes) is the
    * batch-size knob at scale.
    */
  def extractFeatures(media: DataFrame, dims: Int = 8)
      (implicit spark: SparkSession): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.select("media_id", "media", "format", "width", "height")
      .as[MediaRow]
      .mapPartitions { rows =>
        // per-partition decoder setup would go here (once per batch)
        rows.map { r =>
          val payload = if (r.media == null) Array.empty[Byte] else r.media
          MediaFeatures(r.media_id, payload.length, r.format,
            MediaCodec.decodeToFeatures(payload, dims))
        }
      }
  }
}
