package graft.sources

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.util.control.NonFatal

/** REAL image decode behind the multimodal seam (replaces the r2-r7
  * StubCodec boundary for the image modality): `javax.imageio` is built
  * into the JDK, so PNG encode/decode works on this offline box and on
  * any executor JVM with zero added dependencies.
  *
  * Design for exact correctness testing without external image data:
  * [[imageAssets]] SYNTHESIZES a deterministic two-tone grayscale PNG
  * per document — every pattern parameter (width, height, the two tones,
  * the split point) is integer arithmetic on `(doc_id, n_chars)` — and
  * the declared queries recover stats by actually DECODING the PNG bytes.
  * PNG is lossless 8-bit gray, so the decoded stats equal the closed-form
  * integer arithmetic, which is exactly what the DuckDB oracle computes
  * (no image codec needed oracle-side, no float convention in play).
  *
  * 100 TB posture: synthesis reads only `(doc_id, n_chars)` (column-pruned
  * scan — the text column never leaves parquet); decode is one stateless
  * `mapPartitions` pass (a codec is genuine per-row imperative work — the
  * documented last-resort case); a corrupt payload yields `ok = false`
  * rather than failing the task, because at 10^9 assets some WILL be
  * corrupt and one bad file must never kill a stage. No shuffle happens
  * until the query's own aggregate/sort.
  */
object ImageCodec {

  // BufferedImage needs no display, but first AWT touch must see headless.
  System.setProperty("java.awt.headless", "true")

  /** Deterministic per-document image pattern: a `w x h` grayscale image
    * whose first `k` pixels (row-major) are tone `a` and the rest tone
    * `b`. All parameters are exact integer functions of (doc_id, n_chars)
    * so a SQL oracle can reproduce every decoded statistic. */
  final case class Pattern(w: Int, h: Int, a: Int, b: Int, k: Long) {
    def nPixels: Long = w.toLong * h
  }

  def pattern(docId: Long, nChars: Long): Pattern = {
    val w = (8 + (nChars % 24)).toInt // 8..31
    val h = (8 + (docId % 24)).toInt  // 8..31
    val npix = w.toLong * h
    val a = ((docId * 31 + 7) % 256).toInt
    val b = ((docId * 97 + 13) % 256).toInt
    val k = (nChars * 2654435761L) % npix // Knuth multiplier spreads the split
    Pattern(w, h, a, b, k)
  }

  /** Row-major luma plane for a pattern. */
  def render(p: Pattern): Array[Int] = {
    val n = p.nPixels.toInt
    val out = new Array[Int](n)
    var i = 0
    while (i < n) { out(i) = if (i < p.k) p.a else p.b; i += 1 }
    out
  }

  /** Encode a row-major 8-bit luma plane as PNG (lossless, so decode
    * recovers these exact samples). */
  def encodeGrayPng(w: Int, h: Int, luma: Array[Int]): Array[Byte] = {
    require(luma.length == w * h, s"luma plane ${luma.length} != $w x $h")
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0; var i = 0
    while (y < h) {
      var x = 0
      while (x < w) { raster.setSample(x, y, 0, luma(i) & 0xff); x += 1; i += 1 }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** A decoded image reduced to its luma plane. `channels` is the decoded
    * band count (1 for gray, 3/4 for RGB/RGBA); luma for multi-band images
    * is integer Rec.601 ((299r + 587g + 114b) / 1000) so it stays
    * deterministic across JVMs. */
  final case class DecodedImage(width: Int, height: Int, channels: Int, luma: Array[Int])

  /** Real decode via javax.imageio. Returns None (never throws) on null,
    * corrupt, or unrecognized payloads — the per-row failure containment a
    * 100 TB scan needs. */
  def decodeLuma(payload: Array[Byte]): Option[DecodedImage] = {
    if (payload == null) return None
    try {
      val img = ImageIO.read(new ByteArrayInputStream(payload))
      if (img == null) return None
      val w = img.getWidth
      val h = img.getHeight
      val raster = img.getRaster
      val bands = raster.getNumBands
      val out = new Array[Int](w * h)
      var y = 0; var i = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          out(i) =
            if (bands >= 3) {
              val r = raster.getSample(x, y, 0)
              val g = raster.getSample(x, y, 1)
              val b = raster.getSample(x, y, 2)
              (299 * r + 587 * g + 114 * b) / 1000
            } else raster.getSample(x, y, 0)
          x += 1; i += 1
        }
        y += 1
      }
      Some(DecodedImage(w, h, bands, out))
    } catch { case NonFatal(_) => None }
  }

  /** HEADER-ONLY metadata peek: width/height/channels from the image
    * header via ImageIO's reader API (`getWidth`/`getHeight`/
    * `getImageTypes` parse the header, not the pixel data). This is what
    * inventory/accounting passes should use — at corpus scale the
    * difference between reading headers and inflating every payload is
    * the whole job. Returns None on corrupt/unrecognized payloads.
    *
    * CHANNEL CONVENTION (documented, deliberate): `channels` is the
    * first ImageTypeSpecifier's `getNumComponents` — the STORAGE
    * component count the header declares, which for palette/indexed
    * formats can differ from the channel count a full decode's raster
    * would report (an indexed PNG is 1 stored component that expands to
    * 3 on decode). Inventory totals built on this peek are therefore
    * "as-stored logical bytes", stable across codec paths and versions;
    * the gray/RGB fixtures this repo synthesizes agree between header
    * and decode (pinned in MultimodalCodecSpec), and q_asset_inventory's
    * scaladoc states the convention for palette corpora. */
  def peekDims(payload: Array[Byte]): Option[(Int, Int, Int)] = {
    if (payload == null) return None
    try {
      val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(payload))
      try {
        val readers = ImageIO.getImageReaders(iis)
        if (!readers.hasNext) return None
        val reader = readers.next()
        try {
          reader.setInput(iis, true, true)
          val w = reader.getWidth(0)
          val h = reader.getHeight(0)
          val types = reader.getImageTypes(0)
          val channels =
            if (types.hasNext) types.next().getNumComponents else 1
          Some((w, h, channels))
        } finally reader.dispose()
      } finally if (iis != null) iis.close()
    } catch { case NonFatal(_) => None }
  }

  /** Average-hash (aHash) over a 16x16 block-mean downsample of the luma
    * plane, 256 bits as 4 little-endian longs (bit i = word i/64, position
    * i%64 — HashBanding's word layout): bit i set iff 256 * cell_i >
    * sum(cells) — the multiply-through form avoids any division/rounding
    * convention, so the hash is bit-reproducible everywhere. Blocks use
    * floor boundaries; an empty block (image narrower/shorter than 16)
    * contributes 0. 256 bits rather than r8's 64 so the banded dedup
    * join keeps exact recall to Hamming <= 15 AND band values carry
    * enough entropy that natural corpora spread across buckets (the r8
    * scale-killer — see HashBanding's scaladoc). [PK: average hash as in
    * the public pHash/dHash family of perceptual image fingerprints.] */
  def aHash256(d: DecodedImage): Array[Long] = {
    val cells = new Array[Long](256)
    var sum = 0L
    var by = 0
    while (by < 16) {
      val y0 = by * d.height / 16
      val y1 = (by + 1) * d.height / 16
      var bx = 0
      while (bx < 16) {
        val x0 = bx * d.width / 16
        val x1 = (bx + 1) * d.width / 16
        var acc = 0L
        var cnt = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { acc += d.luma(y * d.width + x); cnt += 1; x += 1 }
          y += 1
        }
        val cell = if (cnt == 0) 0L else acc / cnt
        cells(by * 16 + bx) = cell
        sum += cell
        bx += 1
      }
      by += 1
    }
    val hash = new Array[Long](HashBanding.Words)
    var i = 0
    while (i < 256) {
      if (256L * cells(i) > sum) hash(i >> 6) |= (1L << (i & 63))
      i += 1
    }
    hash
  }

  /** Synthesize the per-document PNG asset table (Multimodal.schema). */
  def imageAssets(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "n_chars")
    val enc = ExpressionEncoder(RowEncoder.encoderFor(Multimodal.schema))
    docs.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val nc = r.getLong(1)
        val p = pattern(id, nc)
        val png = encodeGrayPng(p.w, p.h, render(p))
        Row(id, "image", png,
          Row("image/png", Int.box(p.w), Int.box(p.h), png.length.toLong))
      }
    }(enc)
  }

  /** splitmix64 — the standard public PRNG finalizer; full-avalanche, so
    * per-pixel streams from nearby keys are uncorrelated. */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Textured luma plane: every pixel an independent splitmix64 draw from
    * (key, pixel index). Unlike the two-tone stats pattern, textured
    * images have near-random aHashes, so DISTINCT keys essentially never
    * collide — which is what a dedup fixture needs. */
  def texturedLuma(key: Long, w: Int, h: Int): Array[Int] =
    Array.tabulate(w * h)(i => (mix64(key * 1000003L + i) & 0xff).toInt)

  /** Asset family for perceptual dedup, with planted duplicates:
    * doc_ids ≡ 0 (mod 5) and their ≡ 4 (mod 5) partner (id + 4) share a
    * texture KEY, so each (5m, 5m + 4) pair renders the same image —
    * bit-identical for even m, and for odd m the partner gets a mild
    * +16-luma perturbation on three pixels (a planted NEAR-duplicate;
    * block averages move by ~2, flipping at most a few aHash bits). All
    * other docs get their own key and collide only by chance. */
  def dedupAssets(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id")
    val enc = ExpressionEncoder(RowEncoder.encoderFor(Multimodal.schema))
    docs.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val key = if (id % 5 == 4) id - 4 else id
        val w = (16 + (key % 16)).toInt
        val h = (16 + ((key / 16) % 16)).toInt
        val luma = texturedLuma(key, w, h)
        if (id % 10 == 9) { // near-dup perturbation: ±8 luma on 3 pixels
          val n = luma.length // (xor avoids the 255-wrap a +16 would hit)
          luma(0) = luma(0) ^ 0x08
          luma(n / 2) = luma(n / 2) ^ 0x08
          luma(n - 1) = luma(n - 1) ^ 0x08
        }
        val png = encodeGrayPng(w, h, luma)
        Row(id, "image", png, Row("image/png", Int.box(w), Int.box(h), png.length.toLong))
      }
    }(enc)
  }

  private val metaSchema = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("width", LongType, nullable = true),
    StructField("height", LongType, nullable = true),
    StructField("channels", LongType, nullable = true),
    StructField("ok", BooleanType, nullable = false),
  ))

  /** HEADER-ONLY per-asset metadata (peekDims over the scan) — the
    * inventory/accounting pass. No pixel data is inflated; at corpus
    * scale this touches a few hundred bytes per asset instead of the
    * payload. */
  def imageMeta(assets: DataFrame): DataFrame = {
    val enc = ExpressionEncoder(RowEncoder.encoderFor(metaSchema))
    assets.select("asset_id", "payload").mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        peekDims(r.getAs[Array[Byte]]("payload")) match {
          case Some((w, h, c)) => Row(id, w.toLong, h.toLong, c.toLong, true)
          case None            => Row(id, null, null, null, false)
        }
      }
    }(enc)
  }

  private val statsSchema = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("width", LongType, nullable = true),
    StructField("height", LongType, nullable = true),
    StructField("channels", LongType, nullable = true),
    StructField("n_pixels", LongType, nullable = true),
    StructField("sum_luma", LongType, nullable = true),
    StructField("hist", ArrayType(LongType, containsNull = false), nullable = true),
    StructField("ok", BooleanType, nullable = false),
  ))

  /** Decode every asset and emit exact per-image statistics plus a 16-bin
    * luma histogram (bin = luma / 16). One stateless decode pass; corrupt
    * payloads come back as `ok = false` rows with null stats. */
  def imageStats(assets: DataFrame): DataFrame = {
    val enc = ExpressionEncoder(RowEncoder.encoderFor(statsSchema))
    assets.select("asset_id", "payload").mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        decodeLuma(r.getAs[Array[Byte]]("payload")) match {
          case Some(d) =>
            var sum = 0L
            val hist = new Array[Long](16)
            var i = 0
            while (i < d.luma.length) {
              val v = d.luma(i)
              sum += v
              hist((v >> 4) & 15) += 1
              i += 1
            }
            Row(id, d.width.toLong, d.height.toLong, d.channels.toLong,
              d.width.toLong * d.height, sum, hist.toSeq, true)
          case None =>
            Row(id, null, null, null, null, null, null, false)
        }
      }
    }(enc)
  }

  private val annotatedSchema = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("channels", IntegerType, nullable = true),
    StructField("ok", BooleanType, nullable = false),
  ))

  /** Payload-PRESERVING decode annotation: each asset row comes back with
    * its payload plus decoded dimensions (or ok = false). Stateless, so it
    * runs unchanged on a streaming DataFrame — this is the engine under
    * StreamingOps.imageGateStream. */
  def annotateDecoded(assets: DataFrame): DataFrame = {
    val enc = ExpressionEncoder(RowEncoder.encoderFor(annotatedSchema))
    assets.select("asset_id", "payload").mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val payload = r.getAs[Array[Byte]]("payload")
        decodeLuma(payload) match {
          case Some(d) =>
            Row(id, payload, Int.box(d.width), Int.box(d.height), Int.box(d.channels), true)
          case None => Row(id, payload, null, null, null, false)
        }
      }
    }(enc)
  }

  private val annotatedHashSchema = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("channels", IntegerType, nullable = true),
    StructField("ahash", ArrayType(LongType, containsNull = false), nullable = true),
    StructField("ok", BooleanType, nullable = false),
  ))

  /** ONE decode pass emitting payload + dimensions + perceptual hash —
    * the ingest loop's workhorse (decode is the expensive step; gate,
    * dedup, and landing all read from this single annotation). */
  def annotateWithHash(assets: DataFrame): DataFrame = {
    val enc = ExpressionEncoder(RowEncoder.encoderFor(annotatedHashSchema))
    assets.select("asset_id", "payload").mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val payload = r.getAs[Array[Byte]]("payload")
        decodeLuma(payload) match {
          case Some(d) =>
            Row(id, payload, Int.box(d.width), Int.box(d.height),
              Int.box(d.channels), aHash256(d), true)
          case None => Row(id, payload, null, null, null, null, false)
        }
      }
    }(enc)
  }

  private val hashSchema = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("ahash", ArrayType(LongType, containsNull = false), nullable = true),
    StructField("ok", BooleanType, nullable = false),
  ))

  /** Per-asset perceptual hash (decode + aHash256) — the image analogue
    * of graft_simhash: one 4-long array per asset off the scan, ready for
    * banded self-join dedup. */
  def imageHashes(assets: DataFrame): DataFrame = {
    val enc = ExpressionEncoder(RowEncoder.encoderFor(hashSchema))
    assets.select("asset_id", "payload").mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        decodeLuma(r.getAs[Array[Byte]]("payload")) match {
          case Some(d) => Row(id, aHash256(d), true)
          case None    => Row(id, null, false)
        }
      }
    }(enc)
  }

  /** REAL raster resize at the codec boundary (complements
    * Multimodal.resizeToBytes, which only truncates a byte budget):
    * decode, nearest-neighbor sample the luma plane at integer-exact
    * coordinates (sx = x * srcW / outW — pure integer math, so the result
    * is bit-reproducible on any JVM), re-encode as lossless gray PNG, and
    * keep meta (width/height/n_bytes) in sync. Multi-band inputs resize
    * through their Rec.601 luma plane (output is always 8-bit gray — the
    * normalized form a training pipeline wants anyway). Undecodable
    * payloads pass through UNCHANGED (containment: gate first if you need
    * them gone). Stateless mapPartitions; no shuffle. */
  def resizeImages(assets: DataFrame, outW: Int, outH: Int): DataFrame = {
    require(outW >= 1 && outH >= 1, s"resize target must be >= 1x1, got ${outW}x$outH")
    val enc = ExpressionEncoder(RowEncoder.encoderFor(Multimodal.schema))
    assets.select("asset_id", "modality", "payload", "meta").mapPartitions { it =>
      it.map { r =>
        val payload = r.getAs[Array[Byte]]("payload")
        decodeLuma(payload) match {
          case Some(d) =>
            val out = new Array[Int](outW * outH)
            var y = 0
            while (y < outH) {
              val sy = y * d.height / outH
              var x = 0
              while (x < outW) {
                out(y * outW + x) = d.luma(sy * d.width + x * d.width / outW)
                x += 1
              }
              y += 1
            }
            val png = encodeGrayPng(outW, outH, out)
            // the output payload is always gray PNG — a passed-through
            // source mime (e.g. image/jpeg) would no longer describe it
            Row(r.getLong(0), r.getString(1), png,
              Row("image/png", Int.box(outW), Int.box(outH), png.length.toLong))
          case None => Row(r.getLong(0), r.getString(1), payload, r.getStruct(3))
        }
      }
    }(enc)
  }

  /** REAL codec for the Multimodal.extractFeatures seam (drop-in for
    * StubCodec on image payloads): decode, then a dim-bin normalized luma
    * histogram — the classic cheap visual descriptor. Undecodable payloads
    * return the all-zero vector (a recognizable quarantine signal that
    * keeps the batch alive), matching the ok=false convention of
    * imageStats. */
  object ImageFeatureCodec extends Multimodal.Codec {
    override def features(payload: Array[Byte], dim: Int): Array[Float] = {
      require(dim >= 1, s"feature dim must be >= 1, got $dim")
      decodeLuma(payload) match {
        case Some(d) =>
          val hist = new Array[Float](dim)
          var i = 0
          while (i < d.luma.length) {
            hist(d.luma(i) * dim / 256) += 1f
            i += 1
          }
          val n = d.luma.length.toFloat
          var j = 0
          while (j < dim) { hist(j) /= n; j += 1 }
          hist
        case None => new Array[Float](dim)
      }
    }
  }

  // --- Persisted perceptual-hash index lifecycle (the image analogue of
  // the MinHash text index, DedupOps.writeMinhashIndex ff.): build once
  // over the corpus, probe every ingest batch in O(batch), append the
  // survivors, tombstone takedowns, compact eventually. Stored layout is
  // one long per asset (`dir/hashes`) — banding is recomputed at read
  // (a map-side transform), so the stored bytes stay minimal. Probing
  // against an index built from a BENCHMARK image set is image
  // decontamination — same op, different corpus. ---

  /** The image index's instance of the banded lifecycle (flat `hashes`). */
  private[graft] val HashIndex: BandedIndex =
    HashBanding.flatIndex("image-hash", "ImageCodec.writeImageHashIndex")

  /** Build the index: decode + aHash every asset, store (asset_id, ahash). */
  def writeImageHashIndex(s: SparkSession, assets: DataFrame, dir: String): Unit =
    HashIndex.write(s, dir, imageHashes(assets).where(col("ok")).select("asset_id", "ahash"),
      None, HashBanding.meta(s))

  /** Assign-only append: hash the batch with the same (deterministic)
    * codec path and append — no retraining, nothing rewritten. Caller
    * owns id uniqueness (Ledger discipline; a retried batch duplicates
    * rows — same contract as every other index append). The hashes +
    * probe-layout pair lands under the GenStamp fence
    * (BandedIndex.append): a crash between the two commits leaves the
    * stamps diverged, probes fall back to the full scan, and the next
    * append heals the layout by re-deriving it. */
  def appendToImageHashIndex(s: SparkSession, batch: DataFrame, dir: String): Unit =
    HashIndex.append(s, dir)(_ => imageHashes(batch).where(col("ok")).select("asset_id", "ahash"))

  /** Takedown path: O(ids) tombstone append; probes exclude the ids
    * immediately, compaction folds them in later. */
  def deleteFromImageHashIndex(s: SparkSession, ids: DataFrame, dir: String): Unit =
    HashIndex.delete(s, ids, dir)

  /** Fold tombstones into the stored hash table and clear them. */
  def compactImageHashIndex(s: SparkSession, dir: String): Unit =
    HashIndex.compact(s, dir)

  /** Probe: which batch images perceptually duplicate an indexed image?
    * Batch side is decoded + hashed once (the barrier keeps the codec
    * pass single — the probe fans the hashes into 4 band rows); stored
    * side is a scan + map-side band transform; candidates come from the
    * band equi-join (linear in batch size, never batch x corpus) and are
    * verified with an exact popcount. Returns (batch_id, corpus_id,
    * hamming) at hamming <= maxHamming. */
  def dedupImagesAgainstIndex(s: SparkSession, batch: DataFrame, dir: String,
      maxHamming: Int = HashBanding.DefaultMaxHamming,
      maxBucket: Int = HashBanding.DefaultMaxBucket): DataFrame = {
    HashIndex.requireMeta(s, dir)
    val bHashes = imageHashes(batch).where(col("ok"))
      .select("asset_id", "ahash").localCheckpoint(false)
    HashBanding.probeAgainstDir(s, bHashes, dir, maxHamming, maxBucket)
  }

  /** Perceptual near-duplicate pairs: band the 256-bit aHash into sixteen
    * 16-bit keys (pigeonhole: Hamming distance <= 15 guarantees at least
    * one identical band), equi-join per band for candidates, then verify
    * with an exact popcount over the XOR words. Identical shape to the
    * SimHash text path (DedupOps) — candidates are band-bucketed, never
    * all-pairs, so the join stays linear in bucket sizes at corpus scale
    * (and HashBanding's bucket cap fails loudly on degenerate corpora
    * instead of going quadratic). */
  def perceptualDupPairs(hashes: DataFrame, maxHamming: Int = HashBanding.DefaultMaxHamming,
      maxBucket: Int = HashBanding.DefaultMaxBucket): DataFrame = {
    // Barrier before the self-join: the two join branches project the same
    // hashes to different aliases (a_id/b_id), so their exchanges don't
    // canonicalize equal and ReuseExchange can NOT share them — without
    // the lazy checkpoint every asset is synthesized + decoded + hashed
    // twice (the ngram-jaccard r6 lesson: barriers pay exactly when
    // consumers need different shapes of one expensive frame). Measured at
    // sf0.1, local[32], 3-run median: 3.07 s without -> 2.29 s with.
    val ok = hashes.where(col("ok")).select("asset_id", "ahash")
      .localCheckpoint(false)
    HashBanding.pairs(ok, maxHamming, maxBucket)
  }
}
