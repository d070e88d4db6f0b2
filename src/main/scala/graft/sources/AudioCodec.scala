package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import scala.util.control.NonFatal

/** REAL audio decode behind the multimodal seam: `javax.sound.sampled`
  * (WAV/PCM) is built into the JDK — offline-safe, zero added deps, works
  * on any executor JVM.
  *
  * Mirror of [[ImageCodec]]'s design: [[audioAssets]] synthesizes a
  * deterministic 16-bit PCM mono WAV per document, every sample an exact
  * integer function of `(doc_id, sample index)`, and the declared query
  * recovers amplitude statistics by actually DECODING the WAV container
  * (header parse + frame extraction through AudioSystem). PCM is lossless,
  * so decoded stats equal the closed-form arithmetic the DuckDB oracle
  * computes with `generate_series` — an exact cross-engine check of a real
  * codec round-trip.
  *
  * 100 TB posture: synthesis reads only `(doc_id, n_chars)`; decode is one
  * stateless `mapPartitions` pass; corrupt/unsupported payloads yield
  * `ok = false` rows instead of failing the task.
  */
object AudioCodec {

  val SampleRate = 16000

  /** Deterministic per-document sample plan: n in [64, 255], each sample
    * an exact integer in [-32768, 32767]. */
  def sampleCount(docId: Long, nChars: Long): Int =
    (64 + ((nChars * 7 + docId) % 192)).toInt

  def sampleAt(docId: Long, i: Int): Short =
    (((docId * 7919 + i.toLong * 104729) % 65536) - 32768).toShort

  /** Encode 16-bit signed little-endian PCM mono as a WAV container. */
  def encodeWavPcm16(samples: Array[Short], rate: Float = SampleRate.toFloat): Array[Byte] = {
    val pcm = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      val v = samples(i)
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(rate, 16, 1, true, false)
    val ais = new AudioInputStream(new ByteArrayInputStream(pcm), fmt, samples.length.toLong)
    val out = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** `samples` is the raw interleaved 16-bit stream; [[frames]] is the
    * per-channel sample count — the quantity duration envelopes must use
    * (for multichannel input, samples.length is `channels` times the
    * clip duration in samples). */
  final case class DecodedAudio(sampleRate: Int, channels: Int, samples: Array[Short]) {
    def frames: Int = samples.length / channels
  }

  /** HEADER-ONLY metadata peek: (sample_rate, channels, frames) from the
    * container header via `AudioSystem.getAudioFileFormat` — no sample
    * data is read. The inventory-pass twin of ImageCodec.peekDims.
    * Returns None on corrupt/unrecognized payloads or unknown lengths. */
  def peekFormat(payload: Array[Byte]): Option[(Int, Int, Long)] = {
    if (payload == null) return None
    try {
      val aff = AudioSystem.getAudioFileFormat(new ByteArrayInputStream(payload))
      val fmt = aff.getFormat
      if (fmt.getSampleSizeInBits != 16 ||
        fmt.getEncoding != AudioFormat.Encoding.PCM_SIGNED) return None
      val frames = aff.getFrameLength
      if (frames < 0) return None // unspecified in header
      Some((fmt.getSampleRate.toInt, fmt.getChannels, frames.toLong))
    } catch { case NonFatal(_) => None }
  }

  /** Real decode via AudioSystem. Handles 16-bit signed PCM (either
    * endianness); anything else — or a corrupt container — returns None,
    * never throws. */
  def decodeWav(payload: Array[Byte]): Option[DecodedAudio] = {
    if (payload == null) return None
    try {
      val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(payload))
      val fmt = ais.getFormat
      if (fmt.getSampleSizeInBits != 16 ||
        fmt.getEncoding != AudioFormat.Encoding.PCM_SIGNED) return None
      val data = ais.readAllBytes()
      val n = data.length / 2
      val out = new Array[Short](n)
      val big = fmt.isBigEndian
      var i = 0
      while (i < n) {
        out(i) =
          if (big) (((data(2 * i) & 0xff) << 8) | (data(2 * i + 1) & 0xff)).toShort
          else (((data(2 * i + 1) & 0xff) << 8) | (data(2 * i) & 0xff)).toShort
        i += 1
      }
      Some(DecodedAudio(fmt.getSampleRate.toInt, fmt.getChannels, out))
    } catch { case NonFatal(_) => None }
  }

  /** Envelope hash — the audio analogue of ImageCodec.aHash256: mean
    * |amplitude| over 256 equal time windows, 256 bits as 4 little-endian
    * longs (HashBanding's word layout), bit w set iff
    * 256 * cell_w > sum(cells) (multiply-through, no division rounding).
    * The mean threshold makes the hash invariant under exact volume
    * scaling: for signals of at most 256 samples every window holds 0 or
    * 1 samples, cells equal |sample| with NO per-window floor, so a
    * no-clipping doubling is EXACTLY invariant (PropertiesSpec pins it);
    * longer signals floor each window mean, so re-levels drift by a few
    * bits — which is precisely what the banded Hamming threshold absorbs.
    * Windows use floor boundaries; empty windows contribute 0. 256 bits
    * rather than r8's 64 for the same banding-entropy reason as the
    * image hash (see HashBanding's scaladoc). */
  def envelopeHash256(samples: Array[Short]): Array[Long] = {
    val n = samples.length
    val cells = new Array[Long](256)
    var sum = 0L
    var w = 0
    while (w < 256) {
      val i0 = w * n / 256
      val i1 = (w + 1) * n / 256
      var acc = 0L
      var i = i0
      while (i < i1) { acc += math.abs(samples(i).toLong); i += 1 }
      val cell = if (i1 == i0) 0L else acc / (i1 - i0)
      cells(w) = cell
      sum += cell
      w += 1
    }
    val hash = new Array[Long](HashBanding.Words)
    var j = 0
    while (j < 256) {
      if (256L * cells(j) > sum) hash(j >> 6) |= (1L << (j & 63))
      j += 1
    }
    hash
  }

  private val hashSchema = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("ahash", ArrayType(LongType, containsNull = false), nullable = true),
    StructField("ok", BooleanType, nullable = false),
  ))

  /** Per-asset envelope hash off a real WAV decode — feeds
    * HashBanding.pairs/probe exactly like the image hashes. */
  def audioHashes(assets: DataFrame): DataFrame = {
    val enc = ExpressionEncoder(RowEncoder.encoderFor(hashSchema))
    assets.select("asset_id", "payload").mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        decodeWav(r.getAs[Array[Byte]]("payload")) match {
          case Some(d) => Row(id, envelopeHash256(d.samples), true)
          case None    => Row(id, null, false)
        }
      }
    }(enc)
  }

  /** Asset family for audio dedup with planted duplicates, mirroring
    * ImageCodec.dedupAssets: doc_ids ≡ 0 (mod 5) and their ≡ 4 (mod 5)
    * partner share a sample-plan KEY — bit-identical clips for even
    * pair index, and ids ≡ 9 (mod 10) get the SAME clip at 3/4 volume
    * (integer scaling — the envelope hash's invariance target). All
    * other docs keep their own plan. */
  def dedupAssets(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id")
    val enc = ExpressionEncoder(RowEncoder.encoderFor(Multimodal.schema))
    docs.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val key = if (id % 5 == 4) id - 4 else id
        val n = (128 + ((key * 13) % 192)).toInt
        val samples = Array.tabulate(n) { i =>
          val v = sampleAt(key, i)
          if (id % 10 == 9) (v * 3 / 4).toShort else v
        }
        val wav = encodeWavPcm16(samples)
        Row(id, "audio", wav, Row("audio/wav", null, null, wav.length.toLong))
      }
    }(enc)
  }

  // --- Persisted envelope-hash index lifecycle — the audio twin of
  // ImageCodec's image-hash index, so a crawl pipeline ingesting audio
  // snapshots probes the corpus in O(batch) instead of re-hashing it
  // every cycle. Same stored layout (one array<long> per asset under
  // `dir/hashes`, banding recomputed at read), same Tombstones deletion
  // half, same HashBanding.probe engine, same meta guard. Probing an
  // index built from a BENCHMARK clip set is audio decontamination —
  // same op, different corpus. ---

  /** The audio index's instance of the banded lifecycle (flat `hashes`). */
  private[graft] val HashIndex: BandedIndex =
    HashBanding.flatIndex("audio-hash", "AudioCodec.writeAudioHashIndex")

  /** Build the index: decode + envelope-hash every clip, store
    * (asset_id, ahash). */
  def writeAudioHashIndex(s: SparkSession, assets: DataFrame, dir: String): Unit =
    HashIndex.write(s, dir, audioHashes(assets).where(col("ok")).select("asset_id", "ahash"),
      None, HashBanding.meta(s))

  /** Assign-only append — deterministic codec path, nothing rewritten.
    * Caller owns id uniqueness (Ledger discipline; a retried batch
    * duplicates rows — same contract as every other index append).
    * Fenced dual write: see ImageCodec.appendToImageHashIndex. */
  def appendToAudioHashIndex(s: SparkSession, batch: DataFrame, dir: String): Unit =
    HashIndex.append(s, dir)(_ => audioHashes(batch).where(col("ok")).select("asset_id", "ahash"))

  /** Takedown path: O(ids) tombstone append; probes exclude the ids
    * immediately, compaction folds them in later. */
  def deleteFromAudioHashIndex(s: SparkSession, ids: DataFrame, dir: String): Unit =
    HashIndex.delete(s, ids, dir)

  /** Fold tombstones into the stored hash table and clear them. */
  def compactAudioHashIndex(s: SparkSession, dir: String): Unit =
    HashIndex.compact(s, dir)

  /** Probe: which batch clips perceptually duplicate an indexed clip?
    * Batch side is decoded + hashed once behind a barrier; stored side
    * is a scan + map-side band transform; candidates come from the band
    * equi-join (linear in batch size, never batch x corpus) and are
    * verified with an exact popcount. Returns (batch_id, corpus_id,
    * hamming) at hamming <= maxHamming. */
  def dedupAudioAgainstIndex(s: SparkSession, batch: DataFrame, dir: String,
      maxHamming: Int = HashBanding.DefaultMaxHamming,
      maxBucket: Int = HashBanding.DefaultMaxBucket): DataFrame = {
    HashIndex.requireMeta(s, dir)
    val bHashes = audioHashes(batch).where(col("ok"))
      .select("asset_id", "ahash").localCheckpoint(false)
    HashBanding.probeAgainstDir(s, bHashes, dir, maxHamming, maxBucket)
  }

  /** Perceptual audio near-dup pairs: decode → envelope hash → banded
    * self-join (HashBanding) — the "same clip, maybe re-levelled"
    * detector. Same barrier rationale as the image path. */
  def perceptualDupPairs(hashes: DataFrame,
      maxHamming: Int = HashBanding.DefaultMaxHamming,
      maxBucket: Int = HashBanding.DefaultMaxBucket): DataFrame = {
    val ok = hashes.where(col("ok")).select("asset_id", "ahash")
      .localCheckpoint(false)
    HashBanding.pairs(ok, maxHamming, maxBucket)
  }

  /** REAL codec for the Multimodal.extractFeatures seam on audio
    * payloads: the normalized amplitude envelope over `dim` time windows
    * (mean |amplitude| / 32768), the audio twin of
    * ImageCodec.ImageFeatureCodec. Undecodable payloads return the
    * all-zero vector. */
  object AudioFeatureCodec extends Multimodal.Codec {
    override def features(payload: Array[Byte], dim: Int): Array[Float] = {
      require(dim >= 1, s"feature dim must be >= 1, got $dim")
      decodeWav(payload) match {
        case Some(d) =>
          val n = d.samples.length
          val out = new Array[Float](dim)
          var w = 0
          while (w < dim) {
            val i0 = w * n / dim
            val i1 = (w + 1) * n / dim
            var acc = 0L
            var i = i0
            while (i < i1) { acc += math.abs(d.samples(i).toLong); i += 1 }
            out(w) = if (i1 == i0) 0f else (acc.toDouble / (i1 - i0) / 32768.0).toFloat
            w += 1
          }
          out
        case None => new Array[Float](dim)
      }
    }
  }

  private val annotatedSchema = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("sample_rate", IntegerType, nullable = true),
    StructField("channels", IntegerType, nullable = true),
    StructField("n_samples", IntegerType, nullable = true),
    StructField("ok", BooleanType, nullable = false),
  ))

  /** Payload-preserving decode annotation (streaming-gate engine, the
    * audio twin of ImageCodec.annotateDecoded). `n_samples` is the
    * PER-CHANNEL frame count, so audioGateStream's duration envelope
    * holds for multichannel PCM16 too. */
  def annotateDecoded(assets: DataFrame): DataFrame = {
    val enc = ExpressionEncoder(RowEncoder.encoderFor(annotatedSchema))
    assets.select("asset_id", "payload").mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val payload = r.getAs[Array[Byte]]("payload")
        decodeWav(payload) match {
          case Some(d) =>
            Row(id, payload, Int.box(d.sampleRate), Int.box(d.channels),
              Int.box(d.frames), true)
          case None => Row(id, payload, null, null, null, false)
        }
      }
    }(enc)
  }

  private val annotatedHashSchema = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("sample_rate", IntegerType, nullable = true),
    StructField("channels", IntegerType, nullable = true),
    StructField("n_samples", IntegerType, nullable = true),
    StructField("ahash", ArrayType(LongType, containsNull = false), nullable = true),
    StructField("ok", BooleanType, nullable = false),
  ))

  /** ONE decode pass emitting payload + format + envelope hash — the
    * audio ingest loop's workhorse (decode is the expensive step; gate,
    * dedup, and landing all read from this single annotation).
    * `n_samples` is per-channel frames, like annotateDecoded. */
  def annotateWithHash(assets: DataFrame): DataFrame = {
    val enc = ExpressionEncoder(RowEncoder.encoderFor(annotatedHashSchema))
    assets.select("asset_id", "payload").mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val payload = r.getAs[Array[Byte]]("payload")
        decodeWav(payload) match {
          case Some(d) =>
            Row(id, payload, Int.box(d.sampleRate), Int.box(d.channels),
              Int.box(d.frames), envelopeHash256(d.samples), true)
          case None => Row(id, payload, null, null, null, null, false)
        }
      }
    }(enc)
  }

  /** Synthesize the per-document WAV asset table (Multimodal.schema). */
  def audioAssets(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "n_chars")
    val enc = ExpressionEncoder(RowEncoder.encoderFor(Multimodal.schema))
    docs.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val nc = r.getLong(1)
        val n = sampleCount(id, nc)
        val samples = Array.tabulate(n)(i => sampleAt(id, i))
        val wav = encodeWavPcm16(samples)
        Row(id, "audio", wav,
          Row("audio/wav", null, null, wav.length.toLong))
      }
    }(enc)
  }

  private val metaSchema = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("sample_rate", LongType, nullable = true),
    StructField("channels", LongType, nullable = true),
    StructField("n_samples", LongType, nullable = true),
    StructField("ok", BooleanType, nullable = false),
  ))

  /** HEADER-ONLY per-asset metadata (peekFormat over the scan) — the
    * inventory/accounting pass; `n_samples` is per-channel frames, as
    * everywhere. No sample data is read. */
  def audioMeta(assets: DataFrame): DataFrame = {
    val enc = ExpressionEncoder(RowEncoder.encoderFor(metaSchema))
    assets.select("asset_id", "payload").mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        peekFormat(r.getAs[Array[Byte]]("payload")) match {
          case Some((rate, ch, frames)) => Row(id, rate.toLong, ch.toLong, frames, true)
          case None                     => Row(id, null, null, null, false)
        }
      }
    }(enc)
  }

  private val statsSchema = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("sample_rate", LongType, nullable = true),
    StructField("channels", LongType, nullable = true),
    StructField("n_samples", LongType, nullable = true),
    StructField("sum_abs", LongType, nullable = true),
    StructField("peak", LongType, nullable = true),
    StructField("ok", BooleanType, nullable = false),
  ))

  /** Decode every asset and emit exact amplitude statistics. Integer sums
    * only (sum of |sample|, max |sample|) so the oracle comparison never
    * touches a float rounding convention. `n_samples` is per-channel
    * frames (= total values for mono, matching the oracle); sum_abs and
    * peak run over ALL channels' interleaved values. */
  def audioStats(assets: DataFrame): DataFrame = {
    val enc = ExpressionEncoder(RowEncoder.encoderFor(statsSchema))
    assets.select("asset_id", "payload").mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        decodeWav(r.getAs[Array[Byte]]("payload")) match {
          case Some(d) =>
            var sumAbs = 0L
            var peak = 0L
            var i = 0
            while (i < d.samples.length) {
              val av = math.abs(d.samples(i).toLong)
              sumAbs += av
              if (av > peak) peak = av
              i += 1
            }
            Row(id, d.sampleRate.toLong, d.channels.toLong,
              d.frames.toLong, sumAbs, peak, true)
          case None =>
            Row(id, null, null, null, null, null, false)
        }
      }
    }(enc)
  }
}
