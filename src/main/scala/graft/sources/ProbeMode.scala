package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Deployment-mode selector for the per-modality index probes — the
  * policy face of BASELINE.md's measured probe economics, so an operator
  * (or a pipeline's config layer) does not have to re-derive the
  * crossover from the bench tables:
  *
  *  - **ScanCached** while the post-tombstone static side fits the
  *    cluster's storage-memory budget: the stream-static gate with
  *    `cacheStatic = true` has the lowest per-trigger constant of all
  *    three shapes (each trigger reads cached blocks; StaticCache keeps
  *    exactly one entry per index with fingerprint staleness).
  *  - **Scan** (uncached stream-static gate) while the corpus-
  *    proportional parquet re-scan per trigger is still cheaper than
  *    pruned mode's fixed multi-job constant — measured at sf0.1 ×1:
  *    scan 0.40–0.77 s/trigger vs pruned 1.27–1.72 s (r16 table).
  *  - **Pruned** (band-partitioned foreachBatch probe) once the index
  *    outgrows both: per-trigger cost is then O(batch keys) row groups
  *    and independent of corpus size — the only shape that holds at
  *    100 TB (measured flat ×1→×50; scan mode grew 2.3–3.6×).
  *
  * The inputs are planning-time FS stats (no job): the index
  * directory's on-disk bytes.
  *
  * **Crossover resolution** (r17, closing the "documented KNOB" caveat):
  * the scan→pruned crossover is per-deployment hardware, so `recommend`
  * resolves it in precedence order —
  *  1. an explicit `crossoverBytes = Some(n)` argument (the caller's
  *     config layer has the final word);
  *  2. a MEASURED calibration file (`_graft_probe_calibration`) sitting
  *     at the index root, written by [[writeCalibration]] from
  *     `ScaleSmoke probe` numbers on the deployment's own hardware;
  *  3. the built-in 256 MiB default — deliberately conservative (the
  *     measured sf0.1 ×50 crossover sits near ~50 MiB on an idle local
  *     box; a real cluster's scan throughput is higher, pushing the
  *     crossover up).
  */
object ProbeMode {

  sealed trait Mode
  /** Stream-static gate, `cacheStatic = true` (StaticCache registry). */
  case object ScanCached extends Mode
  /** Stream-static gate, uncached per-trigger parquet re-scan. */
  case object Scan extends Mode
  /** Band-partitioned foreachBatch batch probe (BandBuckets layout). */
  case object Pruned extends Mode

  /** The built-in fallback crossover (see the object scaladoc's
    * resolution order). */
  val DefaultCrossoverBytes: Long = 256L << 20

  /** Per-index calibration marker, `key=value` lines; underscore prefix
    * keeps parquet readers away, same as `_graft_gen`. */
  val CalibrationFile = "_graft_probe_calibration"

  /** Derive a crossover from the numbers `ScaleSmoke probe` measures on
    * the deployment's hardware: the scan gate's per-trigger cost is
    * linear in index bytes (it re-reads the corpus), the pruned probe's
    * is a flat constant — so scan stops winning where
    * `scanSec * (bytes / measuredBytes) = prunedSec`. */
  def crossoverFrom(measuredBytes: Long, scanSecPerTrigger: Double,
      prunedSecPerTrigger: Double): Long = {
    require(measuredBytes > 0 && scanSecPerTrigger > 0 && prunedSecPerTrigger > 0,
      s"calibration inputs must be positive, got ($measuredBytes, " +
        s"$scanSecPerTrigger, $prunedSecPerTrigger)")
    (measuredBytes * (prunedSecPerTrigger / scanSecPerTrigger)).toLong
  }

  /** Persist a measured crossover next to the index (temp-then-atomic-
    * rename, the GenStamp marker discipline). `note` records provenance
    * — box, date, ScaleSmoke invocation — so the number stays auditable. */
  def writeCalibration(s: SparkSession, indexDir: String,
      crossoverBytes: Long, note: String = ""): Unit = {
    require(crossoverBytes >= 0, s"crossoverBytes must be >= 0, got $crossoverBytes")
    val dir = new Path(indexDir)
    val fs = TableWrite.fs(s, dir)
    if (!fs.exists(dir)) fs.mkdirs(dir)
    val body = s"crossover_bytes=$crossoverBytes\n" +
      (if (note.nonEmpty) s"note=${note.replace('\n', ' ')}\n" else "")
    TableWrite.replaceFile(s, new Path(dir, CalibrationFile), body.getBytes("UTF-8"))
  }

  /** The calibrated crossover for `indexDir`, if one was ever measured
    * and persisted. A malformed file fails loudly — a deployment that
    * wrote a calibration meant it to bind. */
  def readCalibration(s: SparkSession, indexDir: String): Option[Long] = {
    val p = new Path(indexDir, CalibrationFile)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val len = fs.getFileStatus(p).getLen.toInt
      val buf = new Array[Byte](len)
      val in = fs.open(p)
      try in.readFully(0, buf) finally in.close()
      val kv = new String(buf, "UTF-8").linesIterator
        .map(_.trim).filter(_.nonEmpty)
        .map { l => val i = l.indexOf('='); (l.take(i), l.drop(i + 1)) }.toMap
      Some(kv.getOrElse("crossover_bytes",
        sys.error(s"probe calibration at $p has no crossover_bytes line")).toLong)
    }
  }

  private def resolveCrossover(s: SparkSession, indexDir: String,
      crossoverBytes: Option[Long]): Long =
    crossoverBytes
      .orElse(readCalibration(s, indexDir))
      .getOrElse(DefaultCrossoverBytes)

  /** Recommend a probe shape for the index under `indexDir`.
    *
    * `cacheBudgetBytes`: how much storage memory the deployment is
    * willing to pin for THIS index (0 disables ScanCached).
    * `crossoverBytes`: index size above which the pruned probe's fixed
    * constant beats the per-trigger re-scan; `None` resolves through
    * the calibration file then the built-in default (object scaladoc).
    *
    * Pruned additionally requires the band-partitioned layout to exist
    * and be in sync with its signature table (GenStamp) — a diverged or
    * absent layout falls back to Scan, matching what the probe itself
    * would do (OpenProbe.open is the variant that HEALS instead).
    * `primaryTable` names the signature table the layout is derived
    * from (`cbuckets`, `hashes`, or `grouped`). */
  def recommend(s: SparkSession, indexDir: String, primaryTable: String,
      cacheBudgetBytes: Long, crossoverBytes: Option[Long] = None): Mode =
    sizeTier(s, indexDir, cacheBudgetBytes, crossoverBytes) match {
      case Pruned =>
        val layoutUsable = GenStamp.prunedProbeOk(s,
          s"$indexDir/$primaryTable", s"$indexDir/pbands",
          "probe-mode selector", "the family's rebuild*ProbeLayout")
        if (layoutUsable) Pruned else Scan
      case m => m
    }

  /** The SIZE-ECONOMICS tier alone — where the index's bytes put it on
    * the cached/scan/pruned ladder, ignoring whether the probe layout
    * is actually usable. [[recommend]] layers the layout check on top;
    * OpenProbe uses the raw tier to decide whether a diverged/absent
    * layout is worth HEALING (it is exactly when the tier is Pruned). */
  private[graft] def sizeTier(s: SparkSession, indexDir: String,
      cacheBudgetBytes: Long, crossoverBytes: Option[Long] = None): Mode = {
    require(cacheBudgetBytes >= 0, s"cacheBudgetBytes must be >= 0, got $cacheBudgetBytes")
    val xover = resolveCrossover(s, indexDir, crossoverBytes)
    require(xover >= 0, s"crossoverBytes must be >= 0, got $xover")
    val bytes = graft.plans.Scale.sourceBytes(s, indexDir)
    // strict guard (r16 advice): an empty / not-yet-written index
    // (bytes = 0) must not satisfy a DISABLED cache budget (0 means
    // "never pin") — and pinning nothing buys nothing, so a 0-byte
    // index takes the Scan path regardless of budget
    if (cacheBudgetBytes > 0 && bytes > 0 && bytes <= cacheBudgetBytes) ScanCached
    else if (bytes <= xover) Scan
    else Pruned
  }
}
