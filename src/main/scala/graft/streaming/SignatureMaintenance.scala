package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.LakeTable

/** Streaming perceptual-signature maintenance: the CDC feed of a
  * media payload lake table drives a checkpointed `foreachBatch`
  * reconcile of a 64-bit signature store and a hamming-verified pairs
  * table — the STREAMING form of the maintained perceptual dedup
  * (batch gates mm7/mm10/mm12 run the same reconcile once per
  * increment; this runs it continuously), and the multimodal sibling
  * of [[NearDupMaintenance]] (text MinHash bands there; a 64-bit
  * perceptual signature here, so candidates verify straight off the
  * stored halves with no payload re-read).
  *
  * SIGNATURE-GENERIC like the reconcile it wraps: `hashFn` is the
  * modality — image aHash by default; the audio envelope and video
  * majority-fold hashes plug in unchanged, so ONE service
  * implementation maintains any of the three stores.
  *
  * Per micro-batch (CDC rows: `_change_op` i/u/d, after images +
  * `_before` struct): deleted docs' signatures leave the store and
  * upserted payloads are re-hashed (O(churn) decodes — the only
  * payload bytes ever read); candidates come from the churn's hamming
  * bands probed against the store; the pairs table reconciles in one
  * mixed tombstone+upsert commit carrying the batch id in its tag
  * ([[ExactlyOnce]]). The reconcile is STATE-based (recomputes
  * churn-adjacent pairs from current signatures), so a crash-window
  * replay converges: the signature upsert is keyed and
  * same-timestamped (idempotent), and "pairs tag present ⇒ sigs
  * batch committed" holds because the signature write is durable
  * BEFORE the tagged pairs commit
  * ([[graft.queries.MultimodalOps.phashReconcile]]'s write order).
  *
  * Bootstrap: `startCommit="0"` replays every current payload as an
  * insert, so batch 0 builds the store and pairs from the same code
  * path — no separate backfill job (the [[MvMaintenance]] convention).
  *
  * PreCombine stamps are the batch's end-offset docs commit instant
  * (pinned in the checkpoint offset log) — one version domain with
  * batch-run reconciles, monotonic across checkpoint resets, the
  * [[SearchIndexMaintenance]] convention. */
object SignatureMaintenance {

  /** JSONL decode census sidecar inside the checkpoint dir: one
    * `{"batch":…,"instant":…,"hashed":…,"dropped":…}` line per
    * non-empty micro-batch. The ACTIVE segment; once it reaches
    * [[MaxSegmentLines]] it rolls to `_decode_stats.<k>.jsonl`
    * (k = 1, 2, …) and a fresh active segment starts, so the
    * per-batch rewrite is bounded at [[MaxSegmentLines]] lines
    * forever — a months-long 10 s-cadence service never pays
    * cumulatively quadratic IO on an ever-growing file. */
  val DecodeStatsFile = "_decode_stats.jsonl"

  /** Lines per sidecar segment before it rolls. Tens of bytes per
    * line, so a full segment is ~50 KiB — the per-batch rewrite cost
    * ceiling. */
  private[graft] val MaxSegmentLines = 512

  private def sealedSegment(checkpoint: String, k: Int) =
    new org.apache.hadoop.fs.Path(checkpoint, s"_decode_stats.$k.jsonl")

  /** Sealed segment indices present, ascending. */
  private def sealedIndices(
      fs: org.apache.hadoop.fs.FileSystem,
      checkpoint: String): Seq[Int] = {
    val dir = new org.apache.hadoop.fs.Path(checkpoint)
    val Seg = """_decode_stats\.(\d+)\.jsonl""".r
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName).collect {
      case Seg(k) => k.toInt
    }.sorted
  }

  /** Crash recovery for the active segment's rewrite-through-temp: the
    * swap is delete(p) then rename(tmp → p), so a crash BETWEEN the
    * two leaves only the temp — the complete intended content. Adopt
    * it as the current file before any read or overwrite; otherwise
    * the next batch would read prior = "" and its create(tmp,
    * overwrite) would destroy the orphan, silently losing the whole
    * active segment. One writer per checkpoint by construction, so
    * observing (no p, tmp present) can only be that crash window. */
  private def recoverOrphanTmp(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path,
      tmp: org.apache.hadoop.fs.Path): Unit =
    if (!fs.exists(p) && fs.exists(tmp) && !fs.rename(tmp, p))
      throw new IllegalStateException(s"decode-stats tmp recovery failed: $p")

  /** Append one census line through the checkpoint's Hadoop
    * FileSystem — NOT java.nio (local paths only; an hdfs://, s3a://,
    * or even file:/ checkpoint would throw inside foreachBatch AFTER
    * the tagged pairs commit and kill every micro-batch). Checksum
    * filesystems reject append(), so this is read + rewrite-through-
    * temp + rename (the [[ExactlyOnce]] marker pattern) with orphaned-
    * temp adoption ([[recoverOrphanTmp]]): the sidecar is never
    * observable half-written and no crash window loses committed
    * lines. A full active segment ([[MaxSegmentLines]]) is first
    * SEALED by an atomic rename to the next `_decode_stats.<k>.jsonl`,
    * so the rewrite is O(MaxSegmentLines) per batch, not O(lines so
    * far). One writer per checkpoint by construction, so the fixed
    * temp name cannot race. Exposed private[graft] for the rotation
    * spec, which drives > MaxSegmentLines appends directly. */
  private[graft] def appendStatsLine(
      spark: SparkSession, checkpoint: String, line: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(checkpoint, DecodeStatsFile)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new org.apache.hadoop.fs.Path(
      p.getParent, s".$DecodeStatsFile.tmp")
    recoverOrphanTmp(fs, p, tmp)
    var prior =
      if (!fs.exists(p)) ""
      else {
        val in = fs.open(p)
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      }
    // roll a full active segment: one atomic rename seals it under the
    // next sealed index (a crash right after the rename just leaves an
    // empty-prior active segment — nothing is lost or duplicated)
    if (prior.count(_ == '\n') >= MaxSegmentLines) {
      val next = sealedIndices(fs, checkpoint).lastOption.getOrElse(0) + 1
      if (!fs.rename(p, sealedSegment(checkpoint, next)))
        throw new IllegalStateException(
          s"decode-stats segment roll failed: $p -> $next")
      prior = ""
    }
    val out = fs.create(tmp, true)
    try out.write((prior + line + "\n").getBytes("UTF-8"))
    finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    if (!fs.rename(tmp, p)) {
      fs.delete(tmp, false)
      throw new IllegalStateException(s"decode-stats rename failed: $p")
    }
  }

  /** Parse the sidecar back (for `CALL graft.system.decode_stats`):
    * (batch, instant, hashed, dropped) rows in write order — sealed
    * segments ascending, then the active segment (adopting an orphaned
    * temp first, so a read in the crash window still sees every
    * committed line). A torn line is skipped (lenient). Empty/missing
    * sidecar → no rows. */
  private[graft] def readStats(
      spark: SparkSession, checkpoint: String): Seq[(Long, Long, Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(checkpoint, DecodeStatsFile)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    recoverOrphanTmp(fs, p,
      new org.apache.hadoop.fs.Path(p.getParent, s".$DecodeStatsFile.tmp"))
    val files = sealedIndices(fs, checkpoint)
      .map(sealedSegment(checkpoint, _)) ++
      (if (fs.exists(p)) Seq(p) else Seq.empty)
    val Line =
      """\{"batch":(-?\d+),"instant":(-?\d+),"hashed":(-?\d+),"dropped":(-?\d+)\}""".r
    files.flatMap { f =>
      val in = fs.open(f)
      val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      txt.split("\n").toSeq.flatMap {
        case Line(b, i, h, d) => Some((b.toLong, i.toLong, h.toLong, d.toLong))
        case _ => None
      }
    }
  }

  def start(
      spark: SparkSession,
      payloadsPath: String,
      sigPath: String,
      pairsPath: String,
      checkpoint: String,
      payloadCol: String = "payload",
      hashFn: DataFrame => DataFrame =
        graft.multimodal.MediaDecoder.aHash(_, "doc_id", "payload"),
      startCommit: String = "0",
      // optional band-posting index (phashReconcile's postings
      // contract): create it keyed (blk, doc_id) with statsColumns
      // (blk, ts) and attach it from the service's FIRST batch
      postingsPath: Option[String] = None,
      // fold cadence: every N batches re-cluster the sig store (by
      // the hash halves), the posting index (by blk) and the pairs
      // table, folding the accumulated delta tails so the tiered MOR
      // merge and the col-stats file skipping stay O(churn) between
      // folds. 0 = off (tiny fixtures; an external table-service
      // cadence). The fold is a replace commit — OCC-safe, and a
      // crash mid-fold leaves the table unchanged.
      clusterEvery: Int = 0): StreamingQuery =
    NearDupMaintenance.startIndexService(spark, payloadsPath, payloadCol,
        sigPath, pairsPath, postingsPath, checkpoint, startCommit,
        clusterEvery, Seq("hash_hi", "hash_lo"), "blk") { b =>
      val stats = graft.queries.MultimodalOps.phashReconcile(
        b.upserted.withColumnRenamed(payloadCol, "payload"), b.deleted,
        b.sigs, b.pairs, b.ts, tag = b.tag, hashFn = hashFn,
        postings = b.postings)
      // per-batch decode census, appended to a checkpoint sidecar: the
      // service's drop-rate is a monitored number, not an invisible
      // one. Written AFTER the tagged pairs commit — a crash loses at
      // most the last line, never records a batch that didn't land; a
      // replayed batch (marker lost) appends a duplicate line, which an
      // aggregation by batch id collapses.
      appendStatsLine(spark, checkpoint,
        s"""{"batch":${b.batchId},"instant":${b.ts},""" +
          s""""hashed":${stats.hashed},"dropped":${stats.dropped}}""")
    }
}
