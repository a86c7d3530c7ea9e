package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.core.LakeTable

/** Per-query exactly-once batch guard, shared by the streaming sink
  * ([[graft.sql.GraftStreamSink]]), the foreachBatch maintenance
  * services (one guard per checkpoint, made by the service skeleton
  * [[MicroBatch.start]]) and `CALL maintain_search_index`.
  *
  * The batch id is recorded atomically WITH the data commit (the
  * commit's `tag`), so a crash between the commit and the sidecar
  * `_streaming/` marker write cannot replay the batch — the replay is
  * detected from the tag and skipped (repairing the marker). The
  * sidecar marker is just the fast path for the common clean-restart
  * case. `scope` keys the marker per query (checkpoint location or
  * query name): two independent queries on one table never swallow
  * each other's batch ids. */
final class ExactlyOnce(spark: SparkSession, scope: String) {

  val markerName: String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(scope.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    s"last_batch_$h"
  }

  private def markerPath(l: LakeTable) =
    new Path(l.basePath, s"_streaming/$markerName")

  def lastBatchId(l: LakeTable): Long = {
    val p = markerPath(l)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) -1L
    else {
      val in = fs.open(p)
      val txt = try new String(in.readAllBytes(), "UTF-8").trim
        finally in.close()
      // a torn/empty marker (crash mid-write) reads as absent: the
      // commit tag is the authoritative guard, and runOnce repairs
      // the marker on the next batch — never wedge the stream
      try txt.toLong catch { case _: NumberFormatException => -1L }
    }
  }

  def writeBatchId(l: LakeTable, id: Long): Unit = {
    val p = markerPath(l)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // write-then-rename: the marker must never be observable
    // half-written (fs.create truncates in place). One writer per
    // scope by construction, so the fixed tmp name cannot race.
    val tmp = new Path(p.getParent, s".$markerName.tmp")
    val out = fs.create(tmp, true)
    try out.write(id.toString.getBytes("UTF-8")) finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    if (!fs.rename(tmp, p)) {
      fs.delete(tmp, false)
      throw new IllegalStateException(s"marker rename failed for $p")
    }
  }

  /** Highest batch id recorded in a commit tag for this query — the
    * crash-window safety net. O(#active commits) driver-side JSON,
    * plus the archive checkpoint's folded tags: archiving is
    * user-triggerable at any cadence (CALL archive_commits), so the
    * tagged commit is NOT guaranteed to still be active on replay. */
  def committedBatchId(l: LakeTable): Long = {
    val active = l.timeline.commits().flatMap(_.tag).collect {
      case t if t.startsWith(markerName + "=") =>
        t.stripPrefix(markerName + "=").toLong
    }
    val archived = l.timeline.readCheckpoint()
      .flatMap(_.tags.get(markerName))
    (active ++ archived).foldLeft(-1L)(math.max)
  }

  /** The tag `apply` must record atomically with its commit. */
  def tagFor(batchId: Long): Option[String] = Some(s"$markerName=$batchId")

  /** Run `apply` at most once per batch id against `l`; returns false
    * when the batch was already applied (clean replay, or crash-window
    * replay detected from the commit tag — the marker is repaired and
    * nothing is re-applied). NON-idempotent batch logic (delta folds)
    * is safe inside. */
  def runOnce(l: LakeTable, batchId: Long)(apply: Option[String] => Unit): Boolean = {
    if (batchId <= lastBatchId(l)) return false
    if (committedBatchId(l) >= batchId) {
      writeBatchId(l, batchId)
      return false
    }
    apply(tagFor(batchId))
    writeBatchId(l, batchId)
    true
  }
}
