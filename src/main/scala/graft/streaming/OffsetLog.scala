package graft.streaming

import org.apache.spark.sql.SparkSession

/** The ONE parser for this package's offset wire format
  * (`{"instant":"…"}`, written by [[CommitOffset]]/[[CdcOffset]]):
  * checkpoint recovery in [[CommitTailStream]], [[GraftCdcSource]],
  * and the maintenance services' offset-log read
  * ([[MicroBatch.Batch.ts]]) all go through it,
  * so a change to the offset JSON shape cannot silently break one
  * copy of a hand-duplicated regex. */
private[streaming] object OffsetLog {

  def instantOf(json: String): String =
    "\"instant\"\\s*:\\s*\"([^\"]*)\"".r.findFirstMatchIn(json) match {
      case Some(m) => m.group(1)
      case None => throw new IllegalArgumentException(s"bad offset: $json")
    }

  /** A batch's end-offset commit instant, read back from the streaming
    * checkpoint's offset log (`offsets/<batchId>`). The engine writes
    * this file BEFORE invoking foreachBatch, so it always exists
    * there, and a replayed batch re-reads the identical pinned value —
    * the property the maintenance services' preCombine stamp
    * ([[MicroBatch.Batch.ts]]) relies on. Parsing is restricted to the per-SOURCE offset lines
    * (OffsetSeqLog layout: line 1 = version, line 2 = metadata JSON,
    * lines 3+ = one serialized offset per source) and exactly one
    * source offset is asserted: these queries have one source, and a
    * silent second one would make "the" end offset ambiguous. */
  def endOffsetInstant(
      spark: SparkSession, checkpoint: String, batchId: Long): String = {
    val p = new org.apache.hadoop.fs.Path(checkpoint, s"offsets/$batchId")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(p)
    val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val sourceLines = txt.split("\n").drop(2).filter(_.nonEmpty)
    require(sourceLines.length == 1,
      s"expected exactly one source offset in $p, got ${sourceLines.length}")
    instantOf(sourceLines.head)
  }
}
