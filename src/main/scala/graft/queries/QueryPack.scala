package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine capability exposed through the driver contract:
  * a named DataFrame query over the testdata tables plus (when the
  * semantics are ANSI-SQL-expressible) a DuckDB oracle that must
  * hash-match it row-for-row.
  */
final case class GQ(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryPack {
  /** Full registry; SparkEntry derives `queries`/`oracleSql` from this. */
  def all: Seq[GQ] =
    Relational.qs ++ LakeQueries.qs ++ TextOps.qs ++ CurationOps.qs ++
      DedupOps.qs ++ SimilarityOps.qs ++ SketchOps.qs ++ GraphOps.qs ++
      MultimodalOps.qs

  /** Collision-safe, identifier-safe rendering of an sfDir hash:
    * unsigned (math.abs(Int.MinValue) is NEGATIVE, and a minus sign
    * breaks unquoted SQL identifiers built from it). */
  private[queries] def dirTag(sfDir: String): String =
    java.lang.Integer.toUnsignedString(sfDir.hashCode)

  /** Per-(gate, sfDir) scratch table path, dropped clean — the one
    * definition every lake-backed gate query uses. */
  private[queries] def scratchDir(
      s: SparkSession, sfDir: String, name: String): String = {
    val p = s"target/graft_scratch/${name}_${dirTag(sfDir)}"
    graft.core.LakeTable.drop(s, p)
    p
  }

  /** The ONE SQL-catalog gate bootstrap (lake12/lake23): register the
    * gate catalog, ensure the namespace, drop + return the fresh
    * per-sfDir table name. */
  private[queries] def catalogTable(
      s: SparkSession, sfDir: String, name: String): String = {
    s.conf.set("spark.sql.catalog.graft_gate", "graft.sql.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_gate.warehouse",
      "target/graft_warehouse_gate")
    val tbl = s"graft_gate.db.${name}_${dirTag(sfDir)}"
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_gate.db")
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    tbl
  }

  /** Run `bg` (typically an independent table's commit chain) on a
    * background thread while `fg` runs on this one; returns both
    * results. The background future is ALWAYS awaited before this
    * returns — including when `fg` throws — so a failing foreground
    * never leaves lake commits running unsupervised (their cached
    * inputs could be unpersisted, or the session stopped, from under
    * them mid-commit). Sound only when the two chains write DISJOINT
    * tables and any plan the foreground reads over a
    * background-written table was pinned beforehand (`snapshot()`
    * resolves its live-file list eagerly on the driver). Each chain
    * DECLARES the base paths it commits to and the helper refuses
    * overlapping resolved declarations — the declarations are the
    * reviewed contract, so a gate edit that moves a write between
    * chains must touch the declaration to pass. (The actual write
    * set is not instrumented: chains spawn their own futures on
    * pooled threads, so a thread-local recorder inside the commit
    * path could not attribute writes to a chain reliably.) */
  private[queries] def overlapping[A, B](
      bgWrites: Seq[String], fgWrites: Seq[String])(
      bg: => A)(fg: => B): (A, B) = {
    import scala.concurrent.Await
    import scala.concurrent.duration.Duration
    def canon(p: String) = new java.io.File(p).getCanonicalPath
    val clash = bgWrites.map(canon).toSet intersect fgWrites.map(canon).toSet
    require(clash.isEmpty,
      s"overlapping: both chains declare writes to ${clash.mkString(", ")} " +
        "— the concurrent-chain helper is sound only for disjoint tables")
    val f = org.apache.spark.sql.graftshim.SubmitterFuture(bg)
    val r = try fg catch {
      // bounded: the await exists so a failing foreground never leaves
      // lake commits running unsupervised, but a HUNG background job
      // must not block the foreground error forever — after the bound
      // the original failure propagates (the bg future, if it ever
      // completes, writes only its own declared tables)
      case t: Throwable =>
        try Await.ready(f, scala.concurrent.duration.Duration(10, "min"))
        catch { case _: java.util.concurrent.TimeoutException => () }
        throw t
    }
    (Await.result(f, Duration.Inf), r)
  }
}
