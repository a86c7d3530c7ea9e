package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Merge policy against the stored record, mirroring the payload classes
  * the reference selects between (`JavaClientHive2Hudi.java:145-148`):
  * - [[MergePolicy.OverwriteWithLatest]]: incoming always replaces
  *   (OverwriteWithLatestAvroPayload);
  * - [[MergePolicy.LatestByOrdering]]: larger preCombine value wins,
  *   incoming wins ties (DefaultHoodieRecordPayload).
  */
sealed trait MergePolicy
object MergePolicy {
  case object OverwriteWithLatest extends MergePolicy
  case object LatestByOrdering extends MergePolicy
}

/** A keyed, versioned, partitioned COW lake table over Parquet with a
  * JSON commit timeline — the Spark-native re-implementation of the
  * lake-table semantics the reference demos exercise (SURVEY.md §1.1).
  *
  * Meta columns (cf. Hudi's `_hoodie_*`): `_commit_time`,
  * `_record_key`, `_partition_path` — stored in every managed file;
  * rewritten-but-unchanged rows keep their original `_commit_time`, so
  * incremental queries see only genuinely changed records.
  *
  * Scale design:
  * - the timeline is the only source of truth for the live file set:
  *   no recursive storage listing on any read path;
  * - upsert/delete rewrite only files that actually contain matching
  *   keys (one key semi-join against the candidate files, candidates
  *   driver-pruned to the batch's partitions first) — classic COW;
  * - matching is partition-scoped `(record_key, partition_path)` like
  *   Hudi's default (non-global) index, so writes shuffle only the
  *   incoming batch + affected-file rows, never the whole table;
  * - writes salt hot partitions across `writeSaltBuckets` files
  *   (SURVEY §4 small-file bin packing);
  * - single-writer: concurrent commits on one instant fail atomically.
  */
final class LakeTable private[core] (
    val spark: SparkSession,
    val basePath: String,
    val timeline: Timeline) {
  import LakeTable._
  import spark.implicits._

  lazy val props: TableProps = timeline.readProps()

  private def fs: FileSystem =
    new Path(basePath).getFileSystem(spark.sessionState.newHadoopConf())

  private def keyCol: Column = KeyGen.recordKey(props.primaryKey)
  private def ppCol: Column =
    KeyGen.partitionPath(props.partitionFields, props.hiveStylePartitioning)

  /** Current table schema (data columns only, no meta): the last
    * commit's written schema merged with declared-but-not-yet-written
    * additions (ALTER TABLE ADD COLUMN before the next write) and
    * declared column comments. */
  def schema: StructType = {
    val declared =
      if (props.schemaDdl.nonEmpty) StructType.fromDDL(props.schemaDdl)
      else new StructType()
    timeline.commits().lastOption match {
      case None =>
        // fully-archived timeline (every commit folded into the
        // checkpoint): the newest schema lives on the checkpoint — a
        // schemaless-declared table would otherwise silently read its
        // live files with a meta-columns-only schema (same fallback
        // schemaAsOf already has)
        if (declared.nonEmpty) declared
        else timeline.readCheckpoint().filter(_.schemaDdl.nonEmpty)
          .map(c => StructType.fromDDL(c.schemaDdl)).getOrElse(declared)
      case Some(c) =>
        // an empty commit recorded before any schema exists (e.g. a
        // no-op delete on a fresh schemaless table) stores ddl = "" —
        // fromDDL("") throws, which would brick the table forever
        val written = if (c.schemaDdl.nonEmpty) StructType.fromDDL(c.schemaDdl)
          else new StructType()
        val comments = declared.map(f => f.name -> f).toMap
        val merged = written.map { f =>
          comments.get(f.name).flatMap(_.getComment())
            .map(f.withComment).getOrElse(f)
        }
        val extra = declared.filterNot(f => written.fieldNames.contains(f.name))
        StructType(merged ++ extra)
    }
  }

  private def withMetaSchema(dataSchema: StructType): StructType = {
    val meta = MetaCols.map(StructField(_, StringType, nullable = true))
    val del = if (props.tableType == "mor")
      Seq(StructField(DeletedCol, org.apache.spark.sql.types.BooleanType,
        nullable = true))
    else Seq.empty
    StructType(meta ++ del ++ dataSchema.fields)
  }

  private def emptyDf(s: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s)

  // ---------------------------------------------------------------- reads

  private def isMor: Boolean = props.tableType == "mor"

  /** Snapshot view: latest version of every live record (meta columns
    * included; `.drop(LakeTable.MetaCols: _*)` for data only).
    *
    * COW: the live files already hold exactly the latest versions.
    * MOR: live files include base + delta files with multiple versions
    * per key and possibly tombstones — merge on read: arg-max per
    * (key, partition) by (preCombine, commit time), drop tombstones.
    */
  def snapshot(asOf: Option[String] = None): DataFrame = {
    val live = timeline.liveFiles(asOf)
    val s = withMetaSchema(schemaAsOf(asOf))
    if (live.isEmpty) return emptyDf(s)
    val raw = readLive(live, s)
    if (isMor) morMerged(raw, live) else raw
  }

  /** Commit actions whose staged batch is key-deduped by the write
    * path (given a preCombine field) — the only commits the
    * single-commit read fast path may trust. File-ADOPTION commits
    * (catalog-sync mirrors, and any future pointer-adoption kind) can
    * stamp files from MANY source commits under one instant whose
    * rows span multiple versions per key — an allowlist fails safe to
    * the full merge for those. "replace" is deliberately ABSENT:
    * [[migrateExternal]] rewrites adopted foreign rows VERBATIM (no
    * merge, original per-file commit times kept) under one replace
    * commit, so a replace instant does not imply one version per key
    * even though restore/cluster/overwrite replaces happen to be
    * merged or deduped. */
  private val SingleVersionActions = Set(
    "commit", "deltacommit", "upsert", "insert", "delete",
    "update", "merge")

  /** [[mergeOnRead]] with the SINGLE-COMMIT fast path: when every live
    * file belongs to one instant AND that commit's batch was
    * key-deduped by the write path ([[SingleVersionActions]]), every
    * (key, partition) has at most one row, so the merge windows are
    * identities and only the tombstone filter applies — a freshly-
    * compacted or one-load MOR table reads as a plain scan with zero
    * merge shuffles. Guarded to managed files + a declared preCombine
    * (no-preCombine batches are not deduped, and adopted foreign files
    * may carry duplicate keys); an instant whose action metadata is
    * archived also falls back to the full merge. */
  /** Is `c` a commit whose added rows are key-deduped (at most one
    * version per (key, partition))? For the write allowlist the flag
    * defaults true (see [[SingleVersionActions]]); a REPLACE commit
    * qualifies only when it explicitly recorded dedupedKeys=true
    * (cluster/zorder/restore rewrite a merged snapshot and stamp it;
    * [[migrateExternal]] adopts foreign rows verbatim and does not). */
  private def singleVersionCommit(c: CommitMeta): Boolean =
    (SingleVersionActions.contains(c.action) &&
      c.dedupedKeys.getOrElse(true)) ||
    (c.action == "replace" && c.dedupedKeys.contains(true))

  private def morMerged(raw: DataFrame, live: Seq[FileEntry]): DataFrame = {
    val single = props.preCombineField.isDefined &&
      !live.exists(_.external) && {
        val instants = live.iterator.map(_.instant).toSet
        instants.size == 1 && timeline.commits()
          .find(_.instant == instants.head)
          // dedupedKeys=true means the batch is unique per (key,
          // partition): either the pre-combine window ran, or the
          // caller passed combine=false and the flag records its HARD
          // uniqueness contract on its word (see the applyDeltas
          // scaladoc). Only dedupedKeys=false — a combine=true batch
          // written without a preCombine field — forces the full merge.
          .exists(singleVersionCommit)
      }
    if (!single)
      tieredMerge(live, raw.schema).getOrElse(mergeOnRead(raw))
    else if (raw.columns.contains(DeletedCol))
      raw.filter(!coalesce(col(DeletedCol), lit(false))).drop(DeletedCol)
    else raw
  }

  /** Rows a tiered merge may hold in its delta tail before falling
    * back to the full windowed merge: the tail's key set is collected
    * into a (broadcast) hash join, so it must stay executor-memory
    * sized. Beyond this a read is post-bulk-ingest, where compaction
    * — not read-side merging — is the right tool. */
  private def tieredMergeMaxTailRows: Long =
    spark.conf.getOption("spark.graft.morTieredMaxTailRows")
      .map(_.toLong).getOrElse(2000000L)

  /** Below this many total rows the plain windowed merge is already
    * trivial and the tiered plan's extra scans/joins cost more than
    * they save — small stores (streaming fixtures, fresh services)
    * keep the simple plan. */
  private def tieredMergeMinRows: Long =
    spark.conf.getOption("spark.graft.morTieredMinRows")
      .map(_.toLong).getOrElse(65536L)

  /** TIERED MOR merge — the steady-state read path for a maintained
    * store (base era + small delta tail). [[mergeOnRead]] resolves
    * versions with TWO window functions partitioned by key, i.e. a
    * full shuffle+sort of the whole table per read; for a 10⁸-row
    * store with a 10³-row tail that is a corpus-order cost on every
    * micro-batch. When the live set is exactly
    *
    *   one key-deduped base instant  +  a bounded newer tail
    *
    * only keys PRESENT IN THE TAIL can have competing versions, so:
    * base rows whose key is absent from the tail pass through
    * untouched (minus stored tombstones), and the full merge runs
    * over (tail ∪ matching base rows) — O(tail) rows. The base side
    * is two hash-join scans against the tail's key set (AQE
    * broadcasts it — the tail-row gate bounds its size), never a
    * shuffle or sort of the base.
    *
    * Soundness: the base instant is the MINIMUM live instant, so no
    * key has versions older than base; [[singleVersionCommit]]
    * guarantees at most one version per key inside base; every other
    * live version of a tail key is in the tail by construction.
    * Partial compactions rewrite whole overlap-closed file groups
    * ([[overlapClosure]]), so a surviving min-instant file shares no
    * keys with later compacted output — those later files simply ride
    * the tail. Falls back (None) whenever the shape doesn't hold:
    * external files, archived base action, un-deduped base, or a tail
    * larger than [[tieredMergeMaxTailRows]]. `s` is the caller's
    * read schema (as-of-aware — never recomputed here). */
  private def tieredMerge(
      live: Seq[FileEntry], s: StructType): Option[DataFrame] = {
    if (live.exists(_.external)) return None
    val instants = live.map(_.instant).distinct
    if (instants.size < 2) return None
    val b = instants.min
    val cs = timeline.commits()
    val bc = cs.find(_.instant == b).getOrElse(return None)
    if (!singleVersionCommit(bc)) return None
    val (base, tail) = live.partition(_.instant == b)
    val tailInstants = tail.map(_.instant).distinct
    var tailRows = 0L
    tailInstants.foreach { i =>
      cs.find(_.instant == i) match {
        case Some(c) => tailRows += c.totalRecords
        case None => return None // archived — size unknown
      }
    }
    if (tailRows > tieredMergeMaxTailRows) return None
    if (bc.totalRecords + tailRows < tieredMergeMinRows) return None
    val baseDf = readLive(base, s)
    val tailDf = readLive(tail, s)
    val joinCols = Seq(RecordKeyCol, PartitionPathCol)
    val tailKeys = tailDf.select(joinCols.map(col): _*).distinct()
    val merged = mergeOnRead(
      baseDf.join(tailKeys, joinCols, "leftsemi").unionByName(tailDf))
    val pass0 = baseDf.join(tailKeys, joinCols, "left_anti")
    val pass =
      if (pass0.columns.contains(DeletedCol))
        pass0.filter(!coalesce(col(DeletedCol), lit(false))).drop(DeletedCol)
      else pass0
    Some(merged.unionByName(pass))
  }

  /** Read a set of live file entries with full meta columns: managed
    * files carry them in-file; external (bootstrapped) files get them
    * synthesized. Every read path (snapshot, pruned snapshot,
    * incremental, catalog scan) funnels through here so external files
    * never surface with null meta columns. */
  private[graft] def readLive(live: Seq[FileEntry], s: StructType): DataFrame = {
    val (ext, managed) = live.partition(_.external)
    val parts = Seq(
      if (managed.nonEmpty) Some(readManaged(managed, s))
      else None,
      if (ext.nonEmpty) Some(readExternal(ext)) else None
    ).flatten
    parts.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Plan the managed-file scan from TIMELINE METADATA, with no
    * filesystem listing on the read path: committed data files are
    * immutable, so their FileStatus (the length Spark needs for split
    * planning) is cached process-wide on first touch and the scan is
    * built over an in-memory [[org.apache.spark.sql.execution
    * .datasources.FileIndex]]. `spark.read.parquet(paths*)` instead
    * re-stats every path per read and — above Spark's
    * parallel-discovery threshold (32 paths) — fires a DISTRIBUTED
    * listing job per scan: measured ~0.5-1 s of pure job-scheduling
    * overhead per read on a multi-thousand-file table, which
    * dominated micro-batch reconciles. At cluster scale this is the
    * standard metadata-table read design (Hudi/Delta/Iceberg): the
    * object store is never listed to plan a query. */
  private def readManaged(entries: Seq[FileEntry], s: StructType): DataFrame = {
    import org.apache.spark.sql.execution.datasources.{
      FileIndex, HadoopFsRelation, PartitionDirectory}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Expression
    val statuses = entries.map(f => LakeTable.statCached(fs, abs(f.path)))
    val index = new FileIndex {
      override def rootPaths: Seq[Path] = Seq(new Path(basePath))
      override def listFiles(
          partitionFilters: Seq[Expression],
          dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
        Seq(PartitionDirectory(InternalRow.empty, statuses.toArray))
      override def inputFiles: Array[String] =
        statuses.map(_.getPath.toString).toArray
      override def refresh(): Unit = ()
      override def sizeInBytes: Long = statuses.map(_.getLen).sum
      override def partitionSchema: StructType = StructType(Nil)
    }
    spark.baseRelationToDataFrame(HadoopFsRelation(
      index, StructType(Nil), s, None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** The MOR read-side merge, per-payload ordered like Hudi's
    * DefaultHoodieRecordPayload (JavaClientHive2Hudi.java:145-148):
    *
    * 1. a key-only tombstone (no preCombine value — Hudi's
    *    deleteKeys-style unconditional delete) erases every version
    *    written at-or-before its commit; later writes re-insert;
    * 2. among surviving versions the LARGEST preCombine value wins
    *    (commit time breaks ties, nulls sort last) — so a late-arriving
    *    update with a smaller ordering value loses to the stored row,
    *    exactly the payload semantics, not commit order;
    * 3. a tombstone CARRYING a preCombine value competes in (2): if it
    *    wins the key is dropped, if a data version out-orders it the
    *    delete is ignored (late delete loses).
    */
  private def mergeOnRead(raw: DataFrame): DataFrame = {
    val byKey = Window.partitionBy(col(RecordKeyCol), col(PartitionPathCol))
    val hasDel = raw.columns.contains(DeletedCol)
    val isDel: Column =
      if (hasDel) coalesce(col(DeletedCol), lit(false)) else lit(false)
    val uncondDel: Column = props.preCombineField match {
      case Some(f) => isDel && col(f).isNull
      case None => isDel
    }
    // (1) positional erase: drop everything at-or-before the last
    // unconditional tombstone of the key
    val alive = raw
      .withColumn("__delWm", max(when(uncondDel, col(CommitTimeCol))).over(byKey))
      .filter(col("__delWm").isNull || col(CommitTimeCol) > col("__delWm"))
      .drop("__delWm")
    // (2)+(3) payload ordering among survivors; the "overwrite"
    // payload ranks by commit time alone (incoming always replaced at
    // write time on COW; on MOR the same rule applies at read time)
    val ordCol: Column =
      if (props.morPayload == "overwrite") lit(0)
      else props.preCombineField.map(col).getOrElse(lit(0))
    val pick = byKey.orderBy(ordCol.desc_nulls_last, col(CommitTimeCol).desc)
    val picked = alive.withColumn("__rn", row_number().over(pick))
      .filter(col("__rn") === 1).drop("__rn")
    if (hasDel) picked.filter(!coalesce(col(DeletedCol), lit(false))).drop(DeletedCol)
    else picked
  }

  /** Schema as of an instant (exact for time travel): the schema the
    * last commit at-or-before `asOf` recorded; current merged view for
    * None. */
  def schemaAt(asOf: Option[String]): StructType = schemaAsOf(asOf)

  private def schemaAsOf(asOf: Option[String]): StructType = asOf match {
    case None => schema // current view: includes declared-only additions
    case Some(t) =>
      timeline.commits().filter(_.instant <= t).lastOption
        .map(c => if (c.schemaDdl.nonEmpty) StructType.fromDDL(c.schemaDdl)
          else new StructType())
        // no active commit at-or-before t: t sits between the archive
        // boundary and the first active commit — the checkpoint's schema
        .orElse(timeline.readCheckpoint().filter(_.schemaDdl.nonEmpty)
          .map(c => StructType.fromDDL(c.schemaDdl)))
        .getOrElse(new StructType())
  }

  /** Metadata-bootstrapped foreign files carry no meta columns
    * (BootstrapDemo.scala:207-232): synthesize them at read time. */
  private def readExternal(files: Seq[FileEntry]): DataFrame =
    files.groupBy(_.instant).toSeq.sortBy(_._1).map { case (instant, fc) =>
      val df = spark.read.parquet(fc.map(f => abs(f.path)): _*)
      df.withColumn(CommitTimeCol, lit(instant))
        .withColumn(RecordKeyCol, keyCol)
        .withColumn(PartitionPathCol, ppCol)
        .select((MetaCols ++ df.columns.toSeq).map(col): _*)
    }.reduce(_.unionByName(_, allowMissingColumns = true))

  /** Snapshot with driver-side partition pruning: only files whose
    * partition-path string satisfies `pred` are planned — zero I/O for
    * pruned partitions, O(#live files) driver work. */
  def snapshotWhere(pred: String => Boolean): DataFrame =
    snapshotPruned(pred, None)

  /** Point-lookup (serving-path) snapshot: plans only the files whose
    * TIMELINE-stored record-key bounds may contain one of `keys` —
    * file-level skipping from commit metadata alone, zero footer I/O,
    * zero listing beyond the timeline read (the read-side analog of
    * the write probe's zero-I/O bounds pass). Files without stored
    * bounds (external/bootstrap) are kept conservatively.
    *
    * MOR-sound ONLY for rows of the probed keys: every version of a
    * probed key lives in files whose bounds contain its key string,
    * so the pruned set carries the key's full version history and the
    * merge winner is unchanged. Rows of OTHER keys that happen to
    * survive in kept files may merge against an incomplete version
    * set — callers MUST re-filter the result to `keys` (the SQL scan
    * path re-applies its predicates above the scan automatically). */
  def snapshotForKeys(
      keys: Set[String], partPred: String => Boolean = _ => true): DataFrame =
    snapshotPruned(partPred, Some(keys))

  private def snapshotPruned(
      partPred: String => Boolean, keys: Option[Set[String]]): DataFrame = {
    val live = timeline.liveFiles(None)
      .filter(f => partPred(f.partition))
      .filter(f => keys.forall(ks => mayContainKeys(f, ks)))
    val s = withMetaSchema(schema)
    if (live.isEmpty) return emptyDf(s)
    // same shape as snapshot(): external files get synthesized meta
    // columns; MOR merges on read. Partition pruning before the merge
    // is sound because the merge is per (key, partition) — a
    // partition's versions all live under that partition's paths.
    val raw = readLive(live, s)
    if (isMor) morMerged(raw, live) else raw
  }

  /** Col-stats file-skipping snapshot for reconcile-style slice reads
    * (the read-side use of the lake13/lake23 clustering + footer-stats
    * machinery): plans only the files whose stored column min/max may
    * satisfy every predicate in `preds`, and returns how many files
    * were skipped so callers can LOG the pruning they got.
    *
    * MOR soundness: delta files are ALWAYS read (pruning a delta could
    * drop a tombstone or a newer version and flip a merge winner);
    * only BASE files (non-delta: the last clustering/restore replace
    * era) are pruned. The result is then exact for every key whose
    * merge winner satisfies `preds`, under the keyed-store write
    * discipline both signature stores follow: (a) base files hold at
    * most one version per key, with every newer version in delta
    * files — true after any [[cluster]]/[[restoreTo]], whose replace
    * removes all prior files — and (b) preCombine stamps never
    * decrease across commits for a key (commit-instant / batch-seq
    * stamps), so a read delta row can never lose to a pruned base row.
    * A key whose winner is in a pruned base file simply does not
    * appear — correct, because that winner cannot satisfy `preds`.
    * On COW every live file holds only current winners, so all files
    * prune. An unclustered MOR table (all delta) degrades to a full
    * scan with zero skips — same rows, no pruning, never wrong.
    *
    * `preds` cost is O(values × files) driver-side string/long
    * compares — fine for reconcile-sized IN-lists (10³-10⁵ values);
    * callers with larger sets should skip pruning (empty preds = full
    * snapshot). */
  /** Cheap driver-side feasibility check for [[snapshotSkipping]]:
    * pruning can only bite when base files actually CARRY col-stats
    * for `column` (declared statsColumns at write time) and there are
    * enough of them for a skip to matter. Callers use this to decide
    * whether collecting a driver-side probe key set is worth its jobs
    * — a store that cannot prune should take the lazy full-scan path
    * with zero extra work. */
  def skippingWorthwhile(column: String, minFiles: Int = 2): Boolean =
    timeline.liveFiles(None).count(f => !f.delta &&
      f.colStats.exists(_.contains(column))) >= minFiles

  def snapshotSkipping(preds: Seq[ColPred]): (DataFrame, SkipStats) = {
    val live = timeline.liveFiles(None)
    val (alwaysRead, prunable) =
      if (isMor) live.partition(_.delta)
      else (Seq.empty[FileEntry], live)
    // eq/IN predicates are checked by BINARY SEARCH over the sorted
    // value list (any value within [min, max] ⟺ the first value ≥ min
    // is ≤ max): O(files × log values) driver work instead of
    // O(files × values) — the difference between planning a 10⁵-key
    // probe over 10⁵ clustered files in milliseconds vs minutes.
    val sortedEq: Map[ColPred, Array[String]] = preds.iterator
      .filter(p => p.op == "eq" && p.values.length > 8)
      .map { p =>
        val arr = p.values.toArray
        if (p.isLong) java.util.Arrays.sort(arr,
          Ordering.by((s: String) => s.toLong))
        else java.util.Arrays.sort(arr, LakeTable.Utf8Ordering)
        p -> arr
      }.toMap
    def eqHit(p: ColPred, arr: Array[String], mn: String, mx: String): Boolean = {
      def cmp(a: String, b: String): Int =
        if (p.isLong) java.lang.Long.compare(a.toLong, b.toLong)
        else utf8Cmp(a, b)
      // first value >= mn
      var lo = 0; var hi = arr.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cmp(arr(mid), mn) < 0) lo = mid + 1 else hi = mid
      }
      lo < arr.length && cmp(arr(lo), mx) <= 0
    }
    def mayMatch(f: FileEntry): Boolean = preds.forall { p =>
      sortedEq.get(p) match {
        case Some(arr) =>
          f.colStats.flatMap(_.get(p.column)) match {
            case Some(Seq(tag, mn, mx)) if (tag == "l") == p.isLong =>
              eqHit(p, arr, mn, mx)
            case _ => true
          }
        case None => mayMatchColStats(f, Seq(p))
      }
    }
    val kept = prunable.filter(mayMatch)
    val entries = alwaysRead ++ kept
    val s = withMetaSchema(schema)
    val stats = SkipStats(
      kept = kept.size, skipped = prunable.size - kept.size,
      deltaRead = alwaysRead.size)
    if (entries.isEmpty) return (emptyDf(s), stats)
    val raw = readLive(entries, s)
    (if (isMor) morMerged(raw, entries) else raw, stats)
  }

  /** Containment test for read-side file skipping: a file can hold
    * key k only if its stored utf8 key bounds cover k AND (for
    * bucket-indexed tables) k hashes to the file's bucket.
    * Conservative on missing metadata (no bounds / pre-index file →
    * might contain anything). */
  private[graft] def mayContainKeys(f: FileEntry, keys: Set[String]): Boolean = {
    val boundsOk: String => Boolean = (f.minKey, f.maxKey) match {
      case (Some(mn), Some(mx)) =>
        k => utf8Cmp(k, mn) >= 0 && utf8Cmp(k, mx) <= 0
      case _ => _ => true
    }
    val bucketOk: String => Boolean = f.bucket match {
      case Some(b) if props.bucketIndexBuckets > 0 => k => bucketOfKey(k) == b
      case _ => _ => true
    }
    keys.exists(k => boundsOk(k) && bucketOk(k))
  }

  /** Can file `f` hold a row satisfying every predicate in `preds`,
    * judging ONLY by its stored col-stats? Conservative: a file with
    * no stats for a predicate's column, or a storage-type/predicate-
    * type mismatch, passes that predicate. COW/read-optimized only —
    * pruning by DATA predicates below the MOR merge could drop an old
    * version whose newer delta survives and flip the merge winner. */
  private[graft] def mayMatchColStats(
      f: FileEntry, preds: Seq[ColPred]): Boolean =
    preds.forall { p =>
      f.colStats.flatMap(_.get(p.column)) match {
        case Some(Seq(tag, mn, mx)) if (tag == "l") == p.isLong =>
          def cmp(a: String, b: String): Int =
            if (p.isLong) java.lang.Long.compare(a.toLong, b.toLong)
            else utf8Cmp(a, b)
          p.op match {
            case "eq" => p.values.exists(v => cmp(v, mn) >= 0 && cmp(v, mx) <= 0)
            case "gt" => p.values.exists(v => cmp(mx, v) > 0)
            case "ge" => p.values.exists(v => cmp(mx, v) >= 0)
            case "lt" => p.values.exists(v => cmp(mn, v) < 0)
            case "le" => p.values.exists(v => cmp(mn, v) <= 0)
            case _ => true
          }
        case _ => true
      }
    }

  /** Driver-side mirror of [[bucketExpr]] (pmod(xxhash64(key), n)) —
    * must stay arithmetic-identical to the Column form or bucketed
    * point lookups would skip the wrong files. */
  private def bucketOfKey(k: String): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(k),
      org.apache.spark.sql.types.StringType, 42L)
    val n = props.bucketIndexBuckets.toLong
    (((h % n) + n) % n).toInt
  }

  /** Incremental query: records written in `(begin, end]` —
    * begin-exclusive / end-inclusive exactly like the reference
    * (`IncrementalQuery.scala:48-53`), with optional partition-path
    * glob (`INCR_PATH_GLOB`, e.g. `dt=2022-11*`). */
  def incremental(
      beginInstant: String,
      endInstant: Option[String] = None,
      pathGlob: Option[String] = None): DataFrame = {
    val s = withMetaSchema(schemaAsOf(endInstant))
    if (isMor) {
      // MOR delta files hold multiple versions and tombstones; the
      // changed-records view must be the POST-MERGE latest state of
      // keys changed in the range (exactly the rows a COW rewrite
      // would have carried) — raw delta rows would surface null-data
      // tombstones and superseded intermediate versions to CDC
      // consumers. Merge needs every version of a changed
      // (key, partition), and a key present in an in-range file
      // forces (partition, key-range) overlap with any file holding
      // its other versions — so pruning to OVERLAPPING files is
      // sufficient (same argument as subset compaction): a 1-row
      // delta on a large table merges a few files, not the table.
      val all = timeline.liveFiles(endInstant)
        .filter(f => pathGlob.forall(g => globMatch(g, f.partition)))
      val changedByPart = all.filter(_.instant > beginInstant)
        .groupBy(_.partition) // indexed: not O(files × changed) driver work
      def touches(f: FileEntry): Boolean =
        changedByPart.getOrElse(f.partition, Nil).exists { c =>
          (c.minKey, c.maxKey, f.minKey, f.maxKey) match {
            case (Some(cm), Some(cM), Some(fm), Some(fM)) =>
              utf8Lte(cm, fM) && utf8Lte(fm, cM)
            case _ => true // no stats → cannot prune
          }
        }
      val needed = all.filter(touches)
      // merged output drops the tombstone marker — match it when empty
      if (needed.isEmpty)
        return emptyDf(StructType(s.filterNot(_.name == DeletedCol)))
      return mergeOnRead(readLive(needed, s))
        .filter(col(CommitTimeCol) > lit(beginInstant) &&
          endInstant.map(e => col(CommitTimeCol) <= lit(e)).getOrElse(lit(true)))
    }
    val files = timeline.liveFiles(endInstant)
      .filter(_.instant > beginInstant)
      .filter(f => pathGlob.forall(g => globMatch(g, f.partition)))
    if (files.isEmpty) return emptyDf(s)
    // readLive synthesizes _commit_time (= adopting commit's instant)
    // for external files, so bootstrap-adopted records participate in
    // the (begin, end] filter instead of nulling out
    readLive(files, s)
      .filter(col(CommitTimeCol) > lit(beginInstant) &&
        endInstant.map(e => col(CommitTimeCol) <= lit(e)).getOrElse(lit(true)))
  }

  /** Change-data-capture read: the NET row-level changes in
    * `(begin, end]` — one row per changed (key, partition) with
    * `_change_op` (`i` insert / `u` update / `d` delete), the
    * after-image data columns, and a `_before` struct holding the
    * begin-state image (null for inserts; after-image columns are
    * null for deletes). The Hudi `cdc` query-type analog
    * (incremental reads in the reference surface only upserted rows,
    * IncrementalQuery.scala:48-53; CDC adds deletes + before images).
    *
    * I/O is proportional to CHURN, not table size. Candidate keys
    * come from the files added or removed in the range; the
    * before/after images read only files whose (partition, key-range)
    * overlaps a churn file. Any file holding a version of a candidate
    * key necessarily overlaps the churn file containing that key at
    * the key itself, so both images are complete for every candidate —
    * the same pruning argument as the MOR incremental read. Untouched
    * keys carried through a COW rewrite survive the join but are
    * dropped by the `_commit_time > begin` change filter. Like time
    * travel, the range's removed files must not have been cleaned yet.
    *
    * Replace commits in the range (restore / clustering / z-order)
    * rewrite rows PRESERVING their original commit times, so the
    * commit-time filter alone would miss a restore's net changes
    * (e.g. v2 → back-to-v1 looks older than `begin`). When the range
    * contains a replace commit, rows additionally qualify by VALUE
    * difference against the before image — a pure reorganization
    * (clustering) still emits nothing, a restore emits the real
    * state delta. Such rows carry their version's original write
    * time in `_commit_time`, not the replace instant. A key absent
    * from the before image is a net insert regardless of its commit
    * time (a restore can resurrect rows deleted before `begin`).
    */
  def cdc(begin: String, end: Option[String] = None): DataFrame = {
    // the epoch sentinel ("0", a streaming bootstrap) predates every
    // commit by construction, so its before-state is empty WITHOUT
    // consulting the timeline — on an archived table liveFiles(Some("0"))
    // would refuse (history folded), permanently bricking a stream
    // whose batch 0 replays; any other pre-boundary begin still fails
    // with the archived-history error (its data is genuinely gone —
    // savepoint the baseline to pin it)
    val liveB =
      if (begin == "0") Seq.empty[FileEntry]
      else timeline.liveFiles(Some(begin))
    val liveE = timeline.liveFiles(end)
    val ePaths = liveE.map(_.path).toSet
    val churn = liveE.filter(_.instant > begin) ++
      liveB.filterNot(f => ePaths.contains(f.path))
    val dataFields = schemaAsOf(end).fieldNames.toSeq
    // begin predating the first commit (a bootstrap CDC read, e.g. a
    // stream's batch 0) has no begin-era schema — shape the (all-null)
    // before struct like the end schema so consumers and the streaming
    // source's declared schema see one stable struct type
    val beginSchema = {
      val s = schemaAsOf(Some(begin))
      if (s.isEmpty) schemaAsOf(end) else s
    }
    val outSchema = cdcSchemaFor(schemaAsOf(end), beginSchema)
    if (churn.isEmpty) return emptyDf(outSchema)
    // churn indexed by partition: the touched-file check is then
    // O(files × churn-in-partition), not O(files × churn) — at large
    // file counts the flat scan would be quadratic driver work
    val churnByPart = churn.groupBy(_.partition)
    def touched(side: Seq[FileEntry]): Seq[FileEntry] = side.filter { f =>
      churnByPart.getOrElse(f.partition, Nil).exists { c =>
        (c.minKey, c.maxKey, f.minKey, f.maxKey) match {
          case (Some(cm), Some(cM), Some(fm), Some(fM)) =>
            utf8Lte(cm, fM) && utf8Lte(fm, cM)
          case _ => true // no stats → cannot prune
        }
      }
    }
    // candidate (key, partition) set: every key with a version in a
    // churn file — O(churn) rows, shuffled (never driver-collected)
    val cand = readLive(churn, withMetaSchema(schemaAsOf(end)))
      .select(RecordKeyCol, PartitionPathCol).distinct()
    def image(files: Seq[FileEntry], sch: StructType): DataFrame = {
      if (files.isEmpty)
        return emptyDf(sch).join(cand, Seq(RecordKeyCol, PartitionPathCol),
          "left_semi")
      // semi-join BEFORE the MOR merge: it filters whole keys (every
      // version of a kept key survives), so the merge window only
      // processes candidate keys
      val raw = readLive(files, sch)
        .join(cand, Seq(RecordKeyCol, PartitionPathCol), "left_semi")
      if (isMor) mergeOnRead(raw) else raw
    }
    val beforeFields = beginSchema.fieldNames.toSeq
    val before = image(touched(liveB), withMetaSchema(beginSchema))
      .select(col(RecordKeyCol).as("__bkey"), col(PartitionPathCol).as("__bpp"),
        struct(beforeFields.map(col): _*).as(BeforeImageCol))
    val after = image(touched(liveE), withMetaSchema(schemaAsOf(end)))
    val joined = after.join(before,
      after(RecordKeyCol) === col("__bkey") &&
        after(PartitionPathCol) === col("__bpp"),
      "full_outer")
    val changedAfter = col(CommitTimeCol).isNotNull &&
      col(CommitTimeCol) > lit(begin) &&
      end.map(e => col(CommitTimeCol) <= lit(e)).getOrElse(lit(true))
    // replace commits carry over original row commit times — fall back
    // to a value diff so a restore's net changes aren't missed (and a
    // pure reorganization still emits nothing); compare the fields
    // both schemas share, null-safe
    val replaceInRange = timeline.commits().exists(c =>
      c.instant > begin && end.forall(c.instant <= _) && c.action == "replace")
    val valueChanged = if (!replaceInRange) lit(false) else {
      val common = dataFields.filter(beforeFields.contains)
      !struct(common.map(col): _*).eqNullSafe(
        struct(common.map(f => col(BeforeImageCol).getField(f)): _*))
    }
    joined
      // after-side null ⇒ net delete; before-side null ⇒ net insert;
      // else rows (re)written in range, or value-changed across a
      // replace commit
      .filter(col(RecordKeyCol).isNull || col("__bkey").isNull ||
        changedAfter || valueChanged)
      .select(
        when(col("__bkey").isNull, lit("i"))
          .when(col(RecordKeyCol).isNull, lit("d"))
          .otherwise(lit("u")).as(ChangeOpCol) +:
          col(CommitTimeCol) +:
          coalesce(col(RecordKeyCol), col("__bkey")).as(RecordKeyCol) +:
          coalesce(col(PartitionPathCol), col("__bpp")).as(PartitionPathCol) +:
          (dataFields.map(col) :+
            when(col("__bkey").isNull, lit(null)).otherwise(col(BeforeImageCol))
              .as(BeforeImageCol)): _*)
  }

  /** The CDC read's output schema for ranges within the current schema
    * era — what a streaming CDC consumer declares up front. */
  def cdcSchema: StructType = cdcSchemaFor(schema, schema)

  private def cdcSchemaFor(endS: StructType, beginS: StructType): StructType =
    StructType(
      StructField(ChangeOpCol, StringType) +:
        (withMetaSchema(endS).filterNot(_.name == DeletedCol) :+
          StructField(BeforeImageCol, StructType(beginS.fields))))

  /** Newest-first commit listing (`call show_commits`,
    * IncrementalQuery.scala:36-37). */
  def commits(): DataFrame =
    timeline.commits().reverse
      .map(c => (c.instant, c.action, c.added.size, c.removed.size, c.totalRecords))
      .toDF("commit_time", "action", "files_added", "files_removed", "total_records")

  // --------------------------------------------------------------- writes

  /** Runs one write operation under an inflight fence marker
    * ([[Timeline.beginWrite]]) and guarantees the marker — and its
    * background heartbeat — is cleared however the operation exits.
    * doCommit clears it on the normal path; this finally backstops
    * every failure in between (a Spark job dying in the probe, merge,
    * or write phases). Without the backstop a routine failed write
    * would leave an immortal heartbeat keeping the orphaned marker
    * fresh, fencing every commit-tail stream on the table for the
    * writer JVM's lifetime. clearInflight is idempotent, so the double
    * clear on the success path is harmless. */
  private def withInflight[T](op: String => T): T = {
    val instant = timeline.beginWrite()
    try op(instant)
    finally timeline.clearInflight(instant)
  }

  /** Plain insert: preCombine-dedup the batch, append files. Does not
    * consult the existing snapshot (Hudi `insert` op); use [[upsert]]
    * for key-merge semantics. */
  def insert(df: DataFrame, tag: Option[String] = None): String = withInflight { instant =>
    val newSchema = unionSchema(df)
    val st =
      writeFiles(conform(withMeta(dedupBatch(df), instant), newSchema), instant)
    doCommit(instant, "insert", st, Seq.empty, newSchema, tag)
    instant
  }

  /** INSERT OVERWRITE / replace-table contents: one commit that adds
    * the new data and removes every previously-live file. */
  def overwrite(df: DataFrame): String = withInflight { instant =>
    val newSchema = unionSchema(df)
    val removed = timeline.liveFiles(None).map(_.path)
    val st =
      writeFiles(conform(withMeta(dedupBatch(df), instant), newSchema), instant)
    doCommit(instant, "replace", st, removed, newSchema,
      deduped = Some(props.preCombineField.isDefined))
    instant
  }

  /** Keyed upsert. COW (default): rewrite only files containing
    * matching keys; the merge policy decides incoming-vs-existing per
    * key. MOR (`type='mor'`): append the batch as a delta commit — no
    * read, no rewrite, O(batch) write cost (the streaming-ingest path,
    * TestStreamingMOR) — merged on read; inline compaction after
    * `compactDeltaCommits` delta commits. */
  def upsert(
      df: DataFrame,
      policy: MergePolicy = MergePolicy.LatestByOrdering,
      tag: Option[String] = None,
      combine: Boolean = true): String = {
    if (isMor) {
      // MOR merges at READ time, so the policy is table-level
      // (props.morPayload). The per-call default (LatestByOrdering)
      // always defers to the table; an EXPLICIT OverwriteWithLatest on
      // a 'latest' table would be silently ignored — fail loudly and
      // point at the table property instead.
      require(policy == MergePolicy.LatestByOrdering ||
        props.morPayload == "overwrite",
        "MOR merge policy is table-level; declare TBLPROPERTY " +
          "morPayload='overwrite' instead of a per-write policy")
      return morAppend(df, "deltacommit", tag, combine)
    }
    withInflight { instant =>
    val newSchema = unionSchema(df)
    // stats AND probe run on the cheap pre-dedup key projection
    // (statsOf), so the windowed batch materializes exactly once —
    // inside the merge-write job. No persist: it would cache-fill a
    // frame consumed by a single job.
    val incoming = conform(withMeta(maybeCombine(df, combine), instant), newSchema)
    val affected = phase("probe")(affectedFiles(incoming,
      statsOf = Some(df.select(keyCol.as(RecordKeyCol), ppCol.as(PartitionPathCol)))).files)
    // insert-only fast path: no affected files means no existing
    // versions to merge against — skip the merge window shuffle
    val merged = if (affected.isEmpty) incoming else {
      val existing = readAffected(affected, newSchema)
      val ordCol: Column = props.preCombineField.map(col).getOrElse(lit(0))
      val pick = policy match {
        case MergePolicy.OverwriteWithLatest =>
          Window.partitionBy(col(RecordKeyCol), col(PartitionPathCol))
            .orderBy(col(IncomingFlag).desc)
        case MergePolicy.LatestByOrdering =>
          Window.partitionBy(col(RecordKeyCol), col(PartitionPathCol))
            .orderBy(ordCol.desc, col(IncomingFlag).desc)
      }
      existing.withColumn(IncomingFlag, lit(0))
        .unionByName(incoming.withColumn(IncomingFlag, lit(1)))
        .withColumn("__rn", row_number().over(pick))
        .filter(col("__rn") === 1)
        .drop("__rn", IncomingFlag)
    }
    val st = writeFiles(merged, instant)
    doCommit(instant, "upsert", st, affected, newSchema, tag)
    instant
    }
  }

  /** Delete by key: `keys` needs the primary-key (and, for partitioned
    * tables, partition) columns. Partition-scoped like Hudi's default
    * index — a key arriving with a different partition value does not
    * match (pinned by the SparkSQLDemo merge-DELETE scenario,
    * SparkSQLDemo.scala:84).
    *
    * MOR ordering caveat: when the keys frame ALSO contains the
    * table's preCombine column (e.g. a caller passing full rows), the
    * MOR tombstone is written ORDERED — conditional on payload
    * ordering, so a stored row with a HIGHER preCombine value survives
    * the delete (Hudi's `HoodieRecordPayload` delete semantics under
    * `LatestByOrdering`). Keys frames projected to just pk+partition
    * delete unconditionally. Callers wanting the unconditional erase
    * must drop the preCombine column before calling. */
  def delete(keys: DataFrame, tag: Option[String] = None): String = {
    if (isMor) return morDelete(keys, tag)
    withInflight { instant =>
      // persist: the probe and (when the probe's key set overflowed
      // its driver cap) the write job's anti join are TWO consumers of
      // a caller-provided frame — a nondeterministic keys source
      // (sample/limit) must not evaluate differently between them, or
      // a key the probe saw could be missing from the anti join and
      // its row survive a commit that claims the delete applied
      val delKeys = keys
        .withColumn(RecordKeyCol, keyCol)
        .withColumn(PartitionPathCol, ppCol)
        .select(RecordKeyCol, PartitionPathCol).distinct().persist()
      try {
        val probe = affectedFiles(delKeys)
        val affected = probe.files
        if (affected.isEmpty) { // nothing matches: empty commit, no write
          doCommit(instant, "delete", Staged.empty, Seq.empty, schema, tag)
        } else {
          // anti join against the probe's LOCAL key relation when it
          // fit the driver cap (the write job then never re-reads the
          // key frame), else the cached frame broadcast-gated
          val anti = probeKeysDf(probe)
            .getOrElse(gatedBroadcast(delKeys, probe.batchRows))
          val kept = readAffected(affected, schema)
            .join(anti, Seq(RecordKeyCol, PartitionPathCol), "left_anti")
          val st = writeFiles(kept, instant)
          doCommit(instant, "delete", st, affected, schema, tag)
        }
        instant
      } finally {
        delKeys.unpersist()
        ()
      }
    }
  }

  /** Apply one SQL row-level operation's deltas in a single atomic
    * commit: `deleteIds` rows disappear, `upserts` rows are merged in
    * (an UPDATE arrives as its key in `deleteIds` plus the new row in
    * `upserts`). COW: one rewrite of the affected files — no
    * intermediate state between the delete and the insert halves.
    * MOR: one mixed delta commit ([[applyDeltasMor]]) — O(statement
    * rows) append, no compaction, no base rewrite.
    *
    * MOR semantic caveat (payload ordering, same as Hudi's log-append
    * DML): on MOR the upsert half competes with stored versions by
    * preCombine at READ time, so an upsert row whose preCombine is
    * LOWER than the stored version's silently loses — whereas the COW
    * leg rewrites statement-wins. Callers that lower preCombine values
    * get different results depending only on tableType. */
  def applyDeltas(
      deleteIds: Option[DataFrame],
      upserts: Option[DataFrame],
      action: String = "merge",
      tag: Option[String] = None,
      combine: Boolean = true): String = {
    if (isMor) return applyDeltasMor(deleteIds, upserts, tag, combine)
    // ONE cheap (key, partition) projection of the statement's rows
    // for the probe below (the statsOf pattern — the conformed frames
    // never materialize twice)
    val keyProj =
      (upserts.map(df => df.select(
        keyCol.as(RecordKeyCol), ppCol.as(PartitionPathCol))).toSeq ++
        deleteIds.map(_.select(RecordKeyCol, PartitionPathCol)).toSeq)
        .reduceOption(_.unionByName(_))
    withInflight { instant =>
    val newSchema = upserts.map(unionSchema).getOrElse(schema)
    val incoming = upserts.map(df =>
      conform(withMeta(maybeCombine(df, combine), instant), newSchema).persist())
    val delKeys = deleteIds.map(
      _.select(RecordKeyCol, PartitionPathCol).distinct().persist())
    val probe = keyProj.map(k => affectedFiles(k)).getOrElse(Probe(Seq.empty, 0L))
    val affected = probe.files
    // COW-only from here (the MOR leg returned applyDeltasMor above):
    // COW base files never carry the _deleted tombstone column, so no
    // tombstone handling belongs in this body — the earlier copy of it
    // here was unreachable and was removed.
    val existingRaw = readAffected(affected, newSchema)
    val existing = delKeys match {
      case Some(k) => existingRaw.join(gatedBroadcast(k, probe.batchRows),
        Seq(RecordKeyCol, PartitionPathCol), "left_anti")
      case None => existingRaw
    }
    val byKey = Window.partitionBy(col(RecordKeyCol), col(PartitionPathCol))
    // Same tiebreak chain as mergeOnRead (preCombine desc nulls-last,
    // then commit time) so tied/null-preCombine versions resolve
    // identically on both paths; IncomingFlag breaks the final tie in
    // favor of this statement's rows.
    val ordCol: Column = props.preCombineField.map(col).getOrElse(lit(0))
    val pickOrd = Seq(ordCol.desc_nulls_last, col(CommitTimeCol).desc)
    val merged = incoming match {
      case None =>
        existing.withColumn("__rn",
            row_number().over(byKey.orderBy(pickOrd: _*)))
          .filter(col("__rn") === 1)
          .drop("__rn")
      case Some(inc) if affected.isEmpty => inc
      case Some(inc) =>
        val pick = byKey.orderBy(pickOrd :+ col(IncomingFlag).desc: _*)
        existing.withColumn(IncomingFlag, lit(0))
          .unionByName(inc.withColumn(IncomingFlag, lit(1)))
          .withColumn("__rn", row_number().over(pick))
          .filter(col("__rn") === 1)
          .drop("__rn", IncomingFlag)
    }
    val st = writeFiles(merged, instant)
    incoming.foreach(_.unpersist())
    delKeys.foreach(_.unpersist())
    doCommit(instant, action, st, affected, newSchema, tag)
    instant
    }
  }

  /** The MOR fast path for [[applyDeltas]]: ONE delta commit carrying
    * the statement's tombstones AND its new row versions — no
    * pre-compaction, no base rewrite, O(statement rows) write cost
    * (Hudi's MOR write path lands updates and deletes as log records;
    * TestBatchMOR.java:39-52 is the reference's MOR DML). A key in
    * BOTH halves (the UPDATE shape) writes only its new row: the
    * positional-erase watermark is commit-granular, so a same-commit
    * tombstone would erase the new row too — the new version instead
    * competes with stored versions by payload ordering, exactly the
    * read-side merge rule. */
  private def applyDeltasMor(
      deleteIds: Option[DataFrame],
      upserts: Option[DataFrame],
      tag: Option[String],
      combine: Boolean = true): String = {
    val committed = withInflight { instant =>
      val newSchema = upserts.map(unionSchema).getOrElse(schema)
      val dataFields = newSchema.fields.toSeq
      val order = (MetaCols :+ DeletedCol) ++ dataFields.map(_.name)
      val data = upserts.map(df =>
        conform(withMeta(maybeCombine(df, combine), instant), newSchema)
          .withColumn(DeletedCol,
            lit(null).cast(org.apache.spark.sql.types.BooleanType))
          .select(order.map(col): _*))
      val tomb = deleteIds.map { ids =>
        val keep = upserts match {
          case Some(df) => ids.select(RecordKeyCol, PartitionPathCol).distinct()
            .join(df.select(keyCol.as(RecordKeyCol), ppCol.as(PartitionPathCol)),
              Seq(RecordKeyCol, PartitionPathCol), "left_anti")
          case None => ids.select(RecordKeyCol, PartitionPathCol).distinct()
        }
        keep
          .withColumn(CommitTimeCol, lit(instant))
          .withColumn(DeletedCol, lit(true))
          .select((MetaCols :+ DeletedCol).map(col) ++ dataFields.map(f =>
            lit(null).cast(f.dataType).as(f.name)): _*)
      }
      val out = (data.toSeq ++ tomb.toSeq).reduceOption(_.unionByName(_))
        .getOrElse(emptyDf(withMetaSchema(newSchema)))
      val st = writeFiles(out, instant)
      // "deltacommit" (not the statement's verb): the timeline's delta
      // flag is what routes these files through the read-side merge
      // and future compactions — same as Hudi, where MOR SQL DML lands
      // as deltacommits on the timeline. Tombstone-only commits are
      // key-distinct; mixed/data commits are deduped only when the
      // pre-combine window ran.
      doCommit(instant, "deltacommit", st, Seq.empty, newSchema, tag,
        deduped = Some(upserts.isEmpty || !combine ||
          props.preCombineField.isDefined))
      instant
    }
    // outside the fence: the delta commit is durable; compaction takes
    // (and fences) its own instant
    maybeInlineCompact()
    committed
  }

  /** One-commit upsert+delete (Hudi's combined upsert/deleteKeys
    * batch, JavaClientHive2Hudi.java:228-265 shape): `deleteKeys` rows
    * (primary-key [+ partition] columns) disappear, `df` rows merge
    * in; a key on both sides is an update. MOR: one mixed delta
    * append. COW: the [[applyDeltas]] single rewrite. The single
    * commit is what makes a `tag`-guarded reconciliation atomic
    * ([[graft.streaming.ExactlyOnce]]). */
  def upsertWithDeletes(
      df: DataFrame, deleteKeys: DataFrame,
      tag: Option[String] = None,
      combine: Boolean = true): String = {
    val ids = deleteKeys
      .withColumn(RecordKeyCol, keyCol)
      .withColumn(PartitionPathCol, ppCol)
      .select(RecordKeyCol, PartitionPathCol)
    applyDeltas(Some(ids), Some(df), "upsert", tag, combine)
  }

  /** Delete by pre-computed row identity (`_record_key`,
    * `_partition_path`) — the SQL row-level-operation path. MOR:
    * an O(ids) tombstone delta append. */
  def deleteByRowId(ids: DataFrame): String = {
    if (isMor)
      return applyDeltasMor(Some(ids), None, None)
    withInflight { instant =>
    // persist for the same two-consumer reason delete() documents:
    // the probe and the write job's anti join must see the SAME key
    // set even from a nondeterministic ids source
    val delKeys = ids.select(RecordKeyCol, PartitionPathCol)
      .distinct().persist()
    try {
      val probe = affectedFiles(delKeys)
      val affected = probe.files
      val anti = probeKeysDf(probe)
        .getOrElse(gatedBroadcast(delKeys, probe.batchRows))
      val kept = readAffected(affected, schema)
        .join(anti, Seq(RecordKeyCol, PartitionPathCol), "left_anti")
      val st = writeFiles(kept, instant)
      doCommit(instant, "delete", st, affected, schema)
      instant
    } finally delKeys.unpersist()
    }
  }

  /** DELETE FROM ... WHERE (SparkSQLDemo.scala:73-75). COW: rewrite
    * only files containing matches (parquet min/max prunes the probe).
    * MOR: evaluate the predicate on the merged view of the reachable
    * file groups and append O(matched rows) of tombstone delta rows —
    * no base file is rewritten (Hudi's SQL DELETE on MOR is
    * read-merged-view → upsert-shaped delete, TestBatchMOR.java:39-52
    * exercises exactly this cheap-update property). */
  def deleteWhere(cond: Column): String = {
    if (isMor) return morDelete(
      morPredicateMatches(cond)
        // distinct: a partition field that is ALSO a primary-key
        // column must not be selected twice (ambiguous reference)
        .select((props.primaryKey ++ props.partitionFields)
          .distinct.map(col): _*))
    withInflight { instant =>
      val affected = filesMatching(cond)
      val kept = readAffected(affected, schema)
        .filter(!coalesce(cond, lit(false)))
      val st = writeFiles(kept, instant)
      doCommit(instant, "delete", st, affected, schema)
      instant
    }
  }

  /** The merged-view rows a predicate DML statement targets on MOR:
    * read ONLY the file groups whose raw rows can satisfy `cond`
    * (row-accurate seed scan, then the per-partition key-range overlap
    * closure so every version of every candidate key is present),
    * merge on read, and filter with the predicate — so matching is
    * decided on CURRENT versions, never on stale ones. Cost is
    * O(reachable file groups) read, zero rewrite. */
  private def morPredicateMatches(cond: Column): DataFrame = {
    val live = timeline.liveFiles(None)
    val scope = overlapClosure(live, filesMatching(cond).toSet)
    val s = withMetaSchema(schema)
    val merged =
      if (scope.isEmpty) emptyDf(s) else mergeOnRead(readLive(scope, s))
    merged.filter(coalesce(cond, lit(false)))
  }

  /** UPDATE ... SET ... WHERE (SparkSQLDemo.scala:69-71). COW: rewrite
    * only files containing matches; updated rows take the new commit
    * time, untouched rows in rewritten files keep theirs (incremental-
    * query correctness). MOR: the matched CURRENT versions get `set`
    * applied and are appended as one delta commit — O(matched rows)
    * write, no base rewrite; the read-side merge picks them because
    * they tie on preCombine and carry the later commit time. (Like
    * Hudi's upsert-shaped SQL UPDATE, a SET that LOWERS the preCombine
    * value loses to the stored version on read — payload semantics.) */
  def updateWhere(cond: Column, set: Map[String, Column]): String = {
    // Hudi semantics: UPDATE cannot modify record-key or partition
    // columns ("Primary key or partition path cannot be updated") —
    // on COW the rewritten row would keep its old physical placement
    // and meta identity, and on MOR the new version would land under
    // a NEW (key, partition) leaving the old one alive. MERGE handles
    // partition-migrating updates (tombstone-old + insert-new).
    val immutableCols =
      (props.primaryKey ++ props.partitionFields).toSet.intersect(set.keySet)
    require(immutableCols.isEmpty,
      s"UPDATE cannot modify primary-key or partition columns " +
        s"(${immutableCols.mkString(", ")}); use MERGE for " +
        "partition-migrating updates")
    if (isMor) {
      val cur = schema
      val updated = morPredicateMatches(cond).select(
        cur.fieldNames.toSeq.map { c =>
          if (set.contains(c)) set(c).cast(cur(c).dataType).as(c) else col(c)
        }: _*)
      return morAppend(updated, "deltacommit")
    }
    withInflight { instant =>
    val affected = filesMatching(cond)
    val hit = coalesce(cond, lit(false))
    val cur = schema
    val updated = readAffected(affected, cur).select(
      (MetaCols ++ cur.fieldNames.toSeq).map {
        case CommitTimeCol =>
          when(hit, lit(instant)).otherwise(col(CommitTimeCol)).as(CommitTimeCol)
        case c if set.contains(c) =>
          when(hit, set(c).cast(cur(c).dataType)).otherwise(col(c)).as(c)
        case c => col(c)
      }: _*)
    val st = writeFiles(updated, instant)
    doCommit(instant, "update", st, affected, cur)
    instant
    }
  }

  /** MERGE INTO (SparkSQLDemo.scala:77-91): conditional matched-update
    * / matched-delete / not-matched-insert in one COW commit, with
    * `update set *` / `insert *` semantics. Clause conditions see the
    * source row's columns; update is checked before delete, matching
    * the demo's clause order.
    *
    * Matching is on the record key GLOBALLY (across partitions), like
    * Hudi's MergeIntoHoodieTableCommand which joins on the user's ON
    * condition and tags rows with their existing location — so the
    * demo's DELETE row for id=3 with a mismatched dt still deletes the
    * stored row (SparkSQLDemo.scala:84; SURVEY §5 pinned semantic).
    * An update whose source row carries a different partition value
    * migrates the record to the new partition.
    *
    * MOR semantic caveat: the MOR leg ([[mergeMor]]) is a delta
    * append, so matched-update rows compete with stored versions by
    * preCombine at READ time — a source row with a LOWER preCombine
    * than the stored version silently loses, while this COW leg
    * applies statement-wins rewrite semantics. Same divergence as
    * [[applyDeltas]]; keep source preCombine values monotonic if the
    * statement must win on both table types. */
  def merge(
      source: DataFrame,
      matchedUpdate: Option[Column] = None,
      matchedDelete: Option[Column] = None,
      notMatchedInsert: Option[Column] = None,
      tag: Option[String] = None): String = {
    if (isMor)
      return mergeMor(source, matchedUpdate, matchedDelete,
        notMatchedInsert, tag)
    withInflight { instant =>
    val cur = schema
    val srcRaw = withMeta(
      mergeSource(source, matchedUpdate, matchedDelete, notMatchedInsert),
      instant)
    val flagCols = Seq("__c_upd", "__c_del", "__c_ins")
    val src = conform(srcRaw, cur, extra = flagCols)
    // key-only probe off the RAW source (global matching ignores the
    // partition column, which sources may legitimately omit): the
    // windowed/conformed src is then materialized only by the
    // full-outer join below, not three times across probe + join
    val affected = affectedFiles(src, global = true,
      statsOf = Some(source.select(keyCol.as(RecordKeyCol),
        lit("").as(PartitionPathCol)))).files
    val existing = readAffected(affected, cur)

    val srcAliased = src.select(src.columns.toSeq.map(c => col(c).as(s"__s_$c")): _*)
    val joined = existing.join(srcAliased,
      col(RecordKeyCol) === col(s"__s_$RecordKeyCol"), "full_outer")

    val matched = col(RecordKeyCol).isNotNull && col(s"__s_$RecordKeyCol").isNotNull
    val onlySource = col(RecordKeyCol).isNull
    val doUpd = matched && col("__s___c_upd")
    val doDel = matched && col("__s___c_del")
    val doIns = onlySource && col("__s___c_ins")

    val route = when(doUpd, lit("u")).when(doDel, lit("d"))
      .when(doIns, lit("i"))
      .when(onlySource, lit("x")) // source-only, insert condition failed
      .otherwise(lit("k")) // unmatched existing or no clause applies
    val takeSource = col("__route") === "u" || col("__route") === "i"
    val out = joined.withColumn("__route", route)
      .filter(col("__route") =!= "d" && col("__route") =!= "x")
      .select((MetaCols ++ cur.fieldNames.toSeq).map { c =>
        (c match {
          case CommitTimeCol => when(takeSource, lit(instant)).otherwise(col(c))
          case _ => when(takeSource, col(s"__s_$c")).otherwise(col(c))
        }).as(c)
      }: _*)
      // a key live in SEVERAL partitions (legitimate under the
      // partition-scoped default index) matches the one source row once
      // per stored location, and every match takes the IDENTICAL source
      // image — collapse them, or the rewrite commits duplicate rows.
      // Safe key: stored rows are unique per (key, partition), updated
      // images share (key, partition, instant), and the MOR leg already
      // key-dedups in applyDeltasMor.
      .dropDuplicates(Seq(RecordKeyCol, PartitionPathCol, CommitTimeCol))
    val st = writeFiles(out, instant)
    doCommit(instant, "merge", st, affected, cur, tag)
    instant
    }
  }

  /** MERGE INTO on MOR as ONE mixed delta commit (no pre-compaction,
    * no base rewrite, O(statement rows) write — Hudi's MOR merge is
    * likewise log-append). Clause routing is decided against the
    * MERGED current view of the key-probed file groups (matching on
    * key GLOBALLY, same as the COW leg): matched updates and
    * qualifying inserts land as data rows that compete with stored
    * versions by payload ordering on read (upsert-shaped — unlike the
    * COW rewrite, a statement row with a LOWER preCombine loses to
    * the stored version, exactly as [[applyDeltas]] behaves on MOR);
    * matched deletes tombstone the STORED (key, partition); an update
    * whose source row carries a different partition value writes a
    * tombstone for the old partition plus the new row — the
    * partition-migration semantic (SparkSQLDemo.scala:84). */
  /** The merge source key-deduped GLOBALLY per key (largest
    * preCombine wins, stable-hash tie-break — Hudi keeps an arbitrary
    * one; the same key arriving under two partition values would
    * otherwise match a stored row twice and commit duplicate
    * versions) with the three clause conditions evaluated over the
    * RAW source columns (the demo's conditions reference source
    * fields like opt_type, so they must bind BEFORE the table-schema
    * projection). ONE definition shared by the COW and MOR merge legs
    * so dedup/clause semantics can never diverge between table
    * types. */
  private def mergeSource(
      source: DataFrame,
      matchedUpdate: Option[Column],
      matchedDelete: Option[Column],
      notMatchedInsert: Option[Column]): DataFrame = {
    val wKey = Window.partitionBy(keyCol).orderBy(
      (props.preCombineField.map(f => col(f).desc).toSeq :+
        xxhash64(struct(source.columns.toSeq.map(col): _*)).desc): _*)
    source.withColumn("__rn", row_number().over(wKey))
      .filter(col("__rn") === 1).drop("__rn")
      .withColumn("__c_upd", matchedUpdate.getOrElse(lit(true)))
      .withColumn("__c_del", matchedDelete.getOrElse(lit(true)))
      .withColumn("__c_ins", notMatchedInsert.getOrElse(lit(true)))
  }

  private def mergeMor(
      source: DataFrame,
      matchedUpdate: Option[Column],
      matchedDelete: Option[Column],
      notMatchedInsert: Option[Column],
      tag: Option[String]): String = {
    val cur = schema
    val srcFlagged =
      mergeSource(source, matchedUpdate, matchedDelete, notMatchedInsert)
        .withColumn("__src_key", keyCol)
        .withColumn("__src_pp", ppCol)
        .persist()
    try {
      // CURRENT stored (key, partition) of the source's keys: every
      // version of a probed key is inside the probed file set (the
      // bounds pass is conservative), so the merged view over it
      // resolves the source keys exactly; other keys' possibly-
      // incomplete merges are dropped by the key join below
      val probe = affectedFiles(
        srcFlagged.select(col("__src_key").as(RecordKeyCol),
          lit("").as(PartitionPathCol)), global = true)
      val liveByPath = timeline.liveFiles(None).map(f => f.path -> f).toMap
      val entries = probe.files.flatMap(liveByPath.get)
      val stored =
        (if (entries.isEmpty) emptyDf(withMetaSchema(cur))
         else mergeOnRead(readLive(entries, withMetaSchema(cur))))
          .select(col(RecordKeyCol).as("__st_key"),
            col(PartitionPathCol).as("__st_pp"))
      val matchedC = col("__st_key").isNotNull
      // update is checked before delete (the demo's clause order)
      val route = when(matchedC && col("__c_upd"), lit("u"))
        .when(matchedC && col("__c_del"), lit("d"))
        .when(!matchedC && col("__c_ins"), lit("i"))
        .otherwise(lit("k"))
      // prune the stored side to the source's keys BEFORE the outer
      // join: `stored` holds every (key, partition) in the probed file
      // groups — table-sized when the source's key bounds straddle
      // many files — while the outer join only ever consumes rows
      // matching a source key. The semi-join bounds the broadcast to
      // O(source keys × their partitions), so the batchRows gate
      // actually measures the relation it gates (force-broadcasting
      // the unpruned stored side off a 2-row source is a driver OOM
      // on a wide table).
      val srcKeys = srcFlagged.select(col("__src_key").as("__st_key")).distinct()
      val storedPruned = stored.join(
        gatedBroadcast(srcKeys, probe.batchRows), Seq("__st_key"), "leftsemi")
      val routed = srcFlagged
        .join(gatedBroadcast(storedPruned, probe.batchRows),
          col("__src_key") === col("__st_key"), "left_outer")
        .withColumn("__route", route)
        .persist()
      try {
        // new row versions as plain DATA columns (applyDeltasMor
        // stamps meta, conforms to the schema, key-dedups — a key
        // matched in several stored partitions routes to ONE new row)
        val upserts = routed.filter(col("__route").isin("u", "i"))
          .select(cur.fieldNames.toSeq.filter(source.columns.contains)
            .map(col): _*)
        val ids = routed.filter(col("__route") === "d" ||
            (col("__route") === "u" && !(col("__src_pp") <=> col("__st_pp"))))
          .select(col("__st_key").as(RecordKeyCol),
            col("__st_pp").as(PartitionPathCol))
        applyDeltasMor(Some(ids), Some(upserts), tag)
      } finally { routed.unpersist(); () }
    } finally { srcFlagged.unpersist(); () }
  }

  // ------------------------------------------------------------ internals

  private[graft] def abs(rel: String): String =
    if (Timeline.isAbsolutePath(rel)) rel else s"$basePath/$rel"

  /** table-relative form of a path that may be an absolute URI
    * (`file:///...`) coming from `_metadata.file_path`. basePath is
    * always fully qualified (see companion), so normalizing the
    * candidate through Hadoop Path makes the prefixes comparable. */
  private def relativize(p: String): String = {
    val q = new Path(p).toString
    if (q.startsWith(basePath + "/")) q.stripPrefix(basePath + "/") else q
  }

  private def readFilesWithMeta(files: Seq[String], dataSchema: StructType): DataFrame = {
    val s = withMetaSchema(dataSchema)
    if (files.isEmpty) emptyDf(s)
    else spark.read.schema(s).parquet(files.map(abs): _*)
  }

  /** Current rows of `affected` files, synthesizing meta columns for
    * external (bootstrapped) members — which thereby migrate to managed
    * files on this rewrite. */
  private def readAffected(affected: Seq[String], dataSchema: StructType): DataFrame = {
    val extByPath: Map[String, FileEntry] = timeline.liveFiles(None)
      .filter(_.external).map(f => f.path -> f).toMap
    val (ext, managed) = affected.partition(extByPath.contains)
    val m = readFilesWithMeta(managed, dataSchema)
    if (ext.isEmpty) m
    else m.unionByName(
      conform(readExternal(ext.map(extByPath)), dataSchema),
      allowMissingColumns = true)
  }

  /** Result of the write probe: files that may contain batch keys, the
    * batch row count observed by the probe's own stats job — free
    * (same aggregation), an upper bound on distinct keys used to
    * size-gate downstream key-set broadcasts — and, when the batch's
    * distinct (partition, key) set fit the driver cap, that exact set.
    * Callers reuse the set as a LOCAL relation for their anti joins,
    * removing a batch re-scan + distinct shuffle from the write job. */
  private case class Probe(files: Seq[String], batchRows: Long,
      keys: Option[Array[(String, String)]] = None)

  /** The probe's driver-held (partition, key) set as a broadcast LOCAL
    * relation shaped (RecordKeyCol, PartitionPathCol); None when the
    * batch overflowed the driver cap. */
  private def probeKeysDf(probe: Probe): Option[DataFrame] =
    probe.keys.map { ks =>
      broadcast(ks.toSeq.map { case (pp, k) => (k, pp) }
        .toDF(RecordKeyCol, PartitionPathCol))
    }

  /** Row-count ceiling for write-path key-set broadcast hints. Below it
    * the batch's key set is broadcast (the probe/anti joins avoid
    * shuffling the table-scan side — the common small-batch case);
    * above it the hint is withheld, because force-broadcasting a
    * backfill batch with tens of millions of distinct keys is a driver
    * OOM. Without the hint the join plans as a shuffle, and AQE may
    * still choose broadcast from its runtime size estimate. */
  private def keyBroadcastMaxRows: Long =
    spark.conf.getOption("spark.graft.keyBroadcastMaxRows")
      .map(_.toLong).getOrElse(2000000L)

  private def gatedBroadcast(keys: DataFrame, batchRows: Long): DataFrame =
    if (batchRows <= keyBroadcastMaxRows) broadcast(keys) else keys

  /** Files containing at least one row whose key matches the batch.
    * Partition-scoped by default (Hudi's non-global index): candidates
    * are driver-pruned to the batch's partitions and the match is on
    * (key, partition). `global = true` (MERGE) matches on key across
    * all partitions. One semi-join collecting only distinct paths. */
  private def affectedFiles(
      incoming: DataFrame, global: Boolean = false,
      statsOf: Option[DataFrame] = None): Probe = {
    val all = timeline.liveFiles(None)
    val (liveExt, live) = all.partition(_.external)
    // Long.MaxValue sentinel: the batch was never counted here, so the
    // caller's gatedBroadcast must NOT treat it as provably small — a
    // forced broadcast of an uncounted (possibly huge) key set is the
    // exact driver OOM the gate exists to prevent. With no live files
    // every downstream join is against an empty relation anyway.
    if (live.isEmpty && liveExt.isEmpty) return Probe(Seq.empty, Long.MaxValue)
    if (props.bucketIndexBuckets > 0)
      return bucketAffected(statsOf.getOrElse(incoming), live, liveExt, global)
    // ONE pass over the batch (treeAggregate: single-stage for small
    // batches, a tree-combine level when the batch has many input
    // partitions — either way no keyed shuffle of the data and the
    // driver receives O(cap)): per-partition record-key bounds + row
    // count AND, while the running distinct set fits `driverKeyCap`,
    // the batch's exact (partition, key) set. Min/max and the distinct
    // key set are dedup-invariant, so callers can supply a cheaper
    // pre-dedup key projection (statsOf) — the expensive conformed/
    // preCombine-windowed batch then materializes exactly once, inside
    // the merge-write job. The former shape here (stats shuffle job +
    // candidate-scan semi-join job) profiled at 1-2 s per commit at
    // sf0.1 — the dominant commit fixed cost; with the key set on the
    // driver the affected files resolve from parquet FOOTER metadata
    // below, normally running zero further jobs.
    val keySrc = statsOf.getOrElse(incoming)
    val cap = spark.conf.getOption("spark.graft.probe.driverKeyCap")
      .map(_.toInt).getOrElse(200000)
    // treeAggregate, not collect-of-partials: combining runs on the
    // EXECUTORS with the cap enforced at every merge, so an overflowing
    // many-task backfill batch drops its key sets before they ever
    // travel — the driver receives at most `cap` pairs regardless of
    // task count (a plain collect would hold O(tasks × cap) strings on
    // the driver just to discard them as overflowed).
    val (statsM, keysOpt) = probeStats(
      keySrc.select(col(PartitionPathCol), col(RecordKeyCol))
        .as[(String, String)].rdd.map { case (pp, k) => (pp, pp, k) },
      cap)
    val batchRows = statsM.valuesIterator.map(_._3).sum
    val batchStats: Map[String, (String, String)] =
      statsM.map { case (pp, (mn, mx, _)) => pp -> (mn, mx) }.toMap
    // candidate pruning (SURVEY §4 bloom/range-index analog):
    // partition scope first, then stored per-file key bounds vs the
    // batch's bounds for that partition — zero-I/O, driver-side
    def inScope(f: FileEntry): Boolean = {
      val partOk = global || props.partitionFields.isEmpty ||
        batchStats.contains(f.partition)
      if (!partOk) return false
      val bounds =
        if (global) {
          if (batchStats.isEmpty) None
          else Some((batchStats.values.map(_._1).min(Utf8Ordering),
            batchStats.values.map(_._2).max(Utf8Ordering)))
        } else batchStats.get(f.partition)
      (bounds, f.minKey, f.maxKey) match {
        case (Some((bMin, bMax)), Some(fMin), Some(fMax)) =>
          utf8Lte(fMin, bMax) && utf8Lte(bMin, fMax)
        case _ => true // no stats → cannot prune
      }
    }
    val candidates = live.filter(inScope)
    // external (bootstrapped) files carry no stored keys: any external
    // file in scope is conservatively affected (it is rewritten into
    // managed form on first touch — the reference's "upserts migrate
    // bootstrapped files" behavior)
    val extAffected = liveExt.collect { case f if inScope(f) => f.path }
    val joinKeys = if (global) Seq(RecordKeyCol) else Seq(RecordKeyCol, PartitionPathCol)
    /** Scan-probe fallback: key semi-join over `files`, broadcast side
      * either the driver-held key set (local relation — no batch
      * re-scan) or the batch key projection. */
    def scanProbe(files: Seq[FileEntry]): Seq[String] = {
      val keySide = keysOpt match {
        case Some(ks) =>
          broadcast(ks.toSeq.map { case (pp, k) => (k, pp) }
            .toDF(RecordKeyCol, PartitionPathCol)
            .select(joinKeys.map(col): _*).distinct())
        case None =>
          gatedBroadcast(
            keySrc.select(joinKeys.map(col): _*).distinct(), batchRows)
      }
      spark.read.schema(withMetaSchema(schema))
        .parquet(files.map(f => abs(f.path)): _*)
        .select(col(RecordKeyCol), col(PartitionPathCol),
          col("_metadata.file_path").as("__file"))
        .join(keySide, joinKeys, "left_semi")
        .select("__file").distinct()
        .collect().map(r => relativize(r.getString(0))).toSeq
    }
    val managedAffected: Seq[String] = if (candidates.isEmpty) Seq.empty[String]
    else keysOpt match {
      case Some(ks) =>
        // driver-side footer probe (Hudi bloom-index analog): decide
        // membership per candidate from its parquet DICTIONARY pages
        // (exact) or record-key BLOOM filter (false positives rewrite a
        // file needlessly; false negatives impossible). Zero Spark
        // jobs, metadata-only I/O; only undecidable files fall back to
        // one scan semi-join. Key sets are built ONCE per partition
        // (or once globally) and shared by reference across the files
        // that probe them — never rebuilt per file.
        def toSet(kk: Iterator[String]): java.util.HashSet[String] = {
          val s = new java.util.HashSet[String]()
          kk.foreach(s.add)
          s
        }
        lazy val byPart: Map[String, java.util.HashSet[String]] =
          ks.groupBy(_._1).map { case (pp, kk) =>
            pp -> toSet(kk.iterator.map(_._2))
          }
        lazy val allKeys: java.util.HashSet[String] =
          toSet(ks.iterator.map(_._2))
        val emptySet = new java.util.HashSet[String]()
        def keysFor(f: FileEntry): java.util.HashSet[String] =
          if (global) allKeys else byPart.getOrElse(f.partition, emptySet)
        val decisions = footerProbe(candidates.map(f => abs(f.path) -> keysFor(f)))
        val hit = candidates.zip(decisions).collect {
          case (f, Some(true)) => f.path
        }
        val unknown = candidates.zip(decisions).collect {
          case (f, None) => f
        }
        hit ++ (if (unknown.isEmpty) Seq.empty else scanProbe(unknown))
      case None => scanProbe(candidates)
    }
    Probe(managedAffected ++ extAffected, batchRows, keysOpt)
  }

  /** ONE treeAggregate pass over `(group, partition, key)` rows:
    * per-group record-key bounds + row count plus the batch's distinct
    * (partition, key) set while it fits `cap`. Single-stage for small
    * batches; with many input partitions treeAggregate adds a
    * tree-combine level so partial maps merge on the EXECUTORS — never
    * a keyed shuffle of the data itself. The cap is enforced at every
    * merge, so an overflowing many-task batch drops its sets before
    * they travel and the driver receives at most `cap` pairs
    * regardless of task count. */
  private def probeStats[G](
      rows: org.apache.spark.rdd.RDD[(G, String, String)], cap: Int)
      : (scala.collection.mutable.HashMap[G, (String, String, Long)],
         Option[Array[(String, String)]]) = {
    type Acc = (scala.collection.mutable.HashMap[G, (String, String, Long)],
      Option[scala.collection.mutable.HashSet[(String, String)]])
    val zero: Acc = (
      scala.collection.mutable.HashMap.empty[G, (String, String, Long)],
      Some(scala.collection.mutable.HashSet.empty[(String, String)]))
    val seqOp: (Acc, (G, String, String)) => Acc = {
      case ((stats, keys), (g, pp, k)) =>
        stats.get(g) match {
          case None => stats(g) = (k, k, 1L)
          case Some((mn, mx, c)) => stats(g) = (
            if (utf8Cmp(k, mn) < 0) k else mn,
            if (utf8Cmp(k, mx) > 0) k else mx, c + 1L)
        }
        val ks = keys match {
          case Some(s) => s.add((pp, k)); if (s.size > cap) None else Some(s)
          case None => None // overflowed: stop accumulating
        }
        (stats, ks)
    }
    val combOp: (Acc, Acc) => Acc = { case ((s1, k1), (s2, k2)) =>
      s2.foreach { case (g, (mn, mx, c)) =>
        s1.get(g) match {
          case None => s1(g) = (mn, mx, c)
          case Some((m0, x0, c0)) => s1(g) = (
            if (utf8Cmp(mn, m0) < 0) mn else m0,
            if (utf8Cmp(mx, x0) > 0) mx else x0, c0 + c)
        }
      }
      val ks = (k1, k2) match {
        case (Some(a), Some(b)) =>
          a ++= b; if (a.size > cap) None else Some(a)
        case _ => None
      }
      (s1, ks)
    }
    // the job runs under this table's session confs (an interpreted
    // service session's included), like the table's Dataset actions
    val (statsM, keysAcc) = org.apache.spark.sql.graftshim.InterpretedSession
      .withConfs(spark)(rows.treeAggregate(zero)(seqOp, combOp))
    (statsM, keysAcc.map(_.toArray))
  }

  /** Driver-side membership checks of key sets against parquet files'
    * `_record_key` column-chunk metadata, files probed concurrently
    * (footer-only I/O, like [[footerStats]]). Per file: Some(true) if
    * any row group might contain any key, Some(false) if every row
    * group provably contains none, None if some row group has neither
    * a usable dictionary nor a bloom filter (caller must scan). */
  private def footerProbe(
      files: Seq[(String, java.util.HashSet[String])]): Seq[Option[Boolean]] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.api.Binary
    val conf = spark.sessionState.newHadoopConf()

    def oneFile(absPath: String, keySet: java.util.HashSet[String])
        : Option[Boolean] = {
      if (keySet.isEmpty) return Some(false)
      try {
        val r = ParquetFileReader.open(
          HadoopInputFile.fromPath(new Path(absPath), conf))
        try {
          var unknown = false
          val it = r.getFooter.getBlocks.iterator()
          while (it.hasNext) {
            val b = it.next()
            var cc: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData = null
            b.getColumns.forEach { c =>
              if (c.getPath.toDotString == RecordKeyCol) cc = c
            }
            if (cc == null) unknown = true
            else {
              val es = cc.getEncodingStats
              val fullyDict = es != null && es.hasDictionaryPages &&
                !es.hasNonDictionaryEncodedPages
              if (fullyDict) {
                // exact: the dictionary IS the chunk's distinct value set
                val colDesc = r.getFooter.getFileMetaData.getSchema
                  .getColumnDescription(cc.getPath.toArray)
                // upcast to the public interface: the concrete
                // DictionaryPageReader class is package-private
                val store: org.apache.parquet.column.page.DictionaryPageReadStore =
                  r.getDictionaryReader(b)
                val dp = store.readDictionaryPage(colDesc)
                if (dp == null) unknown = true
                else {
                  val dict = dp.getEncoding.initDictionary(colDesc, dp)
                  var i = 0
                  while (i <= dict.getMaxId) {
                    if (keySet.contains(dict.decodeToBinary(i).toStringUsingUTF8))
                      return Some(true)
                    i += 1
                  }
                }
              } else {
                val bf = r.getBloomFilterDataReader(b).readBloomFilter(cc)
                if (bf == null) unknown = true
                else {
                  val kit = keySet.iterator()
                  while (kit.hasNext) {
                    if (bf.findHash(bf.hash(Binary.fromString(kit.next()))))
                      return Some(true)
                  }
                }
              }
            }
          }
          if (unknown) None else Some(false)
        } finally r.close()
      } catch { case _: Exception => None }
    }

    concurrently(files) { case (p, ks) => oneFile(p, ks) }
  }

  /** Run `f` over `xs` on a short-lived fixed pool (≤16 threads) —
    * the driver-side footer-I/O fan-out both [[footerProbe]] and
    * [[footerStats]] use. Sequential for 0/1 items. */
  private def concurrently[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.size <= 1) xs.map(f)
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, xs.size))
      try {
        implicit val ec: ExecutionContext =
          ExecutionContext.fromExecutorService(pool)
        Await.result(Future.sequence(xs.map(x => Future(f(x)))), Duration.Inf)
      } finally pool.shutdown()
    }

  /** Bucket-index candidate resolution: the batch's (partition, bucket)
    * set — one small aggregation job, NO probe scan of table files. A
    * key can only live in its hash bucket, so every file outside the
    * batch's buckets is untouched by construction; stored per-file key
    * bounds prune further within a bucket. Files predating the bucket
    * index (no bucket id) fall back to partition scope. */
  private def bucketAffected(
      batch: DataFrame, live: Seq[FileEntry], liveExt: Seq[FileEntry],
      global: Boolean): Probe = {
    // same treeAggregate shape as the range probe: per-(partition,
    // bucket) partial aggregates merge executor-side, no keyed shuffle.
    // bucketExpr stays a Spark column (the routing hash MUST be
    // bit-identical to the write side's; a driver-side reimplementation
    // of xxhash64 risking divergence would silently lose updates). The
    // collected key set rides along so bucket-table delete paths get
    // the same local-relation anti join as the range-probe paths.
    val cap = spark.conf.getOption("spark.graft.probe.driverKeyCap")
      .map(_.toInt).getOrElse(200000)
    val (merged, keysOpt) = probeStats(
      batch.select(col(PartitionPathCol),
          bucketExpr.as(StageBucketCol), col(RecordKeyCol))
        .as[(String, Int, String)].rdd
        .map { case (pp, bk, k) => ((pp, bk), pp, k) },
      cap)
    val partitions: Set[String] = merged.keysIterator.map(_._1).toSet
    val perPartBucket: Map[(String, Int), (String, String)] =
      merged.map { case (pb, (mn, mx, _)) => pb -> (mn, mx) }.toMap
    val perBucket: Map[Int, (String, String)] =
      merged.groupBy(_._1._2).map { case (b, rs) =>
        b -> (rs.values.map(_._1).min(Utf8Ordering),
          rs.values.map(_._2).max(Utf8Ordering))
      }
    def partInScope(f: FileEntry): Boolean =
      global || props.partitionFields.isEmpty || partitions.contains(f.partition)
    def hit(f: FileEntry): Boolean = f.bucket match {
      case Some(bk) =>
        val bounds =
          if (global) perBucket.get(bk) else perPartBucket.get((f.partition, bk))
        bounds.exists { case (bMin, bMax) =>
          (f.minKey, f.maxKey) match {
            case (Some(fMin), Some(fMax)) =>
              utf8Lte(fMin, bMax) && utf8Lte(bMin, fMax)
            case _ => true
          }
        }
      case None => partInScope(f) // legacy file: conservative
    }
    Probe(
      live.collect { case f if hit(f) => f.path } ++
        liveExt.collect { case f if partInScope(f) => f.path },
      merged.valuesIterator.map(_._3).sum,
      keysOpt)
  }

  /** Files containing at least one row matching a predicate (for
    * deleteWhere/updateWhere); parquet footer stats prune the probe. */
  private def filesMatching(cond: Column): Seq[String] = {
    val live = timeline.liveFiles(None)
    if (live.isEmpty) return Seq.empty
    val (ext, managed) = live.partition(_.external)
    val m = if (managed.isEmpty) Seq.empty[String]
    else spark.read.schema(withMetaSchema(schema))
      .parquet(managed.map(f => abs(f.path)): _*)
      .filter(cond)
      .select(col("_metadata.file_path")).distinct()
      .collect().map(r => relativize(r.getString(0))).toSeq
    m ++ ext.map(_.path) // conservatively rewrite external files
  }

  /** preCombine within the batch: largest ordering value per
    * (key, partition) wins; deterministic tie-break on a stable row
    * hash (Hudi keeps an arbitrary one, JavaClientHive2Hudi:325-327). */
  /** Batch pre-combine, skippable per call (Hudi's
    * `hoodie.combine.before.upsert=false`): a caller whose batch is
    * ALREADY unique per (key, partition) — e.g. the output of a
    * groupBy on the key — passes `combine=false` to skip the dedup
    * window shuffle. Uniqueness is a HARD caller contract: the commit
    * records `dedupedKeys=true` on its word, and the single-commit
    * read fast path ([[morMerged]]) serves such a commit as a plain
    * scan — a batch that violates the contract can surface its
    * duplicate keys UNMERGED. Callers that cannot guarantee
    * uniqueness must keep combine=true. */
  private def maybeCombine(df: DataFrame, combine: Boolean): DataFrame =
    if (combine) dedupBatch(df) else df

  private def dedupBatch(df: DataFrame): DataFrame = props.preCombineField match {
    case None => df
    case Some(f) =>
      val w = Window.partitionBy(keyCol, ppCol)
        .orderBy(col(f).desc, xxhash64(struct(df.columns.toSeq.map(col): _*)).desc)
      df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
  }

  private def withMeta(df: DataFrame, instant: String): DataFrame =
    df.withColumn(CommitTimeCol, lit(instant))
      .withColumn(RecordKeyCol, keyCol)
      .withColumn(PartitionPathCol, ppCol)
      .select((MetaCols ++ df.columns.toSeq).map(col): _*)

  /** Project a meta'd frame onto meta ++ `target` schema (+ passthrough
    * `extra` columns), nulling missing columns (additive evolution). */
  private def conform(
      df: DataFrame, target: StructType, extra: Seq[String] = Seq.empty): DataFrame =
    df.select((MetaCols.map(col) ++ target.fields.toSeq.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    } ++ extra.map(col)): _*)

  /** Additive schema merge (mergeSchema semantics — the Flink
    * ROW_DATA_TYPE_WIDER fixture, Configurations.java:35-42). */
  private def unionSchema(incoming: DataFrame): StructType = {
    val cur = schema
    val in = StructType(incoming.schema
      .filterNot(f => MetaCols.contains(f.name)).map(_.copy(nullable = true)))
    if (cur.isEmpty) in
    else StructType(cur.fields ++
      in.fields.filterNot(f => cur.fieldNames.contains(f.name)))
  }

  /** The bucket a record key belongs to under the bucket index:
    * stable hash of the key modulo the declared bucket count. */
  private def bucketExpr: Column =
    pmod(xxhash64(col(RecordKeyCol)), lit(props.bucketIndexBuckets.toLong))
      .cast("int")

  /** Stage-write (bucketed or salted per partition), then rename into
    * the final layout. Counts and key bounds come from one concurrent
    * driver-side parquet-footer pass, no Spark job. */
  private def writeFiles(
      df: DataFrame, instant: String,
      clusterBy: Seq[Column] = Seq.empty,
      clusterFiles: Int = 0): Staged = {
    // random suffix: a concurrent writer from another process could
    // hold the same wall-clock instant; staging must never collide
    val stagingDir = new Path(basePath,
      s".staging/${instant}_${java.util.UUID.randomUUID().toString.take(8)}")
    val partitioned = props.partitionFields.nonEmpty
    val bucketed = props.bucketIndexBuckets > 0
    val withCols0 =
      if (partitioned) df.withColumn(StagePartCol, col(PartitionPathCol)) else df
    val withCols =
      if (bucketed) withCols0.withColumn(StageBucketCol, bucketExpr)
      else withCols0
    val writerDf =
      if (clusterBy.nonEmpty) {
        // clustering rewrite: a RANGE shuffle on (table partition,
        // sort key) + an in-task sort, so every output file holds one
        // contiguous, disjoint sort-key range — tight footer bounds
        // for the probe/scan pruners. Incompatible with the bucket
        // index by construction (bucket routing owns file placement).
        val keys = (if (partitioned) Seq(col(StagePartCol)) else Nil) ++ clusterBy
        // explicit range count when given (data-size / target-file-size
        // at scale); otherwise the shuffle default — AQE may coalesce
        // small inputs into fewer, larger files, which is the point
        val ranged =
          if (clusterFiles > 0) withCols.repartitionByRange(clusterFiles, keys: _*)
          else withCols.repartitionByRange(keys: _*)
        ranged.sortWithinPartitions(keys: _*)
      } else if (bucketed) {
        // one file per (partition, bucket): all rows of a bucket land
        // in one task, so keyed DML later touches exactly that file
        val by = (if (partitioned) Seq(col(StagePartCol)) else Nil) :+
          col(StageBucketCol)
        withCols.repartition(by: _*)
      } else if (!partitioned) {
        // Small-file sizing (Hudi's small-file handling analog): an
        // incremental fold committing a few thousand rows must not
        // emit one near-empty file per upstream partition — at 32
        // partitions that is 32 files PER COMMIT, and every later
        // snapshot merge pays per-file open + footer costs that
        // quickly dominate maintained-index reads. Catalyst's size
        // estimate picks a target file count; an over-estimate just
        // keeps the write wide (the previous behavior), so erring
        // wide is safe. Two estimate classes: a cached input reports
        // EXACT in-memory bytes (the maintained-fold paths all pass
        // computed caches) — trust it; a scan-derived estimate is
        // on-disk COMPRESSED bytes (fileCompressionFactor defaults to
        // 1.0), under the decoded size by the parquet compression
        // ratio — pad it 4× so a large raw-parquet upsert
        // (format("graft") over spark.read.parquet) never coalesces
        // its whole scan+encode into one task. coalesce() is narrow:
        // stages upstream of the last exchange keep their own
        // parallelism, and the padded floor keeps the post-exchange
        // (or scan) chain wide for anything data-heavy.
        val plan = withCols.queryExecution.optimizedPlan
        val exact = plan.collectLeaves().forall {
          case _: org.apache.spark.sql.execution.columnar.InMemoryRelation => true
          case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
          case _ => false
        }
        val est0 = plan.stats.sizeInBytes
        val estBytes = if (exact) est0 else est0 * 4
        val maxParts = spark.sparkContext.defaultParallelism
        val target =
          if (estBytes <= 0 || !estBytes.isValidLong) maxParts
          else math.min(maxParts.toLong,
            estBytes.toLong / TargetFileBytes + 1).toInt
        if (target < maxParts) withCols.coalesce(target) else withCols
      } else {
        // co-locate each partition's rows; salt spreads hot partitions
        // across up to writeSaltBuckets files (small-file vs max-file
        // sizing). The explicit partition count keeps AQE from
        // coalescing the salted shuffle back into one task.
        if (props.writeSaltBuckets > 1)
          withCols.repartition(
            math.max(props.writeSaltBuckets, spark.sparkContext.defaultParallelism),
            col(PartitionPathCol),
            pmod(xxhash64(col(RecordKeyCol)), lit(props.writeSaltBuckets)))
        else withCols.repartition(col(PartitionPathCol))
      }
    // parquet bloom filter on the record key: point-lookup row-group
    // skipping for free (SURVEY §4, JavaClientHive2Hudi bloom tuning).
    // Adaptive sizing + byte cap, or every small file pays the default
    // 1 MB fixed-NDV bitset.
    val writer0 = writerDf
      .write.mode("overwrite")
      .option(s"parquet.bloom.filter.enabled#$RecordKeyCol", "true")
      .option("parquet.bloom.filter.adaptive.enabled", "true")
      .option(s"parquet.bloom.filter.max.bytes", 128 * 1024)
    val partBy = (if (partitioned) Seq(StagePartCol) else Nil) ++
      (if (bucketed) Seq(StageBucketCol) else Nil)
    // separate profile phases: writerDf's sizing probe above runs a
    // full driver-side analyze+optimize of the incoming plan; the
    // parquet() call plans AGAIN and runs the job. phase("plan-sizing")
    // wraps nothing extra — writerDf is built lazily above, so forcing
    // its queryExecution here (profile builds it anyway) attributes
    // driver planning separately from the write job.
    if (LakeTable.ProfileEnabled) {
      val ep = phase("plan-sizing")(writerDf.queryExecution.executedPlan)
      val s = ep.toString
      Console.err.println(s"[graft-profile] ${props.name}:write-plan " +
        s"imr=${s.contains("InMemoryTableScan")} " +
        s"scans=${"Scan parquet".r.findAllIn(s).size} " +
        s"exch=${"Exchange".r.findAllIn(s).size} nodes=${s.linesIterator.size}")
    }
    phase("stage-write")(
      (if (partBy.isEmpty) writer0 else writer0.partitionBy(partBy: _*))
        .parquet(stagingDir.toString))
    val (added, parts, buckets) =
      phase("move-staged")(moveStaged(stagingDir, instant))
    val (n, bounds, colStats) = phase("footer-stats")(footerStats(added))
    Staged(added, parts, n, bounds, buckets, colStats)
  }

  /** Env-gated (GRAFT_PROFILE=1) wall-time print per write-path phase —
    * the profiling aid for commit fixed costs; a no-op otherwise. */
  private def phase[A](name: String)(f: => A): A =
    if (!LakeTable.ProfileEnabled) f
    else {
      val t0 = System.nanoTime()
      try f finally Console.err.println(
        f"[graft-profile] ${props.name}:$name%-24s " +
          f"${(System.nanoTime() - t0) / 1e9}%7.3fs")
    }

  /** Row count + `_record_key` min/max per file from parquet footers
    * (driver-side, metadata-only I/O; footers read concurrently — a
    * large commit can add hundreds of files and each footer read is
    * dominated by I/O latency). */
  private def footerStats(relPaths: Seq[String])
      : (Long, Map[String, Seq[String]], Map[String, Map[String, Seq[String]]]) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val conf = spark.sessionState.newHadoopConf()
    val statsCols = props.statsColumns.toSet

    /** (rows, key bounds, col-stats) for one file; None on failure.
      * Col-stats values are [typeTag, min, max]: "s" = utf8 string,
      * "l" = integral-as-long — the only encodings whose driver-side
      * comparison is exactly the column's order (doubles/timestamps/
      * decimals are skipped, never mis-compared). A column missing
      * stats in ANY row group is dropped for the file. */
    def oneFile(rel: String): Option[
        (Long, Option[(String, Seq[String])], Map[String, Seq[String]])] =
      try {
        val r = ParquetFileReader.open(
          HadoopInputFile.fromPath(new Path(abs(rel)), conf))
        try {
          var rows = 0L
          var mn: String = null
          var mx: String = null
          val cs = scala.collection.mutable.HashMap.empty[String, Seq[String]]
          val dropped = scala.collection.mutable.HashSet.empty[String]
          var blocks = 0
          r.getFooter.getBlocks.forEach { b =>
            rows += b.getRowCount
            blocks += 1
            b.getColumns.forEach { c =>
              val name = c.getPath.toDotString
              if (name == RecordKeyCol) {
                val st: org.apache.parquet.column.statistics.Statistics[_] =
                  c.getStatistics
                if (st != null && st.hasNonNullValue) {
                  val bmn = st.genericGetMin.asInstanceOf[Binary].toStringUsingUTF8
                  val bmx = st.genericGetMax.asInstanceOf[Binary].toStringUsingUTF8
                  if (mn == null || utf8Cmp(bmn, mn) < 0) mn = bmn
                  if (mx == null || utf8Cmp(bmx, mx) > 0) mx = bmx
                }
              }
              if (statsCols(name) && !dropped(name)) {
                val st: org.apache.parquet.column.statistics.Statistics[_] =
                  c.getStatistics
                val pt = c.getPrimitiveType
                val ann = pt.getLogicalTypeAnnotation
                def isStr = pt.getPrimitiveTypeName == PrimitiveTypeName.BINARY &&
                  ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
                def isIntegral =
                  (pt.getPrimitiveTypeName == PrimitiveTypeName.INT32 ||
                    pt.getPrimitiveTypeName == PrimitiveTypeName.INT64) &&
                    (ann == null || (ann match {
                      case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
                        i.isSigned
                      case _ => false
                    }))
                val blockStat: Option[(String, String, String)] =
                  if (st == null || !st.hasNonNullValue) None
                  else if (isStr) Some((
                    "s",
                    st.genericGetMin.asInstanceOf[Binary].toStringUsingUTF8,
                    st.genericGetMax.asInstanceOf[Binary].toStringUsingUTF8))
                  else if (isIntegral) Some((
                    "l",
                    st.genericGetMin.toString, st.genericGetMax.toString))
                  else None
                blockStat match {
                  case None => dropped += name; cs.remove(name)
                  case Some((tag, bmn, bmx)) =>
                    def lt(a: String, b: String): Boolean =
                      if (tag == "l") a.toLong < b.toLong else utf8Cmp(a, b) < 0
                    cs.get(name) match {
                      case None if blocks == 1 => cs(name) = Seq(tag, bmn, bmx)
                      case None => dropped += name // missed an earlier block
                      case Some(Seq(_, omn, omx)) => cs(name) = Seq(tag,
                        if (lt(bmn, omn)) bmn else omn,
                        if (lt(omx, bmx)) bmx else omx)
                      case _ =>
                    }
                }
              }
            }
          }
          Some((rows,
            if (mn != null) Some(rel -> Seq(mn, mx)) else None,
            cs.toMap))
        } finally r.close()
      } catch { case _: Exception => None }

    val results = concurrently(relPaths)(oneFile)
    // any unreadable footer makes the total unknown — keep the -1
    // sentinel instead of an arbitrary partial sum
    val total = if (results.exists(_.isEmpty)) -1L else results.flatten.map(_._1).sum
    val colStats = relPaths.zip(results).collect {
      case (rel, Some((_, _, cs))) if cs.nonEmpty => rel -> cs
    }.toMap
    (total, results.flatten.flatMap(_._2).toMap, colStats)
  }

  private def moveStaged(stagingDir: Path, instant: String)
      : (Seq[String], Map[String, String], Map[String, Int]) = {
    val f = fs
    // per-writer token (Hudi write-token analog): a cross-process writer
    // holding the same wall-clock instant must not collide on final file
    // names. The staging dir name is `${instant}_${uuid8}`; reuse its
    // uuid as the token.
    val token = stagingDir.getName.stripPrefix(instant + "_")
    val added = scala.collection.mutable.ArrayBuffer.empty[String]
    val parts = scala.collection.mutable.Map.empty[String, String]
    val buckets = scala.collection.mutable.Map.empty[String, Int]
    var seq = 0
    def moveFile(file: Path, pp: String, bucket: Option[Int]): Unit = {
      val destDir = if (pp.isEmpty) new Path(basePath) else new Path(basePath, pp)
      f.mkdirs(destDir)
      val bk = bucket.map(b => s"b${b}_").getOrElse("")
      val rel = (if (pp.isEmpty) "" else pp + "/") +
        f"${instant}_${token}_$bk$seq%05d.parquet"
      seq += 1
      if (!f.rename(file, new Path(basePath, rel))) {
        // destination taken (or FS refused): remove the files this
        // writer ALREADY moved into the final layout (they will never
        // be referenced by a commit — the retry uses a fresh instant
        // and token) plus our staging dir, then surface as an OCC
        // conflict so withOcc retries instead of leaking files
        added.foreach { a =>
          try f.delete(new Path(basePath, a), false)
          catch { case _: Exception => () }
        }
        try f.delete(stagingDir, true) catch { case _: Exception => () }
        // the retry takes a FRESH instant; this one's fence marker
        // must not stall streaming readers until stale expiry
        timeline.clearInflight(instant)
        throw new CommitConflictException(s"rename failed: $file -> $rel")
      }
      added += rel
      parts(rel) = pp
      bucket.foreach(buckets(rel) = _)
    }
    def walk(p: Path, pp: String, bucket: Option[Int]): Unit =
      f.listStatus(p).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory && name.startsWith(StagePartCol + "="))
          walk(st.getPath, unescapePath(name.stripPrefix(StagePartCol + "=")), bucket)
        else if (st.isDirectory && name.startsWith(StageBucketCol + "="))
          walk(st.getPath, pp, Some(name.stripPrefix(StageBucketCol + "=").toInt))
        else if (name.endsWith(".parquet")) moveFile(st.getPath, pp, bucket)
      }
    if (f.exists(stagingDir)) walk(stagingDir, "", None)
    f.delete(stagingDir, true)
    // Best-effort tidy of the SHARED .staging root: a concurrent writer
    // may create its own staging dir between our emptiness check and the
    // delete, making local-FS delete throw — that must never fail THIS
    // writer's commit. The root is a single empty dir; leaking it is fine.
    try {
      val stagingRoot = stagingDir.getParent
      if (f.exists(stagingRoot) && f.listStatus(stagingRoot).isEmpty)
        f.delete(stagingRoot, false)
    } catch { case _: java.io.IOException => () }
    (added.toSeq, parts.toMap, buckets.toMap)
  }

  private def doCommit(
      instant: String, action: String, st: Staged,
      removed: Seq[String], schemaOut: StructType,
      tag: Option[String] = None,
      deduped: Option[Boolean] = None): Unit =
    try phase("commit-json")(timeline.commit(CommitMeta(
      instant, action, st.added, removed.map(relativize), Seq.empty,
      schemaOut.toDDL, st.rows, st.parts,
      if (st.keyBounds.nonEmpty) Some(st.keyBounds) else None, tag,
      if (st.buckets.nonEmpty) Some(st.buckets) else None,
      colStats = if (st.colStats.nonEmpty) Some(st.colStats) else None,
      dedupedKeys = deduped)))
    catch {
      case e: CommitConflictException =>
        // lost the OCC race: the staged files will never be referenced
        // by the timeline — remove them before the caller retries
        st.added.foreach { rel =>
          try fs.delete(new Path(abs(rel)), false)
          catch { case _: Exception => () }
        }
        throw e
    } finally timeline.clearInflight(instant)

  // ---------------------------------------------------------- MOR paths

  /** Delta-append write: batch dedup + meta columns, no snapshot
    * consultation, one commit. */
  private def morAppend(
      df: DataFrame, action: String, tag: Option[String] = None,
      combine: Boolean = true): String = {
    val committed = withInflight { instant =>
    // tombstone-only writes NEVER evolve the table schema: delete(keys)
    // permits extra data columns in the keys frame (full CDC rows with
    // e.g. an 'op' column), and unioning those in would permanently
    // widen the table with spurious all-null columns — a divergence
    // the COW delete path (which passes `schema`) never had
    val isTombstone = df.columns.contains(DeletedCol)
    val newSchema =
      if (isTombstone) schema else unionSchema(df.drop(DeletedCol))
    val out =
      if (isTombstone) {
        // tombstones: project to key + partition (+ the preCombine
        // column when the caller supplied one — an ORDERED tombstone,
        // conditional on payload ordering) before the distinct:
        // delete(keys) permits extra data columns in the keys frame,
        // and a full-row distinct would write one tombstone per
        // distinct row (inflated deltas) and leak row data that
        // deleteWhere nulls out
        val keyCols = (props.primaryKey ++ props.partitionFields ++
          props.preCombineField.filter(df.columns.contains)).distinct
        val keysOnly = df.select(keyCols.map(col): _*).distinct()
        withMeta(keysOnly, instant)
          .withColumn(DeletedCol, lit(true))
          .select((MetaCols :+ DeletedCol).map(col) ++
            newSchema.fields.toSeq.map { f =>
              if (keysOnly.columns.contains(f.name))
                col(f.name).cast(f.dataType).as(f.name)
              else lit(null).cast(f.dataType).as(f.name)
            }: _*)
      } else conform(withMeta(maybeCombine(df, combine), instant), newSchema)
    val st = writeFiles(out, instant)
    // tombstones are key-distinct by construction; data batches are
    // deduped only when the pre-combine window actually ran
    doCommit(instant, action, st, Seq.empty, newSchema, tag,
      deduped = Some(isTombstone || !combine ||
        props.preCombineField.isDefined))
    instant
    }
    // outside the fence: the delta commit above is already durable, and
    // compaction takes (and fences) its own instant
    maybeInlineCompact()
    committed
  }

  /** MOR delete = tombstone delta rows (key + partition, data nulled,
    * `_deleted` = true), honored by the read-side merge. */
  private def morDelete(keys: DataFrame, tag: Option[String] = None): String =
    morAppend(keys.withColumn(DeletedCol, lit(true)), "deltacommit", tag)

  /** Compaction (TestBatchMOR inline-compaction semantics): fold the
    * delta files, together with only the base files whose
    * (partition, key-range) can overlap them, into fresh merged base
    * files — base files provably untouched by any delta are left in
    * place, so compaction cost is O(deltas + overlapping bases), not
    * O(table): a small delta commit on a large table does not rewrite
    * the whole table on the next compaction (Hudi compacts only file
    * groups with pending log files for the same reason). Overlap is
    * judged conservatively: missing key bounds ⇒ affected. Original
    * per-row commit times survive, so incremental reads stay exact. */
  def compact(): Option[String] = {
    val live = timeline.liveFiles(None)
    val (delta, base) = live.partition(_.delta)
    if (delta.isEmpty) return None // nothing to fold — no commit
    val deltaByPart = delta.groupBy(_.partition) // indexed, not O(n×m)
    def overlaps(b: FileEntry): Boolean =
      deltaByPart.getOrElse(b.partition, Nil).exists { d =>
        (d.minKey, d.maxKey, b.minKey, b.maxKey) match {
          case (Some(dm), Some(dM), Some(bm), Some(bM)) =>
            utf8Lte(dm, bM) && utf8Lte(bm, dM)
          case _ => true // no stats → cannot prune
        }
      }
    val (rewrite, _) = base.partition(overlaps)
    Some(compactEntries(delta ++ rewrite))
  }

  /** Fold exactly `affected` (deltas + the base files of their groups)
    * into fresh merged base files — the shared tail of [[compact]] and
    * the predicate-scoped compaction. Any subset that is CLOSED under
    * per-partition key-range overlap is sound to compact alone:
    * [[mergeOnRead]] resolves per (key, partition), so every version
    * of every key in the subset is inside it, and versions outside
    * still merge against the new base on read. */
  private def compactEntries(affected: Seq[FileEntry]): String =
    withInflight { instant =>
      val s = withMetaSchema(schema)
      val merged = mergeOnRead(readLive(affected, s))
      val st = writeFiles(
        merged.select((MetaCols ++ schema.fieldNames.toSeq).map(col): _*), instant)
      doCommit(instant, "commit", st, affected.map(_.path), schema)
      instant
    }

  /** The per-partition key-range overlap closure of a seed file set —
    * the subset soundness condition for merging in isolation
    * ([[morPredicateMatches]]): a key's current version and stale
    * versions always share the key ⇒ their files' ranges overlap ⇒
    * the closure pulls every version of every in-scope key into the
    * subset, so a merged read over it can never resurrect a stale
    * version. Exact via one min-key sort + merge sweep per partition —
    * O(n log n) driver work, no pairwise fixpoint. A file without key
    * stats overlaps everything (conservative), gluing its whole
    * partition into one component. */
  private def overlapClosure(
      live: Seq[FileEntry], seedPaths: Set[String]): Seq[FileEntry] = {
    if (seedPaths.isEmpty) return Seq.empty
    val scope = Seq.newBuilder[FileEntry]
    live.groupBy(_.partition).values.foreach { files =>
      val hasSeed = files.exists(f => seedPaths.contains(f.path))
      if (hasSeed) {
        val (noStats, withStats) =
          files.partition(f => f.minKey.isEmpty || f.maxKey.isEmpty)
        if (noStats.nonEmpty)
          // an unbounded file bridges every cluster: whole partition
          scope ++= files
        else {
          // sort by min key, sweep into maximal overlapping clusters;
          // keep the clusters that contain a seed
          val sorted = withStats.sortBy(_.minKey.get)(Utf8Ordering)
          val cluster = scala.collection.mutable.ArrayBuffer.empty[FileEntry]
          var curMax: String = null
          def flush(): Unit = {
            if (cluster.exists(f => seedPaths.contains(f.path)))
              scope ++= cluster
            cluster.clear()
          }
          sorted.foreach { f =>
            if (cluster.nonEmpty && !utf8Lte(f.minKey.get, curMax)) flush()
            cluster += f
            if (curMax == null || cluster.size == 1 ||
                utf8Cmp(f.maxKey.get, curMax) > 0) curMax = f.maxKey.get
          }
          flush()
        }
      }
    }
    scope.result()
  }

  /** Restore (rollback) the table to its state as of `instant` —
    * the Hudi `call rollback_to_savepoint` analog, as one ordinary
    * replace commit: the as-of snapshot is rewritten WITH its
    * original per-row meta columns (so incremental reads spanning
    * the restore stay exact — restored rows keep their first-write
    * commit times), and every currently-live file is removed.
    * Because the restore is itself just a commit, it is OCC-safe,
    * time travel to post-restore instants keeps working until
    * clean() reclaims them, and a bad restore can be restored away
    * again. Cost is O(live data as of `instant`) — the COW rewrite
    * price, paid once, not per read. */
  def restoreTo(instant: String): String = {
    val liveNow = timeline.liveFiles(None).map(_.path)
    withInflight { inst =>
      val sAt = schemaAsOf(Some(instant))
      val s = withMetaSchema(sAt)
      val files = timeline.liveFiles(Some(instant))
      val raw = if (files.isEmpty) emptyDf(s) else readLive(files, s)
      val data = if (isMor) mergeOnRead(raw) else raw
      val st = writeFiles(
        data.select((MetaCols ++ sAt.fieldNames.toSeq).map(col): _*), inst)
      doCommit(inst, "replace", st, liveNow, sAt,
        deduped = Some(true))
      inst
    }
  }

  /** Clustering service (the Hudi `call run_clustering` analog):
    * rewrite the live data ordered by `sortCols` (default: the record
    * key) so every output file holds a tight, disjoint sort-key range
    * per table partition — keyed-DML probes and range scans then
    * prune to O(touched ranges) files instead of O(table). Interleaved
    * ingest is exactly what erodes key locality at scale; clustering
    * restores it in one replace commit. Rows keep their original meta
    * columns (incremental correctness). MOR deltas are folded in (a
    * clustering IS a compaction with an ordering). Not applicable to
    * bucket-index tables, whose file placement is owned by the bucket
    * routing (and already probe-free). */
  def cluster(sortCols: Seq[String] = Seq.empty,
      targetFiles: Int = 0): Option[String] = {
    require(props.bucketIndexBuckets == 0,
      "clustering is incompatible with the bucket index: bucket routing " +
        "owns file placement and keyed DML is already probe-free")
    val live = timeline.liveFiles(None)
    if (live.isEmpty) return None // nothing to rewrite — no commit
    Some(withInflight { inst =>
      val s = withMetaSchema(schema)
      val raw = readLive(live, s)
      val data = if (isMor) mergeOnRead(raw) else raw
      // default to the stored record key STRING: footer bounds and the
      // probe pruner compare _record_key bytes, so only a key-string
      // order yields prunable ranges (an int sort would interleave
      // "19" < "2" textually)
      val by = if (sortCols.isEmpty) Seq(col(RecordKeyCol)) else sortCols.map(col)
      val st = writeFiles(
        data.select((MetaCols ++ schema.fieldNames.toSeq).map(col): _*),
        inst, clusterBy = by, clusterFiles = targetFiles)
      doCommit(inst, "replace", st, live.map(_.path), schema,
        deduped = Some(true))
      inst
    })
  }

  /** Z-order clustering (the Hudi/Delta `zorder` analog): rewrite the
    * live data ordered by the Morton interleave of two numeric
    * columns, so per-file min/max ranges are tight on BOTH dimensions
    * — predicates on either column (or both) prune files/row-groups,
    * where a linear sort only serves its leading column. The z-value
    * is pure codegen'd bit arithmetic over min/max-normalized 16-bit
    * ranks (one tiny stats aggregate beforehand); the rewrite itself
    * is the same range-shuffle replace commit as [[cluster]]. */
  def zorderCluster(cols: Seq[String], targetFiles: Int = 0): Option[String] = {
    require(cols.size == 2, "zorderCluster interleaves exactly two columns")
    require(props.bucketIndexBuckets == 0,
      "clustering is incompatible with the bucket index")
    val live = timeline.liveFiles(None)
    if (live.isEmpty) return None
    Some(withInflight { inst =>
      val s = withMetaSchema(schema)
      val raw = readLive(live, s)
      val data = if (isMor) mergeOnRead(raw) else raw
      // per-column min/max for rank normalization: one metadata-sized
      // aggregate job (2 doubles per column)
      val st0 = data.agg(
        min(col(cols(0)).cast("double")), max(col(cols(0)).cast("double")),
        min(col(cols(1)).cast("double")), max(col(cols(1)).cast("double"))).head()
      def norm(i: Int, lo: Double, hi: Double): Column = {
        val c = coalesce(col(cols(i)).cast("double"), lit(lo))
        if (hi > lo)
          least(lit(65535L), floor((c - lit(lo)) / lit(hi - lo) * 65536.0).cast("long"))
        else lit(0L)
      }
      /** Interleave a 16-bit value with zero gaps (Morton spread). */
      def spread(x0: Column): Column = {
        var x = x0
        x = (x.bitwiseOR(shiftleft(x, 8))).bitwiseAND(lit(0x00FF00FFL))
        x = (x.bitwiseOR(shiftleft(x, 4))).bitwiseAND(lit(0x0F0F0F0FL))
        x = (x.bitwiseOR(shiftleft(x, 2))).bitwiseAND(lit(0x33333333L))
        x = (x.bitwiseOR(shiftleft(x, 1))).bitwiseAND(lit(0x55555555L))
        x
      }
      val z = spread(norm(0, st0.getDouble(0), st0.getDouble(1)))
        .bitwiseOR(shiftleft(spread(norm(1, st0.getDouble(2), st0.getDouble(3))), 1))
      val st = writeFiles(
        data.select((MetaCols ++ schema.fieldNames.toSeq).map(col): _*),
        inst, clusterBy = Seq(z), clusterFiles = targetFiles)
      doCommit(inst, "replace", st, live.map(_.path), schema,
        deduped = Some(true))
      inst
    })
  }

  /** Inline compaction after `compactDeltaCommits` consecutive delta
    * commits (TestBatchMOR.java:40-46, TestStreamingMOR.java:51). */
  private def maybeInlineCompact(): Unit = {
    val n = props.compactDeltaCommits
    if (n <= 0) return
    val trailing = timeline.commits().reverse.takeWhile(_.action == "deltacommit")
    if (trailing.size >= n) compact()
  }

  /** Optimistic concurrency control for multi-writer tables: runs a
    * write operation and, when it loses the commit race
    * ([[CommitConflictException]]: a concurrent writer rewrote one of
    * the same file groups, or took the same instant), re-runs it
    * against the fresh table state — the operation re-probes affected
    * files, so the retry merges with the other writer's result instead
    * of losing it. Hudi's OPTIMISTIC_CONCURRENCY_CONTROL analog.
    *
    * {{{ table.withOcc() { table.upsert(batch) } }}} */
  def withOcc[T](maxRetries: Int = 10)(op: => T): T = {
    var attempt = 0
    while (true) {
      try return op
      catch {
        case _: CommitConflictException if attempt < maxRetries =>
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Rewrite all live external (metadata-bootstrapped) files into
    * managed files carrying real stored meta columns, in one replace
    * commit. Rows keep the adopting commit's instant as their
    * `_commit_time` (the value reads have always synthesized), so
    * incremental queries spanning the bootstrap stay exact. Used before
    * SQL row-level operations, whose delegated parquet scan cannot
    * synthesize meta columns (the reference's "first upsert migrates
    * bootstrapped files" behavior, BootstrapDemo.scala:207-232). */
  def migrateExternal(): Option[String] = {
    val ext = timeline.liveFiles(None).filter(_.external)
    if (ext.isEmpty) return None
    Some(withInflight { instant =>
      val df = conform(readExternal(ext), schema)
      val st = writeFiles(df, instant)
      doCommit(instant, "replace", st, ext.map(_.path), schema)
      instant
    })
  }

  /** Clean service: physically delete file versions replaced before
    * the retention window (retainCommits — JavaClientHive2Hudi:185). */
  def clean(retainCommits: Int): Seq[String] =
    timeline.clean(retainCommits)

  /** Archive service: fold old commits into the timeline checkpoint
    * once more than maxToKeep are active, keeping minToKeep
    * (HoodieJavaWriteClientExample.java:85). */
  def archive(minToKeep: Int, maxToKeep: Int): Int =
    timeline.archive(minToKeep, maxToKeep)

  /** Orphan-file vacuum: physically delete data files that NO commit
    * references — crashed writers' leftovers (a staged dir never
    * moved, or files moved whose commit never landed) — once older
    * than `olderThanMs`. References = every active commit's
    * added ∪ removed plus the archive checkpoint's live set and its
    * removal history; anything else inside the table dir is
    * unreachable by any read. The age threshold protects in-flight
    * writers (their files are legitimately unreferenced until the
    * commit lands) — pick it larger than the longest plausible write.
    * A full listing is inherent to vacuuming (Delta VACUUM pays the
    * same); run as an offline maintenance job. Returns deleted paths. */
  def cleanOrphans(olderThanMs: Long): Seq[String] = {
    val f = fs
    val cutoff0 = System.currentTimeMillis() - olderThanMs
    // In-flight protection beyond the age threshold: a live writer
    // publishes its heartbeat-touched inflight marker BEFORE writing
    // any file, and its instant id encodes the wall clock at begin —
    // so no uncommitted file of a LIVE writer can predate the earliest
    // live writer's start. Clamp the cutoff below it (minus the stale
    // window as slack for instant bumping, FS mtime granularity, and
    // cross-host clock skew) so a legitimate write running longer than
    // `olderThanMs` never has its staged output vacuumed mid-write.
    val cutoff = timeline.earliestActiveInflight() match {
      case None => cutoff0
      case Some(i) => Timeline.instantMillis(i) match {
        // the EFFECTIVE stale window (conf-configurable), not the
        // compile-time default: a session that widens
        // graft.inflight.stale.ms must widen this slack identically or
        // the two staleness mechanisms disagree about who is live
        case Some(t) => math.min(cutoff0, t - timeline.inflightStaleMs)
        case None =>
          // a live writer exists but its start time cannot be bounded
          // (instant-id bumping can produce a non-calendar timestamp):
          // NO cutoff is provably safe, so skip this vacuum run rather
          // than risk reaping the writer's staged files
          LakeTable.log.warn(s"cleanOrphans on $basePath skipped: live " +
            s"inflight marker '$i' has an unparseable start time")
          return Seq.empty
      }
    }
    val cs = timeline.commits()
    val cp = timeline.readCheckpoint()
    val referenced: Set[String] =
      (cs.flatMap(c => c.added ++ c.removed) ++
        cp.toSeq.flatMap(c => c.files.map(_.path) ++ c.archivedRemoved)).toSet
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    def walk(p: Path): Unit =
      f.listStatus(p).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) {
          if (name != Timeline.META_DIR && name != ".staging") walk(st.getPath)
        } else if (st.getModificationTime < cutoff) {
          val rel = relativize(st.getPath.toString)
          if (!referenced.contains(rel) && f.delete(st.getPath, false))
            out += rel
        }
      }
    val base = new Path(basePath)
    if (f.exists(base)) walk(base)
    // crashed writers' staged dirs: whole subtrees under .staging
    val staging = new Path(basePath, ".staging")
    if (f.exists(staging)) f.listStatus(staging).foreach { st =>
      if (st.getModificationTime < cutoff && f.delete(st.getPath, true))
        out += relativize(st.getPath.toString)
    }
    out.toSeq
  }

  /** Savepoint services (Hudi create_savepoint/delete_savepoint):
    * a savepointed instant's snapshot survives [[clean]] and
    * [[archive]] until released — the durable anchor for long-lived
    * time travel, CDC baselines, and [[restoreTo]] targets. */
  def createSavepoint(instant: String): Unit =
    timeline.createSavepoint(instant)

  def deleteSavepoint(instant: String): Boolean =
    timeline.deleteSavepoint(instant)

  def savepoints(): Seq[String] = timeline.savepoints()
}

/** Result of one stage-write: the new files plus their per-file
  * metadata destined for the commit record. */
private[core] final case class Staged(
    added: Seq[String],
    parts: Map[String, String],
    rows: Long,
    keyBounds: Map[String, Seq[String]],
    buckets: Map[String, Int],
    colStats: Map[String, Map[String, Seq[String]]] = Map.empty)

private[core] object Staged {
  val empty: Staged = Staged(Seq.empty, Map.empty, 0L, Map.empty, Map.empty)
}

object LakeTable {

  /** Process-wide FileStatus cache for COMMITTED data files, keyed by
    * absolute path. Sound because committed files are immutable: the
    * write path stages under unique instant-stamped names and never
    * rewrites a path in place, so a cached length can never go stale
    * (a vacuumed file's entry is merely dead weight). Bounded by a
    * wholesale clear — simpler than LRU and the refill is one stat
    * per file. */
  private val statCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, org.apache.hadoop.fs.FileStatus]()

  private[core] def statCached(
      fs: FileSystem, absPath: String): org.apache.hadoop.fs.FileStatus = {
    val hit = statCache.get(absPath)
    if (hit != null) return hit
    val st = fs.getFileStatus(new Path(absPath))
    if (statCache.size() > 1000000) statCache.clear()
    statCache.put(absPath, st)
    st
  }

  /** Per-file target for the small-file write sizing in
    * [[LakeTable.writeFiles]] — the estimate is Catalyst's in-memory
    * sizeInBytes, which overshoots parquet's on-disk bytes, so the
    * resulting files land comfortably under typical HDFS-block-sized
    * targets. */
  private[core] val TargetFileBytes: Long = 128L << 20

  /** Unsigned UTF-8 byte comparison — the ordering BOTH Spark's
    * UTF8String min/max aggregates and parquet's Binary string stats
    * use. Java String compareTo orders by UTF-16 code unit, which
    * disagrees for supplementary-plane characters (U+10000.. sorts
    * above U+E000.. in UTF-8 but below in UTF-16); mixing the two in
    * the key-bounds probe could wrongly prune a candidate file and
    * silently lose an update. Every driver-side record-key comparison
    * goes through this. */
  private[core] def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }
  private[core] def utf8Lte(a: String, b: String): Boolean = utf8Cmp(a, b) <= 0
  private[core] val Utf8Ordering: Ordering[String] =
    (a: String, b: String) => utf8Cmp(a, b)

  /** GRAFT_PROFILE=1: print write-path phase timings to stderr. */
  private[core] val ProfileEnabled: Boolean =
    sys.env.get("GRAFT_PROFILE").exists(_ == "1")

  private[core] val log =
    org.slf4j.LoggerFactory.getLogger(classOf[LakeTable])

  val CommitTimeCol = "_commit_time"
  val RecordKeyCol = "_record_key"
  val PartitionPathCol = "_partition_path"
  /** MOR tombstone marker column (delta files only). */
  val DeletedCol = "_deleted"
  /** CDC read: change-op column (`i`/`u`/`d`). */
  val ChangeOpCol = "_change_op"
  /** CDC read: begin-state image struct (null for inserts). */
  val BeforeImageCol = "_before"
  val MetaCols: Seq[String] = Seq(CommitTimeCol, RecordKeyCol, PartitionPathCol)

  /** The CDC rules of every CDC-driven maintenance consumer (the
    * streaming services, the CALL procedures and the batch gates that
    * fold a feed): this split and [[cdcAfterAndBefore]] are their ONLY
    * definitions, so a CDC schema change cannot silently drop
    * tombstones or before-images in one of them.
    *
    * Split a CDC feed into (upserted rows projected to key+value
    * columns, deleted keys) — for state-based reconciles: upserts are
    * the non-'d' rows' after images; a delete row's key reads from the
    * after image when present and falls back to the `_before` struct. */
  def cdcUpsertsAndDeletes(
      feed: DataFrame, keyCol: String, valueCols: Seq[String])
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.{coalesce, col}
    val op = col(ChangeOpCol)
    val bef = col(BeforeImageCol)
    (feed.filter(op =!= "d").select((keyCol +: valueCols).map(col): _*),
      feed.filter(op === "d").select(
        coalesce(col(keyCol), bef.getField(keyCol)).as(keyCol)))
  }

  /** Split a CDC feed into (after images, before images), both
    * projected to `cols` — for delta folds, which add what a change
    * brings and retract what it replaced: after images are the
    * non-'d' rows', before images the 'u' and 'd' rows' `_before`
    * structs. */
  def cdcAfterAndBefore(feed: DataFrame, cols: Seq[String]): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.col
    val op = col(ChangeOpCol)
    (feed.filter(op =!= "d").select(cols.map(col): _*),
      feed.filter(op.isin("u", "d"))
        .select(cols.map(c => col(BeforeImageCol).getField(c).as(c)): _*))
  }

  private[core] val IncomingFlag = "__incoming"
  private[core] val StagePartCol = "__pp__"
  private[core] val StageBucketCol = "__bk__"

  /** Fully-qualified base (scheme + absolute path): all stored paths
    * are relative to this, so prefix matching is exact regardless of
    * how the caller spelled the location. */
  private def qualify(spark: SparkSession, basePath: String): String = {
    val p = new Path(basePath)
    p.getFileSystem(spark.sessionState.newHadoopConf())
      .makeQualified(p).toString
  }

  /** CREATE TABLE (SparkSQLDemo.scala:36-53). */
  def create(spark: SparkSession, basePath: String, props: TableProps): LakeTable = {
    require(Set("latest", "overwrite").contains(props.morPayload),
      s"morPayload must be 'latest' or 'overwrite', got '${props.morPayload}'")
    val base = qualify(spark, basePath)
    val tl = new Timeline(spark.sessionState.newHadoopConf(), base)
    if (tl.exists)
      throw new IllegalStateException(s"table already exists at $base")
    tl.writeProps(props)
    new LakeTable(spark, base, tl)
  }

  def load(spark: SparkSession, basePath: String): LakeTable = {
    val base = qualify(spark, basePath)
    val tl = new Timeline(spark.sessionState.newHadoopConf(), base)
    require(tl.exists, s"no lake table at $base")
    new LakeTable(spark, base, tl)
  }

  def exists(spark: SparkSession, basePath: String): Boolean =
    new Timeline(spark.sessionState.newHadoopConf(),
      qualify(spark, basePath)).exists

  /** Full bootstrap (BootstrapDemo.scala:234-259): rewrite an existing
    * parquet directory into a managed table. Partition columns must be
    * present in the file data (the reference has the same caveat for
    * hive-style sources without them, BootstrapDemo.scala:136-138).
    * All columns forced nullable (makeDfColNullable, :275-280). */
  def bootstrapFull(
      spark: SparkSession, basePath: String, srcPath: String,
      props: TableProps): LakeTable = {
    val t = create(spark, basePath, props)
    val src = spark.read.parquet(srcPath)
    val nullable = spark.createDataFrame(src.rdd,
      StructType(src.schema.map(_.copy(nullable = true))))
    t.insert(nullable)
    t
  }

  /** Metadata bootstrap (BootstrapDemo.scala:207-232): adopt existing
    * parquet files in place — the commit references them as external;
    * no data is rewritten until an upsert first touches a file. The
    * one-time source listing happens here only, never on reads. */
  def bootstrapMetadata(
      spark: SparkSession, basePath: String, srcPath: String,
      props: TableProps): LakeTable = {
    val t = create(spark, basePath, props)
    val conf = spark.sessionState.newHadoopConf()
    val sp = new Path(srcPath)
    val fs = sp.getFileSystem(conf)
    val qualifiedSrc = fs.makeQualified(sp)
    val files = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    def walk(p: Path, rel: String): Unit =
      fs.listStatus(p).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory && !name.startsWith(".") && !name.startsWith("_"))
          walk(st.getPath, if (rel.isEmpty) name else s"$rel/$name")
        else if (name.endsWith(".parquet"))
          files += ((st.getPath.toString, rel))
      }
    walk(qualifiedSrc, "")
    require(files.nonEmpty, s"no parquet files under $srcPath")
    val schemaDdl = StructType(spark.read
      .parquet(files.map(_._1).toSeq: _*).schema.map(_.copy(nullable = true))).toDDL
    val instant = t.timeline.nextInstant()
    t.timeline.commit(CommitMeta(
      instant, "bootstrap",
      added = files.map(_._1).toSeq,
      removed = Seq.empty,
      external = files.map(_._1).toSeq,
      schemaDdl = schemaDdl,
      totalRecords = -1L,
      partitions = files.map { case (f, rel) => f -> rel }.toMap))
    t
  }

  /** DROP TABLE IF EXISTS (SparkSQLDemo.scala:31) + purge. */
  def drop(spark: SparkSession, basePath: String): Unit = {
    val p = new Path(basePath)
    val f = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (f.exists(p)) f.delete(p, true)
  }

  /** Glob match for partition-path globs (`dt=2022-11*`):
    * `*` = any run, `?` = one char. */
  private[core] def globMatch(glob: String, s: String): Boolean = {
    val rx = ("\\Q" + glob.replace("*", "\\E.*\\Q").replace("?", "\\E.\\Q") + "\\E").r
    rx.pattern.matcher(s).matches()
  }

  private[core] def unescapePath(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length + 1 && i + 3 <= s.length) {
        try { sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar); i += 3 }
        catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
