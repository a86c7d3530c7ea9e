package graft.sql

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{LakeTable, TableProps}

/** DSv2 catalog for graft lake tables (SURVEY §7.4): register with
  *
  * {{{
  * spark.sql.catalog.graft = graft.sql.GraftCatalog
  * spark.sql.catalog.graft.warehouse = /path/to/warehouse
  * }}}
  *
  * and Spark 4's parser/planner provides CREATE/DROP/INSERT/DELETE/
  * SELECT over `graft.<db>.<table>` with no custom rules. Table
  * layout: `<warehouse>/<db>/<table>` (a [[graft.core.LakeTable]]).
  * Also a [[ProcedureCatalog]]: `CALL graft.system.show_commits(...)`
  * replicates the reference's `call show_commits`
  * (IncrementalQuery.scala:36-37).
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces with ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: String = _
  private def spark: SparkSession = SparkSession.active

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse"))
      .getOrElse("target/graft_warehouse")
  }

  override def name(): String = catalogName

  private def tablePath(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString(warehouse + "/", "/", "")

  private def fs = new Path(warehouse)
    .getFileSystem(spark.sessionState.newHadoopConf())

  // --------------------------------------------------------------- tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new Path((warehouse +: namespace).mkString("/"))
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(dir).filter(_.isDirectory).map(_.getPath.getName)
      .filter(t => LakeTable.exists(spark, (warehouse +: namespace).mkString("/") + s"/$t"))
      .map(Identifier.of(namespace, _))
  }

  override def loadTable(ident: Identifier): Table = {
    val path = tablePath(ident)
    if (!LakeTable.exists(spark, path)) throw new NoSuchTableException(ident)
    new GraftTable(spark, ident.toString, LakeTable.load(spark, path))
  }

  /** SQL time travel: `SELECT ... VERSION AS OF '<instant>'`. */
  override def loadTable(ident: Identifier, version: String): Table = {
    require(version.matches("\\d{1,17}"),
      s"graft versions are commit instants (yyyyMMddHHmmssSSS), got '$version'")
    val path = tablePath(ident)
    if (!LakeTable.exists(spark, path)) throw new NoSuchTableException(ident)
    new GraftTable(spark, ident.toString, LakeTable.load(spark, path),
      asOf = Some(version))
  }

  /** SQL time travel: `SELECT ... TIMESTAMP AS OF '<wall clock>'` —
    * micros since epoch converted to the instant-id format. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val instant = java.time.Instant.ofEpochMilli(timestamp / 1000)
      .atZone(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmmssSSS"))
    loadTable(ident, instant)
  }

  override def createTable(
      ident: Identifier,
      columns: Array[Column],
      partitions: Array[Transform],
      properties: JMap[String, String]): Table = {
    val path = tablePath(ident)
    if (LakeTable.exists(spark, path)) throw new TableAlreadyExistsException(ident)
    val schema = StructType(columns.map { c =>
      val f = org.apache.spark.sql.types.StructField(
        c.name(), c.dataType(), c.nullable())
      Option(c.comment()).fold(f)(f.withComment)
    })
    val partitionFields = partitions.map {
      case t if t.name() == "identity" =>
        t.references().head.fieldNames().mkString(".")
      case other => throw new UnsupportedOperationException(
        s"graft supports only identity partitioning, got $other")
    }
    val opts = properties.asScala
    val props = TableProps(
      name = ident.name(),
      primaryKey = opts.get("primaryKey").map(_.split(",").map(_.trim).toSeq)
        .getOrElse(Seq.empty),
      preCombineField = opts.get("preCombineField").filter(_.nonEmpty),
      partitionFields = partitionFields.toSeq,
      tableType = opts.getOrElse("type", "cow"),
      writeSaltBuckets = opts.getOrElse("writeSaltBuckets", "1").toInt,
      morPayload = {
        val mp = opts.getOrElse("morPayload", "latest")
        require(Set("latest", "overwrite").contains(mp),
          s"TBLPROPERTY morPayload must be 'latest' or 'overwrite', got '$mp'")
        mp
      },
      schemaDdl = schema.toDDL,
      compactDeltaCommits =
        opts.getOrElse("compaction.delta_commits", "0").toInt,
      // hoodie.bucket.index.num.buckets analog (TestStreamingMOR.java:52)
      bucketIndexBuckets =
        opts.getOrElse("bucketIndexBuckets", "0").toInt,
      // col-stats data-skipping index (metadata-table col_stats analog)
      statsColumns = opts.get("statsColumns")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Seq.empty))
    require(props.primaryKey.nonEmpty,
      "graft tables require a primaryKey table option (SparkSQLDemo.scala:48)")
    new GraftTable(spark, ident.toString, LakeTable.create(spark, path, props))
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val path = tablePath(ident)
    val lake = LakeTable.load(spark, path)
    var schema = lake.schema
    changes.foreach {
      case c: TableChange.UpdateColumnComment =>
        // W8: alter table change column comment
        // (SyncCommentsAcrossClusters.scala:94-109). Nested-field
        // refs are refused rather than silently matching nothing.
        require(c.fieldNames.length == 1,
          s"nested column comments unsupported: ${c.fieldNames.mkString(".")}")
        require(schema.fieldNames.contains(c.fieldNames.head),
          s"no such column: ${c.fieldNames.head}")
        schema = StructType(schema.map { f =>
          if (f.name == c.fieldNames.head) f.withComment(c.newComment) else f
        })
      case c: TableChange.AddColumn =>
        // honor declared nullability and comment instead of silently
        // recording every added column as nullable/uncommented
        require(c.fieldNames.length == 1,
          s"nested ADD COLUMN unsupported: ${c.fieldNames.mkString(".")}")
        val f0 = org.apache.spark.sql.types.StructField(
          c.fieldNames.head, c.dataType, c.isNullable)
        schema = schema.add(
          if (c.comment != null) f0.withComment(c.comment) else f0)
      case other => throw new UnsupportedOperationException(s"alter: $other")
    }
    lake.timeline.writeProps(lake.props.copy(schemaDdl = schema.toDDL))
    // schema changes beyond the declared DDL propagate on next write
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val path = tablePath(ident)
    val existed = LakeTable.exists(spark, path)
    if (existed) LakeTable.drop(spark, path)
    existed
  }

  /** Strip this catalog's own name from an identifier's namespace:
    * Spark's RENAME TO passes the TARGET ident catalog-qualified
    * (namespace ["graft","db"]), which would silently relocate the
    * table under `<warehouse>/graft/db/...` — a path no read ever
    * resolves. */
  private def normalize(ident: Identifier): Identifier =
    if (ident.namespace().length > 1 && ident.namespace().head == catalogName)
      Identifier.of(ident.namespace().drop(1), ident.name())
    else ident

  override def renameTable(oldIdent0: Identifier, newIdent0: Identifier): Unit = {
    val oldIdent = normalize(oldIdent0)
    val newIdent = normalize(newIdent0)
    // explicit pre-checks: Hadoop rename semantics would otherwise
    // NEST the source directory under an existing destination (HDFS)
    // or copy into it (local FS) — the source table silently vanishes
    // and the destination gains a foreign subtree, with no error
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    if (!fs.rename(new Path(tablePath(oldIdent)), new Path(tablePath(newIdent))))
      throw new IllegalStateException(s"rename $oldIdent -> $newIdent failed")
  }

  // ----------------------------------------------------------- namespaces

  override def listNamespaces(): Array[Array[String]] = {
    val root = new Path(warehouse)
    if (!fs.exists(root)) return Array.empty
    fs.listStatus(root).filter(_.isDirectory).map(d => Array(d.getPath.getName))
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty

  override def loadNamespaceMetadata(namespace: Array[String]): JMap[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Map.empty[String, String].asJava
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || fs.exists(new Path((warehouse +: namespace).mkString("/")))

  override def createNamespace(
      namespace: Array[String], metadata: JMap[String, String]): Unit =
    fs.mkdirs(new Path((warehouse +: namespace).mkString("/")))

  override def alterNamespace(
      namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("alterNamespace")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val p = new Path((warehouse +: namespace).mkString("/"))
    if (!fs.exists(p)) return false
    // non-cascade on a non-empty namespace: the DSv2 contract is a
    // typed exception Spark renders as a user-facing error, not the
    // raw IOException a non-recursive FS delete throws
    if (!cascade && fs.listStatus(p).nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis
        .NonEmptyNamespaceException(namespace)
    fs.delete(p, cascade)
  }

  // ----------------------------------------------------------- procedures

  private def lakeOf(tableRef: String): LakeTable = {
    // accept the natural fully-qualified CALL spelling
    // ('graft.db.t') by stripping this catalog's own name — without
    // this the catalog name is misread as a namespace level and the
    // load fails with a confusing not-a-lake-table error
    val parts0 = tableRef.split("\\.")
    val parts =
      if (parts0.length > 1 && parts0.head == catalogName) parts0.tail
      else parts0
    LakeTable.load(spark, tablePath(Identifier.of(parts.dropRight(1), parts.last)))
  }

  /** Delete set for a maintenance BOOTSTRAP (since_instant = ''): the
    * signature store's doc_ids absent from the current corpus
    * snapshot. A RE-bootstrap after payload deletes must tombstone
    * those stored rows — deriving an empty delete set would leave a
    * departed doc's signature in the store permanently, and a later
    * incremental call could pair new churn against it. A never-written
    * store (schema-only snapshot) has nothing stale. */
  private def staleStoreIds(
      sigs: LakeTable,
      snap: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val sigSnap = sigs.snapshot()
    if (!sigSnap.columns.contains("doc_id"))
      snap.select("doc_id").limit(0)
    else sigSnap.select("doc_id")
      .join(snap.select("doc_id"), Seq("doc_id"), "left_anti")
  }

  /** The ONE modality grammar shared by maintain_media_index and
    * start_maintenance(family = 'media'): modality picks the 64-bit
    * hash — image | audio[:threshold] | video:<frameBytes>[:samples].
    * Numeric args are validated POSITIVE (threshold ≥ 0): a
    * non-positive frameBytes/samples (or negative threshold) would
    * make the hash fn return None for EVERY payload — the reconcile
    * would then tombstone every churned doc as undecodable, silently
    * emptying the store on a bootstrap. */
  private def mediaHashFn(modality: String)
      : org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = {
    import graft.multimodal.MediaDecoder
    def badModality(detail: String): Nothing =
      throw new IllegalArgumentException(
        s"maintain_media_index: $detail in modality '$modality' — " +
          "expected image | audio[:threshold] | " +
          "video:<frameBytes>[:samples]")
    def intArg(s: String, what: String, min: Int): Int = {
      val v =
        try s.toInt
        catch { case _: NumberFormatException =>
          badModality(s"$what '$s' is not an integer") }
      if (v < min) badModality(s"$what '$s' must be >= $min")
      v
    }
    // split with limit -1 keeps trailing empty tokens, so 'audio:'
    // errors instead of silently taking the default
    modality.split(":", -1).toSeq match {
      case Seq("image") => MediaDecoder.aHash(_, "doc_id", "payload")
      case Seq("audio") =>
        MediaDecoder.envHash(_, "doc_id", "payload", 50)
      case Seq("audio", thr) =>
        MediaDecoder.envHash(_, "doc_id", "payload",
          intArg(thr, "threshold", 0))
      case Seq("video", fb) =>
        MediaDecoder.videoHash(_, "doc_id", "payload",
          intArg(fb, "frameBytes", 1), 5)
      case Seq("video", fb, k) =>
        MediaDecoder.videoHash(_, "doc_id", "payload",
          intArg(fb, "frameBytes", 1), intArg(k, "samples", 1))
      case _ => badModality("unknown modality")
    }
  }

  /** The ONE churn/delete/version derivation the sig-store
    * maintenance procedures share (maintain_neardups,
    * maintain_media_index — a further maintained family must ride it
    * too, so the bootstrap-tombstone and instant conventions cannot
    * drift): since = '' bootstraps from the full snapshot with the
    * store's stale ids as the delete set ([[staleStoreIds]]);
    * otherwise only the CDC churn after `since`. ts = the source
    * table's newest instant — monotonic across calls and derived from
    * table state, never the wall clock (the reconciles are
    * state-based, so a repeated call converges). */
  private def maintenanceChurn(
      proc: String, source: LakeTable, sourceName: String,
      sigs: LakeTable, since: String, valueCol: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame, Long) = {
    val snap = source.snapshot().select("doc_id", valueCol)
    val (churn, deleted) =
      if (since.isEmpty) (snap, staleStoreIds(sigs, snap))
      else LakeTable.cdcUpsertsAndDeletes(
        source.cdc(since), "doc_id", Seq(valueCol))
    val commits = source.timeline.commits()
    require(commits.nonEmpty,
      s"$proc: table '$sourceName' has no commits yet - ingest at " +
        "least one batch before maintaining the index")
    (churn, deleted, snap, commits.last.instant.toLong)
  }

  /** Boilerplate for a procedure returning a small local result set. */
  private def procedure(
      pname: String, desc: String,
      params: Seq[(String, org.apache.spark.sql.types.DataType)],
      outDdl: String)(
      run: InternalRow => Array[InternalRow]): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = pname
      override def description(): String = desc
      override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
        override def name(): String = pname
        override def description(): String = desc
        override def isDeterministic: Boolean = false
        override def parameters(): Array[ProcedureParameter] =
          params.map { case (n, t) => ProcedureParameter.in(n, t).build() }.toArray
        private val outType = StructType.fromDDL(outDdl)
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val out = run(input) // name must differ from rows(): `rows` in
          // the anon class body resolves to the method → infinite loop
          val scan: Scan = new LocalScan {
            override def rows(): Array[InternalRow] = out
            override def readSchema(): StructType = outType
          }
          java.util.List.of(scan).iterator()
        }
      }
    }

  private val StringT = org.apache.spark.sql.types.DataTypes.StringType
  private val IntT = org.apache.spark.sql.types.DataTypes.IntegerType

  /** `CALL graft.system.<proc>(...)`: `show_commits` replicates the
    * reference's C1 (IncrementalQuery.scala:36-37); `run_clean`,
    * `run_compaction` and `archive_commits` expose the table services
    * under Hudi's public CALL-procedure names. */
  override def loadProcedure(ident: Identifier): UnboundProcedure =
    ident.name().toLowerCase match {
      case "show_commits" => procedure(
        "show_commits", "newest-first commit timeline of a graft table",
        Seq("table" -> StringT),
        "commit_time STRING, action STRING, files_added INT, " +
          "files_removed INT, total_records BIGINT") { input =>
        lakeOf(input.getUTF8String(0).toString).timeline.commits().reverse.map { c =>
          InternalRow(
            UTF8String.fromString(c.instant), UTF8String.fromString(c.action),
            c.added.size, c.removed.size, c.totalRecords)
        }.toArray
      }
      case "run_clean" => procedure(
        "run_clean", "physically delete file versions beyond the retention window",
        Seq("table" -> StringT, "retain_commits" -> IntT),
        "deleted_file STRING") { input =>
        lakeOf(input.getUTF8String(0).toString).clean(input.getInt(1))
          .map(f => InternalRow(UTF8String.fromString(f))).toArray
      }
      case "run_compaction" => procedure(
        "run_compaction", "fold the merged snapshot into fresh base files (MOR)",
        Seq("table" -> StringT),
        "instant STRING") { input =>
        // None = nothing to fold: zero result rows, no phantom instant
        lakeOf(input.getUTF8String(0).toString).compact()
          .map(i => InternalRow(UTF8String.fromString(i))).toArray
      }
      case "rollback_to_instant" => procedure(
        "rollback_to_instant", "restore the table to its state as of an instant",
        Seq("table" -> StringT, "instant" -> StringT),
        "instant STRING") { input =>
        val inst = lakeOf(input.getUTF8String(0).toString)
          .restoreTo(input.getUTF8String(1).toString)
        Array(InternalRow(UTF8String.fromString(inst)))
      }
      case "run_clustering" => procedure(
        "run_clustering", "rewrite live files ordered by the record key " +
          "for tight, disjoint per-file key ranges",
        Seq("table" -> StringT),
        "instant STRING") { input =>
        lakeOf(input.getUTF8String(0).toString).cluster()
          .map(i => InternalRow(UTF8String.fromString(i))).toArray
      }
      case "run_zorder" => procedure(
        "run_zorder", "rewrite live files in Morton (z-order) interleave " +
          "of two numeric columns for two-dimensional pruning locality",
        Seq("table" -> StringT, "col_a" -> StringT, "col_b" -> StringT),
        "instant STRING") { input =>
        lakeOf(input.getUTF8String(0).toString).zorderCluster(Seq(
          input.getUTF8String(1).toString, input.getUTF8String(2).toString))
          .map(i => InternalRow(UTF8String.fromString(i))).toArray
      }
      case "archive_commits" => procedure(
        "archive_commits", "fold old commits into the timeline checkpoint",
        Seq("table" -> StringT, "min_to_keep" -> IntT, "max_to_keep" -> IntT),
        "archived_commits INT") { input =>
        val n = lakeOf(input.getUTF8String(0).toString)
          .archive(input.getInt(1), input.getInt(2))
        Array(InternalRow(n))
      }
      case "clean_orphans" => procedure(
        "clean_orphans", "delete unreferenced data files older than a threshold " +
          "(crashed-writer leftovers); pick hours > longest plausible write",
        Seq("table" -> StringT, "older_than_hours" -> IntT),
        "deleted_path STRING") { input =>
        lakeOf(input.getUTF8String(0).toString)
          .cleanOrphans(input.getInt(1) * 3600L * 1000L)
          .map(p => InternalRow(UTF8String.fromString(p))).toArray
      }
      case "show_fsview" => procedure(
        "show_fsview", "live file-system view: one row per live data file",
        Seq("table" -> StringT),
        "file_path STRING, partition STRING, commit_time STRING, " +
          "min_key STRING, max_key STRING, bucket INT, delta BOOLEAN, " +
          "external BOOLEAN") { input =>
        lakeOf(input.getUTF8String(0).toString).timeline.liveFiles(None)
          .sortBy(f => (f.partition, f.path)).map { f =>
            InternalRow(
              UTF8String.fromString(f.path), UTF8String.fromString(f.partition),
              UTF8String.fromString(f.instant),
              f.minKey.map(UTF8String.fromString).orNull,
              f.maxKey.map(UTF8String.fromString).orNull,
              f.bucket.map(Int.box).orNull,
              f.delta, f.external)
          }.toArray
      }
      case "show_savepoints" => procedure(
        "show_savepoints", "pinned instants, oldest first",
        Seq("table" -> StringT),
        "instant STRING") { input =>
        lakeOf(input.getUTF8String(0).toString).savepoints()
          .map(i => InternalRow(UTF8String.fromString(i))).toArray
      }
      case "create_savepoint" => procedure(
        "create_savepoint", "pin an instant's snapshot against clean/archive",
        Seq("table" -> StringT, "instant" -> StringT),
        "instant STRING") { input =>
        val inst = input.getUTF8String(1).toString
        lakeOf(input.getUTF8String(0).toString).createSavepoint(inst)
        Array(InternalRow(UTF8String.fromString(inst)))
      }
      case "delete_savepoint" => procedure(
        "delete_savepoint", "release a pinned instant",
        Seq("table" -> StringT, "instant" -> StringT),
        "deleted BOOLEAN") { input =>
        Array(InternalRow(java.lang.Boolean.valueOf(
          lakeOf(input.getUTF8String(0).toString)
            .deleteSavepoint(input.getUTF8String(1).toString))))
      }
      case "sync_database" => procedure(
        "sync_database", "mirror every lake table under a source directory " +
          "into this catalog's database as pointer commits (foreign-catalog " +
          "sync, SyncHiveWithDatabase shape), appending a sync_audit row per table",
        Seq("source_dir" -> StringT, "db" -> StringT),
        "num INT, table_name STRING, mark STRING, files_added INT, " +
          "files_removed INT, detail STRING") { input =>
        CatalogSync.syncInto(spark, input.getUTF8String(0).toString,
          warehouse, input.getUTF8String(1).toString).map { r =>
          InternalRow(r.num, UTF8String.fromString(r.tableName),
            UTF8String.fromString(r.mark), r.filesAdded, r.filesRemoved,
            UTF8String.fromString(r.detail))
        }.toArray
      }
      case "start_maintenance" => procedure(
        "start_maintenance", "start one of the CONTINUOUS maintenance " +
          "services (the CDC-fed streaming form of the maintain_* " +
          "procedures) from SQL: family = 'neardup' " +
          "(tables => 'docs,sigs,pairs'), 'media' " +
          "(tables => 'payloads,sigs,pairs', modality as in " +
          "maintain_media_index), or 'search' " +
          "(tables => 'docs,postings,stats,totals'); modality = '' for " +
          "the text families, optionally carrying a ';cluster=<N>' " +
          "(or bare 'cluster=<N>') delta-fold cadence for neardup/" +
          "media. The returned handle (= the checkpoint) " +
          "stops it via stop_maintenance. The service is a Spark " +
          "streaming query owned by THIS session — it dies with the " +
          "session; re-CALL with the same checkpoint to resume " +
          "exactly-once. Run ONE driver per index (this service OR the " +
          "batch maintain_* procedure, never both over the same churn)",
        Seq("family" -> StringT, "tables" -> StringT,
          "modality" -> StringT, "checkpoint" -> StringT),
        "handle STRING") { input =>
        val family = input.getUTF8String(0).toString
        val refs = input.getUTF8String(1).toString.split(",").toSeq
          .map(_.trim).filter(_.nonEmpty)
        // modality may carry a trailing ';cluster=<N>' maintenance
        // token: every N batches the service re-clusters its stores
        // (delta-tail fold — see the services' clusterEvery doc). The
        // text families take a bare 'cluster=<N>' (no modality).
        val modality0 = input.getUTF8String(2).toString
        val (modality, clusterEvery) = {
          val parts = modality0.split(";", -1).toSeq
          val (m, c) = parts match {
            case Seq(one) if one.startsWith("cluster=") => ("", one)
            case Seq(one) => (one, "")
            case Seq(m0, c0) => (m0, c0)
            case _ => throw new IllegalArgumentException(
              s"start_maintenance: cannot parse modality '$modality0'")
          }
          val n =
            if (c.isEmpty) 0
            else {
              require(c.startsWith("cluster="),
                s"start_maintenance: expected 'cluster=<N>', got '$c'")
              val v = try c.stripPrefix("cluster=").toInt
                catch { case _: NumberFormatException =>
                  throw new IllegalArgumentException(
                    s"start_maintenance: '$c' is not cluster=<int>") }
              require(v > 0,
                s"start_maintenance: cluster cadence must be positive: $c")
              v
            }
          (m, n)
        }
        val checkpoint = input.getUTF8String(3).toString
        require(checkpoint.nonEmpty, "start_maintenance: empty checkpoint")
        def paths(n: Int, optional: Int = 0): Seq[String] = {
          require(refs.length == n ||
              (optional > 0 && refs.length == n + optional),
            s"start_maintenance: family '$family' needs $n tables" +
              (if (optional > 0) s" (plus up to $optional optional)"
               else "") +
              s" (got ${refs.length}: ${refs.mkString(",")})")
          refs.map(r => lakeOf(r).basePath)
        }
        // two concurrent CALLs with the same checkpoint must not both
        // pass a check-then-put and start two streaming queries against
        // one checkpoint directory. The reservation is a CHEAP atomic
        // add on a side key-set — NOT a compute() that starts the query
        // under the map's bin lock: query startup takes seconds and
        // anything it reaches that touches the map (or a concurrent
        // stop_maintenance hashing to the same bin) would block or die
        // with a recursive-update error. A thrown require leaves the
        // prior mapping untouched (the finally only clears the
        // reservation).
        require(GraftCatalog.maintenanceStarting.add(checkpoint),
          s"start_maintenance: a service is already starting on " +
            s"checkpoint '$checkpoint'")
        try {
          val prior = GraftCatalog.maintenanceQueries.get(checkpoint)
          require(prior == null || !prior.isActive,
            s"start_maintenance: a service is already running on " +
              s"checkpoint '$checkpoint' - stop_maintenance it first")
          val q = family match {
            case "neardup" =>
              require(modality.isEmpty,
                "start_maintenance: modality applies to family 'media' only")
              // optional 4th table = the band-posting index
              val ps = paths(3, optional = 1)
              graft.streaming.NearDupMaintenance.start(spark, ps(0), ps(1),
                ps(2), checkpoint, postingsPath = ps.lift(3),
                clusterEvery = clusterEvery)
            case "media" =>
              // optional 4th table = the band-posting index
              val ps = paths(3, optional = 1)
              // reuse maintain_media_index's modality grammar by CALLING
              // through the shared parser below
              graft.streaming.SignatureMaintenance.start(spark, ps(0), ps(1),
                ps(2), checkpoint, hashFn = mediaHashFn(modality),
                postingsPath = ps.lift(3), clusterEvery = clusterEvery)
            case "search" =>
              require(modality.isEmpty,
                "start_maintenance: modality applies to family 'media' only")
              require(clusterEvery == 0,
                "start_maintenance: cluster=<N> applies to the neardup " +
                  "and media families")
              val Seq(d, po, st, to) = paths(4)
              graft.streaming.SearchIndexMaintenance.start(spark, d, po, st,
                to, checkpoint)
            case other => throw new IllegalArgumentException(
              s"start_maintenance: unknown family '$other' - expected " +
                "neardup | media | search")
          }
          GraftCatalog.maintenanceQueries.put(checkpoint, q)
          ()
        } finally GraftCatalog.maintenanceStarting.remove(checkpoint)
        Array(InternalRow(UTF8String.fromString(checkpoint)))
      }
      case "stop_maintenance" => procedure(
        "stop_maintenance", "stop a maintenance service started by " +
          "start_maintenance in THIS session, by its handle (the " +
          "checkpoint). Returns whether a running service was stopped; " +
          "state is durable in the lake tables + checkpoint, so a later " +
          "start_maintenance on the same checkpoint resumes exactly-once",
        Seq("handle" -> StringT),
        "stopped BOOLEAN") { input =>
        val handle = input.getUTF8String(0).toString
        // fail fast instead of racing a concurrent start_maintenance:
        // removing null here while the start is in flight would report
        // "nothing stopped" and then leave the new query running —
        // neither linearization the caller expects
        require(!GraftCatalog.maintenanceStarting.contains(handle),
          s"stop_maintenance: a service is still starting on " +
            s"checkpoint '$handle' - retry once it is up")
        val q = GraftCatalog.maintenanceQueries.remove(handle)
        val live = q != null && q.isActive
        if (live) q.stop()
        Array(InternalRow(live))
      }
      case "maintain_neardups" => procedure(
        "maintain_neardups", "reconcile a near-dup signature store " +
          "(doc_id, bands ARRAY<STRING>, fp STRING, rep BIGINT, ts) and " +
          "verified-pairs " +
          "table with a docs table's churn (the NearDupIndex increment): " +
          "since_instant = '' bootstraps from the full snapshot; otherwise " +
          "only the CDC churn after that instant is re-hashed",
        Seq("docs_table" -> StringT, "sigs_table" -> StringT,
          "pairs_table" -> StringT, "since_instant" -> StringT),
        "pairs BIGINT") { input =>
        val docs = lakeOf(input.getUTF8String(0).toString)
        val sigs = lakeOf(input.getUTF8String(1).toString)
        val pairs = lakeOf(input.getUTF8String(2).toString)
        val since = input.getUTF8String(3).toString
        val (churn, deleted, snap, ts) = maintenanceChurn(
          "maintain_neardups", docs, input.getUTF8String(0).toString,
          sigs, since, "text")
        graft.queries.NearDupIndex.reconcile(
          churn, deleted, snap, sigs, pairs, ts)
        Array(InternalRow(pairs.snapshot().count()))
      }
      case "maintain_search_index" => procedure(
        "maintain_search_index", "fold a docs table's churn into the " +
          "maintained BM25 search index (postings/df-stats/totals — the " +
          "SearchIndex increment): since_instant = '' bootstraps from the " +
          "full snapshot; otherwise only the CDC churn after that instant " +
          "is re-tokenized. The folds are increments, so the call is " +
          "replay-guarded per table (keyed by since_instant — a repeated " +
          "call is a no-op, never a double-fold); run ONE maintenance " +
          "driver per index (this procedure OR SearchIndexMaintenance, " +
          "not both over the same churn)",
        Seq("docs_table" -> StringT, "postings_table" -> StringT,
          "stats_table" -> StringT, "totals_table" -> StringT,
          "since_instant" -> StringT),
        "postings BIGINT") { input =>
        val docs = lakeOf(input.getUTF8String(0).toString)
        val post = lakeOf(input.getUTF8String(1).toString)
        val stats = lakeOf(input.getUTF8String(2).toString)
        val totals = lakeOf(input.getUTF8String(3).toString)
        val since = input.getUTF8String(4).toString
        val snap = docs.snapshot().select("doc_id", "text")
        val (after, before) =
          if (since.isEmpty) (snap, snap.limit(0))
          else LakeTable.cdcAfterAndBefore(docs.cdc(since), Seq("doc_id", "text"))
        // ts = the docs table's newest instant: monotonic across calls
        // and derived from table state, not the wall clock
        val commits = docs.timeline.commits()
        require(commits.nonEmpty,
          s"maintain_search_index: docs table '${input.getUTF8String(0)}' " +
            "has no commits yet - ingest at least one batch before " +
            "maintaining the search index")
        val ts = commits.last.instant.toLong
        // per-table replay guard keyed by since_instant (0 for
        // bootstrap): the df/totals folds are NON-idempotent, so a
        // retried/duplicated CALL must be a no-op — and runOnce's
        // monotonic batch-id rule also rejects a second bootstrap
        // landing on an already-incremented index. Same mechanism the
        // streaming service uses, scoped to this procedure+docs table
        // so the two drivers' markers never collide.
        val once = new graft.streaming.ExactlyOnce(spark,
          s"call:maintain_search_index:${input.getUTF8String(0)}")
        val callId = if (since.isEmpty) 0L else since.toLong
        graft.queries.SearchIndex.maintain(
          after, before, post, stats, totals, ts,
          guard = (t, f) => { once.runOnce(t, callId)(f); () })
        Array(InternalRow(post.snapshot().count()))
      }
      case "maintain_media_index" => procedure(
        "maintain_media_index", "reconcile a perceptual-signature store " +
          "and hamming-verified pairs table with a media payload table's " +
          "churn (the maintained image/audio/video dedup increment, " +
          "SignatureMaintenance's batch form): modality picks the 64-bit " +
          "hash — 'image' (aHash), 'audio[:threshold]' (envelope hash, " +
          "silence threshold default 50), 'video:<frameBytes>[:samples]' " +
          "(time-fraction majority fold, samples default 5); " +
          "since_instant = '' bootstraps from the full snapshot, " +
          "otherwise only the CDC churn after that instant is re-decoded. " +
          "Returns the pairs-table cardinality plus this call's decode " +
          "census (hashed/dropped churn payloads — monitor the drop " +
          "rate: a codec regression looks like unique docs otherwise)",
        Seq("payloads_table" -> StringT, "sigs_table" -> StringT,
          "pairs_table" -> StringT, "modality" -> StringT,
          "since_instant" -> StringT),
        "pairs BIGINT, hashed BIGINT, dropped BIGINT") { input =>
        val payloads = lakeOf(input.getUTF8String(0).toString)
        val sigs = lakeOf(input.getUTF8String(1).toString)
        val pairs = lakeOf(input.getUTF8String(2).toString)
        val modality = input.getUTF8String(3).toString
        val since = input.getUTF8String(4).toString
        val hashFn = mediaHashFn(modality)
        val (churn, deleted, _, ts) = maintenanceChurn(
          "maintain_media_index", payloads, input.getUTF8String(0).toString,
          sigs, since, "payload")
        val stats = graft.queries.MultimodalOps.phashReconcile(
          churn, deleted, sigs, pairs, ts, hashFn)
        Array(InternalRow(pairs.snapshot().count(), stats.hashed,
          stats.dropped))
      }
      case "decode_stats" => procedure(
        "decode_stats", "per-micro-batch decode census of a media " +
          "maintenance service (start_maintenance family 'media' / " +
          "SignatureMaintenance), read from the checkpoint's census " +
          "sidecar: hashed churn payloads produced a signature, dropped " +
          "did not and were tombstoned out of the index. Monitor the " +
          "drop rate — a codec regression looks like unique docs " +
          "otherwise. A replayed batch (crash before its marker) " +
          "appends a duplicate line; rows are as-written, so aggregate " +
          "by batch if exact-once counts matter",
        Seq("checkpoint" -> StringT),
        "batch BIGINT, instant BIGINT, hashed BIGINT, dropped BIGINT") {
        input =>
        graft.streaming.SignatureMaintenance.readStats(
          spark, input.getUTF8String(0).toString)
          .map { case (b, i, h, d) => InternalRow(b, i, h, d) }.toArray
      }
      case other =>
        throw new UnsupportedOperationException(s"unknown procedure $other")
    }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    Array("show_commits", "run_clean", "run_compaction", "archive_commits",
      "run_clustering", "run_zorder", "rollback_to_instant",
      "create_savepoint", "delete_savepoint", "show_fsview",
      "show_savepoints", "clean_orphans", "sync_database",
      "maintain_neardups", "maintain_search_index", "maintain_media_index",
      "start_maintenance", "stop_maintenance", "decode_stats")
      .map(Identifier.of(Array("system"), _))
}

object GraftCatalog {
  /** Live maintenance services started by `CALL start_maintenance`,
    * keyed by checkpoint (the handle). Session-scoped by nature — a
    * streaming query lives in the SparkSession that started it; the
    * durable state is the lake tables + checkpoint, so a later
    * start_maintenance on the same checkpoint resumes exactly-once. */
  private[sql] val maintenanceQueries =
    new java.util.concurrent.ConcurrentHashMap[
      String, org.apache.spark.sql.streaming.StreamingQuery]()

  /** Checkpoints whose start_maintenance is in flight: the atomic
    * reservation that makes the is-active check + insert race-free
    * WITHOUT holding the map's bin lock for the multi-second query
    * start (see the start_maintenance procedure). */
  private[sql] val maintenanceStarting =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}
