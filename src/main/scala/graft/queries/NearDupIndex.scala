package graft.queries

import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.SubmitterFuture
import org.apache.spark.sql.types.{DataType, LongType}

import graft.core.{ColPred, LakeTable, SkipStats}

/** The ONE increment-reconciliation algorithm behind every maintained
  * near-dup index — text MinHash ([[reconcile]]: the
  * `pipe4_incremental_neardup` gate, [[graft.streaming.NearDupMaintenance]],
  * `CALL maintain_neardups`) and the 64-bit media hashes
  * ([[MultimodalOps.phashReconcile]]: mm7/mm10/mm12/pipe9,
  * [[graft.streaming.SignatureMaintenance]], `CALL maintain_media_index`)
  * — so the DuckDB oracles, the property tests and the kill/restart
  * tests all exercise the same code. A [[Signature]] holds only what
  * differs between modalities.
  *
  * State = two lake tables: a SIGNATURE STORE keyed by doc_id holding
  * the signature, its group key, and the PERSISTED group representative
  * `rep` = min doc_id over byte-equal group keys (doc updates are plain
  * upserts — preCombine picks the newest signature; the reconcile
  * maintains rep, so unaffected groups' reps read back filter-only with
  * no per-batch window over the store) and a PAIRS table keyed (a, b)
  * holding the SKEW-COLLAPSED pair set ([[DedupOps.minhashPairs]]' and
  * [[MultimodalOps.pairsFromSigs]]' contract): star edges (min-id rep →
  * member) inside byte-equal groups, one verified cross pair per group
  * pair — a cluster of k exact copies persists k-1 rows, never O(k²).
  *
  * Scale: O(churn + affected-group size) per call — only the churn is
  * re-signed; candidates come from affected-group reps band-probed
  * against the store's group reps; the pairs semi-joins split the
  * OR-of-keys into two hash semi-joins; the reconciliation is ONE
  * upsert+delete commit (a mixed tombstone+data delta append on MOR
  * state tables). No full-corpus stage after bootstrap. */
private[graft] object NearDupIndex {

  /** Affected-key sets (and text verification id sets) up to this size
    * prune their reads FILE-wise through the col-stats index (collected
    * driver-side, O(values × files) driver compares); larger batches —
    * a rebuild, not churn — fall back to the lazy full-scan semi-join. */
  private[graft] val PruneLimit = 20000

  /** Adaptive posting-probe cutoff: the file-granularity col-stats
    * index can only skip files when the probe's band-key set is SMALL
    * relative to the posting file count (K uniformly-scattered keys
    * hit ~min(K, files) files), so probing from postings wins exactly
    * in the streaming micro-batch regime. Above this many churn band
    * keys a batch keeps the rep-scan + explode probe — linear in
    * corpus but with a small constant (a narrow scan) — while the
    * posting index is still MAINTAINED so later small batches prune.
    * The system property exists so specs can force the cutoff path
    * with small fixtures. */
  private[graft] def PostingProbeCutoff: Int = sys.props
    .get("graft.test.postingProbeCutoff").map(_.toInt).getOrElse(4096)

  /** Per-reconcile observability: `hashed` churn docs produced a
    * signature row this batch; `dropped` did not (undecodable media, or
    * a signature-less payload like an all-silent clip) and were
    * tombstoned out of the index. The drop-RATE is the number a 100 TB
    * curation run monitors: "unique doc" and "codec regression silently
    * dropped a third of the corpus" are indistinguishable from the pairs
    * table alone. The store* fields are the file-skip accounting of the
    * store slice read (zero when the store is unclustered or the batch
    * took the bootstrap or over-limit full-scan path). */
  final case class ReconcileStats(hashed: Long, dropped: Long,
      storeFilesKept: Int = 0, storeFilesSkipped: Int = 0,
      storeFilesDelta: Int = 0)

  /** Every frame one reconcile persists, released together when it
    * ends. Registration is single-threaded (the reconcile's own thread). */
  final class Frames {
    private val held = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def cache(df: DataFrame): DataFrame = { held += df.persist(); df }
    /** Lazy localCheckpoint: the first action materializes, but
      * downstream consumers see a LogicalRDD leaf instead of the full
      * lineage. The reconcile's relations embed each other repeatedly
      * (store ⊃ newSigs, affected keys ⊃ newSigs ∪ preStore, cand =
      * self-join, newPairs ⊃ all of them) and each reference DUPLICATES
      * the subtree: by the pairs write the plan tree measured 326,884
      * nodes, and Catalyst/AQE re-walks of it put 6-9 s of pure driver
      * planning inside one tiny commit. Checkpoint blocks are freed by
      * the ContextCleaner; every truncated frame is O(churn). */
    def pin(df: DataFrame): DataFrame = df.localCheckpoint(false)
    private[NearDupIndex] def release(): Unit = held.foreach(_.unpersist())
  }

  /** What differs between modalities; everything else is the protocol.
    *
    * @param sign         churn frame → (doc_id, signature columns), the
    *                     union of `bandSrc` and `keyCols`
    * @param keyCols      the byte-equal group key (NULL = unsigned doc)
    * @param bandSrc      the columns [[bands]] reads; the last one
    *                     exists in a store exactly when it holds rows
    * @param bandCol      the band-key column of the band join and the
    *                     posting index
    * @param bands        (doc_id, bandSrc) reps → (doc_id, bandCol,
    *                     carried columns): one row per band key. Carried
    *                     columns ride into the posting index
    * @param starScore    the pairs-table score of a star edge
    * @param verify       (band join aliased l/r, star edges, the frame
    *                     registry, store was empty) → the batch's
    *                     verified (a, b, score) pairs, MATERIALIZED (the
    *                     pairs write's small-file sizing reads Catalyst
    *                     stats, exact only for a computed cache)
    * @param keepUnsigned a churn doc with a NULL key stays in the store
    *                     with rep = doc_id (text: too short to shingle);
    *                     otherwise it is tombstoned and counted dropped */
  final case class Signature(
      sign: DataFrame => DataFrame,
      keyCols: Seq[String],
      bandSrc: Seq[String],
      bandCol: String,
      bands: DataFrame => DataFrame,
      starScore: Column,
      verify: (DataFrame, DataFrame, Frames, Boolean) => DataFrame,
      keepUnsigned: Boolean) {
    val storeCols: Seq[String] = "doc_id" +: (bandSrc ++ keyCols).distinct
  }

  /** (a, b) of a band-join row, a < b. */
  private[queries] val pairCols: Seq[Column] = Seq(
    least(col("l.doc_id"), col("r.doc_id")).as("a"),
    greatest(col("l.doc_id"), col("r.doc_id")).as("b"))

  /** Text MinHash: packed LSH band keys + shingle-set fingerprint `fp`,
    * candidates verified by exact Jaccard over the current docs. */
  private def minhash(docsSnap: DataFrame,
      docsLookup: Option[Seq[Long] => DataFrame]): Signature = Signature(
    // emits a row for EVERY churn doc — a text too short to shingle
    // gets an EMPTY band array and NULL fp, so the store never keeps a
    // STALE signature for a doc whose text shrank
    sign = DedupOps.minhashBands,
    keyCols = Seq("fp"), bandSrc = Seq("bands"), bandCol = "bk",
    bands = _.select(col("doc_id"), explode(col("bands")).as("bk")),
    // equal shingle sets ⟹ jaccard exactly 1
    starScore = lit(1.0).as("jaccard"),
    verify = (joined, star, f, storeWasEmpty) => {
      val cand = f.cache(f.pin(joined.select(pairCols: _*).distinct()))
      cand.count()
      val candIds = cand.select(col("a").as("doc_id"))
        .unionByName(cand.select(col("b").as("doc_id"))).distinct()
      // verification re-shingles only docs that appear in a candidate;
      // with a keyed lookup the doc rows come from a key-pruned read
      // (candidates are O(churn) after bootstrap), with the candidate
      // join kept on top as the exactness re-filter
      val verifyDocs = docsLookup match {
        case Some(lookup) if !storeWasEmpty =>
          val ids = candIds.limit(PruneLimit + 1).collect().map(_.getLong(0))
          if (ids.length <= PruneLimit) lookup(ids.toSeq).join(candIds, "doc_id")
          else docsSnap.join(candIds, "doc_id")
        case _ => docsSnap.join(candIds, "doc_id")
      }
      val newPairs = f.cache(star.unionByName(
        DedupOps.verifyJaccard(cand, verifyDocs, Some(f.cache))))
      newPairs.count()
      newPairs
    },
    keepUnsigned = true)

  /** Apply one churn batch of texts to the maintained MinHash index.
    *
    * @param churn      (doc_id, text) of upserted docs — post-merge
    *                   current values
    * @param deletedIds (doc_id) of departed docs
    * @param docsSnap   (doc_id, text) of the CURRENT corpus, for
    *                   exact-Jaccard verification of candidates
    * @param ts         monotonic preCombine value for this batch
    *                   (commit sequence or streaming batch id)
    * @param tag        commit tag for the pairs reconciliation (the
    *                   [[graft.streaming.ExactlyOnce]] batch marker)
    * @param postings   optional BAND-POSTING INDEX: one (bk, doc_id)
    *                   row per band key of every CURRENT group rep,
    *                   keyed (bk, doc_id), maintained in lockstep with
    *                   the store. With it, the cross-candidate probe
    *                   reads the posting table file-pruned by the
    *                   churn's band keys instead of scanning + exploding
    *                   EVERY stored rep's bands per batch. Create it
    *                   with primaryKey (bk, doc_id) and statsColumns
    *                   (bk, ts), cluster it by bk periodically, and
    *                   either attach it from the store's first
    *                   (bootstrap) batch or drop/recreate BOTH — a
    *                   posting table that missed batches is refused.
    * @param docsLookup optional KEYED lookup of current (doc_id, text)
    *                   rows for the given ids — lets verification read
    *                   the docs table key-pruned instead of semi-joining
    *                   the full docsSnap scan. May return extra or
    *                   stale-keyed rows for OTHER ids (the candidate
    *                   semi-join re-filters); must be current for the
    *                   requested ids. Falls back to docsSnap above
    *                   [[PruneLimit]] candidates.
    * @return file-skip accounting for the store slice read */
  def reconcile(
      churn: DataFrame,
      deletedIds: DataFrame,
      docsSnap: DataFrame,
      sigs: LakeTable,
      pairs: LakeTable,
      ts: Long,
      tag: Option[String] = None,
      postings: Option[LakeTable] = None,
      docsLookup: Option[Seq[Long] => DataFrame] = None): SkipStats = {
    val st = reconcileWith(minhash(docsSnap, docsLookup), churn, deletedIds,
      sigs, pairs, ts, tag, postings)
    SkipStats(st.storeFilesKept, st.storeFilesSkipped, st.storeFilesDelta)
  }

  private def eqPred(column: String, values: Seq[Any], t: DataType) =
    ColPred(column, "eq", values.map(_.toString), isLong = t == LongType)

  /** The reconcile itself; see the object doc and [[reconcile]]'s
    * parameters. `churn` is (doc_id, what `sig.sign` reads). */
  private[graft] def reconcileWith(
      sig: Signature,
      churn: DataFrame,
      deletedIds: DataFrame,
      sigs: LakeTable,
      pairs: LakeTable,
      ts: Long,
      tag: Option[String],
      postings: Option[LakeTable]): ReconcileStats = {
    val f = new Frames
    val keys = sig.keyCols.map(col)
    val keyed = keys.map(_.isNotNull).reduce(_ && _)
    val repCols = ("doc_id" +: sig.bandSrc).map(col)
    val storeCols = sig.storeCols.map(col)
    var sigWrite: Future[Any] = Future.successful(())
    var postWrite: Future[Any] = Future.successful(())
    var touchedJob: Future[Any] = Future.successful(())
    try {
      // every relation here feeds 2+ consumers (a store upsert AND a
      // band explode; the write path itself reads its input twice:
      // probe + write) — persist each once
      val churnC = f.cache(churn)
      val deletedC = f.cache(deletedIds)
      // plans pinned BEFORE the writes below (snapshot() resolves its
      // file list eagerly, no job). A never-written store — or one
      // whose ONLY prior write was a tombstone delete, schema {doc_id}
      // — takes the bootstrap branches.
      val preStore = sigs.snapshot()
      val storeWasEmpty = !preStore.columns.contains(sig.bandSrc.last)
      // contract guard BEFORE any write is scheduled: a store written
      // before the persisted-rep / skew-collapse contract cannot be
      // reconciled incrementally, and a retry after a partial write
      // would otherwise find the columns present and silently treat
      // every legacy row's NULL key or rep as real
      require(storeWasEmpty ||
          (sig.storeCols ++ Seq("rep", "ts")).forall(preStore.columns.contains),
        "signature store predates the skew-collapsed persisted-rep " +
          s"contract (missing one of ${sig.keyCols.mkString("/")}/rep/ts) - " +
          "drop/recreate the sigs AND pairs tables and rebuild with a " +
          s"bootstrap reconcile: ${sigs.basePath}")
      val signed = sig.sign(churnC)
      // a signature function may emit NULL keys for a doc it cannot
      // sign: unless the modality keeps such docs, filtering here makes
      // a NULL-key row mean the same as an absent row (the doc joins the
      // tombstone side below) instead of forming ONE bogus NULL group
      val newSigs = f.cache(f.pin(
        if (sig.keepUnsigned) signed else signed.filter(keyed)))
      val pairsSnap = pairs.snapshot()
      val pairsBootstrap = !pairsSnap.columns.contains("a")
      val churnIds = f.cache(churnC.select("doc_id")
        .unionByName(deletedC).distinct())
      // AFFECTED groups: keys that gained, lost, or re-hashed a member
      // this batch — the churn's NEW keys plus the PRE-store keys of
      // churned/departed docs (a delete can promote a new rep, an
      // insert with a smaller id can demote one; either rewrites the
      // group's star edges and cross endpoints, which is why the
      // tombstone scope below is group members, not just churn ids),
      // plus the CRASH-REPLAY widening: if the previous attempt at THIS
      // batch committed the signature write and died before the tagged
      // pairs commit, the store already reflects attempt 1 — a departed
      // doc has no row and a re-hashed doc carries its NEW key, so the
      // churn-derived keys miss its OLD group. Attempt 1 stamped every
      // member of every affected group with THIS ts, so "store keys
      // written at ts" recovers exactly attempt 1's affected groups.
      // A spurious widening only re-derives already-correct edges (the
      // reconcile is state-based), never corrupts.
      //
      // The old-key lookup is a COLUMN-PRUNED store scan (the heavy
      // signature columns are never read here).
      val oldKeys =
        if (storeWasEmpty) newSigs.limit(0).select(keys: _*)
        else preStore.select(col("doc_id") +: keys: _*)
          .join(churnIds, Seq("doc_id"), "leftsemi").select(keys: _*)
      // replay detection is a DRIVER-SIDE metadata check, not a scan:
      // the signature write below carries its own commit tag —
      // '<tag>:sigs' for tagged (streaming) callers, the synthesized
      // 'rcsigs:<ts>' for untagged batch callers (ts is the caller's
      // per-batch monotonic stamp). A clean first run pays nothing. The
      // synthesized marker shares the tag namespace with caller tags —
      // reserve the prefix so no caller tag can alias a replay marker.
      require(tag.forall(t => !t.startsWith("rcsigs")),
        s"caller tag must not use the reserved 'rcsigs' prefix: $tag")
      val sigsTag = Some(tag.map(_ + ":sigs").getOrElse(s"rcsigs:$ts"))
      val sigsCommits = sigs.timeline.commits()
      // LEGACY-STORE transition guard: sigs data commits written before
      // the tagged-sigs protocol carry NO tag, so their crash window is
      // invisible to the tag probe — any untagged sigs data commit
      // forces the conservative widening. Compaction/cluster commits
      // are not data commits and don't count.
      val replayed = sigsTag.exists(t0 =>
        sigsCommits.exists(_.tag.contains(t0))) ||
        (!storeWasEmpty && sigsCommits.exists(c => c.tag.isEmpty &&
          (c.action == "deltacommit" || c.action == "upsert")))
      // the replay arm reads through the ts-pruned snapshotSkipping
      // path, which skips every clustered base file (their stamps
      // predate this batch) and reads only the delta tail
      val replayKeys =
        if (storeWasEmpty || !replayed) newSigs.limit(0).select(keys: _*)
        else sigs.snapshotSkipping(Seq(ColPred(
            "ts", "eq", Seq(ts.toString), isLong = true)))._1
          .filter(col("ts") === lit(ts)).select(keys: _*)
      // collect the affected-key set DRIVER-SIDE (overlapped with the
      // heavy churn signing materializing on this thread): the set is
      // O(churn groups), and holding it on the driver lets the store
      // read below prune FILES through the col-stats index. Only worth
      // its driver jobs when the store can actually prune (declared
      // key col-stats on base files); beyond PruneLimit fall back to
      // the lazy full-scan semi-join — same rows, no pruning.
      val pruneFeasible =
        !storeWasEmpty && sigs.skippingWorthwhile(sig.keyCols.head)
      def probe(df: DataFrame): Array[Row] =
        df.filter(keyed).distinct().limit(PruneLimit + 1).collect()
      val storeProbe: Future[Array[Row]] =
        if (!pruneFeasible) Future.successful(Array.empty)
        else SubmitterFuture(probe(oldKeys.unionByName(replayKeys)))
      // materialize BEFORE the background writes start: their
      // small-file sizing reads Catalyst stats, exact only for a
      // computed cache, and the writes and the candidate join would
      // otherwise race to compute the same blocks
      val hashed =
        try newSigs.count()
        finally Await.ready(storeProbe, Duration.Inf)
      // surface a store-read failure here, not inside a later consumer
      val storeKeys = Await.result(storeProbe, Duration.Inf)
      // a churn doc whose new content yields no signature must DROP OUT
      // of the index — its old signature describes superseded content,
      // and a from-scratch rebuild would have no row for it — so it
      // joins the tombstone side. Counted: the drop-rate is returned
      // observability (the count reads only the churn's id column)
      val unsigned =
        if (sig.keepUnsigned) None
        else Some(f.cache(churnC.select("doc_id")
          .join(newSigs.select("doc_id"), Seq("doc_id"), "left_anti")))
      val dropped = unsigned.fold(0L)(_.count())
      val delC = unsigned.fold(deletedC)(u =>
        f.cache(deletedC.unionByName(u).distinct()))
      val newKeys =
        if (!pruneFeasible || storeKeys.length > PruneLimit) Array.empty[Row]
        else probe(newSigs.select(keys: _*))
      val keyVals = (storeKeys ++ newKeys).distinct
      val pruneOn = pruneFeasible && keyVals.length <= PruneLimit
      val keySchema = newSigs.select(keys: _*).schema
      // the affected-key relation the semi-joins broadcast: the
      // collected set when pruning, the lazy union otherwise
      val affectedKeys = f.cache(
        if (pruneOn)
          churn.sparkSession.createDataFrame(keyVals.toSeq.asJava, keySchema)
        else newSigs.select(keys: _*).unionByName(oldKeys)
          .unionByName(replayKeys).filter(keyed).distinct())
      // pre-write store slice the reconcile works from: FILE-PRUNED by
      // the affected keys when the set is bounded (after the store has
      // been clustered by key, a churn batch plans only the files whose
      // key range intersects an affected group — O(affected files); a
      // multi-column IN-list is loose across columns, which only keeps
      // extra files), the plain full snapshot otherwise. Exact under MOR
      // pruning per snapshotSkipping's contract: every key whose current
      // group is affected is present and current; missing keys have
      // unaffected groups, which the semi-join below drops anyway.
      val (preSlice0, skipStats) =
        if (storeWasEmpty)
          (newSigs.limit(0).select(storeCols: _*)
            .withColumn("rep", lit(null).cast("long")), SkipStats(0, 0, 0))
        else if (pruneOn) {
          val (df, st) = sigs.snapshotSkipping(
            sig.keyCols.zipWithIndex.map { case (c, i) =>
              eqPred(c, keyVals.map(_.get(i)).distinct.toSeq,
                keySchema(c).dataType)
            })
          (df.select(storeCols :+ col("rep"): _*), st)
        } else
          (preStore.select(storeCols :+ col("rep"): _*), SkipStats(0, 0, 0))
      val preSlice = f.cache(f.pin(preSlice0))
      // post-churn content of the affected slice, derived as newSigs ∪
      // (pre-write slice minus churned and departed keys): every signed
      // churn doc has a row in newSigs, so the anti-join reproduces
      // exactly what the read-side merge would pick after this batch.
      val store =
        if (storeWasEmpty) newSigs.select(storeCols: _*)
        else newSigs.select(storeCols: _*).unionByName(
          preSlice.join(churnIds, Seq("doc_id"), "left_anti")
            .select(storeCols: _*))
      // members of AFFECTED groups only (affectedKeys is O(churn groups)
      // — AQE broadcasts the semi-join, so the planned slice is scanned
      // but never shuffled or sorted whole); the rep window runs over
      // this slice. NULL-key rows never join a group.
      val affectedMembers = f.cache(f.pin((
        if (storeWasEmpty)
          // bootstrap: every group is affected — skip the corpus-sized
          // key distinct + semi-join (affectedKeys then never evaluates:
          // its only other consumer anti-joins an empty pre-store side,
          // which the optimizer eliminates)
          store.filter(keyed)
        else store.join(affectedKeys, sig.keyCols, "leftsemi"))
        .withColumn("rep", min("doc_id").over(Window.partitionBy(keys: _*)))))
      // materialize the shared cache (and the store MOR read under it)
      // ONCE on this thread before the background writes launch: racing
      // them and the pairs chain into a cold cache duplicates the store
      // read — measured slower than the serial read + overlapped write
      affectedMembers.count()
      // the write set is the whole (cached) affected frame plus the
      // kept unsigned churn rows (rep = doc_id) — a superset of the
      // minimal rep-diff, chosen deliberately: deriving "only rows whose
      // rep changed" costs 3 extra per-batch join jobs, which at
      // streaming batch sizes outweighs re-upserting the small slice
      val members = affectedMembers.select(storeCols :+ col("rep"): _*)
      val writeRows =
        if (!sig.keepUnsigned) members
        else members.unionByName(newSigs.filter(!keyed)
          .select(storeCols :+ col("doc_id").as("rep"): _*))
      // one group's signatures are identical across members, so the
      // rep's own row represents the group in every band join
      val affectedReps = affectedMembers
        .filter(col("doc_id") === col("rep")).select(repCols: _*)
      val lb = sig.bands(affectedReps)
      val postCols = (sig.bandCol +: "doc_id" +:
        lb.columns.filterNot(Set("doc_id", sig.bandCol)).toSeq).map(col)
      // BAND-POSTING INDEX (see [[reconcile]]'s parameter doc): derive
      // this batch's posting delta and the pruned probe slice BEFORE any
      // write launches, so every plan is pinned on pre-batch state.
      // Stored reps of affected groups (their posting entries retire
      // this batch) come from the cached pruned slice.
      val postingsPlan: Option[(DataFrame, DataFrame, Option[DataFrame])] =
        postings.map { p =>
          val pSnap = p.snapshot()
          val pBootstrap = !pSnap.columns.contains(sig.bandCol)
          // lockstep guard: a posting table can only attach at the
          // store's own bootstrap — attaching one to an already-
          // populated store would silently miss every pre-existing rep
          require(storeWasEmpty || !pBootstrap,
            "posting index attached to an already-populated signature " +
              "store - drop/recreate the sigs, pairs AND postings " +
              s"tables and rebuild with a bootstrap reconcile: ${p.basePath}")
          val oldRepRows =
            if (storeWasEmpty) preSlice.limit(0)
            else preSlice.join(affectedKeys, sig.keyCols, "leftsemi")
              .filter(col("doc_id") === col("rep"))
          val postDeletes = sig.bands(oldRepRows).select(sig.bandCol, "doc_id")
          val postUpserts = lb.select(postCols: _*)
          // probe slice: posting entries under the churn's own band
          // keys, collected bounded so the read FILE-prunes through the
          // band col-stats once the posting table is clustered. Above
          // [[PostingProbeCutoff]] keys, or when the driver-side skipping
          // plan shows the pruning would not bite, the FULL posting scan
          // — still narrow columns, and it beats re-deriving the same
          // rows by scanning + exploding the store (measured ~2× on a
          // 10⁶-doc store)
          val rbStored: Option[DataFrame] =
            if (pBootstrap) None
            else {
              val bks = lb.select(sig.bandCol).distinct()
                .limit(PostingProbeCutoff + 1).collect().map(_.get(0))
              val pruned: Option[DataFrame] =
                if (bks.length > PostingProbeCutoff) None
                else {
                  val (df, st) = p.snapshotSkipping(Seq(eqPred(sig.bandCol,
                    bks.toSeq, lb.schema(sig.bandCol).dataType)))
                  if (st.kept > st.skipped && st.kept > 64) None
                  // ROW-level filter on top of the file pruning: kept
                  // files still hold non-probe keys (an InSet at the scan)
                  else Some(df.where(col(sig.bandCol).isin(bks.toSeq: _*)))
                }
              // entries of affected groups' RETIRING reps are stale this
              // batch (re-derived through affectedReps) — drop them;
              // unaffected reps' entries are current by the lockstep
              // invariant
              Some(pruned.getOrElse(pSnap).select(postCols: _*)
                .join(oldRepRows.select("doc_id"), Seq("doc_id"), "left_anti"))
            }
          (postDeletes, postUpserts, rbStored)
        }
      // the signature-store write, the posting-index write, and the
      // pairs reconciliation write DIFFERENT tables from the same cached
      // inputs — run the two index writes on a background thread,
      // overlapped with the candidate/verify/pairs chain (concurrent
      // they cost ~max instead of sum). Safe because every plan here was
      // pinned above on pre-batch state and derives post-churn content
      // from newSigs without reading written files. WRITE ORDER is
      // load-bearing: postings commit BEFORE sigs (awaited inside the
      // sigs future), because a replay after a sigs-committed/
      // postings-uncommitted crash would derive the posting delete keys
      // from the store's NEW signatures and could never retire a
      // re-hashed rep's OLD-band entries. The departed-doc tombstones
      // ride the SAME sigs commit (deleted ids are disjoint from churn
      // ids by contract); combine=false: one row per doc — and one per
      // (band key, doc_id), band keys being index-prefixed — by
      // construction.
      postWrite = postingsPlan match {
        case Some((postDeletes, postUpserts, _)) => SubmitterFuture {
          postings.get.upsertWithDeletes(
            postUpserts.withColumn("ts", lit(ts)), postDeletes,
            combine = false)
        }
        case None => Future.successful(())
      }
      sigWrite = SubmitterFuture {
        Await.result(postWrite, Duration.Inf)
        sigs.upsertWithDeletes(writeRows.withColumn("ts", lit(ts)),
          delC, tag = sigsTag, combine = false)
      }
      // PAIRS tombstone side: stored pairs touching any current member
      // of an affected group (their edges are re-derived below — an
      // unchanged edge is an update) or any churned/departed id.
      // Materialized on a background thread so it rides the candidate/
      // verify chain's shadow; persist registration stays on this
      // thread. Safe: nothing commits to PAIRS before the final write.
      val touchedPre: Option[DataFrame] =
        if (pairsBootstrap) None
        else {
          val staleIds = f.cache(affectedMembers.select("doc_id")
            .unionByName(churnIds).distinct())
          val cur = pairsSnap.select("a", "b")
          // OR-of-keys as two hash semi-joins, not one OR-join
          val touched = f.cache(
            cur.join(staleIds.withColumnRenamed("doc_id", "a"),
                Seq("a"), "leftsemi")
              .unionByName(cur.join(
                staleIds.withColumnRenamed("doc_id", "b"),
                Seq("b"), "leftsemi"))
              .distinct())
          touchedJob = SubmitterFuture(touched.count())
          Some(touched)
        }
      val star = affectedMembers.filter(col("doc_id") =!= col("rep"))
        .select(col("rep").as("a"), col("doc_id").as("b"), sig.starScore)
      // cross candidates: affected-group reps band-probed against ALL
      // group reps = the recomputed affected reps plus the STORED reps
      // of unaffected groups — from the pre-pinned posting slice when
      // an index is attached and the key set is micro-batch-sized, else
      // the filter + broadcast anti-join off the pre-store scan (no
      // window, no shuffle); pairs wholly inside the batch are found
      // because affected reps are themselves reps
      val rb = postingsPlan match {
        case Some((_, _, Some(rbStored))) =>
          lb.unionByName(rbStored.select(lb.columns.map(col).toSeq: _*))
        case _ =>
          val storedReps =
            if (storeWasEmpty) preSlice.limit(0)
            else preStore.select(storeCols :+ col("rep"): _*)
          sig.bands(affectedReps.unionByName(
            storedReps.filter(keyed && col("doc_id") === col("rep"))
              .join(affectedKeys, sig.keyCols, "left_anti")
              .select(repCols: _*)))
      }
      val newPairs = sig.verify(
        lb.as("l").join(rb.as("r"),
          col(s"l.${sig.bandCol}") === col(s"r.${sig.bandCol}") &&
            col("l.doc_id") =!= col("r.doc_id")),
        star, f, storeWasEmpty)
      // the SIGNATURE write must be durable BEFORE the tagged pairs
      // commit: the streaming service's exactly-once marker rides the
      // pairs tag, and a replay that finds the tag skips the whole batch
      // — so "pairs tag present ⇒ sigs batch committed" is the
      // crash-safety invariant. result, not ready: a store-write failure
      // must surface before the tag is written. A never-written pairs
      // table has nothing to reconcile against: a plain tagged upsert.
      // Otherwise ONE upsert+delete commit keeps the tag atomic with the
      // whole reconciliation (a pair on both sides is an update);
      // combine=false: newPairs is unique per (a, b) by construction.
      Await.result(sigWrite, Duration.Inf)
      touchedPre match {
        case None =>
          pairs.upsert(newPairs.withColumn("ts", lit(ts)), tag = tag,
            combine = false)
        case Some(touched) =>
          // await so a snapshot-read failure surfaces here, not in finally
          Await.result(touchedJob, Duration.Inf)
          pairs.upsertWithDeletes(
            newPairs.withColumn("ts", lit(ts)), touched, tag = tag,
            combine = false)
      }
      ReconcileStats(hashed, dropped,
        skipStats.kept, skipStats.skipped, skipStats.deltaRead)
    } finally {
      // on a pairs-chain failure the index writes or the touched
      // prefetch may still be in flight — never unpersist their inputs
      // from under them
      Await.ready(postWrite, Duration.Inf)
      Await.ready(sigWrite, Duration.Inf)
      Await.ready(touchedJob, Duration.Inf)
      f.release()
    }
  }
}
