package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.core._

/** Property tests (SURVEY §5.3): upsert idempotence, snapshot ≡ fold
  * of commits against an in-memory model, delete∘insert round trip,
  * and the raw (non-hive) partition layout. */
class PropertySpec extends AnyFunSuite {

  /** Deterministic scalacheck sampling (no scalatestplus bridge in the
    * offline cache): run the property over seeded samples. */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).map(i => g.pureApply(Gen.Parameters.default, Seed(42L + i)))

  import TestSpark.{spark, tmpPath}
  import spark.implicits._

  private def props(hive: Boolean = true) = TableProps(
    "prop", Seq("id"), Some("ts"), Seq("dt"), hiveStylePartitioning = hive)

  private val rowGen = for {
    id <- Gen.choose(1, 20)
    v <- Gen.alphaStr.map(_.take(4))
    ts <- Gen.choose(1L, 5L)
    dt <- Gen.oneOf("d1", "d2")
  } yield (id, v, ts, dt)

  private val batchGen = Gen.listOfN(8, rowGen)

  test("upsert is idempotent: applying the same batch twice ≡ once") {
    samples(batchGen, 3).foreach { rows =>
      if (rows.nonEmpty) {
        val t1 = LakeTable.create(spark, tmpPath("prop_"), props())
        val t2 = LakeTable.create(spark, tmpPath("prop_"), props())
        val df = rows.toDF("id", "v", "ts", "dt")
        t1.upsert(df)
        t2.upsert(df); t2.upsert(df)
        val s1 = t1.snapshot().select("id", "v", "ts", "dt").collect().map(_.toSeq).toSet
        val s2 = t2.snapshot().select("id", "v", "ts", "dt").collect().map(_.toSeq).toSet
        assert(s1 == s2)
      }
    }
  }

  test("snapshot ≡ fold of batches over an in-memory model") {
    samples(Gen.listOfN(3, batchGen), 3).foreach { batches =>
      val t = LakeTable.create(spark, tmpPath("prop_"), props())
      // model: (key, partition) -> (v, ts); larger ts wins, incoming
      // wins ties — LatestByOrdering
      var model = Map.empty[(Int, String), (String, Long)]
      batches.foreach { rows =>
        if (rows.nonEmpty) {
          t.upsert(rows.toDF("id", "v", "ts", "dt"))
          // intra-batch dedup first: keep max ts (ties: any — align by
          // applying in ts order so the last-max matches the table's
          // deterministic hash tie-break is unnecessary: compare sets
          // only on (id, dt, ts) when ties are possible
          rows.groupBy(r => (r._1, r._4)).foreach { case (k, g) =>
            val maxTs = g.map(_._3).max
            val incoming = g.filter(_._3 == maxTs)
            val winner = incoming.head
            model.get(k) match {
              case Some((_, ts0)) if ts0 > maxTs => ()
              case _ => model += k -> (winner._2, maxTs)
            }
          }
        }
      }
      val snap = t.snapshot().select("id", "dt", "ts").collect()
        .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(snap.keySet == model.keySet)
      snap.foreach { case (k, ts) => assert(model(k)._2 == ts, s"key $k") }
    }
  }

  test("footer-probed and scan-probed DML sequences converge to the same state") {
    // randomized upsert/delete sequences replayed twice — once with
    // the default footer-resolved probe, once with the scan semi-join
    // forced (driverKeyCap=0) — plus an in-memory model. All three
    // must agree on the final (key, partition) -> ts state: the footer
    // probe's dictionary/bloom decisions can never lose an update or
    // leave a stale version live.
    val opGen: Gen[(Boolean, List[(Int, String, Long, String)])] = for {
      isDelete <- Gen.frequency(3 -> false, 1 -> true)
      rows <- batchGen
    } yield (isDelete, rows)
    val savedCap = spark.conf.getOption("spark.graft.probe.driverKeyCap")
    def replay(ops: Seq[(Boolean, List[(Int, String, Long, String)])],
        path: String): Map[(Int, String), Long] = {
      val t = LakeTable.create(spark, path, props())
      ops.foreach {
        case (false, rows) if rows.nonEmpty =>
          t.upsert(rows.toDF("id", "v", "ts", "dt"))
        case (true, rows) if rows.nonEmpty =>
          t.delete(rows.map(r => (r._1, r._4)).distinct.toDF("id", "dt"))
        case _ => ()
      }
      t.snapshot().select("id", "dt", "ts").collect()
        .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    }
    try {
      samples(Gen.listOfN(4, opGen), 2).foreach { ops =>
        var model = Map.empty[(Int, String), Long]
        ops.foreach {
          case (false, rows) =>
            rows.groupBy(r => (r._1, r._4)).foreach { case (k, g) =>
              val maxTs = g.map(_._3).max
              if (model.get(k).forall(_ <= maxTs)) model += k -> maxTs
            }
          case (true, rows) =>
            rows.foreach(r => model -= ((r._1, r._4)))
        }
        spark.conf.unset("spark.graft.probe.driverKeyCap")
        val viaFooter = replay(ops, tmpPath("prop_"))
        spark.conf.set("spark.graft.probe.driverKeyCap", "0")
        val viaScan = replay(ops, tmpPath("prop_"))
        assert(viaFooter == viaScan,
          s"footer vs scan probe diverged:\n$viaFooter\n$viaScan")
        assert(viaFooter == model,
          s"table diverged from model:\n$viaFooter\n$model")
      }
    } finally savedCap match {
      case Some(v) => spark.conf.set("spark.graft.probe.driverKeyCap", v)
      case None => spark.conf.unset("spark.graft.probe.driverKeyCap")
    }
  }

  test("delete after insert round-trips to absence") {
    val t = LakeTable.create(spark, tmpPath("prop_"), props())
    val rows = Seq((1, "a", 1L, "d1"), (2, "b", 1L, "d2"))
    t.upsert(rows.toDF("id", "v", "ts", "dt"))
    t.delete(rows.map(r => (r._1, r._4)).toDF("id", "dt"))
    assert(t.snapshot().count() == 0)
    // re-insert after delete works
    t.upsert(rows.toDF("id", "v", "ts", "dt"))
    assert(t.snapshot().count() == 2)
  }

  test("streaming near-dup reconciliation tracks random DML sequences") {
    // randomized insert/update/delete batches against a docs table
    // with a small text vocabulary (3 disjoint families × suffix
    // variants, so near-dup pairs form and dissolve as texts change);
    // after EVERY micro-batch the maintained pairs table must equal a
    // brute-force exact-Jaccard recompute over the current corpus —
    // the O(churn) reconciliation can never strand a stale pair or
    // miss a new one, under any interleaving. Runs once over COW
    // state tables and once over MOR (delta-commit appends — the
    // ingest-heavy shape the signature store would use at scale).
    import graft.queries.DedupOps
    import graft.streaming.NearDupMaintenance
    val fams = Seq(
      "alpha bravo charlie delta echo foxtrot golf hotel india juliet",
      "kilo lima mike november oscar papa quebec romeo sierra tango",
      "uniform victor whiskey xray yankee zulu acorn birch cedar dogwood")
    val docGen = for {
      id <- Gen.choose(1L, 12L)
      fam <- Gen.oneOf(fams)
      nSuf <- Gen.choose(0, 2)
    } yield (id, (fam + " " + Seq("extra", "more").take(nSuf).mkString(" ")).trim)
    val opGen = for {
      isDelete <- Gen.frequency(4 -> false, 1 -> true)
      docs <- Gen.listOfN(3, docGen)
    } yield (isDelete, docs.distinctBy(_._1))

    for (tableType <- Seq("cow", "mor")) {
      val docsPath = tmpPath("prop_")
      val sigPath = tmpPath("prop_")
      val pairsPath = tmpPath("prop_")
      val ckpt = tmpPath("prop_")
      val docs = LakeTable.create(spark, docsPath, TableProps(
        "pnddocs", Seq("doc_id"), Some("ts"), Seq.empty))
      LakeTable.create(spark, sigPath, TableProps(
        "pndsigs", Seq("doc_id"), Some("ts"), Seq.empty,
        tableType = tableType))
      LakeTable.create(spark, pairsPath, TableProps(
        "pndpairs", Seq("a", "b"), Some("ts"), Seq.empty,
        tableType = tableType))
      // the CDC source needs the docs schema at stream start (loud
      // require in NearDupMaintenance) — seed one doc before attaching
      docs.upsert(Seq((1L, fams.head)).toDF("doc_id", "text")
        .withColumn("ts", lit(0L)))
      // pure-Scala model of the skew-collapsed contract: group
      // byte-equal shingle SETS (the generator emits exact copies on
      // different ids constantly, so rep promotion/demotion is
      // exercised), star edges rep → member, exact Jaccard ≥ 0.5
      // over representatives for the cross pairs
      def shSet(t: String): Set[String] = {
        val w = t.toLowerCase.trim.split("\\s+").toSeq
        if (w.size >= 3) w.sliding(3).map(_.mkString(" ")).toSet
        else Set.empty
      }
      def bruteForce(): Set[(Long, Long)] = {
        val cur = docs.snapshot().select("doc_id", "text").collect()
          .map(r => (r.getLong(0), shSet(r.getString(1))))
          .filter(_._2.nonEmpty)
        val grouped = cur.groupBy(_._2)
        val star = grouped.values.flatMap { g =>
          val ids = g.map(_._1); val rep = ids.min
          ids.filter(_ != rep).map(m => (rep, m))
        }
        val reps = grouped.map { case (set, g) => (g.map(_._1).min, set) }
          .toSeq
        val cross = for {
          (a, sa) <- reps; (b, sb) <- reps if a < b
          inter = (sa & sb).size
          if inter.toDouble / (sa.size + sb.size - inter) >= 0.5
        } yield (a, b)
        (star ++ cross).toSet
      }
      val q = NearDupMaintenance.start(spark, docsPath, sigPath, pairsPath, ckpt)
      try {
        samples(Gen.listOfN(5, opGen), 1).foreach { ops =>
          ops.zipWithIndex.foreach { case ((isDelete, rows), i) =>
            if (rows.nonEmpty) {
              if (isDelete) docs.delete(rows.map(_._1).toDF("doc_id"))
              else docs.upsert(rows.toDF("doc_id", "text")
                .withColumn("ts", lit(i + 1L)))
            }
            q.processAllAvailable()
            val got = LakeTable.load(spark, pairsPath).snapshot()
              .select("a", "b").collect()
              .map(r => (r.getLong(0), r.getLong(1))).toSet
            val want = bruteForce()
            assert(got == want,
              s"[$tableType] batch $i (delete=$isDelete, rows=$rows): " +
                s"got $got want $want")
            // the PERSISTED rep invariant: after every batch, each
            // store row's rep must equal min(doc_id) over its current
            // byte-equal shingle-set group (rep = doc_id for
            // shingle-less rows) — a drifted rep wouldn't corrupt the
            // pairs gate until a LATER batch probes the stale rep, so
            // pin it at the store directly
            val storeRows = LakeTable.load(spark, sigPath).snapshot()
              .select("doc_id", "fp", "rep").collect()
              .map(r => (r.getLong(0),
                if (r.isNullAt(1)) null else r.getString(1),
                r.getLong(2)))
            val repOf = storeRows.filter(_._2 != null)
              .groupBy(_._2).map { case (fp, g) => fp -> g.map(_._1).min }
            storeRows.foreach { case (id, fp, rep) =>
              val wantRep = if (fp == null) id else repOf(fp)
              assert(rep == wantRep,
                s"[$tableType] batch $i: store rep drift for doc $id " +
                  s"(fp=$fp): rep=$rep want=$wantRep")
            }
          }
        }
      } finally q.stop()
    }
  }

  test("phash index reconciliation tracks random image DML sequences") {
    // randomized insert/update/delete batches of IMAGES against the
    // maintained perceptual-hash index (MultimodalOps.phashReconcile):
    // docs draw from 3 image families × 5 tweaks (exact copy /
    // brightness copy / pixel-popped copy / unrelated noise /
    // UNDECODABLE bytes — an update to corrupt media must drop the
    // doc out of the index, not strand its stale signature), so
    // near-dup pairs form and dissolve as docs are re-imaged; after
    // EVERY batch the pairs table must equal a brute-force recompute
    // (aHash every current image, all-pairs hamming ≤ 7) — the
    // O(churn) band-probe reconcile can never strand a stale pair or
    // miss a new one, under any interleaving. COW and MOR state.
    import graft.multimodal.MediaDecoder
    import graft.queries.MultimodalOps
    val Side = 16
    def noisePx(seed: Long)(x: Int, y: Int): Int = {
      def ch(k: Int): Int = {
        val v = (((seed * (131 + k)) + x) * (seed % 97 + 31 + 2 * k) +
          ((seed * (137 + k)) + y) * (seed % 89 + 23 + 3 * k) +
          x.toLong * y * (seed % 83 + 11 + k)) % 256
        ((v + 256) % 256).toInt // positive residue even for negative v
      }
      (ch(0) << 16) | (ch(1) << 8) | ch(2)
    }
    def image(id: Long, fam: Int, tweak: Int): Array[Byte] =
      if (tweak == 4) // undecodable: the doc must DROP OUT of the index
        s"corrupt payload $id".getBytes("UTF-8")
      else {
        val basePx = noisePx(100L * (fam + 1)) _
        val px: (Int, Int) => Int = tweak match {
          case 0 => basePx
          case 1 => (x, y) => { // brightness copy: aHash-identical
            val p = basePx(x, y)
            def c(v: Int) = math.min(v + 1, 255)
            (c(p >>> 16) << 16) | (c((p >>> 8) & 0xff) << 8) | c(p & 0xff)
          }
          case 2 => (x, y) => // pixel pop: small hamming
            if (x == 0 && y == 0) basePx(0, 0) | 0xff0000 else basePx(x, y)
          case _ => noisePx(7919L * id + 13) _ // unrelated
        }
        if (id % 2 == 0) MediaDecoder.encodeBmp24With(Side, Side)(px)
        else MediaDecoder.encodePngWith(Side, Side)(px)
      }
    val docGen = for {
      id <- Gen.choose(1L, 12L)
      fam <- Gen.choose(0, 2)
      tweak <- Gen.choose(0, 4)
    } yield (id, fam, tweak)
    val opGen = for {
      isDelete <- Gen.frequency(4 -> false, 1 -> true)
      docs <- Gen.listOfN(3, docGen)
    } yield (isDelete, docs.distinctBy(_._1))

    for (tableType <- Seq("cow", "mor")) {
      val sigs = LakeTable.create(spark, tmpPath("prop_"), TableProps(
        "ppsigs", Seq("doc_id"), Some("ts"), Seq.empty,
        tableType = tableType))
      val pairs = LakeTable.create(spark, tmpPath("prop_"), TableProps(
        "pppairs", Seq("a", "b"), Some("ts"), Seq.empty,
        tableType = tableType))
      // in-memory corpus model: id → current image bytes
      val corpus = scala.collection.mutable.Map.empty[Long, Array[Byte]]
      def bruteForce(): Set[(Long, Long, Int)] =
        TestPairModel.collapsedPairs(
          corpus.toSeq.flatMap { case (id, bytes) =>
            MediaDecoder.aHash64(bytes).map { case (hi, lo) => (id, hi, lo) }
          })
      samples(Gen.listOfN(6, opGen), 1).foreach { ops =>
        ops.zipWithIndex.foreach { case ((isDelete, rows), i) =>
          if (rows.nonEmpty) {
            val ts = i + 1L
            if (isDelete) {
              rows.foreach { case (id, _, _) => corpus.remove(id) }
              MultimodalOps.phashReconcile(
                Seq.empty[(Long, Array[Byte])].toDF("doc_id", "payload"),
                rows.map(_._1).toDF("doc_id"), sigs, pairs, ts)
            } else {
              val imgs = rows.map { case (id, fam, tweak) =>
                val b = image(id, fam, tweak); corpus(id) = b; (id, b)
              }
              MultimodalOps.phashReconcile(
                imgs.toDF("doc_id", "payload"),
                Seq.empty[Long].toDF("doc_id"), sigs, pairs, ts)
            }
            val got = LakeTable.load(spark, pairs.basePath).snapshot()
              .select("a", "b", "hamming").collect()
              .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
            val want = bruteForce()
            assert(got == want,
              s"[$tableType] batch $i (delete=$isDelete, rows=$rows): " +
                s"got $got want $want")
          }
        }
      }
    }
  }

  test("envelope-hash audio index reconciliation tracks random clip DML sequences") {
    // the audio twin of the image property above, over the SAME
    // shared reconcile machinery with the envelope hash plugged in:
    // docs draw from 3 clip families × 5 tweaks (exact copy /
    // amplitude-doubled copy / silence-padded copy / unrelated clip /
    // ALL-SILENT — a re-encode with no signature must drop the doc
    // out of the index); after EVERY batch the pairs table must equal
    // a brute-force recompute (envHash64 every current clip,
    // all-pairs hamming ≤ 7), under any interleaving. COW and MOR.
    import graft.multimodal.MediaDecoder
    import graft.queries.MultimodalOps
    def baseMag(seed: Long)(j: Int): Short =
      (50 + ((seed * 31 + j) * (seed % 83 + 13) +
        j.toLong * j * (seed % 29 + 7)) % 101).toShort
    def clip(id: Long, fam: Int, tweak: Int): Array[Byte] = tweak match {
      case 4 => // all sub-threshold: no envelope signature
        MediaDecoder.encodeWavPcm16(8000, 1, Array.fill(120)(9.toShort))
      case _ =>
        val m = 120 + fam * 17
        val mag = baseMag(100L * (fam + 1)) _
        val samples: Array[Short] = tweak match {
          case 0 => Array.tabulate(m)(mag(_))
          case 1 => // exact ×2 amplitude: envelope-identical
            Array.tabulate(m)(j => (mag(j) * 2).toShort)
          case 2 => // leading silence: trimmed, envelope-identical
            Array.fill(23)(11.toShort) ++ Array.tabulate(m)(mag(_))
          case _ => Array.tabulate(m)(baseMag(7919L * id + 13)(_))
        }
        MediaDecoder.encodeWavPcm16(8000, 1, samples)
    }
    val envHashFn = (df: org.apache.spark.sql.DataFrame) =>
      MediaDecoder.envHash(df, "doc_id", "payload", 50)
    val docGen = for {
      id <- Gen.choose(1L, 12L)
      fam <- Gen.choose(0, 2)
      tweak <- Gen.choose(0, 4)
    } yield (id, fam, tweak)
    val opGen = for {
      isDelete <- Gen.frequency(4 -> false, 1 -> true)
      docs <- Gen.listOfN(3, docGen)
    } yield (isDelete, docs.distinctBy(_._1))

    for (tableType <- Seq("cow", "mor")) {
      val sigs = LakeTable.create(spark, tmpPath("prop_"), TableProps(
        "pasigs", Seq("doc_id"), Some("ts"), Seq.empty,
        tableType = tableType))
      val pairs = LakeTable.create(spark, tmpPath("prop_"), TableProps(
        "papairs", Seq("a", "b"), Some("ts"), Seq.empty,
        tableType = tableType))
      val corpus = scala.collection.mutable.Map.empty[Long, Array[Byte]]
      def bruteForce(): Set[(Long, Long, Int)] =
        TestPairModel.collapsedPairs(
          corpus.toSeq.flatMap { case (id, bytes) =>
            MediaDecoder.envHash64(bytes, 50).map { case (hi, lo) =>
              (id, hi, lo) }
          })
      samples(Gen.listOfN(6, opGen), 1).foreach { ops =>
        ops.zipWithIndex.foreach { case ((isDelete, rows), i) =>
          if (rows.nonEmpty) {
            val ts = i + 1L
            if (isDelete) {
              rows.foreach { case (id, _, _) => corpus.remove(id) }
              MultimodalOps.phashReconcile(
                Seq.empty[(Long, Array[Byte])].toDF("doc_id", "payload"),
                rows.map(_._1).toDF("doc_id"), sigs, pairs, ts, envHashFn)
            } else {
              val clips = rows.map { case (id, fam, tweak) =>
                val b = clip(id, fam, tweak); corpus(id) = b; (id, b)
              }
              MultimodalOps.phashReconcile(
                clips.toDF("doc_id", "payload"),
                Seq.empty[Long].toDF("doc_id"), sigs, pairs, ts, envHashFn)
            }
            val got = LakeTable.load(spark, pairs.basePath).snapshot()
              .select("a", "b", "hamming").collect()
              .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
            val want = bruteForce()
            assert(got == want,
              s"[$tableType] batch $i (delete=$isDelete, rows=$rows): " +
                s"got $got want $want")
          }
        }
      }
    }
  }

  test("majority-fold video index reconciliation tracks random clip DML sequences") {
    // the video leg of the modality matrix, over the SAME shared
    // reconcile machinery with the majority-fold hash plugged in:
    // docs draw from 3 clip families × 5 tweaks (exact copy /
    // brightened copy / frame-rate-doubled copy / unrelated clip /
    // TRUNCATED payload shorter than one frame — no signature, the
    // doc must drop out of the index); after EVERY batch the pairs
    // table must equal a brute-force recompute (videoHash64 every
    // current clip, all-pairs hamming ≤ 7), under any interleaving.
    // COW and MOR.
    import graft.multimodal.MediaDecoder
    import graft.queries.MultimodalOps
    val Side = 16
    val FrameBytes = 54 + Side * ((Side * 3 + 3) / 4 * 4)
    def noisePx(seed: Long)(x: Int, y: Int): Int = {
      def ch(k: Int): Int = {
        val v = (((seed * (131 + k)) + x) * (seed % 97 + 31 + 2 * k) +
          ((seed * (137 + k)) + y) * (seed % 89 + 23 + 3 * k) +
          x.toLong * y * (seed % 83 + 11 + k)) % 256
        ((v + 256) % 256).toInt
      }
      (ch(0) << 16) | (ch(1) << 8) | ch(2)
    }
    def clip(id: Long, fam: Int, tweak: Int): Array[Byte] = tweak match {
      case 4 => // shorter than one frame: no videoHash64 signature
        Array.fill(FrameBytes / 3)(0x41.toByte)
      case _ =>
        val nf = 4 + fam
        def frame(fi: Int, bright: Boolean, seedOvr: Long): Array[Byte] = {
          val base = noisePx(seedOvr * 5 + fi * 3) _
          val px: (Int, Int) => Int =
            if (!bright) base
            else (x, y) => {
              val p = base(x, y)
              def c(v: Int) = math.min(v + 1, 255)
              (c(p >>> 16) << 16) | (c((p >>> 8) & 0xff) << 8) | c(p & 0xff)
            }
          MediaDecoder.encodeBmp24With(Side, Side)(px)
        }
        val seed = 100L * (fam + 1)
        val frames = tweak match {
          case 0 => (0 until nf).map(frame(_, bright = false, seed))
          case 1 => (0 until nf).map(frame(_, bright = true, seed))
          case 2 => // rate-doubled: every source frame emitted twice
            (0 until 2 * nf).map(i => frame(i / 2, bright = false, seed))
          case _ => (0 until nf).map(
            frame(_, bright = false, 7919L * id + 13))
        }
        Array.concat(frames: _*)
    }
    val vidHashFn = (df: org.apache.spark.sql.DataFrame) =>
      MediaDecoder.videoHash(df, "doc_id", "payload", FrameBytes, 5)
    val docGen = for {
      id <- Gen.choose(1L, 12L)
      fam <- Gen.choose(0, 2)
      tweak <- Gen.choose(0, 4)
    } yield (id, fam, tweak)
    val opGen = for {
      isDelete <- Gen.frequency(4 -> false, 1 -> true)
      docs <- Gen.listOfN(3, docGen)
    } yield (isDelete, docs.distinctBy(_._1))

    for (tableType <- Seq("cow", "mor")) {
      val sigs = LakeTable.create(spark, tmpPath("prop_"), TableProps(
        "pvsigs", Seq("doc_id"), Some("ts"), Seq.empty,
        tableType = tableType))
      val pairs = LakeTable.create(spark, tmpPath("prop_"), TableProps(
        "pvpairs", Seq("a", "b"), Some("ts"), Seq.empty,
        tableType = tableType))
      val corpus = scala.collection.mutable.Map.empty[Long, Array[Byte]]
      def bruteForce(): Set[(Long, Long, Int)] =
        TestPairModel.collapsedPairs(
          corpus.toSeq.flatMap { case (id, bytes) =>
            MediaDecoder.videoHash64(bytes, FrameBytes, 5).map {
              case (hi, lo) => (id, hi, lo) }
          })
      samples(Gen.listOfN(6, opGen), 1).foreach { ops =>
        ops.zipWithIndex.foreach { case ((isDelete, rows), i) =>
          if (rows.nonEmpty) {
            val ts = i + 1L
            if (isDelete) {
              rows.foreach { case (id, _, _) => corpus.remove(id) }
              MultimodalOps.phashReconcile(
                Seq.empty[(Long, Array[Byte])].toDF("doc_id", "payload"),
                rows.map(_._1).toDF("doc_id"), sigs, pairs, ts, vidHashFn)
            } else {
              val clips = rows.map { case (id, fam, tweak) =>
                val b = clip(id, fam, tweak); corpus(id) = b; (id, b)
              }
              MultimodalOps.phashReconcile(
                clips.toDF("doc_id", "payload"),
                Seq.empty[Long].toDF("doc_id"), sigs, pairs, ts, vidHashFn)
            }
            val got = LakeTable.load(spark, pairs.basePath).snapshot()
              .select("a", "b", "hamming").collect()
              .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
            val want = bruteForce()
            assert(got == want,
              s"[$tableType] batch $i (delete=$isDelete, rows=$rows): " +
                s"got $got want $want")
          }
        }
      }
    }
  }

  test("search-index folds track random DML sequences") {
    // randomized insert/update/delete batches folded through
    // SearchIndex.maintain; after EVERY batch the three state tables
    // must equal a batch recompute over the current corpus — the
    // O(churn) folds can never strand a stale posting, leave a wrong
    // df, or drift the totals, under any interleaving (exercises the
    // tombstone-without-reinsert and negative-df legs far beyond the
    // pipe6 gate's fixed scenario). COW and MOR state tables.
    import graft.queries.SearchIndex
    val words = Seq("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel")
    val textGen = for {
      n <- Gen.choose(1, 6)
      ws <- Gen.listOfN(n, Gen.oneOf(words))
    } yield ws.mkString(" ")
    val docGen = for {
      id <- Gen.choose(1L, 10L); t <- textGen
    } yield (id, t)
    val opGen = for {
      isDelete <- Gen.frequency(3 -> false, 1 -> true)
      docs <- Gen.listOfN(3, docGen)
    } yield (isDelete, docs.distinctBy(_._1))

    for (tableType <- Seq("cow", "mor")) {
      val post = LakeTable.create(spark, tmpPath("prop_"), TableProps(
        "p6post", Seq("doc_id", "term"), Some("ts"), Seq.empty,
        tableType = tableType))
      val stats = LakeTable.create(spark, tmpPath("prop_"), TableProps(
        "p6stats", Seq("term"), Some("ts"), Seq.empty,
        tableType = tableType))
      val totals = LakeTable.create(spark, tmpPath("prop_"), TableProps(
        "p6tot", Seq("id"), Some("ts"), Seq.empty, tableType = tableType))
      var model = Map.empty[Long, String]
      samples(Gen.listOfN(6, opGen), 1).foreach { ops =>
        ops.zipWithIndex.foreach { case ((isDelete, rows), i) =>
          val ids = rows.map(_._1).toSet
          val before = model.filter(kv => ids.contains(kv._1)).toSeq
            .toDF("doc_id", "text")
          val after =
            if (isDelete) Seq.empty[(Long, String)].toDF("doc_id", "text")
            else rows.toDF("doc_id", "text")
          SearchIndex.maintain(after, before, post, stats, totals, i + 1L)
          model = if (isDelete) model -- ids else model ++ rows

          val corpus = model.toSeq.toDF("doc_id", "text")
          val wantPost = SearchIndex.postingsOf(corpus).collect()
            .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
              r.getLong(3))).toSet
          val gotPost = post.snapshot().select("doc_id", "term", "n", "len")
            .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
              r.getLong(3))).toSet
          assert(gotPost == wantPost,
            s"[$tableType] batch $i postings: extra=${gotPost -- wantPost} " +
              s"missing=${wantPost -- gotPost}")
          val wantDf = wantPost.groupBy(_._2).map { case (t, g) =>
            t -> g.map(_._1).size.toLong }
          val storedDf = stats.snapshot().select("term", "df").collect()
            .map(r => r.getString(0) -> r.getLong(1))
          assert(storedDf.forall(_._2 >= 0),
            s"[$tableType] batch $i negative df: ${storedDf.filter(_._2 < 0)}")
          assert(storedDf.filter(_._2 > 0).toMap == wantDf,
            s"[$tableType] batch $i df drift")
          val tot = totals.snapshot().select("n_docs", "tot_len").collect()
          assert(tot.length == 1)
          val wantLen = model.values
            .map(_.trim.toLowerCase.split("\\s+").length.toLong).sum
          assert((tot(0).getLong(0), tot(0).getLong(1)) ==
            (model.size.toLong, wantLen),
            s"[$tableType] batch $i totals ${tot(0)} vs " +
              s"(${model.size}, $wantLen)")
        }
      }
    }
  }

  test("resizeBox ≡ brute-force 2D binning over random gradients") {
    import graft.multimodal.MediaDecoder
    val caseGen = for {
      w <- Gen.choose(1, 17)
      h <- Gen.choose(1, 13)
      ow <- Gen.choose(1, 5)
      oh <- Gen.choose(1, 4)
      seed <- Gen.choose(0, 999)
      png <- Gen.oneOf(true, false)
    } yield (w, h, ow, oh, seed, png)
    samples(caseGen, 40).foreach { case (w, h, ow, oh, seed, png) =>
      // pseudo-random but bounded pixels (no channel wrap anywhere)
      def px(x: Int, y: Int): Int = {
        val r = (seed + 3 * x + 5 * y) % 256
        val g = (seed * 7 + 11 * x + y) % 256
        val b = (seed * 13 + x + 17 * y) % 256
        (r << 16) | (g << 8) | b
      }
      val bytes =
        if (png) MediaDecoder.encodePngWith(w, h)(px)
        else MediaDecoder.encodeBmp24With(w, h)(px)
      val (gw, gh, nPix, sums) = MediaDecoder.resizeBoxRaw(bytes, ow, oh).get
      assert((gw, gh) == (w, h), s"dims $w x $h -> got $gw x $gh")
      // independent reference: walk every pixel, bin with the spec'd
      // floor mapping into plain 2D accumulators
      val refN = Array.ofDim[Long](oh, ow)
      val refS = Array.ofDim[Long](oh, ow, 3)
      for (y <- 0 until h; x <- 0 until w) {
        val cx = x * ow / w; val cy = y * oh / h
        val p = px(x, y)
        refN(cy)(cx) += 1
        refS(cy)(cx)(0) += (p >>> 16) & 0xff
        refS(cy)(cx)(1) += (p >>> 8) & 0xff
        refS(cy)(cx)(2) += p & 0xff
      }
      for (cy <- 0 until oh; cx <- 0 until ow) {
        val cell = cy * ow + cx
        assert(nPix(cell) == refN(cy)(cx),
          s"($w x $h -> $ow x $oh png=$png) cell ($cx,$cy) count")
        for (c <- 0 until 3)
          assert(sums(cell * 3 + c) == refS(cy)(cx)(c),
            s"($w x $h -> $ow x $oh png=$png seed=$seed) cell ($cx,$cy) ch$c")
      }
    }
  }

  test("raw (non-hive) partition layout: dirs are bare values") {
    val path = tmpPath("prop_")
    val t = LakeTable.create(spark, path, props(hive = false))
    t.upsert(Seq((1, "a", 1L, "2022-10-08"), (2, "b", 1L, "2022-10-09"))
      .toDF("id", "v", "ts", "dt"))
    val dirs = new java.io.File(path).listFiles().filter(_.isDirectory)
      .map(_.getName).filterNot(_.startsWith("_")).sorted.toSeq
    assert(dirs == Seq("2022-10-08", "2022-10-09"), s"got $dirs")
    // reads and keyed updates work over the raw layout
    t.upsert(Seq((1, "a2", 2L, "2022-10-08")).toDF("id", "v", "ts", "dt"))
    val got = t.snapshot().select("id", "v").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(got == Set((1, "a2"), (2, "b")))
  }
}
