package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.MediaDecoder
import graft.queries.SimilarityOps
import graft.util.Tables

/** Specs for the LLM-data pipeline operators (dedup / similarity /
  * multimodal) beyond what the DuckDB oracles check. */
class PipelineOpsSpec extends AnyFunSuite {
  import TestSpark.{sf, spark, tmpDir}

  test("dedup: injected exact and near duplicates are found") {
    val exact = SparkEntry.queries("dedup1_exact")(spark, sf)
    // every doc_id % 11 == 0 copy forms a group with its original
    val canon = exact.select("canonical_id").collect().map(_.getLong(0)).toSet
    assert(canon.nonEmpty && canon.forall(_ % 11 == 0))
    val minhash = SparkEntry.queries("dedup2_minhash_lsh")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every %7 near-copy pairs with its original
    val expectedNear = Tables.t(spark, sf, "documents")
      .filter(col("doc_id") % 7 === 0).select("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(0) + 1000000L)).toSet
    assert(expectedNear.subsetOf(minhash),
      s"missing near-dup pairs: ${expectedNear -- minhash}")
  }

  test("dedup4/5/6 skew collapse: star edges inside byte-equal sets, reps carry the cross pairs") {
    import spark.implicits._
    // dedup4/dedup5 on the sf corpus: every %11 exact copy must appear
    // as a STAR member (rep = the original, jaccard exactly 1.0), and
    // the two gates — probe-join vs prefix-filter candidates — must
    // agree bit-for-bit on the whole collapsed pair set
    val d4 = SparkEntry.queries("dedup4_ngram_jaccard")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val d5 = SparkEntry.queries("dedup5_prefix_jaccard")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(d4.toSeq == d5.toSeq, "dedup4 and dedup5 disagree post-collapse")
    val d4set = d4.map(t => (t._1, t._2)).toSet
    val copies = Tables.t(spark, sf, "documents")
      .filter(col("doc_id") % 11 === 0).select("doc_id").collect()
      .map(_.getLong(0))
    assert(copies.nonEmpty)
    copies.foreach { id =>
      assert(d4set.contains((id, id + 2000000L)),
        s"missing star edge ($id, ${id + 2000000L})")
      assert(d4.find(t => t._1 == id && t._2 == id + 2000000L)
        .exists(_._3 == 1.0))
    }
    // dedup6 star leg (the sf corpus has no byte-equal 13-gram sets,
    // so pin it on a crafted corpus): docs 1 and 2 byte-identical
    // (20 words → 8 distinct 13-grams), doc 3 shares exactly the
    // first 13 words with them. Collapsed contract: ONE star edge
    // (1, 2, 8) and ONE rep cross pair (1, 3, 1) — (2, 3) is implied
    // by the star edge, never materialized.
    val words = (1 to 20).map(i => s"w$i")
    val base = words.mkString(" ")
    val third = (words.take(13) ++ Seq("x1", "x2", "x3")).mkString(" ")
    val dir = tmpDir("dedup6c_")
    Seq((1L, base, "s"), (2L, base, "s"), (3L, third, "s"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val d6 = SparkEntry.queries("dedup6_substring_overlap")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(d6.toSet == Set((1L, 2L, 8L), (1L, 3L, 1L)),
      s"dedup6 collapsed contract mismatch: ${d6.toSeq}")
  }

  test("components: distributed label propagation matches driver union-find") {
    import spark.implicits._
    // chain 0-1-2-3, pair 10-11, self-contained triangle 20-21-22, and
    // int-typed ids to prove the long normalization covers both paths
    val pairs = Seq((1, 0), (1, 2), (2, 3), (10, 11), (20, 21),
      (21, 22), (20, 22)).toDF("a", "b")
    val viaDriver = SimilarityOps.components(pairs)
    // driverMaxEdges=0 forces the >threshold distributed branch on the
    // same input — results AND schema must be identical
    val viaDistributed = SimilarityOps.components(pairs, driverMaxEdges = 0)
    assert(viaDriver.schema == viaDistributed.schema,
      s"schema drift across the size gate: " +
        s"${viaDriver.schema} vs ${viaDistributed.schema}")
    val d = viaDriver.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val x = viaDistributed.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(d.sameElements(x), s"label mismatch: ${d.toSeq} vs ${x.toSeq}")
    assert(d.toMap == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("split2: near-dup pairs never straddle train/val/test splits") {
    val split = SparkEntry.queries("split2_leakage_safe")(spark, sf)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = SparkEntry.queries("dedup2_minhash_lsh")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(split(a) == split(b),
        s"near-dup pair ($a,$b) split across ${split(a)}/${split(b)} — leakage")
    }
    assert(split.values.toSet.subsetOf(Set("train", "validation", "test")))
  }

  test("ann lsh recall vs brute force on sf0.001") {
    val exact = SparkEntry.queries("sim1_cosine_topk")(spark, sf)
      .filter(col("rank") <= 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = SparkEntry.queries("sim3_ann_lsh_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ann).size.toDouble / exact.size
    // single-probe 8-bit sign-LSH on random vectors: modest recall is
    // expected; the gate is that buckets are consistent and non-trivial
    assert(recall > 0.0, s"ANN found nothing from the exact top-5 set")
    assert(ann.nonEmpty)
  }

  test("ivf ann: non-trivial recall vs brute force") {
    val exact = SparkEntry.queries("sim1_cosine_topk")(spark, sf)
      .filter(col("rank") <= 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = SparkEntry.queries("sim4_ann_ivf_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = (exact & ivf).size.toDouble / exact.size
    assert(ivf.nonEmpty && overlap > 0.0,
      s"IVF found none of the exact top-5 (overlap $overlap)")
  }

  test("pq adc ann: recall vs a full 20-query brute force; 5 per query") {
    // brute-force cosine top-5 for ALL 20 PQ queries (sim1 only covers
    // vec_id < 5 — comparing against it would leave 15 queries
    // unchecked)
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.t(spark, sf, "embeddings")
      .selectExpr("vec_id", "embedding",
        "sqrt(graft_vec_dot(embedding, embedding)) AS nrm")
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
      .orderBy(col("c").desc, col("vec_id").asc)
    val exact = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("c", expr("graft_vec_dot(q_emb, embedding)") /
        (col("q_nrm") * col("nrm")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select("q_id", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = SparkEntry.queries("sim6_pq_adc_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // ADC returns a full top-5 for every query (it scores ALL vectors
    // through their codes, unlike bucketed ANN which can come up short)
    assert(pq.size == 20 * 5)
    val recall = (exact & pq).size.toDouble / exact.size
    // deterministic on this fixture: 0.23 (random vectors are PQ's
    // adversarial case; chance level for top-5-of-499 is ~1%)
    assert(recall >= 0.15,
      s"PQ-ADC recall collapsed: $recall (expected ~0.23 on sf0.001)")
  }

  test("sim7 matryoshka: results come from the coarse-50 and recall holds") {
    val exact = SparkEntry.queries("sim1_cosine_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mr = SparkEntry.queries("sim7_matryoshka_rerank")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mr.size == 5 * 10, s"expected a full top-10 per query, got ${mr.size}")
    val recall = (exact & mr).size.toDouble / exact.size
    // deterministic on this fixture: 0.44. Random vectors are the
    // adversarial case for prefix truncation (information is uniform
    // across dims, so 16 of 64 dims carry 1/4 of it); trained
    // matryoshka embeddings concentrate signal in the prefix.
    assert(recall >= 0.3, s"two-stage recall collapsed: $recall")
  }

  test("mix2: tempered shares are a flattened distribution over a 1M budget") {
    val rows = SparkEntry.queries("mix2_temperature_reweight")(spark, sf)
      .select("n_tokens", "p_nat", "p_temp", "boost", "target_tokens")
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4)))
    assert(math.abs(rows.map(_._2).sum - 1.0) < 1e-6)
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-6)
    assert(rows.map(_._5).sum <= 1000000L)
    // temperature < 1 flattens: boost must be antitone in domain size
    val bySize = rows.sortBy(_._1)
    bySize.sliding(2).foreach {
      case Array((n1, _, _, b1, _), (n2, _, _, b2, _)) =>
        assert(b1 >= b2 || n1 == n2,
          s"boost not antitone in n_tokens: ($n1,$b1) then ($n2,$b2)")
      case _ => // single-source fixture: nothing to compare
    }
    // and it moves the mix TOWARD uniform, never past it
    val u = 1.0 / rows.length
    rows.foreach { case (_, nat, temp, _, _) =>
      assert((temp - nat).abs <= (u - nat).abs + 1e-9,
        s"tempered share $temp overshot uniform $u from natural $nat")
    }
  }

  test("q22 funnel: steps only count when strictly in order") {
    import spark.implicits._
    val dir = tmpDir("graft_funnel")
    // ts written as raw nanos longs — same physical shape Tables.events
    // normalizes (nanosAsLong), so the query-under-test reads it as the
    // real file. user 1 completes; user 2's clicks precede its first
    // view; user 3's only purchase precedes its click; user 4 never
    // views (not a funnel entrant).
    Seq(
      (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 30L),
      (2L, "click", 5L), (2L, "click", 8L), (2L, "view", 10L),
      (3L, "view", 10L), (3L, "purchase", 15L), (3L, "click", 20L),
      (4L, "click", 1L), (4L, "purchase", 2L))
      .toDF("user_id", "event_type", "ts")
      .withColumn("ts", col("ts") * 1000000000L)
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q22_funnel")(spark, dir)
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)),
        Option(r.get(3)), r.getInt(4)))
    def us(sec: Long) = Some(sec * 1000000L)
    assert(got.toSeq == Seq(
      (1L, us(10), us(20), us(30), 3),
      (2L, us(10), None, None, 1),
      (3L, us(10), us(20), None, 2)))
  }

  test("tok2/tok3: BPE merges are well-formed and segmentation is lossless") {
    val rules = SparkEntry.queries("tok2_bpe_merges")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(rules.map(_._1).toSeq == (1 to 8))
    rules.foreach { case (_, lhs, rhs, merged, cnt) =>
      assert(merged == lhs + rhs && cnt > 0)
    }
    // each rule's symbols exist when it fires: every lhs/rhs is either
    // a single char or the product of an EARLIER merge
    val known = scala.collection.mutable.Set.empty[String]
    rules.foreach { case (_, lhs, rhs, merged, _) =>
      for (s <- Seq(lhs, rhs))
        assert(s.length == 1 || known.contains(s),
          s"rule uses symbol '$s' that no earlier merge produced")
      known += merged
    }
    // applying the tokenizer never loses characters: for every doc,
    // words <= bpe tokens <= word chars, and a doc of single chars
    // before any merge would have tokens == chars
    val counts = SparkEntry.queries("tok3_bpe_tokenize")(spark, sf)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(counts.nonEmpty)
    counts.foreach { case (words, toks, chars) =>
      assert(words <= toks && toks <= chars,
        s"impossible BPE counts: words=$words tokens=$toks chars=$chars")
    }
    // the merges actually compress on this corpus
    assert(counts.map(_._2).sum < counts.map(_._3).sum)
  }

  test("decon2: every injected benchmark copy is flagged with itself on top") {
    val flagged = SparkEntry.queries("decon2_embedding_contamination")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3),
        r.getInt(4)))
    val off = Tables.t(spark, sf, "embeddings")
      .agg(max("vec_id")).collect()(0).getLong(0) + 1L
    val bench = Tables.t(spark, sf, "embeddings")
      .filter(col("vec_id") % 37 === 0).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val injected = flagged.filter(_._4 == 1)
    assert(injected.map(_._1).toSet == bench.map(_ + off),
      "recall < 1.0 on exact injected copies")
    injected.foreach { case (id, top, cos, _) =>
      assert(top == id - off && cos == 1.0,
        s"injected $id should match its source, got $top at $cos")
    }
  }

  test("media decode: batch pipeline matches column-expression metadata") {
    val docs = Tables.t(spark, sf, "documents")
      .withColumn("payload", col("text").cast("binary"))
    val decoded = MediaDecoder.decode(docs, "doc_id", "payload")
    val viaUdfPath = decoded.select("doc_id", "n_bytes", "fingerprint")
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getString(2)))).toMap
    val viaExpr = SparkEntry.queries("mm1_binary_metadata")(spark, sf)
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getString(4)))).toMap
    assert(viaUdfPath.size == viaExpr.size)
    viaExpr.foreach { case (id, (nBytes, fp)) =>
      val (gotBytes, gotFp) = (viaUdfPath(id)._1, viaUdfPath(id)._2)
      assert(gotBytes == nBytes && gotFp == fp, s"doc $id mismatch")
    }
    // feature vector shape
    assert(decoded.head().features.length == 8)
  }

  test("pipe4: incremental near-dup finds pairs spanning the commit boundary") {
    val got = SparkEntry.queries("pipe4_incremental_neardup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every %7 near-copy must pair with its original REGARDLESS of
    // which side of the seed/churn split each lands on — the property
    // a batch rerun gets for free and an incremental index must prove
    // (d vs d+1e6 fall in different mod-3 classes for many d, so both
    // cross-boundary directions occur at any SF)
    val ids = Tables.t(spark, sf, "documents")
      .filter(col("doc_id") % 7 === 0).select("doc_id").collect()
      .map(_.getLong(0))
    val expected = ids.map(d => (d, d + 1000000L)).toSet
    assert(expected.subsetOf(got), s"missing: ${expected -- got}")
    val crossBoundary = ids.filter(d => (d % 3 == 0) != ((d + 1000000L) % 3 == 0))
    assert(crossBoundary.nonEmpty, "fixture lost its cross-boundary pairs")
    // seed-time pairs between two unchanged docs must survive the
    // increment's delete pass untouched
    val bothUnchanged = got.filter { case (a, b) =>
      a % 3 != 0 && b % 3 != 0 && !(a % 5 == 0) && !(b % 5 == 0) }
    assert(bothUnchanged.nonEmpty, "no seed-only pairs survived")
  }

  test("sim2 result is invariant under the ann.bits occupancy knob") {
    // the SCALING.md 100x knob: more hyperplane bits shrink bucket
    // occupancy (quadratic candidate savings) without losing the
    // exact-copy near-dups the gate's corpus contains — same verified
    // pairs at 6 and 12 bits
    val dflt = SparkEntry.queries("sim2_cosine_neardup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.conf.set("spark.graft.ann.bits", "12")
    try {
      val wide = SparkEntry.queries("sim2_cosine_neardup")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(wide == dflt, s"bits=12 changed the pair set")
      // `auto` sizes bits from the corpus (⌈log2(n/32)⌉, floored at
      // the hand-tuned default) — self-setting at 100× corpus growth,
      // same pair set here
      spark.conf.set("spark.graft.ann.bits", "auto")
      val auto = SparkEntry.queries("sim2_cosine_neardup")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(auto == dflt, s"bits=auto changed the pair set")
      // and the resolver itself scales: 10x the corpus rows -> more
      // bits, never below the default
      import graft.queries.SimilarityOps
      val corpus = Tables.t(spark, sf, "embeddings")
      val small = SimilarityOps.resolveAnnBits(corpus)
      val big = SimilarityOps.resolveAnnBits(
        corpus.crossJoin(spark.range(32).select(lit(1).as("dup"))))
      assert(small >= 6 && big > small,
        s"auto bits did not scale: $small -> $big")
    } finally spark.conf.unset("spark.graft.ann.bits")
  }

  test("real BMP and WAV payloads decode through header parsing, not the stub") {
    import java.nio.{ByteBuffer, ByteOrder}
    // 2×2 24-bit bottom-up BI_RGB BMP, every pixel (B,G,R) = (10,20,30);
    // rows are 4-byte padded (stride 8)
    val bmpBuf = ByteBuffer.allocate(70).order(ByteOrder.LITTLE_ENDIAN)
    bmpBuf.put('B'.toByte).put('M'.toByte).putInt(70).putInt(0).putInt(54)
    bmpBuf.putInt(40).putInt(2).putInt(2).putShort(1).putShort(24)
    bmpBuf.putInt(0).putInt(16).putInt(2835).putInt(2835).putInt(0).putInt(0)
    for (_ <- 0 until 2) {
      for (_ <- 0 until 2)
        bmpBuf.put(10.toByte).put(20.toByte).put(30.toByte)
      bmpBuf.put(0.toByte).put(0.toByte) // row pad
    }
    val bmp = bmpBuf.array()
    val (bw, bh, bc, bf) = MediaDecoder.decodeBmp(bmp).get
    assert((bw, bh, bc) == (2, 2, 3))
    assert(math.abs(bf(0) - 10f / 255) < 1e-6 && math.abs(bf(1) - 20f / 255) < 1e-6
      && math.abs(bf(2) - 30f / 255) < 1e-6 && bf(3) == 0f)

    // mono 16-bit PCM WAV at 8 kHz: 8 samples at exactly half amplitude
    val wavBuf = ByteBuffer.allocate(60).order(ByteOrder.LITTLE_ENDIAN)
    wavBuf.put("RIFF".getBytes("US-ASCII")).putInt(52)
      .put("WAVE".getBytes("US-ASCII"))
    wavBuf.put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1).putShort(1)
      .putInt(8000).putInt(16000).putShort(2).putShort(16)
    wavBuf.put("data".getBytes("US-ASCII")).putInt(16)
    for (_ <- 0 until 8) wavBuf.putShort(16384.toShort)
    val wav = wavBuf.array()
    val (frames, rate, ch, wf) = MediaDecoder.decodeWav(wav).get
    assert((frames, rate, ch) == (8, 8000, 1))
    wf.foreach(v => assert(math.abs(v - 0.5f) < 1e-4, s"rms $v"))

    // end-to-end through the Spark pipeline: the sniffer routes real
    // formats to the real decoders and everything else to the stub
    import spark.implicits._
    val df = Seq((1L, bmp), (2L, wav),
      (3L, "plain text payload".getBytes("UTF-8"))).toDF("doc_id", "payload")
    val out = MediaDecoder.decode(df, "doc_id", "payload")
      .collect().map(d => d.doc_id -> d).toMap
    assert((out(1L).width, out(1L).height, out(1L).channels) == (2, 2, 3))
    assert((out(2L).width, out(2L).height, out(2L).channels) == (8, 8000, 1))
    val st = MediaDecoder.decodeStub("plain text payload".getBytes("UTF-8"))
    assert((out(3L).width, out(3L).height) == (st._1, st._2))
    // corrupt/truncated BMP magic falls back rather than throwing
    assert(MediaDecoder.decodeBmp("BMnot-really".getBytes("US-ASCII")).isEmpty)
    assert(MediaDecoder.decodeWav("RIFFxxxxWAVE".getBytes("US-ASCII")).isEmpty)
    // adversarial header: width ~2^30 would overflow an Int stride to
    // negative and sail past a naive bounds check into an
    // ArrayIndexOutOfBounds — must return None, never throw
    val evil = ByteBuffer.allocate(70).order(ByteOrder.LITTLE_ENDIAN)
    evil.put('B'.toByte).put('M'.toByte).putInt(70).putInt(0).putInt(54)
    evil.putInt(40).putInt(0x30000000).putInt(1).putShort(1).putShort(24)
    evil.putInt(0).putInt(16).putInt(0).putInt(0).putInt(0).putInt(0)
    assert(MediaDecoder.decodeBmp(evil.array()).isEmpty)
  }

  test("compressed PNG decodes for real via the JDK's ImageIO codec") {
    import java.awt.image.BufferedImage
    // 2×2 RGB PNG, every pixel (R,G,B) = (30,20,10) — written through
    // the same JDK codec family the decoder reads with, so the fixture
    // needs no binary blob in the repo
    val img = new BufferedImage(2, 2, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 2)
      img.setRGB(x, y, (30 << 16) | (20 << 8) | 10)
    val buf = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", buf))
    val png = buf.toByteArray
    assert(png.length > 8 && (png(0) & 0xff) == 0x89 && png(1) == 'P')

    val (w, h, c, f) = MediaDecoder.decodeImage(png).get
    assert((w, h, c) == (2, 2, 3))
    assert(math.abs(f(0) - 30f / 255) < 1e-6 && // R,G,B order for images
      math.abs(f(1) - 20f / 255) < 1e-6 &&
      math.abs(f(2) - 10f / 255) < 1e-6 && f(3) == 0f)

    // alpha-carrying PNG reports 4 channels with the alpha mean last
    val argb = new BufferedImage(2, 2, BufferedImage.TYPE_INT_ARGB)
    for (y <- 0 until 2; x <- 0 until 2)
      argb.setRGB(x, y, (255 << 24) | (30 << 16) | (20 << 8) | 10)
    val buf2 = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(argb, "png", buf2))
    val (_, _, c2, f2) = MediaDecoder.decodeImage(buf2.toByteArray).get
    assert(c2 == 4 && math.abs(f2(3) - 1f) < 1e-6)

    // end-to-end: the decode() sniffer routes the PNG to the real
    // codec, not the stub
    import spark.implicits._
    val out = MediaDecoder.decode(
      Seq((7L, png)).toDF("doc_id", "payload"), "doc_id", "payload")
      .collect().head
    assert((out.width, out.height, out.channels) == (2, 2, 3))

    // PNG magic on a garbage body falls back (ImageIO returns
    // null/throws internally), never throws out of decodeAny
    val fakePng = png.take(8) ++ "garbage-not-a-png-body".getBytes("UTF-8")
    assert(MediaDecoder.decodeImage(fakePng).isEmpty)
    val (sw, sh, _, _) = MediaDecoder.decodeAny(fakePng)
    val st2 = MediaDecoder.decodeStub(fakePng)
    assert((sw, sh) == (st2._1, st2._2))

    // decompression bomb: a tiny payload whose IHDR claims
    // 60000×60000 (a ~14 GB ARGB raster). The header-only dimension
    // guard must reject it BEFORE ImageIO allocates the raster —
    // OutOfMemoryError is not caught by NonFatal, so without the guard
    // this kills the JVM rather than falling back. Patch the valid
    // PNG's IHDR width/height and recompute the chunk CRC so the
    // header PARSES fine and only the guard can stop the decode.
    val bomb = png.clone()
    val dim = java.nio.ByteBuffer.allocate(4).putInt(60000).array()
    System.arraycopy(dim, 0, bomb, 16, 4) // IHDR width  (bytes 16-19)
    System.arraycopy(dim, 0, bomb, 20, 4) // IHDR height (bytes 20-23)
    val crc = new java.util.zip.CRC32()
    crc.update(bomb, 12, 17) // chunk type "IHDR" + 13 data bytes
    val crcBytes = java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array()
    System.arraycopy(crcBytes, 0, bomb, 29, 4)
    assert(MediaDecoder.decodeImage(bomb).isEmpty)
    val bombAny = MediaDecoder.decodeAny(bomb)
    val bombStub = MediaDecoder.decodeStub(bomb)
    assert((bombAny._1, bombAny._2) == (bombStub._1, bombStub._2))
  }

  test("pipe5: semantic dedup drops every injected copy, keeps exemplars") {
    val rows = SparkEntry.queries("pipe5_semantic_dedup")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty)
    val dropped = rows.map(_._1).toSet
    val kept = rows.map(_._2).toSet
    // an injected copy is bit-identical to its original: equal
    // distance-to-centroid, higher vec_id — the keep-rule
    // (d2 DESC, vec_id ASC) can NEVER rank it first, so every copy
    // must be dropped
    val copies = Tables.t(spark, sf, "embeddings")
      .filter(col("vec_id") % 9 === 0).select("vec_id").collect()
      .map(_.getLong(0) + 1000000L).toSet
    assert(copies.subsetOf(dropped),
      s"surviving injected copies: ${copies -- dropped}")
    // a kept exemplar is rn=1 of its component; it can never also be
    // dropped
    assert(kept.intersect(dropped).isEmpty,
      s"ids both kept and dropped: ${kept.intersect(dropped)}")
  }

  test("text8: BM25 rankings are well-formed and never self-retrieve") {
    val rows = SparkEntry.queries("text8_bm25")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(rows.map(_._1).distinct.sorted.toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    rows.groupBy(_._1).foreach { case (q, g) =>
      val byRank = g.sortBy(_._4)
      assert(byRank.map(_._4).toSeq == (1 to g.length),
        s"q$q ranks not consecutive")
      assert(g.length <= 10)
      // scores non-increasing in rank; ties broken doc_id ASC
      byRank.sliding(2).foreach { case Array(hi, lo) =>
        assert(hi._3 > lo._3 || (hi._3 == lo._3 && hi._2 < lo._2),
          s"q$q rank order violated at ${hi._4}")
      case _ => }
      assert(g.forall(_._2 != q), s"q$q retrieved itself")
      assert(g.forall(_._3 > 0.0), s"q$q non-positive BM25 score")
    }
  }

  test("pack2: chunk windows tile each document with stride 48") {
    val rows = SparkEntry.queries("pack2_chunk_overlap")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val lens = Tables.t(spark, sf, "documents")
      .select(col("doc_id"),
        size(expr("split(lower(trim(text)), '\\\\s+')")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val byDoc = rows.groupBy(_._1)
    assert(byDoc.keySet == lens.keySet, "chunk coverage misses documents")
    byDoc.foreach { case (id, g) =>
      val n = lens(id)
      val expected = (n - 1) / 48 + 1
      assert(g.map(_._2).sorted.toSeq == (0L until expected),
        s"doc $id chunk ids not 0..${expected - 1}")
      g.foreach { case (_, cid, nt, fp) =>
        assert(nt == math.min(64L, n - 48L * cid), s"doc $id chunk $cid size")
        assert(fp.length == 32, s"doc $id chunk $cid fingerprint")
      }
    }
  }

  test("frame sampling emits one row per Nth window") {
    val docs = Tables.t(spark, sf, "documents").limit(10)
      .withColumn("payload", col("text").cast("binary"))
    val frames = MediaDecoder.sampleFrames(docs, "doc_id", "payload", 64, 2)
    val perDoc = frames.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sizes = docs.select(col("doc_id"), octet_length(col("payload")))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    sizes.foreach { case (id, n) =>
      val windows = math.ceil(n / 64.0).toInt
      val expected = (windows + 1) / 2
      assert(perDoc.getOrElse(id, 0L) == expected, s"doc $id")
    }
  }

  test("resizeBox: hand-computed 3x3 binning; BMP/PNG parity; guards") {
    import MediaDecoder.{encodeBmp24With, encodePngWith, resizeBoxRaw}
    // 3×3 gradient, pixel value (x, y, x+y) per channel. Binned 2×2
    // with cx = ⌊x·2/3⌋: x∈{0,1}→0, x=2→1 (same for y), so cells get
    // 4/2/2/1 pixels — hand-check every count and sum.
    def px(x: Int, y: Int): Int = (x << 16) | (y << 8) | (x + y)
    val bmp = encodeBmp24With(3, 3)(px)
    val (w, h, n, s) = resizeBoxRaw(bmp, 2, 2).get
    assert((w, h) == (3, 3))
    assert(n.toSeq == Seq(4L, 2L, 2L, 1L))
    // cell (0,0): x,y ∈ {0,1}²  → r-sum 0+1+0+1=2, g-sum 2, b-sum 0+1+1+2=4
    assert(s.slice(0, 3).toSeq == Seq(2L, 2L, 4L))
    // cell (1,0): x=2, y∈{0,1}  → r 4, g 1, b 2+3=5
    assert(s.slice(3, 6).toSeq == Seq(4L, 1L, 5L))
    // cell (0,1): x∈{0,1}, y=2  → r 1, g 4, b 2+3=5
    assert(s.slice(6, 9).toSeq == Seq(1L, 4L, 5L))
    // cell (1,1): x=2, y=2      → r 2, g 2, b 4
    assert(s.slice(9, 12).toSeq == Seq(2L, 2L, 4L))
    // the SAME image through the other container must bin identically —
    // in particular the BMP bottom-up row flip (a missing flip swaps
    // the cell_y=0 and cell_y=1 rows of a vertical gradient)
    val png = encodePngWith(3, 3)(px)
    val (pw, ph, pn, ps) = resizeBoxRaw(png, 2, 2).get
    assert((pw, ph) == (3, 3) && pn.toSeq == n.toSeq && ps.toSeq == s.toSeq)
    // guards: corrupt payloads and bad target dims fall back to None;
    // an over-cap grid (accumulators are 32 B/cell) must refuse
    // BEFORE allocating, not OOM
    assert(resizeBoxRaw("not an image".getBytes("UTF-8"), 2, 2).isEmpty)
    assert(resizeBoxRaw(bmp, 0, 2).isEmpty)
    assert(resizeBoxRaw(bmp, 4096, 4096).isEmpty)
    assert(resizeBoxRaw(Array.emptyByteArray, 2, 2).isEmpty)
  }

  test("aHash64: brightness invariance, BMP/PNG parity, locality, guards") {
    import MediaDecoder.{aHash64, encodeBmp24With, encodePngWith}
    // noise-ish 16×16 so the 8×8 grid cells have distinct sums
    def px(x: Int, y: Int): Int = {
      val r = (x * 37 + y * 91 + x * y * 13) % 256
      val g = (x * 53 + y * 71 + x * y * 17) % 256
      val b = (x * 61 + y * 43 + x * y * 19) % 256
      (r << 16) | (g << 8) | b
    }
    val base = aHash64(encodeBmp24With(16, 16)(px)).get
    // the same pixels through the other codec hash identically even
    // though the byte layouts differ (BMP bottom-up B,G,R vs PNG
    // top-down R,G,B) — gray summing is channel-order-invariant and
    // streamPixels normalizes row order
    assert(aHash64(encodePngWith(16, 16)(px)).get == base)
    // uniform brightness shift: every cell moves with the mean, hash
    // unchanged — the perceptual property the near-dup gate leans on
    def bright(x: Int, y: Int): Int = {
      val p = px(x, y)
      def c(v: Int) = math.min(v + 20, 255)
      (c(p >>> 16) << 16) | (c((p >>> 8) & 0xff) << 8) | c(p & 0xff)
    }
    assert(aHash64(encodeBmp24With(16, 16)(bright)).get == base)
    // a single-pixel pop flips at most a few bits (its own cell +
    // mean-marginal cells), never the whole hash
    def popped(x: Int, y: Int): Int =
      if (x == 0 && y == 0) 0xffffff else px(x, y)
    val (phi, plo) = aHash64(encodeBmp24With(16, 16)(popped)).get
    val hamming = java.lang.Long.bitCount(phi ^ base._1) +
      java.lang.Long.bitCount(plo ^ base._2)
    assert(hamming <= 7, s"single-pixel change moved $hamming bits")
    // a structurally different image lands FAR away in hamming space
    val (ohi, olo) = aHash64(encodeBmp24With(16, 16)((x, y) =>
      px(15 - x, y) ^ 0x7f3f1f)).get
    assert(java.lang.Long.bitCount(ohi ^ base._1) +
      java.lang.Long.bitCount(olo ^ base._2) > 7)
    // halves carry no sign bit: each is an unsigned 32-bit value
    assert(base._1 >= 0 && base._1 <= 0xffffffffL &&
      base._2 >= 0 && base._2 <= 0xffffffffL)
    assert(aHash64("not an image".getBytes("UTF-8")).isEmpty)
    assert(aHash64(Array.emptyByteArray).isEmpty)
  }

  test("sampleFrames: offset stride decodes sampled BMP frames for real") {
    val d = 7L
    val frames = (0 until 5).map { fi =>
      MediaDecoder.encodeBmp24(4, 2, 10 + fi, 20 + fi, 30 + fi)
    }
    assert(frames.forall(_.length == 78))
    val payload = Array.concat(frames: _*)
    val df = spark.createDataFrame(Seq((d, payload))).toDF("doc_id", "payload")
    val out = MediaDecoder.sampleFrames(df, "doc_id", "payload", 78, 2)
      .orderBy("frame_idx").collect()
    assert(out.map(_.getInt(1)).toSeq == Seq(0, 2, 4))
    out.foreach { r =>
      val fi = r.getInt(1)
      assert(r.getInt(2) == 78 && r.getInt(3) == 4 && r.getInt(4) == 2)
      // real BMP decode: features are B,G,R means of the solid frame
      assert(math.abs(r.getFloat(5) - (30 + fi) / 255f) < 1e-6)
      assert(math.abs(r.getFloat(7) - (10 + fi) / 255f) < 1e-6)
    }
    // short tail window: 100 bytes at frameBytes=78 → frames 0 (78 B)
    // and a 22-byte tail at idx 1, sampled with everyNth=1
    val tailDf = spark.createDataFrame(Seq((1L, payload.take(100))))
      .toDF("doc_id", "payload")
    val tail = MediaDecoder.sampleFrames(tailDf, "doc_id", "payload", 78, 1)
      .orderBy("frame_idx").collect()
    assert(tail.map(r => (r.getInt(1), r.getInt(2))).toSeq ==
      Seq((0, 78), (1, 22)))
  }

  test("segmentPcmRaw: hand-computed runs, tail segment, guards") {
    import MediaDecoder.{encodeWavPcm16, segmentPcmRaw}
    // |x| >= 100 gates frames 1-2 (one run), frame 5 (run to the
    // payload END — the truncated-tail case), with negative
    // amplitudes proving the signed 16-bit decode
    val mono = encodeWavPcm16(8000, 1,
      Array[Short](10, 120, -150, 30, -99, 200))
    val (n, segs) = segmentPcmRaw(mono, 100).get
    assert(n == 6)
    assert(segs == Seq((1, 2, 120L * 120 + 150L * 150), (5, 1, 200L * 200)))
    // stereo: gating reads the FIRST channel only — frame 1's loud
    // right channel must not open a segment
    val stereo = encodeWavPcm16(8000, 2,
      Array[Short](10, 0, 20, 500, -300, 0, 40, 0))
    val (sn, ssegs) = segmentPcmRaw(stereo, 100).get
    assert(sn == 4)
    assert(ssegs == Seq((2, 1, 300L * 300)))
    // an all-quiet clip has zero segments but still decodes
    assert(segmentPcmRaw(encodeWavPcm16(8000, 1,
      Array[Short](1, 2, 3)), 100).get == ((3, Seq.empty)))
    assert(segmentPcmRaw("not audio".getBytes("UTF-8"), 100).isEmpty)
    assert(segmentPcmRaw(mono, 0).isEmpty)
  }

  test("resamplePcm: stereo decimation keeps whole frames; guards hold") {
    import MediaDecoder.{encodeWavPcm16, resamplePcmRaw}
    // stereo, 5 frames: frame f = (L=10f, R=-10f). Decimate ×2 → frames
    // 0,2,4 kept WHOLE (both channels): sumsq = 2·(0²+20²+40²) = 4000,
    // peak = 40
    val samples = Array.tabulate(10) { i =>
      val f = i / 2
      (if (i % 2 == 0) 10 * f else -10 * f).toShort
    }
    val wav = encodeWavPcm16(44100, 2, samples)
    val (fi, ri, ch, fo, ro, sumsq, peak) = resamplePcmRaw(wav, 2).get
    assert((fi, ri, ch, fo, ro) == (5, 44100, 2, 3, 22050))
    assert(sumsq == 2L * (0 + 400 + 1600))
    assert(peak == 40L)
    // factor 1 = identity pass over all frames
    val all = resamplePcmRaw(wav, 1).get
    assert(all._4 == 5 && all._6 == 2L * (0 + 100 + 400 + 900 + 1600))
    // guards: bad factor, non-WAV payloads, and the encoder round-trips
    // through the existing decoder
    assert(resamplePcmRaw(wav, 0).isEmpty)
    assert(resamplePcmRaw("not audio".getBytes("UTF-8"), 2).isEmpty)
    val (frames, rate, chans, _) = MediaDecoder.decodeWav(wav).get
    assert((frames, rate, chans) == (5, 44100, 2))
  }

  test("pipe7: modality verdicts compose — every pair from EITHER modality resolves to one survivor") {
    val dropped = SparkEntry.queries("pipe7_multimodal_canonical")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    def kept(x: Long): Long = dropped.getOrElse(x, x)
    val textPairs = SparkEntry.queries("dedup2_minhash_lsh")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val imgPairs = SparkEntry.queries("mm6_phash_neardup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(textPairs.nonEmpty && imgPairs.nonEmpty)
    // a duplicate pair detected by EITHER modality must land in one
    // cluster: both members resolve to the same canonical doc, and
    // they can't both survive
    (textPairs ++ imgPairs).foreach { case (a, b) =>
      assert(kept(a) == kept(b), s"pair ($a,$b) split across clusters")
      assert(dropped.contains(a) || dropped.contains(b),
        s"both members of ($a,$b) survived")
    }
    // and the MERGE is real: some cluster holds an image pair AND a
    // text pair (d%8==1 image-pairs with d-1; d%7==0 text-pairs with
    // d+1000000), so its 3+ members share one survivor — the verdict
    // composition pipe2 (text-only) cannot produce
    val merged = imgPairs.filter { case (_, d) =>
      textPairs.exists(tp => tp._1 == d || tp._2 == d)
    }
    assert(merged.nonEmpty, "fixture corpus produced no cross-modality cluster")
    merged.foreach { case (a, d) =>
      val textMate = textPairs.collectFirst {
        case (x, y) if x == d => y
        case (x, y) if y == d => x
      }.get
      assert(kept(a) == kept(textMate),
        s"cross-modality cluster {$a,$d,$textMate} not merged")
    }
  }

  test("pipe8: all four modality verdicts compose to one survivor per merged cluster") {
    val dropped = SparkEntry.queries("pipe8_joint_canonical")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    def kept(x: Long): Long = dropped.getOrElse(x, x)
    val byGate = Seq("dedup2_minhash_lsh", "mm6_phash_neardup",
      "mm9_audio_neardup", "mm11_video_neardup").map { g =>
      g -> SparkEntry.queries(g)(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    byGate.foreach { case (g, ps) => assert(ps.nonEmpty, s"$g empty") }
    val allPairs = byGate.flatMap(_._2)
    // a duplicate pair detected by ANY of the four modalities lands in
    // one cluster with exactly one survivor between the two members
    allPairs.foreach { case (a, b) =>
      assert(kept(a) == kept(b), s"pair ($a,$b) split across clusters")
      assert(dropped.contains(a) || dropped.contains(b),
        s"both members of ($a,$b) survived")
    }
    // the audio and video arms are LOAD-BEARING: pipe8 must drop docs
    // pipe7 (text+image only) keeps — the injection masks guarantee
    // audio-only (d%9==2 outside the text/image masks) and video-only
    // copies exist
    val pipe7Dropped = SparkEntry
      .queries("pipe7_multimodal_canonical")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(dropped.size > pipe7Dropped.size,
      s"audio/video arms added no verdicts: pipe8=${dropped.size} " +
        s"pipe7=${pipe7Dropped.size}")
    // and a TRI-modality chain merges: find a doc that pairs through
    // text with one mate and through audio or video with another —
    // all three must share one survivor
    val textPairs = byGate.head._2
    val avPairs = byGate.drop(2).flatMap(_._2)
    val chained = avPairs.flatMap { case (a, b) =>
      textPairs.collectFirst {
        case (x, y) if x == a || y == a || x == b || y == b =>
          (a, b, if (x == a || x == b) y else x)
      }
    }
    assert(chained.nonEmpty, "no text x audio/video chained cluster in fixture")
    chained.foreach { case (a, b, c) =>
      assert(kept(a) == kept(b) && kept(b) == kept(c),
        s"chained cluster {$a,$b,$c} not merged")
    }
  }

  test("pipe9: maintained stores compose to the joint verdict, tri-modal clusters merge") {
    import graft.queries.MultimodalOps
    val pairRows = MultimodalOps.p9MaintainedPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    def deleted(d: Long) = d % 11 == 3 && d % 3 != 0 && d % 7 != 2
    assert(pairRows.nonEmpty)
    Seq("img", "aud", "vid", "txt").foreach { m =>
      assert(pairRows.exists(_._3 == m), s"no maintained $m pairs")
    }
    val stale = pairRows.filter(p => deleted(p._1) || deleted(p._2))
    assert(stale.isEmpty, s"maintained pairs reference departed docs: ${
      stale.take(5).mkString(",")}")
    val dropped = SparkEntry.queries("pipe9_maintained_canonical")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    def kept(x: Long): Long = dropped.getOrElse(x, x)
    // every maintained pair resolves into one cluster with exactly one
    // survivor between its two members
    pairRows.foreach { case (a, b, m) =>
      assert(kept(a) == kept(b), s"$m pair ($a,$b) split across clusters")
      assert(dropped.contains(a) || dropped.contains(b),
        s"both members of $m pair ($a,$b) survived")
    }
    // the masks compose a TRI-modal cluster at d = 37 (mod 42 family):
    // audio (35,36) (36 % 6 == 0, scaled), image (36,37) (37 % 7 == 2,
    // pixel-pop), video (36,37) (37 % 21 == 16, rate-doubled) — the
    // maintained stores must each hold their edge, and the verdict
    // must merge all three members to one survivor
    val c = Map("aud" -> (35L, 36L), "img" -> (36L, 37L),
      "vid" -> (36L, 37L))
    c.foreach { case (m, (a, b)) =>
      assert(pairRows.contains((a, b, m)),
        s"tri-modal cluster missing its $m edge ($a,$b)")
    }
    assert(kept(35L) == kept(36L) && kept(36L) == kept(37L),
      s"tri-modal cluster {35,36,37} not merged: ${
        Seq(35L, 36L, 37L).map(kept)}")
    assert(Seq(35L, 36L, 37L).count(dropped.contains) == 2,
      "tri-modal cluster must keep exactly one of its three members")
    // the 4th (text) arm chains ACROSS modalities at d ≡ 15 (mod 42):
    // text edge (56, 57) (57 % 6 == 3: churn re-texts 57 as 56's text
    // + suffix) and video edge (57, 58) (58 ≡ 16 (mod 21): a
    // brightness re-encode of 57's clip) — a TEXT×VIDEO chained
    // cluster {56, 57, 58} the maintained stores must bridge to one
    // survivor
    assert(pairRows.contains((56L, 57L, "txt")),
      "text×video chain missing its txt edge (56,57)")
    assert(pairRows.contains((57L, 58L, "vid")),
      "text×video chain missing its vid edge (57,58)")
    assert(kept(56L) == kept(57L) && kept(57L) == kept(58L),
      s"text×video cluster {56,57,58} not merged: ${
        Seq(56L, 57L, 58L).map(kept)}")
    // the cluster may extend beyond the injected trio (REAL document
    // texts can be natural near-dups), so pin "at most one of the
    // trio survives", not exact membership
    assert(Seq(56L, 57L, 58L).count(dropped.contains) >= 2,
      "text×video cluster kept more than one of its three members")
  }

  test("mm10: maintained audio pairs exclude departed docs and span both commit paths") {
    val pairs = SparkEntry.queries("mm10_audio_incremental")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    // the delete slice's docs must never appear in the maintained
    // index (their stored bootstrap pairs were tombstoned)
    def deleted(d: Long) = d % 11 == 3 && d % 3 != 0 && d % 7 != 2
    val stale = pairs.filter(p => deleted(p._1) || deleted(p._2))
    assert(stale.isEmpty, s"pairs reference departed docs: ${stale.take(5)}")
    // both provenances are live: pairs stored by the BOOTSTRAP
    // reconcile (seed (13,5) injections, both partners never churned)
    // and pairs formed by the INCREMENTAL reconcile (churn (7,2)
    // updates probing the store)
    def seedKept(d: Long) = d % 3 != 0 && d % 7 != 2 && !deleted(d)
    assert(pairs.exists { case (a, b) =>
      b % 13 == 5 && b - a == 1 && seedKept(a) && seedKept(b) },
      "no surviving bootstrap-stored pair")
    assert(pairs.exists { case (a, b) =>
      b % 7 == 2 && b - a == 1 && !deleted(a) },
      "no incrementally-formed churn pair")
  }

  test("mm12: maintained video pairs exclude departed docs and survive rate-doubling") {
    val pairs = SparkEntry.queries("mm12_video_incremental")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    def deleted(d: Long) = d % 11 == 3 && d % 3 != 0 && d % 7 != 2
    val stale = pairs.filter(p => deleted(p._1) || deleted(p._2))
    assert(stale.isEmpty, s"pairs reference departed docs: ${stale.take(5)}")
    // both provenances are live (bootstrap-stored (13,5) seed pairs,
    // incrementally-formed (7,2) churn pairs), and the churn side
    // must include a FRAME-RATE-DOUBLED copy (d % 14 == 9): the
    // time-fraction fold's invariance is exercised on the maintained
    // path, not only in batch mm11
    def seedKept(d: Long) = d % 3 != 0 && d % 7 != 2 && !deleted(d)
    assert(pairs.exists { case (a, b) =>
      b % 13 == 5 && b - a == 1 && seedKept(a) && seedKept(b) },
      "no surviving bootstrap-stored pair")
    assert(pairs.exists { case (a, b) =>
      b % 14 == 9 && b - a == 1 && !deleted(a) },
      "no rate-doubled incrementally-formed churn pair")
    assert(pairs.exists { case (a, b) =>
      b % 14 == 2 && b - a == 1 && !deleted(a) },
      "no brightened incrementally-formed churn pair")
  }

  test("mm13: scene segmentation tiles every clip and finds exactly the injected cuts") {
    val segs = SparkEntry.queries("mm13_video_scenes")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getInt(5)))
    assert(segs.nonEmpty)
    segs.groupBy(_._1).foreach { case (d, rows) =>
      val ns = (d % 3 + 2).toInt
      val ls = (d % 4 + 3).toInt
      val ordered = rows.sortBy(_._3)
      assert(ordered.map(_._3).toSeq == (1 to rows.length),
        s"doc $d: scene_idx not dense")
      // exactly the injected scene structure: ns scenes of ls frames,
      // tiling the clip contiguously (no false cut from the ±1
      // brightness jitter, no missed cut between noise patterns)
      assert(rows.length == ns, s"doc $d: ${rows.length} scenes, want $ns")
      assert(ordered.forall(_._2 == ns * ls), s"doc $d: frames_in wrong")
      ordered.zipWithIndex.foreach { case ((_, _, _, start, n, ham), i) =>
        assert(start == i * ls && n == ls,
          s"doc $d scene ${i + 1}: [$start,+$n) want [${i * ls},+$ls)")
        if (i == 0) assert(ham == 0, s"doc $d: first run cut_hamming $ham")
        else assert(ham > 10, s"doc $d scene ${i + 1}: cut_hamming $ham")
      }
    }
  }

  test("sceneSegmentsRaw: an unhashable frame closes the run; short payload yields None") {
    import graft.multimodal.MediaDecoder
    val fb = 54 + 16 * 48
    def frame(seed: Long): Array[Byte] =
      MediaDecoder.encodeBmp24With(16, 16) { (x, y) =>
        val v = (((seed * 131 + x) * (seed % 97 + 31) +
          (seed * 137 + y) * (seed % 89 + 23)) % 256).toInt
        (v << 16) | (v << 8) | v
      }
    val a = frame(3); val b = frame(9000)
    assert(a.length == fb, s"fixture frame is ${a.length}B, want $fb")
    val garbage = Array.fill(fb)(0.toByte)
    val clip = Array.concat(a, a, a, garbage, b, b)
    val Some((n, segs)) = MediaDecoder.sceneSegmentsRaw(clip, fb, 10)
    assert(n == 6)
    // the garbage frame belongs to NO segment and suppresses the
    // cross-gap comparison: the post-gap run opens with cut_hamming 0
    assert(segs == Seq((0, 3, 0), (4, 2, 0)), s"got $segs")
    assert(MediaDecoder.sceneSegmentsRaw(Array[Byte](1, 2, 3), fb, 10).isEmpty)
    assert(MediaDecoder.sceneSegmentsRaw(clip, 0, 10).isEmpty)
  }

  test("st7: streaming media index lands the exact state the batch reconciles land") {
    // the streaming service and the batch-reconcile gate (mm7) drive
    // the SAME final corpus (seed (13,5), churn (7,2), the delete
    // slice) through the same signature machinery — one via CDC
    // micro-batches with a down-window restart, one via explicit
    // incremental-scan reconciles. Their pairs tables must be
    // identical: any divergence (a CDC row lost across the restart, a
    // replayed batch applied twice, a tombstone missed while down)
    // shows up as a set difference here before the oracle ever runs.
    val streamed = SparkEntry.queries("st7_stream_media_index")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val batch = SparkEntry.queries("mm7_phash_incremental")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      s"streaming vs batch divergence: only-streamed=${
        (streamed -- batch).take(5)} only-batch=${(batch -- streamed).take(5)}")
  }

  test("audio reconcile: an all-silent re-encode drops the doc's signature and pairs") {
    // the envelope-specific leg of phashReconcile's no-signature
    // tombstone path: a churn clip that is all sub-threshold silence
    // yields NO envHash row (the audio analog of undecodable media),
    // so the doc must drop out of the maintained index — stale pairs
    // describing its superseded clip included
    import MediaDecoder.encodeWavPcm16
    import graft.core.{LakeTable, TableProps}
    import graft.queries.MultimodalOps
    import spark.implicits._
    def scratch(n: String) = {
      val p = s"target/graft_scratch/audiorec_$n"
      LakeTable.drop(spark, p); p
    }
    val sigs = LakeTable.create(spark, scratch("sigs"),
      TableProps("arsigs", Seq("doc_id"), Some("ts"), Seq.empty,
        tableType = "mor"))
    val pairsT = LakeTable.create(spark, scratch("pairs"),
      TableProps("arpairs", Seq("a", "b"), Some("ts"), Seq.empty,
        tableType = "mor"))
    val clip = Array.tabulate(130) { j =>
      (50 + ((11L * 31 + j) * 24 + j.toLong * j * 9) % 101).toShort
    }
    val hash = (df: org.apache.spark.sql.DataFrame) =>
      MediaDecoder.envHash(df, "doc_id", "payload", 50)
    // bootstrap: docs 1 and 2 carry the SAME clip → stored pair (1,2)
    MultimodalOps.phashReconcile(
      Seq((1L, encodeWavPcm16(8000, 1, clip)),
        (2L, encodeWavPcm16(8000, 1, clip))).toDF("doc_id", "payload"),
      Seq.empty[Long].toDF("doc_id"), sigs, pairsT, 1L, hash)
    assert(pairsT.snapshot().select("a", "b").as[(Long, Long)]
      .collect().toSet == Set((1L, 2L)))
    // churn: doc 2 re-encoded as all-silence (no envelope signature)
    MultimodalOps.phashReconcile(
      Seq((2L, encodeWavPcm16(8000, 1, Array.fill(130)(7.toShort))))
        .toDF("doc_id", "payload"),
      Seq.empty[Long].toDF("doc_id"), sigs, pairsT, 2L, hash)
    assert(pairsT.snapshot().select("a", "b").collect().isEmpty,
      "stale pair survived an all-silent re-encode")
    assert(sigs.snapshot().filter(col("doc_id") === 2L).collect().isEmpty,
      "silent doc kept a stale signature")
  }

  test("duplicate-cluster skew: k equal signatures persist k-1 star edges, never O(k²)") {
    // the 100-TB boilerplate-cluster defense: a cluster of k
    // byte-identical payloads must land k-1 (rep → member, hamming 0)
    // star edges in the maintained pairs table — with the rep's cross
    // edges the ONLY link to other clusters — and a later insert with
    // a SMALLER id must demote the rep: every star edge re-homes and
    // the cross edge re-keys, still O(k) rows total
    import graft.core.{LakeTable, TableProps}
    import graft.queries.MultimodalOps
    import spark.implicits._
    def scratch(n: String) = {
      val p = s"target/graft_scratch/skewstar_$n"
      LakeTable.drop(spark, p); p
    }
    val sigs = LakeTable.create(spark, scratch("sigs"),
      TableProps("sksigs", Seq("doc_id"), Some("ts"), Seq.empty,
        tableType = "mor"))
    val pairsT = LakeTable.create(spark, scratch("pairs"),
      TableProps("skpairs", Seq("a", "b"), Some("ts"), Seq.empty,
        tableType = "mor"))
    def img(bump: Boolean): Array[Byte] =
      MediaDecoder.encodeBmp24With(16, 16) { (x, y) =>
        // bump whites out one whole 2×2 aHash cell: exactly that
        // cell's mean-threshold bit flips → hamming 1, a near-dup
        val v = if (bump && x < 2 && y < 2) 255 else (x * 37 + y * 53) % 256
        (v << 16) | (v << 8) | v
      }
    val k = 40
    // bootstrap: ids 10..10+k-1 all carry THE SAME image; id 5000 a
    // single-pixel near-dup (cross partner)
    val boot = ((10L until (10L + k)).map(id => (id, img(bump = false))) :+
      (5000L, img(bump = true))).toDF("doc_id", "payload")
    MultimodalOps.phashReconcile(boot,
      Seq.empty[Long].toDF("doc_id"), sigs, pairsT, 1L)
    val got1 = pairsT.snapshot().select("a", "b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val star1 = (11L until (10L + k)).map(m => (10L, m, 0)).toSet
    assert(got1.filterNot(_._3 == 0).map(p => (p._1, p._2)) ==
      Set((10L, 5000L)), s"cross edges wrong: $got1")
    assert(got1.filter(_._3 == 0) == star1,
      s"star edges not O(k): ${got1.size} rows for k=$k")
    // churn: id 3 joins the cluster — rep demotes from 10 to 3, every
    // star edge re-homes, the cross edge re-keys to (3, 5000)
    MultimodalOps.phashReconcile(
      Seq((3L, img(bump = false))).toDF("doc_id", "payload"),
      Seq.empty[Long].toDF("doc_id"), sigs, pairsT, 2L)
    val got2 = pairsT.snapshot().select("a", "b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val star2 = (10L until (10L + k)).map(m => (3L, m, 0)).toSet
    assert(got2.filter(_._3 == 0) == star2, "rep demotion lost star edges")
    assert(got2.filterNot(_._3 == 0).map(p => (p._1, p._2)) ==
      Set((3L, 5000L)), "cross edge did not re-key to the new rep")
    assert(got2.size == k + 1, s"pair table not O(k): ${got2.size}")
  }

  test("envHash64: invariant to amplitude scale, silence padding, and sign; guards hold") {
    import MediaDecoder.{encodeWavPcm16, envHash64}
    def hamming(a: (Long, Long), b: (Long, Long)): Int =
      java.lang.Long.bitCount(a._1 ^ b._1) +
        java.lang.Long.bitCount(a._2 ^ b._2)
    // a loud 130-frame clip with a doc-style pseudo-random envelope
    val base = Array.tabulate(130) { j =>
      val mag = 50 + ((7L * 31 + j) * 20 + j.toLong * j * 9) % 101
      ((if (j % 4 < 2) 1 else -1) * mag).toShort
    }
    val h0 = envHash64(encodeWavPcm16(8000, 1, base), 50).get
    // hash halves are unsigned 32-bit (safe to pack in SQL BIGINT)
    assert(h0._1 >= 0 && h0._1 < (1L << 32) && h0._2 >= 0 && h0._2 < (1L << 32))
    // exact ×2 amplitude: every mean comparison scales together
    assert(envHash64(encodeWavPcm16(8000, 1,
      base.map(s => (s * 2).toShort)), 50).get == h0)
    // leading AND trailing sub-threshold silence: trimmed before
    // windowing, so the hash is bit-identical
    val padded = Array.fill(37)(12.toShort) ++ base ++
      Array.fill(23)((-9).toShort)
    assert(envHash64(encodeWavPcm16(8000, 1, padded), 50).get == h0)
    // global sign flip: the envelope reads |sample|
    assert(envHash64(encodeWavPcm16(8000, 1,
      base.map(s => (-s).toShort)), 50).get == h0)
    // a different clip (coefficients of another doc) is FAR: band
    // blocking at hamming <= 7 must not pair it
    val other = Array.tabulate(130) { j =>
      (50 + ((19L * 31 + j) * 33 + j.toLong * j * 24) % 101).toShort
    }
    assert(hamming(envHash64(encodeWavPcm16(8000, 1, other), 50).get, h0) > 7)
    // guards: all-silent clip, non-audio payload
    assert(envHash64(encodeWavPcm16(8000, 1,
      Array[Short](1, -2, 3)), 50).isEmpty)
    assert(envHash64("not audio".getBytes("UTF-8"), 50).isEmpty)
  }

  test("envHash64: multi-channel contract — per-frame MAX over channels") {
    import MediaDecoder.{encodeWavPcm16, envHash64}
    val base = Array.tabulate(130) { j =>
      val mag = 50 + ((7L * 31 + j) * 20 + j.toLong * j * 9) % 101
      ((if (j % 4 < 2) 1 else -1) * mag).toShort
    }
    val h0 = envHash64(encodeWavPcm16(8000, 1, base), 50).get
    // a stereo-duplicated re-encode of the same mono recording hashes
    // IDENTICALLY: max of two equal channels = the channel, and max
    // (unlike a summed mixdown) keeps the magnitude scale — the trim
    // threshold means the same thing at every channel count
    val stereoDup = Array.tabulate(260)(i => base(i / 2))
    assert(envHash64(encodeWavPcm16(8000, 2, stereoDup), 50).get == h0)
    // loud content in ANY one channel is heard: silent-left/loud-right
    // equals the loud channel's mono hash (this clip previously
    // dropped out of the index entirely under first-channel-only
    // trimming)
    val silentLeft = Array.tabulate(260)(i =>
      if (i % 2 == 0) ((i / 2 % 7) - 3).toShort else base(i / 2))
    assert(envHash64(encodeWavPcm16(8000, 2, silentLeft), 50).get == h0)
    // and channel order is immaterial (max is symmetric)
    val silentRight = Array.tabulate(260)(i =>
      if (i % 2 == 1) ((i / 2 % 7) - 3).toShort else base(i / 2))
    assert(envHash64(encodeWavPcm16(8000, 2, silentRight), 50).get == h0)
    // all channels silent stays the no-signature path
    val allQuiet = Array.tabulate(260)(i => ((i % 9) - 4).toShort)
    assert(envHash64(encodeWavPcm16(8000, 2, allQuiet), 50).isEmpty)
  }

  test("mm9: every injected re-encoded audio copy is recalled, padded copies at hamming 0") {
    val pairs = SparkEntry.queries("mm9_audio_neardup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val got = pairs.map(p => (p._1, p._2)).toSet
    val maxDoc = Tables.t(spark, sf, "documents")
      .agg(max(col("doc_id"))).collect()(0).getLong(0)
    val scaled = (2L to maxDoc by 18).map(d => (d - 1, d))
    val padded = (11L to maxDoc by 18).map(d => (d - 1, d))
    assert(scaled.nonEmpty && padded.nonEmpty, "fixture corpus too small")
    // full recall of BOTH perturbation variants at hamming <= 7
    assert(scaled.toSet.subsetOf(got), s"missed scaled: ${scaled.toSet -- got}")
    assert(padded.toSet.subsetOf(got), s"missed padded: ${padded.toSet -- got}")
    // a padded copy's active region IS the source clip: trim must
    // make it bit-identical, not merely near
    val paddedHam = pairs.filter(p => padded.contains((p._1, p._2))).map(_._3)
    assert(paddedHam.nonEmpty && paddedHam.forall(_ == 0),
      s"padded pairs should hash identically, got $paddedHam")
    // and nothing else pairs: the fixture injects exactly these
    assert(got == (scaled ++ padded).toSet,
      s"false pairs: ${got -- scaled -- padded}")
  }

  test("videoHash64: frame-rate doubling cancels exactly; repeats, guards hold") {
    import MediaDecoder.{encodeBmp24With, videoHash64}
    val fb = 54 + 16 * 48 // one 16x16 BMP24 frame
    def frame(seed: Long): Array[Byte] = encodeBmp24With(16, 16) { (x, y) =>
      val r = ((seed * 131 + x) * (seed % 97 + 31) + y * 7).toInt & 0xff
      val g = ((seed * 139 + y) * (seed % 101 + 37) + x * 5).toInt & 0xff
      val b = ((seed * 151 + x + y) * (seed % 103 + 41)).toInt & 0xff
      (r << 16) | (g << 8) | b
    }
    val clip = Array.concat((0 until 6).map(i => frame(40 + 3 * i)): _*)
    val h0 = videoHash64(clip, fb, 5).get
    assert(h0._1 >= 0 && h0._1 < (1L << 32) && h0._2 >= 0 && h0._2 < (1L << 32))
    // a 2x-fps re-encode (every source frame twice): time-fraction
    // sampling reads byte-identical frames — hash EQUAL, not just near
    val doubled = Array.concat(
      (0 until 12).map(i => frame(40 + 3 * (i / 2))): _*)
    assert(videoHash64(doubled, fb, 5).get == h0,
      "frame-rate doubling must cancel exactly")
    // a clip shorter than the slot count still hashes (slots repeat
    // frames deterministically)
    val short = Array.concat((0 until 3).map(i => frame(90 + i)): _*)
    assert(videoHash64(short, fb, 5).isDefined)
    // a different clip is FAR (band blocking at <= 7 must not pair it)
    val other = Array.concat((0 until 6).map(i => frame(700 + 11 * i)): _*)
    val ho = videoHash64(other, fb, 5).get
    assert(java.lang.Long.bitCount(h0._1 ^ ho._1) +
      java.lang.Long.bitCount(h0._2 ^ ho._2) > 7)
    // guards: sub-frame payload, garbage frames (aHash64 None for all
    // sampled frames -> no signature), bad params
    assert(videoHash64(new Array[Byte](fb - 1), fb, 5).isEmpty)
    assert(videoHash64(Array.fill(3 * fb)(7.toByte), fb, 5).isEmpty)
    assert(videoHash64(clip, 0, 5).isEmpty && videoHash64(clip, fb, 0).isEmpty)
  }

  test("mm11: every injected re-encoded video copy is recalled, rate-doubled at hamming 0") {
    val pairs = SparkEntry.queries("mm11_video_neardup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val got = pairs.map(p => (p._1, p._2)).toSet
    val maxDoc = Tables.t(spark, sf, "documents")
      .agg(max(col("doc_id"))).collect()(0).getLong(0)
    val bright = (3L to maxDoc by 16).map(d => (d - 1, d))
    val doubled = (11L to maxDoc by 16).map(d => (d - 1, d))
    assert(bright.nonEmpty && doubled.nonEmpty, "fixture corpus too small")
    // full recall of BOTH perturbation variants at hamming <= 7
    assert(bright.toSet.subsetOf(got), s"missed bright: ${bright.toSet -- got}")
    assert(doubled.toSet.subsetOf(got),
      s"missed rate-doubled: ${doubled.toSet -- got}")
    // a rate-doubled copy samples byte-identical frames: the folded
    // signature must be bit-identical, not merely near
    val dblHam = pairs.filter(p => doubled.contains((p._1, p._2))).map(_._3)
    assert(dblHam.nonEmpty && dblHam.forall(_ == 0),
      s"rate-doubled pairs should hash identically, got $dblHam")
    // and nothing else pairs: the fixture injects exactly these
    assert(got == (bright ++ doubled).toSet,
      s"false pairs: ${got -- bright -- doubled}")
  }
}
