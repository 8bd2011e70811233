package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._

class OperatorsSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("evenSampleIndices matches reference Tracklet.sample semantics") {
    // n <= numSamples keeps all
    assert(Sampling.evenSampleIndices(3, 5) == Seq(0, 1, 2))
    // numSamples = -1 keeps all, 0 keeps none
    assert(Sampling.evenSampleIndices(10, -1) == (0 until 10))
    assert(Sampling.evenSampleIndices(10, 0).isEmpty)
    // n=10, k=5: interval = 10/6 = 1 -> everything kept (reference quirk)
    assert(Sampling.evenSampleIndices(10, 5) == (0 until 10))
    // n=30, k=5: interval = 5, start = (30-20)/2 = 5 -> i % 5 == 0
    assert(Sampling.evenSampleIndices(30, 5) == Seq(0, 5, 10, 15, 20, 25))
    // n=13, k=2: interval = 4, start = (13-4)/2 = 4 -> i ≡ 0 (mod 4)
    assert(Sampling.evenSampleIndices(13, 2) == Seq(0, 4, 8, 12))
  }

  test("evenSampleIndicesCol agrees with the Scala reference for all n in 0..200") {
    val df = spark.range(0, 201).select($"id".cast("int").as("n"))
      .withColumn("kept", Sampling.evenSampleIndicesCol($"n", 5))
    val rows = df.collect()
    rows.foreach { r =>
      val n = r.getAs[Int]("n")
      val got = r.getAs[scala.collection.Seq[Int]]("kept").toSeq
      assert(got == Sampling.evenSampleIndices(n, 5), s"mismatch at n=$n")
    }
  }

  test("pqAdcDistLut equals pqAdcDist for random codebooks and vectors") {
    val rnd = new scala.util.Random(13)
    val subDim = 4; val m = 3; val k = 5
    val books = Seq.fill(m)(Seq.tabulate(k)(cid =>
      (cid.toLong, Array.fill(subDim)(rnd.nextInt(100).toLong))))
    val rows = Seq.fill(40) {
      (Seq.fill(m * subDim)(rnd.nextInt(100).toLong),
        Seq.fill(m)(rnd.nextInt(k).toLong))
    }
    val df = rows.toDF("pqv", "codes")
    val direct = df.select(
      Similarity.pqAdcDist($"pqv", $"codes", books, subDim).as("d"))
      .collect().map(_.getLong(0))
    val withLut = rows.map { case (qv, codes) =>
      (qv, codes, Similarity.pqAdcLut(qv, books, subDim))
    }.toDF("pqv", "codes", "lut")
      .select(Similarity.pqAdcDistLut($"lut", $"codes", m).as("d"))
      .collect().map(_.getLong(0))
    assert(direct.sameElements(withLut))
  }

  test("saltedJoin equals the plain join on a hot-key corpus, all join types") {
    val rnd = new scala.util.Random(11)
    // 90% of probe rows share key 7 — the shape AQE can't always split
    val probe = (1 to 5000).map(i =>
      (if (rnd.nextInt(10) < 9) 7L else rnd.nextInt(50).toLong, i.toLong))
      .toDF("k", "row_id")
    // build has keys 0..39: key 40+ probes miss (exercises outer nulls)
    val build = (0L until 40L).map(k => (k, s"payload_$k")).toDF("k", "payload")
    for (jt <- Seq("inner", "left_outer")) {
      val plain = probe.join(build, Seq("k"), jt)
        .select($"k", $"row_id", $"payload").collect()
        .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)))).sorted
      val salted = Skew.saltedJoin(probe, build, "k", 8, Seq("row_id"), jt)
        .select($"k", $"row_id", $"payload").collect()
        .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)))).sorted
      assert(salted.sameElements(plain), s"divergence for $jt")
    }
    // build-preserving types would emit the exploded copies' unmatched
    // rows as extra null-probe rows — rejected, not silently multiplied
    for (jt <- Seq("right_outer", "full_outer", "outer"))
      assertThrows[IllegalArgumentException](
        Skew.saltedJoin(probe, build, "k", 8, Seq("row_id"), jt))
  }

  test("averageHash: flat patch hashes to 0, noise below the mean gap is invariant") {
    // flat image: no gray is STRICTLY above the mean -> all bits clear
    val flat = Array.fill[Byte](8 * 4 * 3)(100.toByte)
    assert(Multimodal.averageHash(flat, 8, 4) == 0L)
    // half-dark/half-bright: exactly the bright half's bits set
    val split = Array.tabulate[Byte](8 * 4 * 3)(i => if (i / 3 < 16) 10 else 200.toByte)
    val h = Multimodal.averageHash(split, 8, 4)
    assert(h == ((0xFFFFFFFFL << 16) & 0xFFFFFFFFL), f"got $h%x")
    // perceptual robustness: +-2 noise on a high-contrast patch cannot
    // move any gray across the mean -> identical hash (the property
    // that makes near-identical images collide in the dedup groupBy)
    val rnd = new scala.util.Random(3)
    val noisy = split.clone()
    for (i <- noisy.indices) noisy(i) = (noisy(i) + rnd.nextInt(5) - 2).toByte
    assert(Multimodal.averageHash(noisy, 8, 4) == h)
  }

  test("samplePatches clears patch on non-sample boxes only") {
    val seqCol = transform(sequence(lit(0), lit(29)),
      i => struct(i.as("frame"), lit(Array[Byte](1, 2)).as("patch")))
    val out = spark.range(1)
      .select(Sampling.samplePatches(seqCol, 5).as("seq"))
      .selectExpr("transform(seq, b -> b.patch is not null) as has_patch")
      .as[Seq[Boolean]].head()
    val expected = (0 until 30).map(Sampling.evenSampleIndices(30, 5).contains)
    assert(out == expected)
  }

  test("meanVectors computes field-wise means distributed") {
    val df = Seq(
      ("a", Array(1.0, 2.0)), ("a", Array(3.0, 6.0)),
      ("b", Array(10.0, 20.0))).toDF("k", "vec")
    val out = AttributeOps.meanVectors(df, Seq("k"), "vec")
      .orderBy("k").collect()
    assert(out(0).getAs[scala.collection.Seq[Double]]("mean_vec").toSeq == Seq(2.0, 4.0))
    assert(out(0).getAs[Long]("n_samples") == 2L)
    assert(out(1).getAs[scala.collection.Seq[Double]]("mean_vec").toSeq == Seq(10.0, 20.0))
  }

  test("PCM16 codec round-trips; frame energies honor full-frame rule") {
    // round-trip across the signed range incl. clamp
    val samples = Array(-32768, -2048, -1, 0, 1, 2047, 32767)
    assert(Multimodal.decodePcm16(Multimodal.encodePcm16(samples)).toSeq ==
      samples.toSeq)
    assert(Multimodal.decodePcm16(
      Multimodal.encodePcm16(Array(40000, -40000))).toSeq ==
      Seq(32767, -32768)) // clamped, not wrapped
    // odd trailing byte ignored
    assert(Multimodal.decodePcm16(Array[Byte](1, 0, 5)).toSeq == Seq(1))
    // framing: n=5, frame=3, hop=1 -> 3 full frames; tail dropped
    val e = Multimodal.frameEnergies(Array(1, 2, 3, 4, 5), 3, 1)
    assert(e.toSeq == Seq((0, 14L), (1, 29L), (2, 50L)))
    // sub-frame input -> no frames; exact frame -> one
    assert(Multimodal.frameEnergies(Array(1, 2), 3, 1).isEmpty)
    assert(Multimodal.frameEnergies(Array(2, 2, 2), 3, 3).toSeq == Seq((0, 12L)))
    // the batched operator drops null payloads, keeps the rest
    val df = Seq(
      (1L, Multimodal.encodePcm16(Array(3, 4, 0, 5))),
      (2L, null.asInstanceOf[Array[Byte]])).toDF("id", "audio")
    val out = Multimodal.framePcmEnergies(df, "audio", 2, 2)
      .select($"id", $"frame_idx", $"energy").collect()
    assert(out.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq ==
      Seq((1L, 0, 25L), (1L, 1, 25L)))
  }

  test("GVID container: round-trip, header probe, sampling never reads skipped frames") {
    val frames = Seq.tabulate(5) { f =>
      Multimodal.encodeImage(
        Array.tabulate[Byte](2 * 2 * 3)(i => ((f * 50 + i * 3) % 256).toByte),
        2, 2, "png")
    }
    val c = Multimodal.encodeVideoContainer(frames)
    assert(Multimodal.videoFrameCount(c).contains(5))
    // stride 1 round-trips every frame bit-exactly
    val all = Multimodal.sampleVideoFrames(c, 1)
    assert(all.map(_._1) == Seq(0, 1, 2, 3, 4))
    all.foreach { case (f, b) => assert(b.sameElements(frames(f))) }
    // stride 2 keeps 0, 2, 4
    assert(Multimodal.sampleVideoFrames(c, 2).map(_._1) == Seq(0, 2, 4))
    // overwrite every NON-sampled frame's payload in place: sampled
    // slices must be byte-identical — skipped payloads are never read
    val headerLen = 8 + 4 * frames.length
    val offsets = frames.scanLeft(headerLen)(_ + _.length)
    val corrupt = c.clone()
    for (f <- Seq(1, 3); i <- offsets(f) until offsets(f + 1))
      corrupt(i) = 0x5a.toByte
    val sampled = Multimodal.sampleVideoFrames(corrupt, 2)
    assert(sampled.map(_._1) == Seq(0, 2, 4))
    sampled.foreach { case (f, b) => assert(b.sameElements(frames(f))) }
    // malformed containers degrade to no frames, never throw: wrong
    // magic, truncated index, length pointing past the payload,
    // trailing garbage after the last frame
    assert(Multimodal.videoFrameCount("nope".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.videoFrameCount(c.take(10)).isEmpty)
    val badLen = c.clone(); badLen(8) = 0x7f.toByte // frame 0 len ≈ 2^31
    assert(Multimodal.sampleVideoFrames(badLen, 1).isEmpty)
    assert(Multimodal.videoFrameCount(c :+ 0.toByte).isEmpty)
    assert(Multimodal.videoFrameCount(null).isEmpty)
    // empty container is valid and empty
    val empty = Multimodal.encodeVideoContainer(Seq.empty)
    assert(Multimodal.videoFrameCount(empty).contains(0))
    assert(Multimodal.sampleVideoFrames(empty, 2).isEmpty)
    // the batched operator: extra columns ride along, one row per
    // sampled frame, invalid containers emit no rows
    val df = Seq((7L, "keep", c), (8L, "bad", "zzzz".getBytes("UTF-8")))
      .toDF("id", "tag", "video")
    val out = Multimodal.sampleDecodeVideo(df, "video", 2)
      .select($"id", $"tag", $"n_frames", $"frame_idx", $"width", $"height")
      .collect()
    assert(out.map(r => (r.getLong(0), r.getString(1), r.getInt(2),
      r.getInt(3), r.getInt(4), r.getInt(5))).toSeq ==
      Seq((7L, "keep", 5, 0, 2, 2), (7L, "keep", 5, 2, 2, 2),
        (7L, "keep", 5, 4, 2, 2)))
  }

  test("sceneCutsChunked ≡ sceneCuts across fragment sizes, boundary corruption, dim changes") {
    // adversarial corpus: frame counts straddling every fragment-size
    // boundary, scene changes AT fragment boundaries, an undecodable
    // frame ON a boundary (kills one pair in each adjacent fragment),
    // a mid-video dimension change, and malformed containers — the
    // one-frame-overlap arithmetic must add no spurious pair and lose
    // none, in exactly the degraded cases too
    val rnd = new scala.util.Random(42)
    def frame(scene: Int, w: Int = 3, h: Int = 2): Array[Byte] =
      Multimodal.encodeImage(
        Array.tabulate[Byte](w * h * 3)(i => ((scene * 97 + i * 5) % 256).toByte),
        w, h, "png")
    val vids = Seq.tabulate(10) { v =>
      val n = Seq(0, 1, 2, 3, 5, 12, 13, 17, 25, 40)(v)
      val frames = Seq.tabulate(n) { f =>
        // random-ish scene segmentation: change points land on multiples
        // of 5 and 12 for some videos (= the fragment boundaries below)
        val scene = if (v % 3 == 0) f / 5 else if (v % 3 == 1) f / 4 else rnd.nextInt(3)
        if (v == 6 && f == 5) "not an image".getBytes("UTF-8")  // corrupt ON boundary
        else if (v == 7 && f == 10) frame(f, w = 5, h = 4)      // dim change
        else frame(scene)
      }
      (v.toLong, Multimodal.encodeVideoContainer(frames))
    } :+ ((99L, "garbage".getBytes("UTF-8"))) // malformed container
    val df = vids.toDF("doc_id", "video")
    val seqRows = Multimodal.sceneCuts(df, "video", threshold = 50L)
      .select($"doc_id", $"cut_idx", $"delta").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    assert(seqRows.nonEmpty, "fixture must produce cuts for the parity to mean anything")
    for (l <- Seq(1, 2, 3, 5, 12, 100)) {
      val chunked = Multimodal.sceneCutsChunked(df, "video", threshold = 50L,
          framesPerFragment = l)
        .select($"doc_id", $"cut_idx", $"delta").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
      assert(chunked == seqRows, s"fragment size $l diverged from sequential")
    }
  }

  test("fakeAttributeVector kernel ≡ composed array(fakeScore...) form") {
    // negative, zero, and large ids; reference width (128) and the
    // 4-dim demo width — the kernel must be bit-identical to the
    // builtins composition it replaced
    val ids = spark.range(-5, 5).select(($"id" * 1234567891L).as("id"))
    for (dims <- Seq(4, graft.functions.AttributeNames.size)) {
      val rows = ids.select(
        AttributeOps.fakeAttributeVector($"id", dims).as("fast"),
        AttributeOps.fakeAttributeVectorComposed($"id", dims).as("spec")).collect()
      rows.foreach { r =>
        assert(r.getAs[scala.collection.Seq[Double]]("fast") ==
          r.getAs[scala.collection.Seq[Double]]("spec"))
      }
    }
  }

  test("vector_mean aggregate ≡ posexplode formulation (incl. nulls, many groups)") {
    val df = spark.range(0, 3000)
      .select(($"id" % 37).cast("string").as("k"),
        when($"id" % 11 === 0, lit(null))
          .otherwise(transform(sequence(lit(0), lit(24)),
            i => ($"id" * 13 + i * 7).cast("double") / 997)).as("vec"))
    val a = AttributeOps.meanVectors(df, Seq("k"), "vec")
    val b = AttributeOps.meanVectorsExploded(df, Seq("k"), "vec")
    val mismatch = a.alias("a").join(b.alias("b"), "k")
      .filter(not(col("a.n_samples") <=> col("b.n_samples")) ||
        exists(zip_with(col("a.mean_vec"), col("b.mean_vec"),
          (x, y) => abs(x - y) > 1e-12), p => p))
      .count()
    assert(mismatch == 0)
    assert(a.count() == 37 && a.count() == b.count())
  }

  test("vector_mean of all-null group is null; empty input yields no rows") {
    val df = Seq(("a", null.asInstanceOf[Array[Double]])).toDF("k", "vec")
    val out = AttributeOps.meanVectors(df, Seq("k"), "vec").collect()
    assert(out.length == 1 && out.head.isNullAt(1) && out.head.getAs[Long]("n_samples") == 0L)
  }

  test("vector_mean degrades like the exploded twin on ragged/empty/null-element input") {
    // rows: 2-dim, empty, 3-dim, vector with a null element
    def jd(v: java.lang.Double*): Seq[java.lang.Double] = v
    val df = Seq(
      ("a", jd(1.0, 2.0)),
      ("a", jd()),
      ("a", jd(3.0, 4.0, 9.0)),
      ("a", jd(null, 6.0))).toDF("k", "vec")
    val got = AttributeOps.meanVectors(df, Seq("k"), "vec").collect().head
    val twin = AttributeOps.meanVectorsExploded(df, Seq("k"), "vec").collect().head
    // positions: p0 = (1+3)/3 rows-with-p0 (null counts in denominator),
    // p1 = (2+4+6)/3, p2 = 9/1 — identical in both formulations
    assert(got.getAs[scala.collection.Seq[Any]]("mean_vec") ==
      twin.getAs[scala.collection.Seq[Any]]("mean_vec"))
    assert(got.getAs[Long]("n_samples") == twin.getAs[Long]("n_samples"))
  }

  test("connectedComponents: chains merge, singletons stay, min id wins") {
    val verts = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("doc_id")
    // component {1,2,3,4} via a chain (diameter 3 -> needs >1 round),
    // component {5,6}, singleton {7}
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(verts, "doc_id", edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("resizeNearest: identity, upscale mapping, and the batched operator") {
    import graft.operators.Multimodal
    // identity: same dims -> same bytes
    val img2x2 = Array.tabulate[Byte](12)(i => i.toByte)
    assert(Multimodal.resizeNearest(img2x2, 2, 2, 2, 2).toSeq == img2x2.toSeq)
    // 2x2 -> 4x4 nearest: each source pixel becomes a 2x2 block
    val up = Multimodal.resizeNearest(img2x2, 2, 2, 4, 4)
    assert(up.length == 4 * 4 * 3)
    def px(buf: Array[Byte], w: Int, x: Int, y: Int) =
      (buf((y * w + x) * 3), buf((y * w + x) * 3 + 1), buf((y * w + x) * 3 + 2))
    assert(px(up, 4, 0, 0) == px(img2x2, 2, 0, 0))
    assert(px(up, 4, 1, 1) == px(img2x2, 2, 0, 0))
    assert(px(up, 4, 2, 0) == px(img2x2, 2, 1, 0))
    assert(px(up, 4, 3, 3) == px(img2x2, 2, 1, 1))
    // batched operator rewrites dims + patch, passes nulls through
    val df = Seq(
      ("a", 2, 2, img2x2),
      ("b", 1, 1, Array[Byte](9, 9, 9)),
      ("c", 2, 2, null.asInstanceOf[Array[Byte]])).toDF("id", "w", "h", "patch")
    val out = Multimodal.resizePatches(df, "w", "h", "patch", 4, 4)
      .collect().map(r => r.getString(0) ->
        (r.getInt(1), r.getInt(2), Option(r.getAs[Array[Byte]]("patch")).map(_.length))).toMap
    assert(out("a") == ((4, 4, Some(48))))
    assert(out("b") == ((4, 4, Some(48))))
    assert(out("c") == ((2, 2, None))) // null patch untouched
  }

  test("bandedCandidatePairs: superset of exact-bucket pairs, subset of same-group pairs") {
    import graft.Tables
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"),
        Similarity.quantize(col("embedding")).as("qv"))
      .withColumn("bucket", Similarity.hyperplaneBucket(col("qv"), 64, 8))
      .cache()
    val cand = Similarity.bandedCandidatePairs(
      emb, Seq("label"), "vec_id", "bucket", bitsPerBand = 4, nBands = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = emb.select("vec_id", "label", "bucket").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // recall floor: same-label pairs sharing the FULL bucket must all
    // be candidates (banding only widens the exact-bucket match)
    for (a <- rows; b <- rows
         if a._1 < b._1 && a._2 == b._2 && a._3 == b._3)
      assert(cand((a._1, b._1)), s"exact-bucket pair ${(a._1, b._1)} missing")
    // soundness: every candidate shares the label AND at least one band
    val byId = rows.map(r => r._1 -> r).toMap
    for ((x, y) <- cand) {
      assert(x < y)
      val (a, b) = (byId(x), byId(y))
      assert(a._2 == b._2, s"candidate ($x,$y) crosses labels")
      assert((a._3 & 15L) == (b._3 & 15L) ||
        ((a._3 >> 4) & 15L) == ((b._3 >> 4) & 15L),
        s"candidate ($x,$y) shares no band")
    }
    assert(cand.nonEmpty)
  }

  test("bandedCandidatePairs refinement: no-op when cold, bounded when a label is hot") {
    // cold: the sf fixture's banded keys are all under the cap, so the
    // refined operator must produce the EXACT unrefined pair set (this
    // is the property the static SQL oracle twins rely on)
    import graft.Tables
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"),
        Similarity.quantize(col("embedding")).as("qv"))
      .withColumn("bucket", Similarity.hyperplaneBucket(col("qv"), 64, 8))
      .cache()
    def pairSet(refine: Option[String]) = Similarity.bandedCandidatePairs(
      emb, Seq("label"), "vec_id", "bucket", bitsPerBand = 4, nBands = 2,
      refineQvCol = refine)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet(Some("qv")) == pairSet(None))

    // hot: one label holding a pile of identical vectors — the
    // unrefined pair space is exactly n(n-1)/2; refinement must salt
    // it down to bounded shards without losing any vector
    val pile = (1L to 400L).map(i => (i, 1, Array.fill(64)(1000L)))
      .toDF("vec_id", "label", "qv")
      .withColumn("bucket", Similarity.hyperplaneBucket(col("qv"), 64, 8))
    val refined = Similarity.bandedCandidatePairs(
      pile, Seq("label"), "vec_id", "bucket", bitsPerBand = 4, nBands = 2,
      refineQvCol = Some("qv"), capPop = 32)
    val nPairs = refined.count()
    assert(nPairs < 400L * 399 / 2 / 4, s"pair space not bounded: $nPairs")
    // every vector keeps at least one candidate partner (shards ≈ cap)
    val ids = refined.select(col("id_a").as("id"))
      .unionByName(refined.select(col("id_b").as("id")))
      .distinct().count()
    assert(ids == 400)
  }

  test("simhash64: banded pairs ≡ brute-force hamming ≤ 3; low half = hash32 vote") {
    import graft.Tables
    val docs = Tables.documents(spark, sf).limit(200).cache()
    val fps = docs.select(col("doc_id"), Dedup.simHash64(col("text")).as("fp"))
    val banded = Dedup.simHashNearDupPairs(fps, "doc_id", "fp",
      maxHamming = 3, bits = 64, nBands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        r.getAs[Number](2).longValue).toMap
    // pigeonhole FULL recall: 4 bands of 16 bits, hamming ≤ 3 < 4 ⇒
    // at least one band matches exactly ⇒ banding loses nothing
    val all = fps.collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ia, fa) <- all; (ib, fb) <- all if ia < ib
      h = java.lang.Long.bitCount(fa ^ fb) if h <= 3
    } yield (ia, ib) -> h.toLong).toMap
    assert(banded == brute)
    // the 64-bit fingerprint's low 32 bits vote with the same token
    // hashes as the 32-bit fingerprint (one md5 pass serves both)
    val both = docs.select(
      Dedup.simHash32(col("text")).as("s32"),
      Dedup.simHash64(col("text")).as("s64")).collect()
    for (r <- both)
      assert((r.getLong(1) & 0xffffffffL) == (r.getLong(0) & 0xffffffffL))
  }

  test("bandedScoredPairs ≡ candidate pairs + corpus re-join scoring") {
    // the in-join scoring form must produce exactly the two-phase
    // result (pair set AND values) — it exists purely to kill the
    // payload-wide pair-id reshuffle (SCALING.md §4.4)
    import graft.Tables
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"),
        Similarity.quantize(col("embedding")).as("qv"))
      .withColumn("bucket", Similarity.hyperplaneBucket(col("qv"), 64, 8))
      .cache()
    val inJoin = Similarity.bandedScoredPairs(
      emb, Seq("label"), "vec_id", "bucket",
      payloadCol = "qv", score = Similarity.dotLong(_, _),
      bitsPerBand = 4, nBands = 2, refineQvCol = Some("qv"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val cand = Similarity.bandedCandidatePairs(
      emb, Seq("label"), "vec_id", "bucket", bitsPerBand = 4, nBands = 2,
      refineQvCol = Some("qv"))
    val twoPhase = cand
      .join(emb.select(col("vec_id").as("id_a"), col("qv").as("qa")), "id_a")
      .join(emb.select(col("vec_id").as("id_b"), col("qv").as("qb")), "id_b")
      .select(col("id_a"), col("id_b"),
        Similarity.dotLong(col("qa"), col("qb")).as("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(inJoin == twoPhase)
  }

  test("bandedTop1Neighbor ≡ window top-1 over the banded pair graph") {
    // the aggregation form exists to keep pair-sized rows inside the
    // scan stage; it must reproduce topKPerKey(k=1)'s (score desc,
    // dst asc) choice exactly, including the tie-break
    import graft.Tables
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"),
        Similarity.quantize(col("embedding")).as("qv"))
      .withColumn("bucket", Similarity.hyperplaneBucket(col("qv"), 64, 8))
      .cache()
    val agg = Similarity.bandedTop1Neighbor(
      emb, Seq("label"), "vec_id", "bucket",
      payloadCol = "qv", score = Similarity.dotLong(_, _),
      bitsPerBand = 4, nBands = 2, refineQvCol = Some("qv"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val scored = Similarity.bandedScoredPairs(
      emb, Seq("label"), "vec_id", "bucket",
      payloadCol = "qv", score = Similarity.dotLong(_, _),
      bitsPerBand = 4, nBands = 2, refineQvCol = Some("qv"))
    val directed = scored
      .select(col("id_a").as("src"), col("id_b").as("dst"), col("score"))
      .unionByName(scored
        .select(col("id_b").as("src"), col("id_a").as("dst"), col("score")))
    val windowed = Similarity.topKPerKey(directed, "src", "score", "dst", 1)
      .collect().map(r => r.getAs[Long]("src") ->
        ((r.getAs[Long]("dst"), r.getAs[Long]("score")))).toMap
    assert(agg.nonEmpty && agg == windowed)
  }

  test("bandedTop1Neighbor recovers DOUBLE scores exactly (cosine path)") {
    // the sign-flip recovery (-min(-score)) must be bit-exact for the
    // float path dedup_embed_neardup rounds and thresholds on
    import graft.Tables
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("emb"),
        Similarity.quantize(col("embedding")).as("qv"))
      .withColumn("bucket", Similarity.hyperplaneBucket(col("qv"), 64, 8))
      .cache()
    val agg = Similarity.bandedTop1Neighbor(
      emb, Seq("label"), "vec_id", "bucket",
      payloadCol = "emb", score = Similarity.cosine(_, _),
      bitsPerBand = 4, nBands = 2, refineQvCol = Some("qv"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val scored = Similarity.bandedScoredPairs(
      emb, Seq("label"), "vec_id", "bucket",
      payloadCol = "emb", score = Similarity.cosine(_, _),
      bitsPerBand = 4, nBands = 2, refineQvCol = Some("qv"))
    val directed = scored
      .select(col("id_a").as("src"), col("id_b").as("dst"), col("score"))
      .unionByName(scored
        .select(col("id_b").as("src"), col("id_a").as("dst"), col("score")))
    val windowed = Similarity.topKPerKey(directed, "src", "score", "dst", 1)
      .collect().map(r => r.getAs[Long]("src") ->
        ((r.getAs[Long]("dst"), r.getAs[Double]("score")))).toMap
    assert(agg.nonEmpty && agg == windowed)
  }

  test("deriveNBits sizes the LSH bucket space from the corpus count") {
    import graft.operators.Similarity.deriveNBits
    // shipped SFs (50 / 500 / 5000 vectors) all sit on the 8-bit floor,
    // which is what the static oracles encode
    assert(deriveNBits(50) == 8 && deriveNBits(500) == 8 && deriveNBits(5000) == 8)
    // past 64 * 2^8 = 16384 rows the width must grow with the corpus
    assert(deriveNBits(16384) == 8)
    assert(deriveNBits(16385) == 9)
    assert(deriveNBits(1000000) == 14) // 1e6/64 = 15625 -> 2^14 buckets
    assert(deriveNBits(1000000000L) == 24) // 1e9/64 ~ 15.6M -> 2^24
    // expected population never exceeds the target (above the floor)
    for (n <- Seq(20000L, 300000L, 7000000L, 123456789L)) {
      val bits = deriveNBits(n)
      assert(n.toDouble / (1L << bits) <= 64.0, s"n=$n bits=$bits")
    }
    assert(deriveNBits(Long.MaxValue) == 30) // capped at maxBits
  }

  test("image codec: PNG lossless round-trip, JPEG real decode, sniff fallback") {
    import graft.operators.Multimodal
    val (w, h) = (13, 7) // non-square, catches transposed dims
    val px = Array.tabulate[Byte](w * h * 3)(i => ((i * 11 + 5) % 256).toByte)
    // PNG is lossless: decode(encode(px)) == px exactly
    val png = Multimodal.encodeImage(px, w, h, "png")
    assert(Multimodal.sniffFormat(png).contains("png"))
    val Some((pw, ph, ppx)) = Multimodal.decodeImage(png)
    assert((pw, ph) == ((w, h)))
    assert(ppx.toSeq == px.toSeq)
    // JPEG is lossy but REAL: dims exact, decode deterministic,
    // payload is a genuine JFIF stream
    val jpg = Multimodal.encodeImage(px, w, h, "jpeg")
    assert(Multimodal.sniffFormat(jpg).contains("jpeg"))
    val Some((jw, jh, jpx1)) = Multimodal.decodeImage(jpg)
    val Some((_, _, jpx2)) = Multimodal.decodeImage(jpg)
    assert((jw, jh) == ((w, h)))
    assert(jpx1.toSeq == jpx2.toSeq, "decode must be deterministic")
    assert(jpx1.length == w * h * 3)
    // non-image payloads (UTF-8 text can't start with 0x89/0xFF) fall
    // back to the stub — mixed-blob pipelines keep every row
    assert(Multimodal.sniffFormat("plain text".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodeAuto("plain text".getBytes("UTF-8")).format == "fakeimg")
    assert(Multimodal.decodeAuto(jpg).format == "jpeg")
    // a magic-matched but MALFORMED body (truncated JPEG) makes
    // ImageIO throw, not return null — it must degrade to the stub,
    // never kill the task
    val corrupt = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0x00, 0x01)
    assert(Multimodal.sniffFormat(corrupt).contains("jpeg"))
    assert(Multimodal.decodeImage(corrupt).isEmpty)
    assert(Multimodal.probeDims(corrupt).isEmpty)
    assert(Multimodal.decodeAuto(corrupt).format == "fakeimg")
    // header-only probe agrees with the full decode on real payloads
    assert(Multimodal.probeDims(png).contains((w, h)))
    assert(Multimodal.probeDims(jpg).contains((w, h)))
  }

  test("decodePixels: batch equals single, mixed blobs keep rows") {
    import graft.operators.Multimodal
    val px = Array.tabulate[Byte](4 * 3 * 3)(i => (i * 7).toByte)
    val jpg = Multimodal.encodeImage(px, 4, 3, "jpeg")
    val png = Multimodal.encodeImage(px, 4, 3, "png")
    val rows = Seq(("j", jpg), ("p", png), ("t", "not an image".getBytes("UTF-8")))
    def run(batchSize: Int) =
      Multimodal.decodePixels(rows.toDF("id", "blob"), "blob", batchSize)
        .collect().map(r => r.getString(0) ->
          ((r.getInt(2), r.getInt(3),
            Option(r.getAs[Array[Byte]]("pixels")).map(_.toSeq)))).toMap
    val one = run(1) // every row its own batch
    val all = run(64) // one batch
    assert(one == all, "batch size must not change results")
    assert(one("p") == ((4, 3, Some(px.toSeq)))) // lossless round-trip
    assert(one("j")._1 == 4 && one("j")._2 == 3 && one("j")._3.isDefined)
    assert(one("t")._3.isEmpty, "non-image payload: stub dims, null pixels")
  }

  test("kmeansQuantized matches a driver-side Lloyd model (truncating division)") {
    // 1-d points quantized; seeds 0 -> [0], 1 -> [100]
    val pts = Seq(0L -> 0L, 1L -> 100L, 2L -> 10L, 3L -> 12L,
      4L -> 90L, 5L -> 95L, 6L -> -7L)
    val vecsQ = pts.map { case (id, v) => (id, Seq(v)) }.toDF("vec_id", "qv")
    val seeds = Seq(0L -> Array(0L), 1L -> Array(100L))
    // model: 2 Lloyd rounds, nearest by squared distance (tie -> min id),
    // centroid = truncating mean
    var cents = seeds.map { case (c, a) => c -> a(0) }
    for (_ <- 0 until 2) {
      val assign = pts.map { case (id, v) =>
        val best = cents.minBy { case (cid, c) => ((v - c) * (v - c), cid) }._1
        (best, v)
      }
      cents = cents.map { case (cid, old) =>
        val mine = assign.filter(_._1 == cid).map(_._2)
        cid -> (if (mine.isEmpty) old else mine.sum / mine.size)
      }
    }
    val got = Similarity.kmeansQuantized(vecsQ, seeds, iters = 2)
      .map { case (cid, a) => cid -> a(0) }
    assert(got == cents)
  }

  test("connectedComponents throws rather than return a partial fixpoint") {
    // a 25-link chain has diameter > maxIter=3: must fail loudly
    val verts = (1L to 25L).toDF("doc_id")
    val edges = (1L until 25L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(verts, "doc_id", edges, maxIter = 3,
        localEdgeThreshold = 0L).collect()
    }
    assert(e.getMessage.contains("did not converge"))
    // and with enough rounds the same chain collapses to one cluster
    val ok = Dedup.connectedComponents(verts, "doc_id", edges, maxIter = 30,
        localEdgeThreshold = 0L)
      .select("cluster_id").distinct().collect()
    assert(ok.map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("pointer jumping: same labels as plain min-label, far fewer rounds on chains") {
    // chain of 17: plain min-label needs diameter rounds; the jump
    // halves the remaining distance each round
    val verts = (1L to 17L).toDF("doc_id")
    val edges = (1L until 17L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (outJ, rJ) = Dedup.ccRounds(verts, "doc_id", edges, 40, jumpAfter = 0,
      localEdgeThreshold = 0L)
    val (outP, rP) = Dedup.ccRounds(verts, "doc_id", edges, 40, jumpAfter = 40,
      localEdgeThreshold = 0L)
    assert(outJ.orderBy("doc_id").collect().map(_.getLong(1)).toSeq ==
      outP.orderBy("doc_id").collect().map(_.getLong(1)).toSeq)
    assert(rJ * 2 < rP, s"jump took $rJ rounds vs plain $rP — expected < half")

    // equivalence on a branchier fixture (two components + singleton)
    val v2 = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L).toDF("doc_id")
    val e2 = Seq((5L, 3L), (3L, 8L), (8L, 1L), (2L, 6L), (4L, 2L))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(v2, "doc_id", e2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 3L -> 1L, 5L -> 1L, 8L -> 1L,
      2L -> 2L, 4L -> 2L, 6L -> 2L, 7L -> 7L))
  }

  test("skewSafeBucketKeys: cold buckets untouched, degenerate piles salted") {
    // spread vectors: every bucket within the cap -> sub stays 0 and
    // (bucket, sub) degenerates to the plain hyperplane bucket
    val spread = (1L to 200L).map { i =>
      (i, Array.tabulate(8)(j => ((i * 37 + j * 11) % 19 - 9) * 100))
    }.toDF("vec_id", "qv")
    val cold = Similarity.skewSafeBucketKeys(spread, "vec_id", 8, 4, capPop = 64)
    assert(cold.filter(col("sub") =!= 0).count() == 0)
    assert(cold.count() == 200)

    // a pile of 500 IDENTICAL vectors: no hyperplane (original or
    // extra) can separate them, so pass 2 must salt the residual down
    // to ~capPop — the hard cost bound the operator exists for
    val pile = (1L to 500L).map(i => (i, Array.fill(8)(1000L)))
      .toDF("vec_id", "qv")
    val salted = Similarity.skewSafeBucketKeys(pile, "vec_id", 8, 4, capPop = 32)
    val groups = salted.groupBy("bucket", "sub").count()
      .collect().map(_.getLong(2))
    assert(groups.sum == 500, "no row may be lost or duplicated")
    assert(groups.length > 1, "the pile must split")
    assert(groups.max <= 2L * 32, s"pile shard too big: ${groups.max}")
  }

  test("connectedComponents: driver-local union-find ≡ distributed labels") {
    // deterministic pseudo-random graph: 60 vertices, 45 edges — small
    // enough to collect, branchy enough (merging chains, diamonds,
    // isolated vertices) that a union-find bug would diverge somewhere
    val verts = (1L to 60L).toDF("doc_id")
    val edges = (0 until 45).map { i =>
      val a = (i * 2654435761L % 60) + 1
      val b = (i * 40503L % 60) + 1
      (a, b)
    }.filter { case (a, b) => a != b }.toDF("id_a", "id_b")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = toMap(Dedup.connectedComponents(verts, "doc_id", edges))
    val dist = toMap(Dedup.connectedComponents(verts, "doc_id", edges,
      localEdgeThreshold = 0L))
    assert(local == dist)
    // the local path reports 0 rounds (no iteration ran)
    val (_, r) = Dedup.ccRounds(verts, "doc_id", edges, 20, 3)
    assert(r == 0)
  }

  test("bpeTokenCount matches hand-tokenized examples") {
    val cases = Seq(
      "don't 123 abc!?", // don | 't | " 123" | " abc" | "!?"     -> 5
      "a  b",            // a | " b" (unmatched middle space)     -> 2
      "",                //                                       -> 0
      "hello world",     // hello | " world"                      -> 2
      "x=1+2;")          // x | = | 1 | + | 2 | ;                 -> 6
    val out = cases.toDF("text")
      .select(col("text"), graft.operators.TextAnalysis.bpeTokenCount(col("text")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("don't 123 abc!?") == 5L)
    assert(out("a  b") == 2L)
    assert(out("") == 0L)
    assert(out("hello world") == 2L)
    assert(out("x=1+2;") == 6L)
  }

  test("exact duplicates collapse to one group; near-dups found by LSH") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox jumps over the lazy dog again and AGAIN"),
      (4L, "completely different content about spark query engines and shuffles")
    ).toDF("doc_id", "text")
    val groups = Dedup.exactDupGroups(docs, "text", "doc_id").collect()
    assert(groups.length == 3)
    assert(groups.map(_.getAs[Long]("n_copies")).sorted.toSeq == Seq(1L, 1L, 2L))

    val hashed = Dedup.shingleHashSets(docs, "doc_id", "text", 5)
    val pairs = Dedup.lshCandidatePairsFromHashes(hashed, 4)
    val jac = Dedup.jaccardForPairs(hashed, pairs).collect()
    // exact dup pair must be found with jaccard 10000
    val exact = jac.find(r => r.getAs[Long]("id_a") == 1L && r.getAs[Long]("id_b") == 2L)
    assert(exact.isDefined && exact.get.getAs[Long]("jaccard_bp") == 10000L)
    // near-dup (3) should pair with 1 or 2 at high jaccard
    assert(jac.exists(r => r.getAs[Long]("id_b") == 3L && r.getAs[Long]("jaccard_bp") > 8000L))
  }

  test("lshJaccardPairs (one-pass) ≡ two-phase candidates + jaccard, frame-exact") {
    // seeded corpus: unrelated docs + exact dups + light mutations, so
    // the pair set exercises all three jaccard regimes
    val rnd = new scala.util.Random(19)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu")
    def fresh(): String =
      Seq.fill(25)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    for (i <- 0 until 200) {
      if (i % 5 == 4) texts += texts(i - 1) // exact dup
      else if (i % 7 == 6) { // near dup: swap one token
        val t = texts(i - 2).split(" ")
        t(rnd.nextInt(t.length)) = vocab(rnd.nextInt(vocab.size))
        texts += t.mkString(" ")
      } else texts += fresh()
    }
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toSeq.toDF("doc_id", "text")
    val hashed = Dedup.shingleHashSets(docs, "doc_id", "text", 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"id_a", $"id_b", $"n_inter", $"n_union", $"jaccard_bp")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4)))
      .sorted.toSeq
    val twoPhase = rows(Dedup.jaccardForPairs(hashed,
      Dedup.lshCandidatePairsFromHashes(hashed, 4)))
    // onePassMinDocs = 0 forces the band-shuffle form (the size switch
    // would route a 200-doc corpus to the two-phase path — a trivial
    // self-parity); both paths must produce the identical frame
    val onePass = rows(Dedup.lshJaccardPairs(hashed, 4, onePassMinDocs = 0))
    assert(twoPhase.nonEmpty, "fixture must produce candidate pairs")
    assert(onePass == twoPhase)
    // and the switch itself routes small corpora through two-phase
    val switched = rows(Dedup.lshJaccardPairs(hashed, 4))
    assert(switched == twoPhase)
  }

  test("refineHotKeysBy: hot key splits on extra bits, residual piles salt, cold is a no-op") {
    // one hot key of 500 rows whose extra bits carry 3 informative bits
    val hot = spark.range(500)
      .select(lit(0L).as("k"), $"id", ($"id" % 8).as("xb"))
    val out = Similarity.refineHotKeysBy(hot, Seq("k"), "id", $"xb",
      capPop = 64, maxExtraBits = 8)
    assert(out.count() == 500, "refinement must not drop or duplicate rows")
    val pops = out.groupBy($"k", $"sub").count().collect().map(_.getLong(2))
    assert(pops.length >= 8, s"expected the 8 extra-bit classes to split: ${pops.length}")
    assert(pops.forall(_ <= 128), s"population cap breached: ${pops.max}")
    // equal extra bits, nothing informative: the id salt must bound it
    val pile = spark.range(500)
      .select(lit(0L).as("k"), $"id", lit(5L).as("xb"))
    val pileOut = Similarity.refineHotKeysBy(pile, Seq("k"), "id", $"xb",
      capPop = 64, maxExtraBits = 8)
    assert(pileOut.count() == 500)
    val pilePops = pileOut.groupBy($"k", $"sub").count().collect().map(_.getLong(2))
    assert(pilePops.forall(_ <= 128), s"pile shard over 2·cap: ${pilePops.max}")
    // cold input: sub = 0 everywhere, frame otherwise untouched
    val cold = spark.range(50).select(lit(0L).as("k"), $"id", ($"id" % 8).as("xb"))
    val coldOut = Similarity.refineHotKeysBy(cold, Seq("k"), "id", $"xb",
      capPop = 64, maxExtraBits = 8)
    assert(coldOut.select($"sub").distinct().collect().map(_.getLong(0)).toSeq == Seq(0L))
  }

  test("lshJaccardPairs under heavy refinement still finds exact duplicates") {
    // 300 docs sharing a dominant shingle core (one saturated band
    // bucket) + one exact-dup pair; with capPop far below the bucket
    // population the band keys refine hard, but identical shingle sets
    // share every refinement bit — the dup pair must survive
    val core = (0 until 40).map(i => s"common$i").mkString(" ")
    val docs = ((0 until 300).map(i => (i.toLong, s"$core rare${i}suffix"))
      :+ (300L, s"$core exactdup") :+ (301L, s"$core exactdup"))
      .toDF("doc_id", "text")
    val hashed = Dedup.shingleHashSets(docs, "doc_id", "text", 5)
    val refined = Dedup.lshJaccardPairs(hashed, 4, capPop = 16,
      maxExtraBits = 8, onePassMinDocs = 0).collect()
    val dup = refined.find(r =>
      r.getAs[Long]("id_a") == 300L && r.getAs[Long]("id_b") == 301L)
    assert(dup.isDefined, "exact-dup pair split apart by refinement")
    assert(dup.get.getAs[Long]("jaccard_bp") == 10000L)
    // and the refinement genuinely pruned the saturated bucket's
    // spurious pair space (the unrefined candidate set is ~bucket²/2)
    val unrefined = Dedup.jaccardForPairs(hashed,
      Dedup.lshCandidatePairsFromHashes(hashed, 4)).count()
    assert(refined.length < unrefined / 2,
      s"refinement had no effect: ${refined.length} vs $unrefined")
  }

  test("staged ANN index artifacts equal a fresh deterministic train") {
    import graft.queries.DataPipelineQueries._
    val sf = "/root/testdata/sf0.001"
    val q = graft.Tables.embeddings(spark, sf)
      .select($"vec_id", Similarity.quantize($"embedding").as("qv"))
    // PQ codebooks: cached artifact vs an in-test fresh train
    val seedRows = q.filter($"vec_id" < PQ_K).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).sortBy(_._1)
    val seedBooks = (0 until PQ_M).map { m =>
      seedRows.toSeq.map { case (cid, qc) =>
        (cid, qc.slice(m * PQ_SUBDIM, (m + 1) * PQ_SUBDIM)) }
    }
    val fresh = Similarity.pqTrain(q, seedBooks, PQ_SUBDIM, iters = 1)
    val cached = trainedPqBooks(spark, sf)
    assert(cached.size == fresh.size)
    for (m <- fresh.indices) {
      assert(cached(m).map(_._1) == fresh(m).map(_._1), s"book $m cids")
      cached(m).zip(fresh(m)).foreach { case ((_, a), (_, b)) =>
        assert(a.sameElements(b), s"book $m codeword drift")
      }
    }
    // IVF centroids: same property
    val seeds = q.filter($"vec_id" < 16).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).sortBy(_._1).toSeq
    val freshC = Similarity.kmeansQuantized(q, seeds, iters = 2)
    val cachedC = trainedIvfCentroids(spark, sf, None)
    assert(cachedC.map(_._1) == freshC.map(_._1))
    cachedC.zip(freshC).foreach { case ((_, a), (_, b)) =>
      assert(a.sameElements(b), "centroid drift")
    }
  }

  test("simhash: near-dup texts have small hamming distance, different texts large") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      (3L, "spark catalyst optimizer pushes filters into parquet scans for efficiency")
    ).toDF("doc_id", "text")
    val fp = docs.select($"doc_id", Dedup.simHash32($"text").as("f")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("f")).toMap
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(ham(fp(1L), fp(2L)) < ham(fp(1L), fp(3L)))
    assert(ham(fp(1L), fp(2L)) <= 8)
  }

  test("quantized dot product is exact and symmetric") {
    val df = Seq(
      (1L, Array(0.5f, -0.25f, 1.0f)),
      (2L, Array(1.0f, 0.5f, -1.0f))).toDF("id", "v")
    val q = df.select($"id", Similarity.quantize($"v").as("q"))
    val a = q.select($"id".as("ia"), $"q".as("qa"))
    val b = q.select($"id".as("ib"), $"q".as("qb"))
    val dots = a.crossJoin(b)
      .select($"ia", $"ib", Similarity.dotLong($"qa", $"qb").as("dot"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("dot")).toMap
    // 500*1000 + (-250)*500 + 1000*(-1000) = 500000 - 125000 - 1000000
    assert(dots((1L, 2L)) == -625000L)
    assert(dots((1L, 2L)) == dots((2L, 1L)))
    assert(dots((1L, 1L)) == 500L * 500 + 250L * 250 + 1000L * 1000)
  }

  test("cosine of identical vectors is 1.0") {
    val df = Seq((1L, Array(0.3f, 0.4f, 0.5f))).toDF("id", "v")
    val c = df.select(Similarity.cosine($"v", $"v").as("c")).head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("tracklet serials are chronological 0..n-1 per video") {
    val tr = Tracking.trackletSummaries(
      Tracking.detectionsFromEvents(Tables.events(spark, sf)))
    val byVideo = tr.select("video_id", "serial", "start_frame").collect()
      .groupBy(_.getString(0))
    byVideo.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Long]("start_frame"))
      assert(sorted.map(_.getAs[Int]("serial")).toSeq == rows.indices)
    }
  }

  test("IVF probe search finds most of the brute-force top-k (recall)") {
    val emb = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
    val centroids = emb.filter($"vec_id" < 16)
    val probes = emb.filter($"vec_id" >= 16 && $"vec_id" < 26)
    val assigned = Similarity.ivfAssign(emb, centroids, "vec_id", "embedding")
    val ivf = Similarity.ivfTopK(assigned, probes, centroids, "vec_id", "embedding", 4, 3)
      .collect().map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("candidate_id"))).toSet
    val brute = Similarity.bruteForceTopK(probes, emb, "vec_id", "embedding", 3)
      .collect().map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("candidate_id"))).toSet
    val recall = (ivf intersect brute).size.toDouble / brute.size
    assert(recall >= 0.3, s"IVF recall $recall vs brute force (4/16 cells probed)")
    // every vector lands in exactly one cell
    assert(assigned.count() == emb.count())
    assert(assigned.groupBy("vec_id").count().filter($"count" > 1).count() == 0)
  }

  test("PQ ADC ranking finds most of the exact-L2 top-k (recall)") {
    // exact top-3 by quantized L2 (the metric ADC approximates)
    val q = Tables.embeddings(spark, sf)
      .select($"vec_id", Similarity.quantize($"embedding").as("qv")).cache()
    val probes = q.filter($"vec_id" >= 16 && $"vec_id" < 26)
      .select($"vec_id".as("probe_id"), $"qv".as("pqv"))
    val exact = q.join(broadcast(probes), $"probe_id" =!= $"vec_id")
      .select($"probe_id", $"vec_id".as("candidate_id"),
        Similarity.l2sqLong($"pqv", $"qv").as("d"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"probe_id").orderBy($"d".asc, $"candidate_id".asc)
    val brute = exact.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .collect().map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("candidate_id"))).toSet
    val pq = SparkEntry.queries("ann_pq_topk")(spark, sf)
      .collect().map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("candidate_id"))).toSet
    val recall = (pq intersect brute).size.toDouble / brute.size
    // two-stage search: a true top-3 neighbor is missed only when the
    // compressed ADC scan drops it from the top-20 shortlist
    assert(recall >= 0.5,
      s"PQ shortlist+rerank recall $recall vs exact L2")
  }

  test("typed Dataset[Tracklet] pipeline matches the relational form") {
    import graft.operators.TypedPipeline
    val det = Tracking.detectionsFromEvents(Tables.events(spark, sf))
    val typed = TypedPipeline.trackletsTyped(spark, det)
    val relational = Tracking.trackletSummaries(det)
    assert(typed.count() == relational.count())
    val t0 = typed.orderBy($"videoId", $"serialNumber").head()
    val r0 = relational.orderBy($"video_id", $"serial").head()
    assert(t0.videoId == r0.getAs[String]("video_id"))
    assert(t0.id == r0.getAs[String]("tracklet_id"))
    assert(t0.locationSequence.size == r0.getAs[Long]("n_boxes"))
    // typed sampling mirrors the column form
    val sampled = TypedPipeline.sampleTyped(typed, 5)
      .orderBy($"videoId", $"serialNumber").head()
    val kept = Sampling.evenSampleIndices(t0.locationSequence.size, 5).toSet
    sampled.locationSequence.zipWithIndex.foreach { case (b, i) =>
      assert(b.patch.isEmpty == !kept(i) || b.patch.isEmpty) // no patches in stub data
    }
    assert(sampled.numTracklets == t0.numTracklets)
  }

  test("hyperplane bucket is deterministic and within 8-bit range") {
    val b = Tables.embeddings(spark, sf)
      .select(Similarity.hyperplaneBucket(
        Similarity.quantize($"embedding"), 64, 8).as("b"))
      .agg(min("b"), max("b")).head()
    assert(b.getLong(0) >= 0L && b.getLong(1) <= 255L)
  }
  test("containment recall is cap-stable on a planted fixture; boilerplate never scores") {
    // planted class: five short docs, each a contiguous 30-token slice
    // of its own 120-token host -> containment ~1 (>= the 80% gate).
    // boilerplate class: 70 docs sharing one 12-token license block
    // atop unique tails -> their shared grams are held by 70 docs
    // (over the default 64 cap, under 128/256) and their pairwise
    // containment is ~12/112 -- far below the gate. The recall FLOOR:
    // every planted pair is found at EVERY cap (the cap excludes
    // boilerplate pair-space, never the containment class, whose gram
    // populations are 2); and raising the cap admits boilerplate
    // CANDIDATES but never boilerplate OUTPUT.
    import java.nio.file.Files
    val tmpSf = Files.createTempDirectory("graft_contain_sf_")
    graft.operators.Dedup.registerScratchDir(tmpSf)
    def tok(d: Long, i: Int) = s"u${d}x$i"
    val hosts = (0L until 5L).map { d =>
      (d, (0 until 120).map(tok(d, _)).mkString(" "))
    }
    val contained = (0L until 5L).map { d =>
      (100L + d, (10 until 40).map(tok(d, _)).mkString(" "))
    }
    val block = (0 until 12).map(i => s"license$i").mkString(" ")
    val boiler = (0L until 70L).map { d =>
      (1000L + d, block + " " + (0 until 100).map(tok(9000 + d, _)).mkString(" "))
    }
    val docs = (hosts ++ contained ++ boiler)
      .map { case (id, text) => (id, text, "en", "web") }
      .toDF("doc_id", "text", "lang", "source")
    docs.write.mode("overwrite").parquet(tmpSf.resolve("documents.parquet").toString)
    val planted = (0L until 5L).map(d => (d, 100L + d)).toSet
    for (cap <- Seq(64, 128, 256)) {
      val got = graft.queries.DataPipelineQueries
        .containmentPairs(spark, tmpSf.toString, cap)
        .select(col("id_a"), col("id_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(planted.subsetOf(got),
        s"cap=$cap lost planted pairs: ${planted -- got}")
      assert(got.forall { case (a, b) => a < 100 && b >= 100 && b < 1000 },
        s"cap=$cap emitted non-planted pairs: ${got -- planted}")
    }
  }
}
