package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** SCALING.md §4.9 regression guards: the fat band self-join's
  * size-driven exchange width.
  *
  * The SHUFFLE_HASH build relation is the one memory object in the
  * one-pass LSH plan that cannot spill, so the exchange width must
  * scale with the staged-signature bytes, not stay pinned at the
  * session core count — and the widening must actually SURVIVE
  * planning: spark.sql.requireAllClusterKeysForCoPartition makes
  * EnsureRequirements silently rewrite a key-subset repartition back
  * to the default width (measured at the 4M rung: a repartition(256,
  * k) became width 32 and OOMed), so these tests pin (a) the policy
  * arithmetic, (b) the planned width on the full key tuple, (c) frame
  * parity between the widened and default shapes.
  */
class FatJoinWidthSpec extends AnyFunSuite {
  import SparkTestSession._

  private val defaultParts =
    spark.conf.get("spark.sql.shuffle.partitions").toInt

  test("fatJoinWidth: None at or below the session width, ceil(bytes·bands·3/64MB) above") {
    assert(Dedup.fatJoinWidth(spark, 0L, 2).isEmpty)
    // exactly at the threshold (need == session width) is NOT widened —
    // the boundary is relative to whatever width the session runs
    assert(Dedup.fatJoinWidth(spark,
      (64L << 20) * defaultParts / 6, 2).isEmpty)
    // 2 GiB staged · 2 bands · 3.0 / 64 MB = 192 partitions
    assert(Dedup.fatJoinWidth(spark, 2048L << 20, 2).contains(192))
    // monotone in bands
    assert(Dedup.fatJoinWidth(spark, 2048L << 20, 4).contains(384))
  }

  private lazy val keyed = {
    val hashed = Dedup.shingleHashSets(
      Tables.documents(spark, sf), "doc_id", "text", 5)
    Dedup.probeKeyed(hashed, 4)
  }

  test("widened fat join: explicit width survives planning on the full key tuple") {
    val widened = Dedup.fatJoinPairs(keyed,
      Some(defaultParts * 2))
    val p = widened.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // the user exchange must still be there at ITS width (not rewritten
    // to ENSURE_REQUIREMENTS at the session default) ...
    assert(p.contains(s", ${defaultParts * 2}), REPARTITION_BY_NUM"),
      s"explicit width was rewritten:\n$p")
    // ... and the join must still carry the full equi-key tuple,
    // including the (non-foldable) sub key, on this cold corpus
    assert(p.contains("ShuffledHashJoin"), p)
    val joinLine = p.linesIterator.find(_.contains("ShuffledHashJoin"))
      .orElse(p.linesIterator.find(_.contains("Inner, BuildRight")))
    assert(p.contains("sub#"), s"sub folded out of the widened join keys:\n$joinLine")
  }

  test("Sizing.exchangeWidth: ONE shared (units, bytes/unit, budget) policy table") {
    import graft.operators.{Similarity, Sizing}
    val B = Sizing.PerTaskBudgetBytes
    // the generalized table all width call sites derive from
    val table: Seq[(Long, Double, Option[Int])] = Seq(
      (0L, 1.0, None),
      ((64L << 20) * defaultParts, 1.0, None),            // exactly at default: untouched
      ((64L << 20) * defaultParts + 1, 1.0, Some(defaultParts + 1)),
      (2048L << 20, 6.0, Some(192)),        // fat join: 2 GiB staged × 2 bands × 3.0 expansion
      (2000000L, 64 * 48.0, Some(92)),      // pair sort: 2M rows × cap 64 × 48 B
      (2000000L, 256 * 48.0, Some(367)))    // pair sort at AnnCapPop = 256
    table.foreach { case (u, bpu, want) =>
      assert(Sizing.exchangeWidth(spark, u, bpu, B) == want, s"($u, $bpu)")
    }
    // delegation: the per-operator policies ARE the shared rule
    assert(Dedup.fatJoinWidth(spark, 2048L << 20, 2) ==
      Sizing.exchangeWidth(spark, 2048L << 20, 2 * 3.0))
    assert(Similarity.pairJoinWidth(spark, 2000000L, 64) ==
      Sizing.exchangeWidth(spark, 2000000L, 64 * 48.0))
    assert(Similarity.deriveNBits(1L << 20) == Sizing.bucketBits(1L << 20))
    assert(Similarity.deriveNBits(1L << 20, 64) == 14) // 64·2^14 = 2^20 exactly
  }

  test("pairJoinWidth: policy arithmetic mirrors fatJoinWidth's") {
    import graft.operators.Similarity
    assert(Similarity.pairJoinWidth(spark, 0L, 64).isEmpty)
    // at the threshold exactly (need == default) — not widened
    assert(Similarity.pairJoinWidth(spark,
      (64L << 20) * defaultParts / (64 * 48), 64).isEmpty)
    // 2M rows · cap 64 · 48 B / 64 MB = 92 partitions
    assert(Similarity.pairJoinWidth(spark, 2000000L, 64).contains(92))
    // the cap ann_lsh_topk ACTUALLY runs with (AnnCapPop = 256, the
    // skewSafeBucketKeys refinement cap — the round-8 ADVICE fix):
    // 2M rows · cap 256 · 48 B / 64 MB = 367 partitions
    assert(Similarity.pairJoinWidth(spark, 2000000L, 256).contains(367))
  }

  test("widened bucket pair join + top-k equals the default-width frame") {
    import graft.operators.Similarity
    val emb0 = Tables.embeddings(spark, sf).select(
      col("vec_id"), Similarity.quantize(col("embedding")).as("qv")).cache()
    val keyedE = Similarity.skewSafeBucketKeys(emb0, "vec_id", 64,
      Similarity.deriveNBits(emb0.count()))
    def topk(e: org.apache.spark.sql.DataFrame): Seq[String] = {
      val a = e.select(col("bucket"), col("sub"),
        col("vec_id").as("src"), col("qv").as("qa"))
      val b = e.select(col("bucket"), col("sub"),
        col("vec_id").as("dst"), col("qv").as("qb"))
      val pairs = a.join(b, Seq("bucket", "sub"))
        .filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst"),
          Similarity.dotLong(col("qa"), col("qb")).as("score"))
      Similarity.topKPerKey(pairs, "src", "score", "dst", 3)
        .collect().map(_.mkString("|")).sorted.toSeq
    }
    val base = topk(keyedE)
    assert(base.nonEmpty)
    val widened = keyedE
      .withColumn("sub", col("sub")
        .bitwiseOR(xxhash64(col("vec_id")).bitwiseAND(lit(0L))))
      .repartition(defaultParts * 2, col("bucket"), col("sub"))
    assert(topk(widened) == base,
      "widened pair join changed the top-k frame")
  }

  test("one-pass incremental (across) form equals the two-phase form, frame-exact") {
    // the increment×corpus twin of the §4.6 parity pin: the tagged
    // one-pass staged/refined band join must produce exactly the
    // two-phase candidates+jaccard frame (refinement is a provable
    // no-op below the cap at this SF)
    val hashed = Dedup.shingleHashSets(
        Tables.documents(spark, sf), "doc_id", "text", 5)
      .withColumn("bucket",
        pmod(graft.functions.HashFunctions.hash32(col("doc_id").cast("string")), lit(100)))
    val inc = hashed.filter(col("bucket") >= 90).drop("bucket")
    val corpus = hashed.filter(col("bucket") < 90).drop("bucket")
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.mkString("|")).sorted.toSeq
    val twoPhase = canon(Dedup.lshJaccardPairsAcross(inc, corpus, 4,
      onePassMinDocs = Long.MaxValue))
    val onePass = canon(Dedup.lshJaccardPairsAcross(inc, corpus, 4,
      onePassMinDocs = 0))
    assert(twoPhase.nonEmpty, "fixture must produce cross pairs")
    assert(onePass == twoPhase,
      "one-pass across form diverged from the two-phase frame")
  }

  test("widened SHUFFLE_HASH frame equals the default-width frame") {
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.mkString("|")).sorted.toSeq
    val base = canon(Dedup.fatJoinPairs(keyed, None))
    assert(base.nonEmpty, "fixture must produce candidate pairs")
    assert(canon(Dedup.fatJoinPairs(keyed,
      Some(defaultParts * 2))) == base)
  }
}
