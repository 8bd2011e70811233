package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.HashFunctions._

import scala.jdk.CollectionConverters._

/** Document deduplication family — first-class training-data-pipeline
  * operators (exact, MinHash+LSH, SimHash, n-gram Jaccard). The
  * reference's own dedup is only idempotence checking (SURVEY P6,
  * `vpe/data/DataManagingApp.java:447-455`); the content-level family
  * here is what a 100 TB corpus pipeline needs.
  *
  * Scale design:
  *  - exact dedup: one hash-groupBy shuffle on a 128-bit key (never on
  *    the document text);
  *  - MinHash/LSH: signatures are per-row column math (no shuffle);
  *    candidate generation shuffles on (band, bandHash) — pairs are
  *    only formed inside identical LSH buckets, so the O(n²) pair space
  *    never materializes;
  *  - SimHash: 64-bit fingerprint per row, near-dup = small Hamming
  *    distance within bucket prefixes.
  */
object Dedup {

  /** Exact-duplicate groups: md5 over the raw text. */
  def exactDupGroups(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .groupBy(md5(col(textCol).cast("binary")).as("text_md5"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keep_id"))

  /** Distinct-shingle 32-bit hashes for a text column (set semantics).
    * Native one-pass kernel ([[org.apache.spark.sql.graft.ShingleHash32]]);
    * bit-identical to `transform(array_distinct(shingles(text,k)), hash32)`
    * (property-checked in HashKernelsSpec). */
  def shingleHashes(text: Column, k: Int): Column =
    org.apache.spark.sql.graft.HashExpressions.shingle_hash32(text, k)

  /** MinHash signature (MinHashCoeffs.length values) as one array —
    * one pass over the shingle-hash set, all coefficients together. */
  def minHashSignature(text: Column, k: Int): Column =
    org.apache.spark.sql.graft.HashExpressions.minhash_sigs(shingleHashes(text, k))

  /** Hashed-shingle sets, computed ONCE per corpus: (doc_id, hs) with
    * hs = distinct shingle hash32 array. Everything downstream (MinHash
    * signatures, LSH bands, Jaccard) derives from this — the md5 work
    * per shingle is the expensive part and must not be recomputed per
    * join branch. Callers joining this to itself should `.cache()` it. */
  def shingleHashSets(docs: DataFrame, idCol: String, textCol: String,
                      k: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      shingleHashes(col(textCol), k).as("hs"))

  /** LSH candidate pairs from a (doc_id, hs) frame: docs sharing at
    * least one band of the MinHash signature. rowsPerBand consecutive
    * signature values form a band. Returns distinct (id_a, id_b) with
    * id_a < id_b. Pairs are only formed inside identical (band,
    * band_sig) buckets — the shuffle key — so the pair space stays
    * bucket-local at any scale. */
  def lshCandidatePairsFromHashes(hashed: DataFrame, rowsPerBand: Int): DataFrame = {
    val nBands = MinHashCoeffs.length / rowsPerBand
    val sig = hashed.select(col("doc_id"),
      org.apache.spark.sql.graft.HashExpressions.minhash_sigs(col("hs")).as("sig"))
    val banded = sig.select(col("doc_id"),
      posexplode(transform(
        sequence(lit(0), lit(nBands - 1)),
        b => slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))).as(Seq("band", "band_sig")))
    val a = banded.select(col("band"), col("band_sig"), col("doc_id").as("id_a"))
    val b = banded.select(col("band"), col("band_sig"), col("doc_id").as("id_b"))
    a.join(b, Seq("band", "band_sig"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** ONE-PASS LSH near-dup pairs WITH exact Jaccard: the scale form of
    * `lshCandidatePairsFromHashes` + `jaccardForPairs`, producing the
    * identical result frame (spec-pinned parity).
    *
    * Why the two-phase form fails at corpus scale (measured at the 2M
    * rung, SCALING.md §4.6): it pays the shingle-hash arrays THREE
    * more times after computing them — once filling a columnar cache
    * (array<long> columns build element-wise: ~100 s of the 207 s rung
    * was the cache fill alone) and twice re-joining the corpus to
    * fetch both payloads per candidate pair (the §4.4 pair-refetch
    * reshuffle: |pairs| × set width through two exchanges). Here the
    * shingle sets are hashed ONCE, ride the single band-key shuffle,
    * and the Jaccard is computed where both sets are already
    * co-located in the band-local join; only (id_a, id_b, n_inter,
    * n_union, jaccard_bp) — ~40 bytes — flows onward. Band-duplicated
    * pairs (a pair sharing both bands) compute the Jaccard ≤ nBands
    * times and collapse via max (the score is a pure function of the
    * pair, so every copy is equal — same argument as
    * `Similarity.bandedScoredPairs`).
    *
    * The band keys themselves are guarded by observed-population
    * refinement ([[Similarity.refineHotKeysBy]] on extra MinHash bits
    * from the DISJOINT second coefficient family): band-bucket
    * populations densify as a corpus outgrows its vocabulary (measured
    * on the ScaleGen fixture: max band population 194 → 361 for 1M →
    * 2M docs), and past `capPop` a bucket's pair space is quadratic in
    * its population. Exact duplicates share every refinement bit (same
    * shingle set) and are NEVER split; near-dups at Jaccard J agree
    * per bit with probability ≥ (1+J)/2 and usually re-meet through
    * their other band. Below the cap — every shipped oracle SF — the
    * refinement is a provable no-op (sub = 0 everywhere) and the
    * output is bit-identical to the two-phase form. A residual pile
    * that even the extra bits cannot split is salted on a CONTENT
    * hash (xxhash64 of the shingle-hash set), never the doc id: true
    * duplicates always co-shard, so no duplicate pair is ever lost to
    * the salt (spec-pinned). The flip side is that a content-IDENTICAL
    * pile beyond the cap keeps its quadratic pair space — for such
    * data the pair list itself is quadratic, and the right pipeline
    * runs exact dedup first (as pipeline_curate does). */
  /** Corpus size at which the one-pass band-shuffle form takes over
    * from the cached two-phase form (measured crossover, SCALING.md
    * §4.6: two-phase 22.6 s vs one-pass 34.6 s at 1M docs; 207 s vs
    * one-pass at 2M where the columnar array cache fill alone costs
    * ~100 s). The same size-driven strategy switch as the CC
    * local/distributed split — both paths produce the identical frame
    * below the refinement cap (spec-pinned parity). */
  val OnePassMinDocs: Long = 1200000L

  /** Temp dirs staged by [[probeKeyed]]; removed at JVM exit. */
  private val stagedSigDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val stagedSigCleanup: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      stagedSigDirs.forEach { p =>
        try org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
        catch { case _: Exception => () }
      }))

  /** Enroll an externally created scratch dir in the JVM-exit cleanup
    * (the [[SignatureIndex]] probe stages increment signatures with
    * the same lifecycle as [[probeKeyed]]'s corpus stage). */
  private[graft] def registerScratchDir(p: java.nio.file.Path): Unit = {
    stagedSigCleanup
    stagedSigDirs.add(p)
  }

  /** Delete every scratch dir staged so far. The ladder harness
    * (`ScaleBench`) calls this BETWEEN measurements: each pass
    * constructs a fresh DataFrame and with it a fresh staged signature
    * table, the old frames are dead once their pass finishes, and at
    * the 8M rung one staging is ~19 GB — accumulating them across a
    * multi-query ladder JVM overflows the disk (measured: three 4M
    * stagings of `graft.CcProbe` at `ad24016` + shuffle spill filled
    * the host). Any still-live DataFrame that references a purged stage
    * becomes invalid — callers own that lifecycle, which is why this is
    * explicit, not an auto-eviction. */
  private[graft] def purgeScratchDirs(): Unit = {
    var p = stagedSigDirs.poll()
    while (p != null) {
      try org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
      catch { case _: Exception => () }
      p = stagedSigDirs.poll()
    }
  }

  /** The full one-pass join-leg frame: banding + refinement + the
    * hashed single-long shuffle key + the shifted-and-sorted int set.
    * One row per (doc, band); both self-join legs are exactly this
    * plan so the exchange canonicalizes identically and is computed
    * once.
    *
    * The per-doc signature table (doc_id, sig, extra bits, salt,
    * sorted int set) is STAGED to scratch parquet first — eagerly,
    * once per operator invocation — because the hot-key refinement
    * inherently evaluates its input several times (the cold-corpus
    * probe, the two broadcast population aggregates, then the final
    * pipeline): inlined, each evaluation re-ran the md5 shingle and
    * MinHash kernels over the whole corpus, and the NearDupProbe
    * decomposition (`graft.NearDupProbe` at `ad24016`) at the 2M rung
    * showed that prefix re-computation
    * WAS the query (108 of 112 s). Post-stage, every pass reads back
    * only the columns it needs (the population aggregates prune the
    * set payload at the parquet scan). This is the per-pass analog of
    * the PQ code-table staging: on a cluster, a dedup pass over a
    * 100 TB corpus writes its signature table once and every
    * downstream stage scans that, never the raw text twice. */
  private[graft] def probeKeyed(hashed: DataFrame, rowsPerBand: Int,
                                capPop: Int = 256,
                                maxExtraBits: Int = 8): DataFrame =
    probeKeyedSized(hashed, rowsPerBand, capPop, maxExtraBits)._1

  /** [[probeKeyed]] plus the staged signature table's on-disk bytes —
    * the free, exact size signal the fat-join width policy needs
    * (measuring the staged parquet costs one directory listing; no
    * extra job, no sampling). */
  private[graft] def probeKeyedSized(hashed: DataFrame, rowsPerBand: Int,
                                     capPop: Int = 256,
                                     maxExtraBits: Int = 8,
                                     carryCols: Seq[String] = Nil): (DataFrame, Long) = {
    val nBands = MinHashCoeffs.length / rowsPerBand
    val spark = hashed.sparkSession
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh_sig_")
    stagedSigCleanup
    stagedSigDirs.add(dir)
    val carry = carryCols.map(col)
    hashed.select(Seq(col("doc_id"),
        org.apache.spark.sql.graft.HashExpressions.minhash_sigs(col("hs")).as("sig"),
        org.apache.spark.sql.graft.HashExpressions.minhash_extra_bits(col("hs")).as("_xb"),
        xxhash64(col("hs")).as("_salt"),
        array_sort(transform(col("hs"),
          h => (h - 2147483648L).cast("int"))).as("hsi")) ++ carry: _*)
      .write.mode("overwrite").parquet(dir.toString)
    val staged = spark.read.parquet(dir.toString)
    val banded = staged.select(Seq(col("doc_id"), col("hsi"), col("_xb"), col("_salt"),
      posexplode(transform(
        sequence(lit(0), lit(nBands - 1)),
        b => slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))).as(Seq("band", "band_sig"))) ++ carry: _*)
    val refined = graft.operators.Similarity.refineHotKeysBy(
      banded, Seq("band", "band_sig"), "doc_id", col("_xb"),
      capPop, maxExtraBits, saltCol = Some(col("_salt")))
    val keyed = refined.select(Seq(
      xxhash64(col("band"), col("band_sig"), col("sub")).as("k"),
      col("band"), col("band_sig"), col("sub"), col("doc_id"), col("hsi")) ++ carry: _*)
    val stagedBytes = java.nio.file.Files.walk(dir).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .map(java.nio.file.Files.size).sum
    (keyed, stagedBytes)
  }

  def lshJaccardPairs(hashed: DataFrame, rowsPerBand: Int,
                      capPop: Int = 256,
                      maxExtraBits: Int = 8,
                      onePassMinDocs: Long = OnePassMinDocs): DataFrame = {
    // cheap strategy probe: count() prunes the shingle-hash kernel
    // column away, so this scans the doc source without hashing
    val nDocs = hashed.count()
    if (nDocs < onePassMinDocs) {
      // two-phase: skinny banding + per-pair payload fetch off the
      // columnar cache — fastest while the hash arrays cache cleanly
      val h = hashed.cache()
      return jaccardForPairs(h, lshCandidatePairsFromHashes(h, rowsPerBand))
        .select(col("id_a"), col("id_b"), col("n_inter"), col("n_union"),
          col("jaccard_bp"))
    }
    // NearDupProbe decomposition (`graft.NearDupProbe` at `ad24016`) at the
    // 2M rung: candidates are
    // bucket-bounded (3.1M pairs, max refined pop 250) and the
    // per-pair Jaccard is trivial — the cost was the signature prefix
    // re-evaluated by every refinement action and join leg, fixed by
    // the staged signature table inside probeKeyed. The self-join
    // below keeps both legs the IDENTICAL plan (only the alias
    // differs) so the canonicalized exchanges match and the banding
    // is computed and shuffled ONCE; the shuffle/probe key is one
    // xxhash64 long (array keys hash/compare per build+probe row),
    // with exact residual key equality in the join condition so a
    // hash collision cannot admit a false pair — the pair set is
    // bit-identical to the composite-key join. The carried set rides
    // the exchange with halved bytes: hash32 values shift bijectively
    // into signed-int range (intersection/union CARDINALITIES are
    // shift-invariant), sorted once per doc so the per-pair set ops
    // are a single allocation-free merge (SortedInterSize) instead of
    // a hash-set build + materialized union per candidate.
    val (keyed, stagedBytes) =
      probeKeyedSized(hashed, rowsPerBand, capPop, maxExtraBits)
    // the strategy stays SHUFFLE_HASH at every width — only the WIDTH
    // is size-driven. MERGE was measured as the alternative and
    // rejected: it external-sorts BOTH legs WITH the 46-int set
    // payload, and at the 2M rung that costs 128–139 s where the hash
    // build runs in ~50 s (§4.9 resolution). The no-spill risk of the
    // hash build is handled by the width policy itself: 64 MB per
    // build against a ≥ ~590 MB per-task execution share (local[32],
    // 19 GB pool) is ~9× headroom, and the 3× parquet→build expansion
    // is deliberately rounded up.
    fatJoinPairs(keyed,
      fatJoinWidth(hashed.sparkSession, stagedBytes,
        MinHashCoeffs.length / rowsPerBand))
  }

  /** Parquet→build-relation expansion for the staged signature table:
    * the staged bytes are snappy parquet of near-incompressible hash
    * values (~×1.4 back to row bytes) and the SHUFFLE_HASH build adds
    * the UnsafeHashedRelation key table + pointer overhead (~×2 on row
    * bytes, measured at the 4M rung via the peak-heap deltas of
    * `graft.FatJoinProbe` at `ad24016`).
    * Deliberately rounded UP — an over-wide exchange costs a few extra
    * task launches; an under-wide one is §4.9 (OOM or GC collapse). */
  private val FatBuildExpansion = 3.0

  /** Shuffle width for the fat band self-join — §4.9's fix, served by
    * the shared sizing module: the build side of a SHUFFLE_HASH join
    * cannot spill, so the width must scale with the staged-signature
    * bytes × band fan-out × build expansion ([[Sizing.exchangeWidth]]'s
    * rule 1), never stay pinned at the session's core-count default.
    * Below the default width this is None — the plan (and
    * PlanAuditSpec's pinned shape) is untouched at oracle SFs; above
    * it, an explicit repartition on the full equi-key tuple widens the
    * exchange (see [[fatJoinPairs]] for why it must be the full
    * tuple), both legs stay the identical canonicalized plan, and an
    * explicit numPartitions is exempt from AQE coalescing. */
  private[graft] def fatJoinWidth(spark: org.apache.spark.sql.SparkSession,
                                  stagedBytes: Long, nBands: Int): Option[Int] =
    Sizing.exchangeWidth(spark, stagedBytes, nBands * FatBuildExpansion)

  /** The band self-join tail of the one-pass form: a SHUFFLE_HASH join
    * (one leg's partition built as an on-heap hash relation; see
    * [[lshJaccardPairs]] for why MERGE was rejected) with an optional
    * explicit shuffle width. `repartitionTo`
    * widens the exchange beyond spark.sql.shuffle.partitions: with W
    * concurrent tasks, peak build heap is W × corpus_set_bytes / parts,
    * so parts must scale with the corpus, not stay pinned at the core
    * count. The repartition must name the FULL equi-key tuple, not just
    * `k`: spark.sql.requireAllClusterKeysForCoPartition (default true)
    * makes EnsureRequirements reject a key-subset partitioning for a
    * co-partitioned join and REWRITE the user exchange back to all keys
    * at the session-default width — measured in the 4M probe
    * (`graft.FatJoinProbe` at `ad24016`), a
    * repartition(256, k) silently became hashpartitioning(k, band,
    * band_sig, 32) and the build OOMed exactly as unwidened. On the
    * full tuple the explicit numPartitions survives (and stays exempt
    * from AQE coalescing: REPARTITION_BY_NUM origin). */
  private[graft] def fatJoinPairs(keyed0: DataFrame,
                                  repartitionTo: Option[Int],
                                  crossTagCol: Option[String] = None): DataFrame = {
    // pair rule: self-dedup keeps each unordered pair once (id_a <
    // id_b); the INCREMENTAL form (crossTagCol carrying a boolean
    // "is-new" tag through the staged table) keeps exactly
    // new × corpus pairs — same exchange, same scoring, different
    // residual predicate
    def pairRule: Column = crossTagCol match {
      case Some(t) => col(s"a.$t") && !col(s"b.$t")
      case None    => col("a.doc_id") < col("b.doc_id")
    }
    val keyed = repartitionTo match {
      case Some(n) =>
        // on a hot-bucket-free corpus refineHotKeysBy short-circuits
        // `sub` to a FOLDABLE lit(0): constant folding then removes
        // a.sub=b.sub from the join keys, the literal in the partition
        // exprs fails the all-cluster-keys check, and the rewrite above
        // silently reverts the width. `sub | (xxhash64(doc_id) & 0)` is
        // value-identical but non-foldable (Catalyst has no x&0 rule),
        // so the key tuple survives in every corpus shape. Scoped to
        // the widened path — small-SF pinned plans stay untouched.
        val k1 = keyed0.withColumn("sub", col("sub")
          .bitwiseOR(xxhash64(col("doc_id")).bitwiseAND(lit(0L))))
        k1.repartition(n, col("k"), col("band"), col("band_sig"), col("sub"))
      case None    => keyed0
    }
    keyed.as("a").join(keyed.as("b").hint("SHUFFLE_HASH"),
        col("a.k") === col("b.k") &&
          col("a.band") === col("b.band") &&
          col("a.band_sig") === col("b.band_sig") &&
          col("a.sub") === col("b.sub") &&
          pairRule)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        org.apache.spark.sql.graft.HashExpressions
          .sorted_inter_size(col("a.hsi"), col("b.hsi")).as("n_inter"),
        // distinct sets: |a ∪ b| = |a| + |b| − |a ∩ b|, no second pass
        (size(col("a.hsi")) + size(col("b.hsi"))).as("sz"))
      .withColumn("n_union", col("sz") - col("n_inter")).drop("sz")
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("n_inter")).as("n_inter"), max(col("n_union")).as("n_union"))
      .withColumn("jaccard_bp",
        floor(col("n_inter").cast("long") * 10000 / col("n_union")).cast("long"))
  }

  /** INCREMENTAL LSH candidate pairs: documents of a NEW increment
    * against an EXISTING corpus (both as (doc_id, hs) frames). The
    * production dedup shape at 100 TB is not corpus × corpus every day
    * — it is increment × corpus: the corpus side's signatures are a
    * precomputed index (the staged signature table [[probeKeyed]]
    * writes, persisted instead of scratch), and only the increment
    * hashes fresh. Pairs form only inside identical (band, band_sig)
    * buckets, so the join cost is |increment bands| probing the
    * corpus-banded index — linear in the increment, never in the
    * corpus. Returns distinct (id_new, id_old). */
  def lshCandidatePairsAcross(newHashed: DataFrame, corpusHashed: DataFrame,
                              rowsPerBand: Int): DataFrame = {
    val nBands = MinHashCoeffs.length / rowsPerBand
    def banded(hashed: DataFrame, idAs: String) = hashed.select(
        col("doc_id"),
        org.apache.spark.sql.graft.HashExpressions.minhash_sigs(col("hs")).as("sig"))
      .select(col("doc_id").as(idAs),
        posexplode(transform(
          sequence(lit(0), lit(nBands - 1)),
          b => slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))).as(Seq("band", "band_sig")))
    banded(newHashed, "id_new")
      .join(banded(corpusHashed, "id_old"), Seq("band", "band_sig"))
      .select("id_new", "id_old").distinct()
  }

  /** INCREMENTAL near-dup pairs WITH exact Jaccard — the scored form
    * of [[lshCandidatePairsAcross]], size-switched exactly like
    * [[lshJaccardPairs]]: below `onePassMinDocs` TOTAL docs, the
    * two-phase banded-candidates + payload-fetch form (fine while the
    * hash arrays cache cleanly, and the plan the oracle SFs pin);
    * above it, the one-pass staged/refined/width-governed band join —
    * the increment and corpus ride ONE tagged signature table
    * (carryCols) and the fat join keeps exactly new × corpus pairs.
    * Found at the 1M ladder rung: the unrefined two-phase across-form
    * densified exactly like §4.6's self-join (42.5 s at 1M vs the
    * one-pass 14-ish; no population cap, two pair-payload refetch
    * joins); routing it through the shared one-pass machinery buys
    * the cap, the content salt, the staging and the §4.9 width in one
    * move. Output: (id_new, id_old, n_inter, n_union, jaccard_bp). */
  def lshJaccardPairsAcross(newHashed: DataFrame, corpusHashed: DataFrame,
                            rowsPerBand: Int,
                            capPop: Int = 256,
                            maxExtraBits: Int = 8,
                            onePassMinDocs: Long = OnePassMinDocs): DataFrame = {
    val total = newHashed.count() + corpusHashed.count()
    if (total < onePassMinDocs) {
      val all = newHashed.withColumn("_new", lit(true))
        .unionByName(corpusHashed.withColumn("_new", lit(false))).cache()
      val pairs = lshCandidatePairsAcross(newHashed, corpusHashed, rowsPerBand)
      return jaccardForPairs(all.drop("_new"),
          pairs.select(col("id_new").as("id_a"), col("id_old").as("id_b")))
        .select(col("id_a").as("id_new"), col("id_b").as("id_old"),
          col("n_inter").cast("long").as("n_inter"),
          col("n_union").cast("long").as("n_union"), col("jaccard_bp"))
    }
    val tagged = newHashed.withColumn("_new", lit(true))
      .unionByName(corpusHashed.withColumn("_new", lit(false)))
    val (keyed, stagedBytes) = probeKeyedSized(tagged, rowsPerBand,
      capPop, maxExtraBits, carryCols = Seq("_new"))
    fatJoinPairs(keyed,
      fatJoinWidth(newHashed.sparkSession, stagedBytes,
        MinHashCoeffs.length / rowsPerBand),
      crossTagCol = Some("_new"))
      .select(col("id_a").as("id_new"), col("id_b").as("id_old"),
        col("n_inter").cast("long").as("n_inter"),
        col("n_union").cast("long").as("n_union"), col("jaccard_bp"))
  }

  /** Exact Jaccard over hashed shingle sets for given candidate pairs
    * (pairsDf: id_a, id_b). Set ops run on long arrays (8 bytes/elem),
    * not strings; the pair list is assumed pre-pruned (LSH or
    * key-window), never all-pairs. */
  def jaccardForPairs(hashed: DataFrame, pairs: DataFrame): DataFrame = {
    pairs
      .join(hashed.select(col("doc_id").as("id_a"), col("hs").as("set_a")), "id_a")
      .join(hashed.select(col("doc_id").as("id_b"), col("hs").as("set_b")), "id_b")
      .withColumn("n_inter", size(array_intersect(col("set_a"), col("set_b"))))
      .withColumn("n_union", size(array_union(col("set_a"), col("set_b"))))
      .withColumn("jaccard_bp",
        floor(col("n_inter").cast("long") * 10000 / col("n_union")).cast("long"))
      .drop("set_a", "set_b")
  }

  /** Token hash32 array for a text column (split on single space,
    * empty tokens kept — Spark `split(text," ")` semantics). Native
    * one-pass kernel. */
  def tokenHashes(text: Column): Column =
    org.apache.spark.sql.graft.HashExpressions.token_hash32(text)

  /** 32-bit SimHash from a precomputed token-hash array column: bit b
    * of the fingerprint is the majority vote of bit b across token
    * hashes (sum of ±1 per bit). One-pass native kernel (the HOF form
    * was 32 interpreted `aggregate` scans of the array). */
  def simHashFromHashes(th: Column): Column =
    org.apache.spark.sql.graft.HashExpressions.simhash32(th)

  /** Convenience one-shot form (recomputes token hashes per reference —
    * fine for single use, not for wide fan-out). */
  def simHash32(text: Column): Column = simHashFromHashes(tokenHashes(text))

  /** 64-bit SimHash of a text column — the AT-SCALE fingerprint width.
    * 32 bits have too little resolution for corpus-scale near-dup
    * detection: unrelated short documents land within hamming ≤ 3
    * often enough that the pair OUTPUT itself grows quadratically
    * (measured ×39 pairs for ×6.25 docs, SCALING.md §4.5), which no
    * plan shape can absorb. At 64 bits the expected random-pair count
    * at hamming ≤ 3 stays single-digit past 10^6 docs (n²·4.4e4/2^64),
    * the standard web-dedup design point (Manku et al., WWW'07 —
    * public literature). Low 32 hash bits per token equal the 32-bit
    * path's, so both fingerprints derive from one md5 pass. */
  def simHash64(text: Column): Column =
    org.apache.spark.sql.graft.HashExpressions.simhash64(
      org.apache.spark.sql.graft.HashExpressions.token_hash64(text))

  /** Hamming distance between two long fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: candidates share at least one of the
    * `nBands` equal-width bit bands of the fingerprint (pigeonhole: any
    * pair within hamming < nBands shares a band), then the exact
    * hamming filter keeps true near-dups. Same scale shape as the
    * MinHash path — the band value is the shuffle key, pairs form only
    * inside identical bands, O(n²) never materializes. Input: (idCol,
    * fpCol) with a `bits`-wide fingerprint. */
  def simHashNearDupPairs(fps: DataFrame, idCol: String, fpCol: String,
                          maxHamming: Int, bits: Int = 32,
                          nBands: Int = 4): DataFrame = {
    require(bits % nBands == 0, "bands must divide the fingerprint width")
    require(maxHamming < nBands,
      "banding only guarantees full recall for hamming < nBands " +
        "(pigeonhole); raise nBands or lower maxHamming")
    val w = bits / nBands
    val bandVals = array((0 until nBands).map(i =>
      shiftright(col(fpCol), i * w).bitwiseAND(lit((1L << w) - 1))): _*)
    val banded = fps.select(col(idCol).as("doc_id"), col(fpCol).as("fp"),
      posexplode(bandVals).as(Seq("band", "band_val")))
    val a = banded.select(col("band"), col("band_val"),
      col("doc_id").as("id_a"), col("fp").as("fp_a"))
    val b = banded.select(col("band"), col("band_val"),
      col("doc_id").as("id_b"), col("fp").as("fp_b"))
    a.join(b, Seq("band", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hamming(col("fp_a"), col("fp_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Connected components over an undirected edge list — the dedup
    * CLUSTERING step: near-dup pairs → canonical document groups (keep
    * one doc per component). Min-label propagation with ADAPTIVE
    * POINTER JUMPING: every vertex starts as its own label; each round
    * adopts the minimum label in its neighborhood; from round
    * `jumpAfter`+1 on, each round also jumps once through the label
    * table (l(v) ← l(l(v))); stop when a round changes nothing. The
    * jump halves the remaining distance to the component min each
    * round, so deep components converge in O(log diameter) extra
    * rounds instead of O(diameter) — the difference between ~8 and
    * 30+ rounds on an adversarial chain-shaped duplicate cluster. It
    * is gated on round number because the jump's self-join has a real
    * per-round cost (measured ~2× on the shipped clustering queries)
    * that typical 2-3-round corpora should never pay: a run still
    * alive after `jumpAfter` rounds has a deep component, and only
    * then does the accelerant switch on. Labels are always vertex ids
    * from the same component, so jumping never crosses components and
    * every step is monotone non-increasing: correctness is unchanged,
    * only convergence accelerates.
    *
    * Scale shape: each round is one shuffle join (labels ⋈ edges) +
    * one min-aggregation + one self-join (the jump). Near-dup
    * clusters are tiny (pairs/triples), so this converges in 2-3
    * rounds regardless of corpus size. Rounds are cached (cheap);
    * every 3rd round the labels are `localCheckpoint`ed: the plan
    * references the previous round several times (join side,
    * neighbor-min side, jump LUT), so without periodic lineage
    * TRUNCATION the logical plan grows geometrically — anything that
    * walks the tree (planning, explain, the count below) blows up
    * long before the data does (measured: a 25-round chain took
    * minutes in generateTreeString alone). The per-round convergence
    * count is one scalar action, the classic iterative-on-Spark shape
    * (same as GraphX/Pregel, which checkpoints for the same reason).
    *
    * SIZE-DRIVEN STRATEGY SWITCH (the same decision Spark itself makes
    * for joins — broadcast below a threshold, shuffle above): near-dup
    * edge sets are a tiny fraction of the corpus (pairs that survived
    * LSH banding AND a strong-Jaccard filter), so up to
    * `localEdgeThreshold` edges the component labels are computed with
    * a driver-side union-find over ONE collected copy of the edge list
    * — O(E α) with path compression, zero iterative shuffles — and
    * applied back as ONE broadcast join. The collect is bounded by the
    * threshold exactly like a broadcast join's build side (default
    * 100k edges ≈ 1.6 MB of long pairs), never by the corpus. Past
    * the threshold the iterative distributed algorithm above runs.
    * Both paths produce identical labels (spec-checked parity).
    *
    * Input: vertices (idCol) + edges (id_a, id_b). Output: (idCol,
    * cluster_id) with cluster_id = min id in the component. THROWS if
    * maxIter rounds don't reach the fixpoint (a silent partial result
    * would mislabel clusters). */
  def connectedComponents(vertices: DataFrame, idCol: String,
                          edges: DataFrame, maxIter: Int = 20,
                          jumpAfter: Int = 3,
                          localEdgeThreshold: Long = 100000L): DataFrame =
    ccRounds(vertices, idCol, edges, maxIter, jumpAfter, localEdgeThreshold)._1

  /** Rounds taken by the most recent [[connectedComponents]] run in
    * this JVM — observability for the scale harness (ScaleBench records
    * it per corpus size; a round count that grows with the corpus would
    * mean component diameters do, i.e. the dup-chain structure leaks). */
  @volatile private[graft] var lastCcRounds: Int = -1

  /** [[connectedComponents]] + the number of rounds it took (the spec
    * surface for the pointer-jump acceleration claim; 0 = the
    * driver-local union-find path ran). */
  private[graft] def ccRounds(vertices: DataFrame, idCol: String,
                              edges: DataFrame, maxIter: Int,
                              jumpAfter: Int,
                              localEdgeThreshold: Long = 100000L): (DataFrame, Int) = {
    // cache the edge plan: it is usually the expensive survivor of an
    // LSH + Jaccard pipeline, and both strategies below read it twice
    // (size probe, then collect-or-symmetrize)
    val edgesC = edges.cache()
    val nEdges = edgesC.count()
    if (nEdges <= localEdgeThreshold) {
      val out = ccLocal(vertices, idCol, edgesC)
      edgesC.unpersist()
      lastCcRounds = 0
      return (out, 0)
    }
    val sym = edgesC.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(edgesC.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct().cache()
    var labels = vertices.select(col(idCol).as("id"), col(idCol).as("label")).cache()
    var pinned = labels // the round currently holding storage
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val neighborMin = sym
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("label")).as("nmin"))
      val stepped = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("label").as("prev"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
      // in jump rounds `stepped` feeds BOTH the main branch and the lut,
      // and the two branches partition on different keys (label vs id),
      // so without caching the expensive join+agg subtree runs twice
      val steppedPinned = if (iter < jumpAfter) None else Some(stepped.cache())
      val jumped = steppedPinned match {
        case None => stepped
        case Some(st) =>
          // l(v) <- min(l(v), l(l(v))): route each label through the
          // label table itself (every label IS a vertex id, so the
          // lookup stays inside the component)
          val lut = st.select(col("id").as("label"), col("label").as("jlabel"))
          st.join(lut, Seq("label"), "left")
            .select(col("id"), col("prev"),
              least(col("label"), coalesce(col("jlabel"), col("label"))).as("label"))
      }
      val next = jumped
        .select(col("id"), col("label"), (col("label") < col("prev")).as("changed"))
        .cache()
      // full count (not limit 1): materializes every partition of
      // `next` into its cache BEFORE the previous round is unpersisted
      converged = next.filter(col("changed")).count() == 0
      steppedPinned.foreach(_.unpersist())
      pinned.unpersist()
      labels = next.drop("changed")
      pinned = next
      iter += 1
      if (!converged && iter % 3 == 0) {
        labels = labels.localCheckpoint(true) // bound plan growth
        pinned.unpersist()
        pinned = labels // NOTE: unpersist() is a no-op on a checkpointed
        // frame (LogicalRDD is not in the CacheManager) — its blocks are
        // reclaimed by the ContextCleaner once the round goes
        // unreachable, i.e. one extra label-table generation per 3
        // rounds may linger until driver GC; typical 2-3 round runs
        // never checkpoint at all
      }
    }
    sym.unpersist()
    edgesC.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "a component's diameter exceeds maxIter; raise it rather than " +
          "accept silently mislabeled clusters")
    lastCcRounds = iter
    (labels.withColumnRenamed("id", idCol).withColumnRenamed("label", "cluster_id"),
      iter)
  }

  /** Driver-local component labeling for bounded edge sets: union-find
    * with path compression + union by min id, labels shipped back as a
    * broadcast join (vertices never leave the cluster; only the edge
    * list — already below the threshold — is collected). */
  private def ccLocal(vertices: DataFrame, idCol: String,
                      edges: DataFrame): DataFrame = {
    val pairs = edges
      .select(col("id_a").cast("long"), col("id_b").cast("long")).collect()
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
      var c = x // path compression
      while (parent.getOrDefault(c, c) != c) {
        val nxt = parent.getOrDefault(c, c); parent.put(c, r); c = nxt
      }
      r
    }
    pairs.foreach { p =>
      val (ra, rb) = (find(p.getLong(0)), find(p.getLong(1)))
      if (ra != rb) { // min id becomes the root, so the root IS the label
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val labeled = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
    parent.keySet().forEach(v => labeled += ((v, find(v))))
    val spark = vertices.sparkSession
    import spark.implicits._
    val mapDf = labeled.toSeq.toDF("id", "comp")
    vertices.select(col(idCol))
      .join(broadcast(mapDf), col(idCol) === col("id"), "left")
      .select(col(idCol),
        coalesce(col("comp"), col(idCol)).as("cluster_id"))
  }
}
