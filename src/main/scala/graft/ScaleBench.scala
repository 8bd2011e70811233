package graft

import org.apache.spark.sql.SparkSession

/** Scale-proof harness (SCALING.md): generates the deterministic
  * [[ScaleGen]] corpus at several sizes and runs the flagship
  * scale-path queries from the registry — UNCHANGED, the same closures
  * the oracle gate checks at small SF — recording wall time plus the
  * control-plane observables each plan's 100-TB story depends on
  * (connected-components round count, derived LSH width, RocksDB
  * state-store rows).
  *
  * Per (size, query): the spark cache is cleared, the query runs once
  * to the noop sink (cold for its own operators; table scans stay
  * OS-page-warm, matching how a resident cluster reads hot data), then
  * `count()` re-runs the cheap tail over the query's still-cached
  * intermediates to record the output cardinality — the other half of
  * a scaling claim (time can only be judged linear against the rows
  * actually produced).
  *
  * Output: one JSON line per measurement on stdout + the aggregate
  * file target/scale/scale_results.json.
  */
object ScaleBench {

  private val ScaleQueries = Seq(
    "dedup_exact",          // linear baseline: one hash-groupBy
    "dedup_neardup_pairs",  // LSH banding + bucket-local Jaccard
    "dedup_clusters",       // + iterative connected components
    "dedup_embed_neardup",  // banded embedding pairs + cosine
    "dedup_embed_clusters", // + CC over mutual in-band top-1 neighbors
    "dedup_simhash_pairs",  // 32-bit simhash bands (quadratic OUTPUT, §4.5)
    "dedup_simhash64_pairs", // 64-bit simhash bands — the at-scale form
    "dedup_span_ngrams",    // rolling k-gram duplicate-span islands
    "dedup_incremental",    // increment×corpus banded probe (cost ∝ increment)
    "dedup_containment",    // rare-gram candidates + asymmetric containment
    "pipeline_curate",      // full curation chain (score→dedup→CC→split)
    "pipeline_decontam",    // broadcast shingle overlap
    "pipeline_pack",        // sized-shard sequence packing
    "text_ngram_lm",        // bigram wordcount + big-big scoring join
    "embed_centroids",      // map-side vector-sum buffers, one shuffle
    "ann_lsh_topk",         // derived-width hyperplane buckets
    "ann_ivf_topk",         // IVF assign + nProbe search
    "ann_pq_topk",          // PQ codes + broadcast ADC LUT scan (books cached)
    "q20_asof_join",        // as-of join: union + running-last window
    "q21_range_join",       // bin-key broadcast equi-join over intervals
    "pipeline_hll_distinct", // HLL registers: scan + 256-group max
    "pipeline_cm_heavyhitters", // CM counters: 4x explode + 4096-group sum
    "text_bpe_encode",      // vocab-sized merge folds + word-cost join
    "text_tfidf_terms",     // big-big token join + per-doc WindowGroupLimit
    "multimodal_phash_dedup", // real codec chain + aHash groupBy
    "stream_leftouter",     // outer join + sentinel watermark flush
    "multimodal_codec",     // real ImageIO encode+decode per doc
    "multimodal_audio_frames", // PCM16 codec + overlapping framing
    "multimodal_video_sample", // GVID container + index-seek frame sampling
    "stream_enrich_join",   // 3-batch stream-stream join, RocksDB state
    "stream_ingest_gate",   // stateless chained anti-join admission gate
    "stream_asof_enrich")   // fMGWS one-row-per-key asof carry, RocksDB

  private def jnum(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else f"$v%.3f"

  def main(args: Array[String]): Unit = {
    val sizes = (if (args.nonEmpty) args(0) else "125000,500000,1000000")
      .split(",").map(_.trim.toLong).toSeq
    // optional 2nd arg: comma list restricting which queries run (rung
    // re-measurement / single-query investigation without paying for
    // the whole ladder); results still land in scale_results.json —
    // merge partial reruns into the full table by hand
    val onlyQueries = if (args.length > 1)
      Some(args(1).split(",").map(_.trim).toSet) else None
    val base = sys.env.getOrElse("GRAFT_SCALE_BASE", "target/scale")
    val cpus = GraftSession.localCpus
    val spark = GraftSession.localSession()
    // state stores shard across all cores at scale (the cluster-shaped
    // config); the 4-store default is the small-SF gate's tuning.
    // Provider pinned to RocksDB: every ladder rung measures the 100-TB
    // state backing, never the small-state in-memory fast path the
    // auto choice would pick at the lowest rungs.
    spark.conf.set("graft.statePartitions", cpus)
    spark.conf.set("graft.stateProvider", "rocksdb")

    // stamp the artifact with the code that produced it so the ladder
    // is diffable round over round (committed as SCALING_results.json)
    val commit = try {
      scala.sys.process.Process(Seq("git", "rev-parse", "HEAD"),
        new java.io.File(".")).!!.trim
    } catch { case _: Exception => "unknown" }

    val out = new StringBuilder(
      s"""{"commit":"$commit","cpus":$cpus,"results":[\n""")
    var first = true
    // session-best calibration = the quiet-host floor; a pass whose
    // PRE bracket already exceeds it by >1.5x started contended
    var bestCal = Double.MaxValue
    for (n <- sizes) {
      val dir = s"$base/n$n"
      val tg0 = System.nanoTime()
      ScaleGen.ensure(spark, dir, nDocs = n, nVecs = n / 2, nEvents = n * 2)
      val genSec = (System.nanoTime() - tg0) / 1e9
      System.err.println(f"[scale] n=$n corpus ready in $genSec%.1f s")

      // untimed warmup at each size: the first query otherwise absorbs
      // classloading/codegen (measured 11.5 s vs 0.8 s for dedup_exact)
      SparkEntry.queries("dedup_exact")(spark, dir)
        .write.format("noop").mode("overwrite").save()

      for (q <- ScaleQueries if onlyQueries.forall(_.contains(q))) {
        if (q == "dedup_simhash_pairs" && n > 500000 && onlyQueries.isEmpty) {
          // NOT a silent cap: the 32-bit output is ~n² (SCALING.md
          // §4.5 — 93.7M pairs at 500k, ~375M projected at 1M), so the
          // default ladder stops this row at 500k; pass it explicitly
          // as the query filter to force the larger rungs.
          System.err.println(s"[scale] skipping $q at n=$n: 32-bit " +
            "simhash output is ~n^2 (see SCALING.md §4.5); measured " +
            "through n=500000, pass the query filter arg to force")
        } else {
        def timedPass(): (Double, org.apache.spark.sql.DataFrame) = {
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          val df = SparkEntry.queries(q)(spark, dir)
          df.write.format("noop").mode("overwrite").save()
          ((System.nanoTime() - t0) / 1e9, df)
        }
        // min-of-2: single-shot wall times on this co-tenant host vary
        // >2× (dedup_clusters measured 41 s and 92 s on identical data);
        // noise only ever ADDS time, so the min is the honest estimate.
        // Each measurement is BRACKETED by the calibration loop (same
        // policy as Bench): post-bracket drift >1.5× over pre means the
        // host slowed mid-measurement (one contended window put
        // multimodal_codec at 105 s vs 2.8 s idle, 37×); a pre-bracket
        // already >1.5× the session's best-seen calibration means the
        // pass STARTED contended (the round-6 detection gap: a
        // high-pre/low-post pass shipped a 15× number). Both discard
        // and re-measure, bounded per query; the accepted brackets ship
        // in the JSON so every number is adjudicable from the artifact.
        var calPre = 0.0; var calPost = 0.0
        var sec = Double.MaxValue
        var pass1 = 0.0; var pass2 = 0.0
        var df: org.apache.spark.sql.DataFrame = null
        var retried = 0
        var accepted = false
        while (!accepted) {
          calPre = Bench.calibrationMs()
          bestCal = math.min(bestCal, calPre)
          val (s1, _) = timedPass()
          // pass 1's staged scratch (corpus-sized — ~19 GB at the 8M
          // rung) is dead now; without this purge two live stagings +
          // both passes' shuffle files overflow the disk mid-query
          // (measured twice at 8M). The gc nudges the ContextCleaner
          // to drop pass 1's shuffle files too.
          graft.operators.Dedup.purgeScratchDirs()
          System.gc()
          val (s2, d2) = timedPass()
          calPost = Bench.calibrationMs()
          bestCal = math.min(bestCal, calPost)
          sec = math.min(s1, s2); pass1 = s1; pass2 = s2; df = d2
          if ((calPost > calPre * 1.5 || calPre > bestCal * 1.5) && retried < 2) {
            retried += 1
            System.err.println(f"[scale] contended measurement of $q at n=$n " +
              f"(calibration $calPre%.0f -> $calPost%.0f ms, best $bestCal%.0f), retrying")
          } else accepted = true
        }
        val rows = df.count()
        val extras = scala.collection.mutable.LinkedHashMap[String, String]()
        q match {
          case "dedup_clusters" | "pipeline_curate" =>
            val r = graft.operators.Dedup.lastCcRounds
            extras += "cc_rounds" -> r.toString
            extras += "cc_mode" ->
              (if (r == 0) "\"local\"" else "\"distributed\"")
          case "ann_lsh_topk" =>
            extras += "lsh_bits" ->
              graft.operators.Similarity.deriveNBits(n / 2).toString
          case q if q.startsWith("stream_") =>
            // peak state across batches: the final batch understates it
            // (watermark eviction has drained the buffers by then).
            // Recorded for EVERY stream rung: the join's state must
            // scale with live rows, the asof carry with distinct keys,
            // and the ingest gate must record ZERO state rows — its
            // statelessness is a ladder observable, not just a spec
            val progresses = graft.streaming.StreamingOps.recentProgressJsons
            if (progresses.nonEmpty) {
              def sumOf(key: String, j: String): Long =
                ("\"" + key + "\"\\s*:\\s*(\\d+)").r
                  .findAllMatchIn(j).map(_.group(1).toLong).sum
              extras += "state_rows_peak" ->
                progresses.map(sumOf("numRowsTotal", _)).max.toString
              extras += "state_rows_updated_total" ->
                progresses.map(sumOf("numRowsUpdated", _)).sum.toString
              extras += "n_batches" -> progresses.size.toString
              extras += "rocksdb" ->
                progresses.exists(_.contains("rocksdb")).toString
            }
          case "multimodal_video_sample" =>
            // the container's whole point is decode ∝ frames KEPT, so
            // measure it: time the stride-1 (decode everything) and
            // encode-only (no decode at all) arms on the same fixture.
            // decode-only cost per arm = arm − encode_only; the sampled
            // arm should hold near half the full arm's decode cost.
            def timedArm(qfn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
              def pass(): Double = {
                spark.catalog.clearCache()
                val t0 = System.nanoTime()
                qfn(spark, dir).write.format("noop").mode("overwrite").save()
                (System.nanoTime() - t0) / 1e9
              }
              math.min(pass(), pass())
            }
            extras += "full_decode_sec" ->
              jnum(timedArm(graft.queries.DataPipelineQueries.videoSampleQuery(1)))
            extras += "encode_only_sec" ->
              jnum(timedArm(graft.queries.DataPipelineQueries.videoEncodeOnlyQuery))
          case _ =>
        }
        val extraJson =
          extras.map { case (k, v) => s""""$k":$v""" }.mkString(",")
        // both raw passes ship too: for cached-artifact queries
        // (ann_pq_topk with a cold books/codes cache) pass 1 is
        // train+search and pass 2 search-only — the gap IS the
        // training cost, adjudicable from the artifact
        val calJson = s""""passes":[${jnum(pass1)},${jnum(pass2)}],""" +
          s""""cal_ms":[${jnum(calPre)},${jnum(calPost)}]""" +
          (if (retried > 0) s""","retried":$retried""" else "")
        val line = s"""{"n_docs":$n,"query":"$q","sec":${jnum(sec)},""" +
          s""""rows":$rows,$calJson""" +
          s"""${if (extraJson.nonEmpty) "," + extraJson else ""}}"""
        println(line)
        if (!first) out.append(",\n")
        out.append("  ").append(line)
        first = false
        // this query's staged signature scratch (one table per pass,
        // ~19 GB each at the 8M rung) is dead now — reclaim before the
        // next query instead of at JVM exit
        graft.operators.Dedup.purgeScratchDirs()
        }
      }
    }
    out.append("\n]}\n")
    val resPath = java.nio.file.Paths.get(base, "scale_results.json")
    java.nio.file.Files.createDirectories(resPath.getParent)
    java.nio.file.Files.write(resPath,
      out.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    System.err.println(s"[scale] wrote $resPath")
    spark.stop()
  }
}
