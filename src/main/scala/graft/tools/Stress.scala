package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.GraftSession

/** Scale rehearsal: amplify the sf0.1 corpus N-fold (fresh doc/vec ids, a
  * per-copy marker token so copies are near- rather than exact duplicates)
  * into `target/stress/`, then run the scalable corpus operators against
  * it. This drives the paths whose cost structure only shows beyond the
  * test SFs — LSH bucket skew under heavy duplication (every document
  * gains N-1 true near-dups), the packing scan's bucket fan-out, the
  * vocab/token shuffles — on the same code the driver benches.
  *
  *   sbt "runMain graft.tools.Stress [copies]"     # default 10 => 50k docs
  *
  * Prints one timing line per query; any failure aborts with nonzero exit.
  */
object Stress {
  def main(args: Array[String]): Unit = {
    // strict arg parse: `[copies] [exact] [query...]` in any order — an
    // unrecognized or malformed arg must not silently run the default
    // amplification and produce success-looking SCALE evidence for the
    // wrong corpus. Query names (anything containing '_') restrict the
    // run to that subset — the 100x rehearsal times the top scalable
    // operators without paying the full ~90-query sweep.
    val (nameArgs, rest) = args.partition(_.contains("_"))
    val (flagArgs, numArgs) = rest.partition(_ == "exact")
    val copies = numArgs match {
      case Array() => 10
      case Array(n) =>
        try {
          val c = n.toInt
          require(c >= 1 && c <= 1000, s"copies out of range: $c")
          c
        } catch { case _: NumberFormatException =>
          sys.error(s"bad copies argument: '$n' (usage: Stress [copies] [exact])")
        }
      case more => sys.error(s"too many arguments: ${more.mkString(" ")}")
    }
    // `exact` mode: amplify WITHOUT the per-copy marker, so copies are
    // bytewise-identical — the crawl-duplication scenario the dedup
    // chain's canonicalize-first pass targets. Runs the dedup subset and
    // expects ZERO hot-bucket warnings: exact copies collapse before
    // candidate generation, so LSH work reverts to distinct-text scale.
    val exactCopies = flagArgs.nonEmpty
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = if (exactCopies) "target/stress_exact" else "target/stress"
    val spark = GraftSession.local()

    def amplify(df: DataFrame, idCol: String, textCol: Option[String]): DataFrame = {
      val span = df.agg(max(col(idCol))).first().getLong(0) + 1
      (0 until copies).map { i =>
        val shifted = df.withColumn(idCol, col(idCol) + lit(i * span))
        textCol.filter(_ => !exactCopies).fold(shifted)(t =>
          shifted.withColumn(t, concat(col(t), lit(s" copymark$i"))))
      }.reduce(_ unionAll _)
    }

    amplify(spark.read.parquet(s"$src/documents.parquet"), "doc_id", Some("text"))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    amplify(spark.read.parquet(s"$src/embeddings.parquet"), "vec_id", None)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    // events: amplify USERS as well as event ids — the per-user windows
    // (ev05/ev06), the per-day matrices (dq04/ev07) and the keyed stream
    // state all scale with the user population, which is the axis a bigger
    // deployment actually grows
    val ev = spark.read.parquet(s"$src/events.parquet")
    val userSpan = ev.agg(max(col("user_id"))).first().getLong(0) + 1
    val evSpan = ev.agg(max(col("event_id"))).first().getLong(0) + 1
    (0 until copies).map { i =>
      ev.withColumn("event_id", col("event_id") + lit(i * evSpan))
        .withColumn("user_id", col("user_id") + lit(i * userSpan))
    }.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    val nDocs = spark.read.parquet(s"$out/documents.parquet").count()
    val nEvents = spark.read.parquet(s"$out/events.parquet").count()
    println(s"[stress] corpus ready: $nDocs docs, $nEvents events, ${copies}x $src")

    val queries = Seq(
      "dd01_exact_dedup", "dd03_minhash_lsh", "dd04_simhash",
      "dd07_repeated_spans", "dd11_substring_dedup", "ta01_langid", "ta02_quality",
      "ta09_repetition", "ta10_chunking", "ta11_pack_windows",
      "ta08_vocab_encode", "ir02_inverted_index", "ir03_tfidf_terms",
      "sa01_stratified_sample",
      "sa04_mixture_sample", "sa05_shard_assign", "ta12_bigram_logprob",
      "ta13_bpe_pairs",
      "sim02_ann_lsh", "sim04_ivf_ann", "sim07_pq_ann",
      "dd12_streaming_neardup",
      // round-6 additions: the cluster-consuming dedup paths, the
      // iterative trainers, the event-keyed analytics on the amplified
      // user population, and the new scan-shaped passes
      "dd13_semdedup", "dd15_soft_dedup", "gr01_dup_hub_rank",
      "cl01_quality_classifier", "cl02_naive_bayes_langid",
      "ta17_ppl_buckets", "ta18_zipf_fit", "ir05_phrase_search",
      "sim08_mips_topk", "sim09_mips_lsh", "mm06_audio_frames",
      "ev05_sessionize", "ev06_attribution", "ev07_heavy_hitters",
      "dq04_volume_anomaly", "sk01_kmv_distinct", "dd16_bloom_decontam",
      "er01_fuzzy_match", "er02_fuzzy_clusters", "q38_latest_snapshot",
      "ev08_path_ngrams", "ir06_pmi_cooccur", "sk02_cms_heavy",
      "cl03_knn_classifier", "sa09_cluster_split", "sk03_minhash_est",
      "ev09_ewma_anomaly", "cl04_confusion", "ir07_kwic",
      "gr02_triangles", "ev10_session_bounce", "pl04_dataset_card",
      "q37_ignore_nulls", "sk04_sample_quantiles", "er03_golden_record",
      // round-8 additions: the boilerplate rewrite must stay linear when
      // the amplified corpus multiplies every segment's doc count, and the
      // margin miner's reverse pass must stay bounded by k*|Q|
      "dd17_boilerplate_strip", "sim10_margin_mining",
      "dd18_semantic_decontam", "sa10_weighted_sample",
      // round-8 third/fourth batches: retrieval + eval + census passes
      // (ta19's native census must stay scan-shaped; mm07's sig join must
      // track frame collisions, not corpus²; ir09 composes two audited
      // retrieval plans over the amplified candidate stream)
      "ir08_lm_dirichlet", "cl05_centroid_classifier", "cl06_calibration",
      "ev11_markov_next", "sim11_maxsim", "gr03_adamic_adar",
      "ta19_char_entropy", "sk05_ams_f2", "ev12_cadence",
      "mm07_video_neardup", "ir09_ann_recall",
      // round-8 fifth batch: dq05's fused audit and ev13's conditional
      // firsts must stay single-exchange; ir10/ir11 compose the audited
      // retrieval scans; ta20's clip join must stay bounded by the
      // broadcast per-source reference grams when duplication multiplies
      // the candidate side
      "dq05_completeness", "ev13_conversion_lag", "ir10_rank_fusion",
      "ta20_rouge_overlap", "ir11_query_expansion",
      // round-8 sixth batch: ta21 must stay a zero-exchange columnar pass
      // under the amplified corpus; ev14 one user exchange; gr04 peels on
      // the collision-bounded pair set; sk06's sketch branch one corpus
      // pass (its exact self-check branch is the only quadratic and is
      // df-bounded); ir12 composes the audited retrieval scans
      "ta21_readability", "ev14_decay_engagement", "gr04_kcore",
      "sk06_kmv_setops", "ir12_ndcg_eval",
      // round-8 seventh batch: ta22's gram window and ev15's day-grain
      // windows must not blow up; ir13 stays the ir01 columnar shape.
      // dd19 is exempt: the amplified corpus has a small UNIFORM vocabulary
      // (no rare tokens), the one regime where every token-based candidate
      // filter — including dd19's lossless prefix filter — degenerates to
      // Σdf² (measured: >80 GB shuffle spill at 10x before ENOSPC), and
      // where the true containment pair LISTING is itself ~10M rows. On
      // Zipfian real-text vocabularies the prefix filter is the published
      // scale path (Xiao et al. WWW'08); for dense-vocab corpora the
      // sampled listing dd21 is the diagnostic that DOES run at scale —
      // it stresses here and benches at sf0.1 — while the full exact
      // listing stays correctness-gated at sf0.01 under Verify.
      "ta22_novelty", "ev15_cusum", "ir13_bm25f", "dd21_containment_sampled",
      // round-10: dd22 is the containment family's LINEAR member — the
      // sketch build is one corpus pass and the reference side is bounded
      // by contract, so it stresses at any amplification; sa12's
      // admission must stay one source-keyed window over counts
      "dd22_sketch_containment", "sa12_token_budget",
      // round-13: the streaming admission gate's batch replay — the gate
      // pass must stay scan-shaped and the budget stage must shuffle only
      // the 4 narrow columns under the amplified corpus
      "sa13_streaming_admission",
      // round-11: the composed funnel — screen linear, verify confined to
      // survivors; and the remaining unrehearsed composition pipelines
      // (pl04/pl05 already run here; pl01-pl03 joined for the 100×
      // rehearsal round)
      "dd23_containment_funnel", "pl01_pipeline", "pl02_funnel",
      "pl03_training_weights",
      // round-13: mm02 became a REAL multi-frame GIF decode in round 12 —
      // its encode+decode flatMap must stay one pass on the scan with
      // frame-scale output under the amplified corpus (verdict item 7)
      "mm02_frame_sample",
      // cl09 sweeps cl01's scored pass through a ≤42-row histogram — the
      // grid work is corpus-independent by construction
      "cl09_threshold_sweep",
      // round-8 eighth batch: ev16 one user exchange; dd20 sweeps dd04's
      // banded pair stream (never recomputes per radius, and the radius
      // grid joins ≤4-row histograms, never raw pairs); ir14's window
      // scoring must stay confined to the broadcast top-k docs.
      // round-12: cl03 (listed above) no longer pays the quadratic exact
      // scan here — above KnnScoreBudget the routing derives an
      // approximate IVF by default and the output carries the sampled
      // recall@k. cl07 (which folds the same kNN member twice) stays on
      // the sf0.1 bench — its rehearsal value is subsumed by cl03's now
      // that the member self-routes.
      "ev16_ab_test", "dd20_hamming_sweep", "ir14_snippets",
      // round-8 ninth batch: ta23's merge rounds must stay vocab-scale
      // (one corpus pass) under the amplified corpus
      "ta23_bpe_merges",
      // round-8 tenth batch: mm08's decode+hash must stay one flatMap on
      // the scan with pairing bounded by true frame collisions; cl08
      // composes the audited ta01/cl02 passes (q43 reads TPC-H — it
      // rehearses under Bench at sf0.1 like q39/q40/dq06)
      "mm08_audio_neardup", "cl08_langid_agreement",
      // round-8 eleventh batch: pl05's application join must stay
      // word-keyed at vocab scale under the amplified corpus; sa11 one
      // user exchange
      "pl05_tokenizer_apply", "sa11_temporal_split")
    // q39/q40 and dq06 read lineitem/the TPC-H star, which the stress
    // corpus does not amplify — they rehearse under Bench at sf0.1 instead
    val dedupSubset = Seq("dd01_exact_dedup", "dd03_minhash_lsh",
      "dd05_dup_clusters", "dd06_dedup_apply", "dd12_streaming_neardup")
    val unknownNames =
      nameArgs.toSeq.filterNot((queries ++ dedupSubset).contains)
    if (unknownNames.nonEmpty)
      sys.error(s"unknown/non-stress queries: ${unknownNames.mkString(", ")}")
    // mode pairing guard (round-10 advice): a name must belong to the
    // corpus mode actually being built, or the run would produce
    // success-looking SCALE evidence against the wrong corpus — the exact
    // thing the strict parse exists to prevent. dd01/dd03/dd12 live in
    // both lists and run under either mode.
    val modeList = if (exactCopies) dedupSubset else queries
    val wrongMode = nameArgs.toSeq.filterNot(modeList.contains)
    if (wrongMode.nonEmpty)
      sys.error(s"queries not in ${if (exactCopies) "exact" else "amplified"}" +
        s"-mode list: ${wrongMode.mkString(", ")} " +
        "(dedup-subset names need 'exact'; scalable names forbid it)")
    val selected =
      if (nameArgs.nonEmpty) modeList.filter(nameArgs.contains)
      else modeList
    var failed = false
    selected.foreach { name =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try {
        // TIME the noop write (forces every column, same as Bench) — a bare
        // count() lets Catalyst eliminate prunable subtrees (e.g. dd12's
        // grouped-left-join verdict) and would time a skeleton plan. The
        // row count rides the SAME job as an Observation, not a second run.
        val df = graft.SparkEntry.queries(name)(spark, out)
        val obs = org.apache.spark.sql.Observation(s"stress_$name")
        df.observe(obs, count(lit(1)).as("n"))
          .write.format("noop").mode("overwrite").save()
        val secs = (System.nanoTime() - t0) / 1e9
        val n = obs.get("n")
        println(f"[stress] $name: $secs%.2f s, $n rows")
      } catch { case t: Throwable =>
        failed = true
        println(s"[stress] $name FAILED: ${t.getClass.getName}: ${t.getMessage}")
      }
    }
    // hot-bucket guard rehearsal: with the cap set BELOW the per-bucket
    // population this corpus's duplication creates (every doc has copies-1
    // true near-dups, so LSH buckets hold ~copies members), the star
    // fallback must engage — the WARN line is the evidence — and the pair
    // pass must stay linear per bucket while still connecting every copy
    // group (dedupApply/dupClusters semantics survive the approximation).
    if (exactCopies) { spark.stop(); if (failed) sys.exit(1); return }
    val cap = math.max(copies / 2, 2)
    spark.catalog.clearCache()
    val t0g = System.nanoTime()
    try {
      val pairs = graft.operators.Dedup.minhashLshPairsCapped(spark, out, cap)
      val obs = org.apache.spark.sql.Observation("stress_hot_bucket_guard")
      pairs.observe(obs, count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0g) / 1e9
      println(f"[stress] hot_bucket_guard cap=$cap: $secs%.2f s, ${obs.get("n")} verified pairs via star fallback")
    } catch { case t: Throwable =>
      failed = true
      println(s"[stress] hot_bucket_guard FAILED: ${t.getClass.getName}: ${t.getMessage}")
    }
    spark.stop()
    if (failed) sys.exit(1)
  }
}
