package graft.tools

import org.apache.spark.sql.SparkSession
import graft.core.GraftSession

/** Ad-hoc profiler: `sbt "runMain graft.tools.Scratch q09_semi_join ..."`
  * times each named SparkEntry query at sf0.1 (noop-forced, 2 runs) and
  * optionally dumps the formatted plan with -v. */
object Scratch {
  def main(args: Array[String]): Unit = {
    val verbose = args.contains("-v")
    val names = args.filterNot(_.startsWith("-")).toSeq
    val spark = GraftSession.local()
    // -safe: run under the cluster-safe checkpoint policy (reliable
    // checkpoint() into target/ckpt_scratch) — for measuring the
    // write+read overhead the flag costs at a given corpus size
    if (args.contains("-safe")) {
      spark.sparkContext.setCheckpointDir("target/ckpt_scratch")
      spark.conf.set(graft.core.Checkpoints.ConfKey, "true")
      println("[scratch] cluster-safe mode: reliable checkpoints on")
    }
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // `memo`: time the session-memo builds themselves (clear + rebuild,
    // twice each) — with -safe this measures exactly what the reliable
    // checkpoint policy costs over localCheckpoint at this corpus size
    if (args.contains("memo")) {
      def timed(label: String)(f: => Unit): Unit = (1 to 2).foreach { i =>
        val t0 = System.nanoTime(); f
        println(f"[scratch] $label run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      timed("pair_memo") {
        graft.operators.Dedup.clearPairCache()
        graft.operators.Dedup.warmPairMemo(spark, dir)
      }
      timed("er_memo") {
        graft.operators.Resolution.clearMatchCache()
        graft.operators.Resolution.warmMatchMemo(spark, dir)
      }
      spark.stop(); return
    }
    if (args.contains("dd03stages")) { dd03Stages(spark, dir); spark.stop(); return }
    if (args.contains("xm01stages")) { xm01Stages(spark, dir); spark.stop(); return }
    if (args.contains("funnelstages")) { funnelStages(spark, dir); spark.stop(); return }
    if (args.contains("censusab")) { censusAb(spark, dir); spark.stop(); return }
    if (args.contains("bucketcensus")) { bucketCensus(spark, dir); spark.stop(); return }
    // `show <query...>`: print the first rows instead of timing — for
    // reading a data-bearing column (e.g. cl03's recall_at_k) off a
    // rehearsal corpus without a full Verify dump
    if (args.contains("show")) {
      names.filter(_ != "show").foreach { name =>
        graft.SparkEntry.queries(name)(spark, dir).show(5, truncate = false)
      }
      spark.stop(); return
    }
    // `count <query...>`: print row counts (e.g. a screen's survivor
    // volume at a given sf — the number a gate change moves)
    if (args.contains("count")) {
      names.filter(_ != "count").foreach { name =>
        val n = graft.SparkEntry.queries(name)(spark, dir).count()
        println(s"[scratch] $name: $n rows")
      }
      spark.stop(); return
    }
    names.foreach { name =>
      val q = graft.SparkEntry.queries(name)
      if (verbose) q(spark, dir).explain("formatted")
      (1 to 2).foreach { i =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        q(spark, dir).write.format("noop").mode("overwrite").save()
        println(f"[scratch] $name run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }

  /** LSH bucket-population census for dd03 (band,bh) and dd04
    * (band,bandval): per-size bucket counts and the within-bucket
    * all-pairs candidate mass — the numbers the adaptive hot-bucket cap
    * budget is tuned against. */
  private def bucketCensus(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions._
    import graft.core.Tables
    import graft.functions.Text
    def report(label: String, census: org.apache.spark.sql.DataFrame): Unit = {
      val h = census.groupBy(col("count")).agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val totalPairs = h.map { case (c, n) => n * c * (c - 1) / 2 }.sum
      val over64 = h.filter(_._1 > 64)
      val over64Pairs = over64.map { case (c, n) => n * c * (c - 1) / 2 }.sum
      println(s"[census] $label: maxBucket=${h.lastOption.map(_._1).getOrElse(0L)} " +
        s"totalPairs=$totalPairs pairsFromBucketsOver64=$over64Pairs " +
        s"bucketsOver64=${over64.map(_._2).sum}")
      println(s"[census] $label sizes>16: " + h.filter(_._1 > 16)
        .map { case (c, n) => s"$c:$n" }.mkString(" "))
    }
    // dd03: canonicalized representatives -> minhash -> 32 bands
    val fpDocs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), md5(col("text")).as("fp"))
    val groups = fpDocs.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("rep"), max(col("text")).as("text"))
    val sigs = groups.select(col("rep").as("doc_id"),
      graft.functions.MinHashFromText.minhashFromText(col("text"), 5, 128).as("sig"))
    val bands = sigs.select(col("doc_id"),
        explode(Text.lshBands(col("sig"), 128, 32)).as("b"))
      .select(col("b.band").as("band"), col("b.bh").as("bh"))
    report("dd03", bands.groupBy(col("band"), col("bh")).count())
    // dd04: simhash 15-bit bands
    val sdocs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.Md5SimHash60.md5Simhash60(
          split(Text.normText(col("text")), " ")).as("sh64"))
    val banded = sdocs.select(
      posexplode(array((0 until 4).map(b =>
        shiftright(col("sh64"), b * 15).bitwiseAND(lit(0x7fffL))): _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bandval")
    report("dd04", banded.groupBy(col("band"), col("bandval")).count())
  }

  /** A/B: the round-14 one-pass census expressions vs the regex/HOF
    * formulations they replaced, timed as bare projections over the same
    * corpus scan (noop sink) — isolates expression cost from the scan,
    * sort and (for ta06/ta09) join/shuffle cost the query-level numbers
    * fold in. */
  private def censusAb(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions._
    import graft.core.Tables
    import graft.functions.{FleschCensus, PiiScan, Text, TokenNgrams, TokenNgramsMulti}
    def timed(label: String)(df: => org.apache.spark.sql.DataFrame): Unit =
      (1 to 3).foreach { i =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        println(f"[censusab] $label run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    val docs = Tables.parallel(Tables.documents(spark, dir))
      .select(col("doc_id"), Text.normText(col("text")).as("t"))
    // ta21 census
    timed("flesch_native") {
      docs.select(col("doc_id"), FleschCensus.census(col("t")).as("c"))
    }
    timed("flesch_regex") {
      val w = split(col("t"), " ")
      docs.select(col("doc_id"), struct(
        size(w).cast("long"),
        regexp_count(col("t"), lit("[.!?]+")).cast("long"),
        aggregate(w, lit(0L),
          (acc, tok) => acc + greatest(lit(1), regexp_count(tok, lit("[aeiouy]+"))))).as("c"))
    }
    // ta09 gram emission (no shuffle, just the arrays)
    timed("ngrams_multi") {
      docs.select(col("doc_id"),
        TokenNgramsMulti.tokenNgramsMulti(col("t"), Seq(2, 3)).as("g"))
    }
    timed("ngrams_two_pass") {
      def tagged(n: Int) = transform(TokenNgrams.tokenNgrams(col("t"), n),
        g => struct(lit(n).as("gn"), g.as("gram")))
      docs.select(col("doc_id"), concat(tagged(2), tagged(3)).as("g"))
    }
    // ta15 scan (raw text, as piiQuery uses)
    val raw = Tables.parallel(Tables.documents(spark, dir))
      .select(col("doc_id"), col("text").as("t"))
    timed("pii_native") {
      raw.select(col("doc_id"), PiiScan.scan(col("t")).as("p"))
    }
    timed("pii_regex") {
      val EmailRe = "[a-z0-9]+@[a-z]+\\.[a-z]+"
      val PhoneRe = "555-[0-9]{4}"
      val Ipv4Re = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
      val CardRe = "4[0-9]{15}"
      def hits(re: String) = regexp_extract_all(col("t"), lit(re), lit(0))
      raw.select(col("doc_id"), struct(
        size(hits(EmailRe)).cast("long"),
        size(hits(PhoneRe)).cast("long"),
        size(hits(Ipv4Re)).cast("long"),
        hits(CardRe),
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          col("t"), EmailRe, "[EMAIL]"), PhoneRe, "[PHONE]"),
          Ipv4Re, "[IP]"), CardRe, "[CARD]")).as("p"))
    }
  }

  /** Stage-by-stage timing of the dd23 containment funnel: the dd22
    * screen at the funnel's k (alone, noop-forced), then the full funnel
    * — the difference is the precision gate + persist + verify cost. */
  private def funnelStages(spark: SparkSession, dir: String): Unit = {
    import graft.operators.Dedup
    def timed(label: String)(f: => Unit): Unit = (1 to 2).foreach { i =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime(); f
      println(f"[scratch] $label run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    timed("screen_k64_dd22") {
      Dedup.sketchContainmentQuery(spark, dir)
        .write.format("noop").mode("overwrite").save()
    }
    timed("screen_k256_feas") {
      Dedup.sketchContainmentQuery(spark, dir, Dedup.FunnelScreenK,
          Dedup.SketchTau, feasibleTau = Some(Dedup.ContainTau))
        .write.format("noop").mode("overwrite").save()
    }
    timed("full_funnel") {
      Dedup.containmentFunnelQuery(spark, dir)
        .write.format("noop").mode("overwrite").save()
    }
  }

  /** Stage-level attribution of the xm01 pair-memo build (round-15,
    * verdict item 4): times each staging persist of the REAL
    * minhashLshPairsTracked chain by materializing it with a count, in
    * the same order the build executes, so the 4–5 s the bench charges
    * to xm01 is attributed to canonicalize vs signatures vs banding vs
    * candidate+prefilter vs shingle-verify vs expansion+checkpoint.
    * Run twice: run2 is the JIT-warm attribution. */
  private def xm01Stages(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions._
    import graft.core.Tables
    import graft.functions.{MinHashFromText, SigOverlap, Text}
    (1 to 2).foreach { round =>
      spark.catalog.clearCache()
      def timed[T](label: String)(f: => T): T = {
        val t0 = System.nanoTime(); val r = f
        println(f"[scratch] run$round $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
        r
      }
      val fpDocs = Tables.parallel(Tables.documents(spark, dir))
        .select(col("doc_id"), col("text"), md5(col("text")).as("fp"))
      val groups = fpDocs.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("rep"), max(col("text")).as("text"))
        .persist()
      val mem = fpDocs.select(col("doc_id"), col("fp"))
        .join(groups.select(col("fp"), col("rep")), "fp")
        .select(col("rep"), col("doc_id")).persist()
      timed("canonicalize (groups+mem)") { groups.count(); mem.count() }
      val docs = groups.select(col("rep").as("doc_id"),
        MinHashFromText.minhashFromText(col("text"), 5, 128).as("sig")).persist()
      timed("signatures") { docs.count() }
      val bands = docs.select(col("doc_id"),
          explode(Text.lshBands(col("sig"), 128, 32)).as("b"))
        .select(col("doc_id"), col("b.band").as("band"), col("b.bh").as("bh"))
        .persist()
      timed("bands") { bands.count() }
      val cand = bands.alias("x").join(bands.alias("y"),
          col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      val sigA = docs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))
      val sigB = docs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"))
      val pre = cand.join(broadcast(sigA), "doc_a").join(broadcast(sigB), "doc_b")
        .filter(SigOverlap.sigOverlap(col("sig_a"), col("sig_b")) >= 0.6)
        .select(col("doc_a"), col("doc_b")).distinct().persist()
      timed("candidates+sig-prefilter") { println(s"  pre=${pre.count()}") }
      val needed = pre.select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id")).distinct()
      val sh = Tables.documents(spark, dir)
        .join(broadcast(needed), "doc_id")
        .select(col("doc_id"),
          graft.functions.CharShingles.charShingles(col("text"), 5).as("sh"))
        .withColumn("n", size(col("sh"))).persist()
      val repPairs = pre
        .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"), col("n").as("n_a")), "doc_a")
        .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"), col("n").as("n_b")), "doc_b")
        .withColumn("jaccard", Text.jaccardWithSizes(col("sh_a"), col("sh_b"), col("n_a"), col("n_b")))
        .filter(col("jaccard") >= 0.8)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
      timed("shingle-verify") { println(s"  verified=${repPairs.count()}") }
      timed("memo build end-to-end (clear+warm)") {
        graft.operators.Dedup.clearPairCache()
        graft.operators.Dedup.warmPairMemo(spark, dir)
      }
    }
  }

  /** Stage-by-stage timing of the dd03 MinHash-LSH pipeline. */
  private def dd03Stages(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions._
    import graft.core.Tables
    import graft.functions.{MinHashFromText, SigOverlap, Text}
    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[scratch] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    val docs = timed("sig+persist") {
      val d = Tables.documents(spark, dir)
        .select(col("doc_id"),
          MinHashFromText.minhashFromText(col("text"), 5, 128).as("sig"))
        .persist()
      d.count(); d
    }
    val bands = timed("bands") {
      val b = docs.select(col("doc_id"),
          explode(Text.lshBands(col("sig"), 128, 32)).as("b"))
        .select(col("doc_id"), col("b.band").as("band"), col("b.bh").as("bh"))
        .persist()
      b.count(); b
    }
    val cand = timed("cand join+distinct") {
      val c = bands.alias("x").join(bands.alias("y"),
          col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct().persist()
      println(s"[scratch] candidates=${c.count()}"); c
    }
    val pre = timed("prefilter") {
      val p = cand
        .join(docs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
        .join(docs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
        .filter(SigOverlap.sigOverlap(col("sig_a"), col("sig_b")) >= 0.6)
        .select(col("doc_a"), col("doc_b")).persist()
      println(s"[scratch] prefiltered=${p.count()}"); p
    }
    timed("verify") {
      val sh = Tables.documents(spark, dir)
        .select(col("doc_id"), graft.functions.CharShingles.charShingles(col("text"), 5).as("sh"))
        .withColumn("n", size(col("sh")))
      val out = pre
        .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"), col("n").as("n_a")), "doc_a")
        .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"), col("n").as("n_b")), "doc_b")
        .withColumn("jaccard", Text.jaccardWithSizes(col("sh_a"), col("sh_b"), col("n_a"), col("n_b")))
        .filter(col("jaccard") >= 0.8).count()
      println(s"[scratch] pairs=$out")
    }
  }
}
