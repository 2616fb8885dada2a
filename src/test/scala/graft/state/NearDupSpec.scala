package graft.state

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession.{rocksDbStateStore, sf0001, spark, withConfs}
import graft.operators.Dedup

/** dd12 — continuous near-dup dedup: semantics vs in-JVM brute force,
  * batch/stream equality on the same increments, and the hot-bucket cap. */
class NearDupSpec extends AnyFunSuite {

  import NearDupStream._

  test("batch verdict equals brute-force prefix-ordered near-dup") {
    // ground truth from the exact quadratic pair set (dd02's operator):
    // a doc is dropped iff some earlier doc has Jaccard >= 0.8
    val pairs = Dedup.ngramJaccardPairs(spark, sf0001)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expectDupOf = pairs.groupBy(_._2).map { case (b, ps) => b -> ps.map(_._1).min }
    val got = streamingNearDup(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
    assert(got.nonEmpty)
    got.foreach { case (id, keep, dupOf) =>
      assert(dupOf == expectDupOf.get(id), s"doc $id: dup_of $dupOf vs ${expectDupOf.get(id)}")
      assert(keep == dupOf.isEmpty)
    }
    assert(got.count(!_._2) == expectDupOf.size) // some docs actually dropped
    assert(expectDupOf.nonEmpty)
  }

  test("streaming replay over increments equals the batch run (transformWithState)") {
    withConfs(rocksDbStateStore) {
      import spark.implicits._
      val docs = graft.core.Tables.documents(spark, sf0001)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .collect().sortBy(_._1)
      // three replay increments in arrival (= doc_id) order; the two
      // stateful stages run as separate queries chained topic-style (the
      // deployment shape: canon stream feeds the banding stage's input)
      val inc = docs.grouped(math.max(docs.length / 3 + 1, 1)).toSeq
      val input = MemoryStream[(Long, String)](spark)
      val canonQ = canonicalStream(input.toDS().toDF("doc_id", "text")).toDF()
        .writeStream.format("memory").queryName("dd12_canon")
        .outputMode(OutputMode.Append).start()
      val repInput = MemoryStream[(Long, String)](spark)
      val banded = bandedDocs(repInput.toDS().toDF("doc_id", "text"))
      val q = candidatesStream(banded).toDF()
        .writeStream.format("memory").queryName("dd12_cands")
        .outputMode(OutputMode.Append).start()
      try {
        inc.foreach { batch =>
          input.addData(batch.toSeq); canonQ.processAllAvailable()
          val ids = batch.map(_._1)
          val newReps = spark.table("dd12_canon")
            .filter(col("doc_id") === col("rep") && col("doc_id").isin(ids: _*))
            .select(col("doc_id"), col("text")).as[(Long, String)].collect()
          repInput.addData(newReps.toSeq); q.processAllAvailable()
        }
        val streamedCanon = spark.table("dd12_canon")
        val streamedCands = spark.table("dd12_cands")
        val streamed = verdict(spark, sf0001, streamedCanon, streamedCands)
          .collect().map(_.toSeq)
        val batchRun = streamingNearDup(spark, sf0001).collect().map(_.toSeq)
        assert(streamed.length == batchRun.length)
        assert(streamed.sameElements(batchRun))
        // the stateful stores produced the same canon membership and the
        // same candidate SET as the batch folds (order/multiplicity may
        // differ across microbatch boundaries)
        val scanon = streamedCanon.select("doc_id", "rep").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val bcanonDs = canonical(graft.core.Tables.documents(spark, sf0001))
        val bcanon = bcanonDs.toDF().select("doc_id", "rep").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(scanon == bcanon)
        val sc = streamedCands.select("doc_a", "doc_b").distinct().collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val bc = candidates(bandedDocs(bcanonDs.toDF()
          .filter(col("doc_id") === col("rep")).select(col("doc_id"), col("text"))))
          .toDF().select("doc_a", "doc_b").distinct().collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(sc == bc)
      } finally { q.stop(); canonQ.stop() }
    }
  }

  test("TTL: aged-out bucket members stop matching (store bounded in time)") {
    // TTL state adds secondary-index column families whose per-commit file
    // fan-out deadlocks the checksum manager's fixed await pool in local
    // mode (tasks park in ChecksumCheckpointFileManager.awaitResult and the
    // first microbatch never finishes) — corruption checksums are
    // orthogonal to what this test pins, so switch them off here
    withConfs(rocksDbStateStore,
        "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false") {
      // In ProcessingTime mode the engine runs continuous cleanup batches
      // (the TTL makes every batch schedule another), so the stream is never
      // idle and processAllAvailable would block forever. Progress is
      // observed through a listener counting processed input rows instead.
      val seen = new java.util.concurrent.atomic.AtomicLong
      val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit =
          if (e.progress.name == "dd12_ttl") seen.addAndGet(e.progress.numInputRows)
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      }
      def waitUntil(cond: => Boolean, what: String): Unit = {
        val deadline = System.nanoTime + 120L * 1000 * 1000 * 1000
        while (!cond && System.nanoTime < deadline) Thread.sleep(50)
        assert(cond, s"timed out waiting for $what")
      }
      spark.streams.addListener(listener)
      try {
        import spark.implicits._
        // two identical docs (guaranteed near-dups, same buckets) arriving in
        // separate microbatches; with a 4 s retention and a 6 s gap, doc 1's
        // fingerprints age out before doc 2 arrives -> NO candidate pair.
        val text = "the quick brown fox jumps over the lazy dog " * 8
        val input = MemoryStream[(Long, String)](spark)
        val banded = bandedDocs(input.toDS().toDF("doc_id", "text"))
        val q = candidatesStream(banded,
            ttl = Some(java.time.Duration.ofSeconds(4))).toDF()
          .writeStream.format("memory").queryName("dd12_ttl")
          .outputMode(OutputMode.Append).start()
        try {
          input.addData((1L, text))
          waitUntil(seen.get >= 1, "doc 1 processed")
          Thread.sleep(6000) // > TTL: doc 1's bucket state expires
          input.addData((2L, text))
          waitUntil(seen.get >= 2, "doc 2 processed")
          val expired = spark.table("dd12_ttl").count()
          assert(expired == 0L, s"aged-out member still matched: $expired pairs")
          // negative control: doc 3 arrives INSIDE doc 2's retention window
          // and must still match it — TTL evicts by age, not wholesale
          input.addData((3L, text))
          waitUntil(seen.get >= 3, "doc 3 processed")
          waitUntil(spark.table("dd12_ttl").count() > 0, "pair (2,3) emitted")
          val pairs = spark.table("dd12_ttl").select("doc_a", "doc_b").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
          assert(pairs == Set((2L, 3L)), s"expected (2,3) only, got $pairs")
        } finally q.stop()
      } finally spark.streams.removeListener(listener)
    }
  }

  test("TTL: expired fingerprint memory re-canonicalizes an exact copy as a fresh rep") {
    // checkpoint checksums off: see the bucket TTL test's deadlock note
    withConfs(rocksDbStateStore,
        "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false") {
      val seen = new java.util.concurrent.atomic.AtomicLong
      val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit =
          if (e.progress.name == "dd12_canon_ttl") seen.addAndGet(e.progress.numInputRows)
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      }
      def waitUntil(cond: => Boolean, what: String): Unit = {
        val deadline = System.nanoTime + 120L * 1000 * 1000 * 1000
        while (!cond && System.nanoTime < deadline) Thread.sleep(50)
        assert(cond, s"timed out waiting for $what")
      }
      spark.streams.addListener(listener)
      try {
        import spark.implicits._
        val text = "identical boilerplate page"
        val input = MemoryStream[(Long, String)](spark)
        // 8 s TTL: wide enough that doc 2's microbatch cannot plausibly
        // slip past the retention window on a loaded machine (the race a
        // 4 s TTL would invite), small enough to expire in one sleep
        val q = canonicalStream(input.toDS().toDF("doc_id", "text"),
            ttl = Some(java.time.Duration.ofSeconds(8))).toDF()
          .writeStream.format("memory").queryName("dd12_canon_ttl")
          .outputMode(OutputMode.Append).start()
        try {
          input.addData((1L, text))
          waitUntil(seen.get >= 1, "doc 1 processed")
          // doc 2 arrives INSIDE the retention window: member of rep 1
          input.addData((2L, text))
          waitUntil(seen.get >= 2, "doc 2 processed")
          Thread.sleep(10000) // > TTL: the fingerprint memory expires
          // doc 3 arrives after expiry: must become its OWN representative,
          // exactly as a batch over the retention window would canonicalize
          input.addData((3L, text))
          waitUntil(seen.get >= 3, "doc 3 processed")
          waitUntil(spark.table("dd12_canon_ttl").count() >= 3, "3 canon rows")
          val rows = spark.table("dd12_canon_ttl")
            .select("doc_id", "rep").collect()
            .map(r => r.getLong(0) -> r.getLong(1)).toMap
          assert(rows == Map(1L -> 1L, 2L -> 1L, 3L -> 3L), s"got $rows")
        } finally q.stop()
      } finally spark.streams.removeListener(listener)
    }
  }

  test("canonical (batch): rep is the group-minimum id regardless of row order") {
    import org.apache.spark.sql.functions.col
    import graft.SparkTestSession.spark
    import spark.implicits._
    // deliberately unsorted arrivals; groups: {1,3,5}="a", {7,9}="b", {8}="c"
    val docs = Seq((5L, "a"), (3L, "a"), (9L, "b"), (1L, "a"), (7L, "b"), (8L, "c"))
      .toDF("doc_id", "text").repartition(4)
    val rows = canonical(docs).collect()
    val reps = rows.map(c => c.doc_id -> c.rep).toMap
    assert(reps == Map(1L -> 1L, 3L -> 1L, 5L -> 1L, 7L -> 7L, 9L -> 7L, 8L -> 8L))
    // text rides ONLY on representative rows
    rows.foreach { c =>
      if (c.doc_id == c.rep) assert(c.text != null, s"rep ${c.doc_id} lost its text")
      else assert(c.text == null, s"member ${c.doc_id} re-shipped its text")
    }
  }

  test("hot-bucket cap: star candidates only, state stops growing") {
    val sig = Array(1L, 2L, 3L, 4L)
    val arrivals = (0L until 6L).map(i => BandedDoc(0, 0L, i, sig))
    val (out, appended) =
      processBucket(Vector.empty, arrivals.iterator, cap = 2, prefilter = 0.5)
    // docs 0,1 stored (full compare); docs 2..5 compare vs first member only
    assert(appended.map(_.doc_id) == Vector(0L, 1L))
    assert(out.toSet == Set(
      CandidatePair(0L, 1L),
      CandidatePair(0L, 2L), CandidatePair(0L, 3L),
      CandidatePair(0L, 4L), CandidatePair(0L, 5L)))
    // resuming from the capped store: still star-only, nothing appended
    val (out2, appended2) = processBucket(appended,
      Iterator(BandedDoc(0, 0L, 9L, sig)), cap = 2, prefilter = 0.5)
    assert(appended2.isEmpty)
    assert(out2 == Vector(CandidatePair(0L, 9L)))
    // prefilter gate: disjoint signature emits nothing but still stores
    val (out3, appended3) = processBucket(Vector(SeenDoc(0L, sig)),
      Iterator(BandedDoc(0, 0L, 1L, Array(9L, 9L, 9L, 9L))), cap = 10, prefilter = 0.5)
    assert(out3.isEmpty && appended3.map(_.doc_id) == Vector(1L))
  }

  test("sort bound: a flooded bucket streams past the buffer without materializing") {
    val sig = Array(1L, 2L, 3L, 4L)
    // 10k arrivals, sort buffer bounded at 8 (clamped to cap=4): only the
    // prefix is buffered/sorted; the tail must stream one-at-a-time. A
    // counting iterator proves the fold never drains rows into a Seq first.
    var pulled = 0
    var maxPulledBeforeFirstTail = 0
    val rows = new Iterator[BandedDoc] {
      var i = 0L
      def hasNext: Boolean = i < 10000L
      def next(): BandedDoc = { pulled += 1; val d = BandedDoc(0, 0L, i, sig); i += 1; d }
    }
    val (out, appended) =
      processBucket(Vector.empty, rows, cap = 4, prefilter = 0.5, sortBound = 8)
    assert(pulled == 10000)
    assert(appended.map(_.doc_id) == Vector(0L, 1L, 2L, 3L)) // store capped
    // every arrival past the store cap stars against doc 0: full coverage
    assert(out.count(_.doc_a == 0L) == 9999)
    assert(out.size == 1 + 2 + 3 + 9996) // pre-cap all-pairs, then stars
    // an out-of-order TAIL (past the bound) still resolves: earlier-id
    // candidates come from the capped store's first member regardless
    val shuffled = (0L until 20L).map(i => BandedDoc(0, 0L, i, sig))
    val (outS, appendedS) = processBucket(Vector.empty,
      (shuffled.take(8) ++ shuffled.drop(8).reverse).iterator,
      cap = 4, prefilter = 0.5, sortBound = 8)
    assert(appendedS.map(_.doc_id) == Vector(0L, 1L, 2L, 3L))
    assert(outS.filter(_.doc_b >= 8L).forall(_.doc_a == 0L))
  }
}
