package graft.state

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession.{rocksDbStateStore, sf0001, spark, withConfs}

/** sa13 — continuous ingestion admission: fold semantics per gate, batch
  * replay vs an independent window-cumsum model, stream/batch equality on
  * the same increments, and the rolling-budget TTL. */
class AdmissionSpec extends AnyFunSuite {

  import AdmissionStream._

  private def docsDF(rows: (Long, String, String, String)*) = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "lang", "source", "text")
  }

  // passes every stateless gate for an even doc_id: predicts 'en' (two
  // profile stopwords), mean token length (29+6-... ) = (34-6+1)/6 ≈ 4.83
  // in [4.05, 4.95], and even small ids hash under the 0.8 cut (1, 2, 4
  // do; 0, 3, 5, 10 do not — asserted below, derived from md5)
  private val passText = "the data stream window register of"

  test("stateless gates: each reason fires on its crafted document") {
    val g = gatedDocs(docsDF(
      (1L, "en", "s", passText),
      (2L, "en", "s", ""),                                // empty
      (4L, "zh", "s", passText),                          // langid says en
      (6L, "en", "s", "the abcdefghijklmnop the abcdefghijklmnop xy"), // atl 9+
      (3L, "en", "s", passText)))                         // md5 prefix >= cut
      .collect().map(r => r.getLong(0) -> Option(r.getString(3)).orNull).toMap
    assert(g(1L) == null)
    assert(g(2L) == "empty")
    assert(g(4L) == "lang")
    assert(g(6L) == "quality")
    assert(g(3L) == "sample")
  }

  test("budget fold: counter advances on gate-passers only; admit while under") {
    val rows = Iterator(
      GateRow(1L, "s", 6L, null),
      GateRow(2L, "s", 4L, "lang"),  // rejected upstream: no spend
      GateRow(3L, "s", 6L, null),
      GateRow(4L, "s", 1L, null))
    val (out, cum) = processSourceGroup(0L, rows, budget = 10L)
    assert(cum == 12L) // 6 + 6: neither the lang reject nor the budget
    // reject spends — ADMITTED tokens only (the TTL-refresh contract)
    val byId = out.map(v => v.doc_id -> v).toMap
    assert(byId(1L).admitted && byId(1L).cum_before.contains(0L))
    assert(!byId(2L).admitted && byId(2L).reason == "lang" &&
      byId(2L).cum_before.isEmpty)
    assert(byId(3L).admitted && byId(3L).cum_before.contains(6L))
    assert(!byId(4L).admitted && byId(4L).reason == "budget" &&
      byId(4L).cum_before.contains(12L))
    // admitted set is a prefix of the gate-passing arrivals
    val passers = out.filter(_.reason != "lang").map(_.admitted)
    assert(passers == passers.sorted.reverse)
    // a group of pure rejections leaves the counter untouched — the
    // no-state-write path that keeps a flooding source's TTL expiring
    val (out2, cum2) = processSourceGroup(12L,
      Iterator(GateRow(9L, "s", 5L, null)), budget = 10L)
    assert(cum2 == 12L && !out2.head.admitted &&
      out2.head.reason == "budget" && out2.head.cum_before.contains(12L))
  }

  test("budget fold properties hold on generated arrivals (fixed-seed)") {
    import org.scalacheck.{Gen, rng}
    val gen = for {
      n <- Gen.choose(0, 40)
      rows <- Gen.listOfN(n, for {
        tok <- Gen.choose(1L, 20L)
        reason <- Gen.oneOf(null, null, null, "lang", "quality", "sample")
      } yield (tok, reason))
      budget <- Gen.choose(1L, 120L)
      cum0 <- Gen.choose(0L, 30L)
    } yield (rows.zipWithIndex.map { case ((t, r), i) =>
      GateRow(i.toLong, "s", t, r) }, budget, cum0)
    (0 until 200).foreach { seed =>
      gen(Gen.Parameters.default, rng.Seed(seed.toLong)).foreach {
        case (rows, budget, cum0) =>
          val (out, cum) = processSourceGroup(cum0, rows.iterator, budget)
          // counter = cum0 + admitted spend exactly
          assert(cum == cum0 + out.filter(_.admitted).map(_.n_tokens).sum)
          // admitted set is a prefix of the gate-passers; rejects carry
          // 'budget' + the frozen counter; upstream rejects carry no counter
          val passers = out.filter(v => v.reason == null || v.reason == "budget")
          assert(passers.map(_.admitted) ==
            passers.map(_.admitted).sorted.reverse, s"seed $seed not a prefix")
          passers.foreach { v =>
            assert(v.cum_before.nonEmpty)
            assert(v.admitted == (v.cum_before.get < budget))
          }
          // the equivalence the oracle relies on: admit flag from the
          // GATE-PASSING cumsum equals the fold's admitted-spend decision
          var gatepass = cum0
          passers.foreach { v =>
            assert(v.admitted == (gatepass < budget),
              s"seed $seed: gatepass-cumsum flag diverged at doc ${v.doc_id}")
            gatepass += v.n_tokens
          }
          out.filter(v => v.reason != null && v.reason != "budget")
            .foreach(v => assert(v.cum_before.isEmpty && !v.admitted))
      }
    }
  }

  test("batch replay equals the independent window-cumsum model at sf0.001") {
    val g = gatedDocs(graft.core.Tables.documents(spark, sf0001))
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cumg = coalesce(sum(when(col("reason").isNull, col("n_tokens"))
      .otherwise(0L)).over(w), lit(0L))
    val cumA = coalesce(sum(when(col("admitted"), col("n_tokens"))
      .otherwise(0L)).over(w), lit(0L))
    val expected = g.withColumn("cumg", cumg)
      .withColumn("admitted",
        col("reason").isNull && col("cumg") < BudgetTokens)
      .withColumn("cum_a", cumA)
      .select(col("doc_id"), col("admitted"),
        when(col("reason").isNotNull, col("reason"))
          .when(!col("admitted"), "budget").as("reason"),
        when(col("reason").isNull, col("cum_a")).as("cum_before"))
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), Option(r.getString(2)).orNull,
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    val got = streamingAdmission(spark, sf0001).collect()
    assert(got.length == expected.size && got.nonEmpty)
    got.foreach { r =>
      val o = (r.getBoolean(3), Option(r.getString(4)).orNull,
        if (r.isNullAt(5)) None else Some(r.getLong(5)))
      assert(o == expected(r.getLong(0)), s"doc ${r.getLong(0)}: $o")
    }
    // the corpus exercises the gates: some admitted, some lang-rejected
    assert(got.count(_.getBoolean(3)) > 0)
    assert(got.count(r => r.getString(4) == "lang") > 0)
  }

  test("streaming replay over increments equals the batch run (transformWithState)") {
    withConfs(rocksDbStateStore) {
      import spark.implicits._
      val docs = graft.core.Tables.documents(spark, sf0001)
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
        .as[(Long, String, String, String)].collect().sortBy(_._1)
      val inc = docs.grouped(math.max(docs.length / 3 + 1, 1)).toSeq
      val input = MemoryStream[(Long, String, String, String)](spark)
      val gated = gatedDocs(input.toDS()
        .toDF("doc_id", "lang", "source", "text")).as[GateRow]
      val q = admissionStream(gated).toDF()
        .writeStream.format("memory").queryName("sa13_stream")
        .outputMode(OutputMode.Append).start()
      try {
        inc.foreach { batch =>
          input.addData(batch.toSeq); q.processAllAvailable()
        }
        val streamed = spark.table("sa13_stream")
          .orderBy(col("doc_id")).collect().map(_.toSeq)
        val batchRun = streamingAdmission(spark, sf0001)
          .select(col("doc_id"), col("source"), col("n_tokens"),
            col("admitted"), col("reason"), col("cum_before"))
          .collect().map(_.toSeq)
        assert(streamed.length == batchRun.length && streamed.nonEmpty)
        streamed.zip(batchRun).foreach { case (s, b) => assert(s == b) }
      } finally q.stop()
    }
  }

  test("crash between state commit and output commit replays exactly-once") {
    // The exactly-once claim the budget counter makes (round-14, verdict
    // item #6): a micro-batch that died AFTER the state store committed
    // its version but BEFORE the batch's commit-log entry landed is
    // replayed on restart AGAINST THE PRE-BATCH STATE — the replayed
    // verdicts are identical and the spend is counted once, not twice.
    // The crash window is recreated literally: run the batch, then delete
    // its commits/ entry from the checkpoint before restarting.
    withConfs(rocksDbStateStore) {
      import spark.implicits._
      val ckpt = java.nio.file.Files.createTempDirectory("sa13_crash_ck").toString
      val input = MemoryStream[(Long, String, String, String)](spark)
      // the memory sink refuses checkpoint recovery; foreachBatch is the
      // fault-tolerant sink that also lets the test SEE the replayed batch
      val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Boolean, String, Long)]
      // budget 12 = exactly two passText admissions (6 tokens each);
      // doc ids 1/2/4 all clear the md5 sample gate (asserted above)
      def start() = {
        val gated = gatedDocs(input.toDS()
          .toDF("doc_id", "lang", "source", "text")).as[GateRow]
        admissionStream(gated, budget = 12L).toDF()
          .writeStream.option("checkpointLocation", ckpt)
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            df.collect().foreach(r => got.add((r.getLong(0), r.getBoolean(3),
              Option(r.getString(4)).orNull, if (r.isNullAt(5)) -1L else r.getLong(5))))
          }
          .outputMode(OutputMode.Append).start()
      }
      def drain(): Seq[(Long, Boolean, String, Long)] = {
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean, String, Long)]
        var v = got.poll()
        while (v != null) { out += v; v = got.poll() }
        out.toSeq.sortBy(_._1)
      }
      val q1 = start()
      try {
        input.addData((1L, "en", "s", passText)) // batch 0: admitted, spend 6
        q1.processAllAvailable()
        input.addData((2L, "en", "s", passText)) // batch 1: admitted, cum 6→12
        q1.processAllAvailable()
        assert(drain() == Seq((1L, true, null, 0L), (2L, true, null, 6L)))
      } finally q1.stop()
      // the crash: batch 1's commit-log entry vanishes; its state-store
      // version (and its offsets entry) survive — restart must replay it
      val commits = new java.io.File(ckpt, "commits").listFiles()
        .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
      assert(commits.map(_.getName) sameElements Array("0", "1"),
        s"unexpected commit log: ${commits.map(_.getName).mkString(",")}")
      assert(commits.last.delete(), s"could not delete ${commits.last}")
      // the local-FS checksum sidecar must crash along with its file, or
      // the replay's commit rename trips over the stale .crc
      val crc = new java.io.File(commits.last.getParentFile,
        "." + commits.last.getName + ".crc")
      if (crc.exists()) assert(crc.delete(), s"could not delete $crc")
      val q2 = start()
      try {
        q2.processAllAvailable() // replays batch 1 from the checkpoint
        // the replay ran against the PRE-batch counter: doc 2 is admitted
        // again with the same frozen cum_before=6. A double-counted spend
        // (replay on top of the crashed batch's state) would start the
        // fold at 12 and budget-reject it — the failure this test pins out
        val replayed = drain()
        assert(replayed == Seq((2L, true, null, 6L)),
          s"replayed batch diverged: $replayed")
        // and the post-replay counter holds the spend ONCE: the next
        // passer sees exactly 12 and is budget-rejected, not 18
        input.addData((4L, "en", "s", passText))
        q2.processAllAvailable()
        val after = drain()
        assert(after == Seq((4L, false, "budget", 12L)),
          s"post-replay state diverged: $after")
      } finally q2.stop()
    }
  }

  test("TTL: expired spend re-opens admission (rolling-window budget)") {
    // checkpoint checksums off: see NearDupSpec's TTL deadlock note
    withConfs(rocksDbStateStore,
        "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false") {
      // ProcessingTime mode schedules continuous cleanup batches, so
      // processAllAvailable would never return — observe progress through a
      // listener instead (NearDupSpec's TTL harness)
      val seen = new java.util.concurrent.atomic.AtomicLong
      val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit =
          if (e.progress.name == "sa13_ttl") seen.addAndGet(e.progress.numInputRows)
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
        val input = MemoryStream[(Long, String, String, String)](spark)
        val gated = gatedDocs(input.toDS()
          .toDF("doc_id", "lang", "source", "text")).as[GateRow]
        // budget 6 tokens; passText spends exactly 6 — a second arrival
        // inside the window is over budget, but once the spend expires the
        // counter is gone and the source re-admits
        val q = admissionStream(gated, budget = 6L,
            ttl = Some(java.time.Duration.ofSeconds(4))).toDF()
          .writeStream.format("memory").queryName("sa13_ttl")
          .outputMode(OutputMode.Append).start()
        try {
          input.addData((1L, "en", "s", passText))
          waitUntil(seen.get >= 1, "doc 1 processed")
          input.addData((2L, "en", "s", passText))
          waitUntil(seen.get >= 2, "doc 2 processed")
          Thread.sleep(6000) // > TTL: the source's spend expires
          input.addData((4L, "en", "s", passText))
          waitUntil(seen.get >= 3, "doc 4 processed")
          val rows = spark.table("sa13_ttl")
            .select(col("doc_id"), col("admitted"), col("reason")).collect()
            .map(r => r.getLong(0) -> (r.getBoolean(1), Option(r.getString(2)).orNull))
            .toMap
          assert(rows(1L) == ((true, null)), s"doc 1: ${rows(1L)}")
          assert(rows(2L) == ((false, "budget")), s"doc 2: ${rows(2L)}")
          assert(rows(4L) == ((true, null)), s"doc 4 after expiry: ${rows(4L)}")
        } finally q.stop()
      } finally spark.streams.removeListener(listener)
    }
  }
}
