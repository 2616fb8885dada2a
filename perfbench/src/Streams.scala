package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.core.Message
import graft.sinks.{Transactions, TxProducers}
import graft.sinks.Transactions.SourceOffset
import graft.sources.Kafka
import graft.state.{GraftTableApp, TableTransaction}
import graft.streaming.{BalanceApp, Produce}

/** The benchmark's table app: fluvii's account-balance demo on the graft
  * state facade. It reads the running balance, adds the request's amount,
  * writes the balance back and produces an update carrying its source
  * coordinate (`src` header) next to the inherited `due_ns` header. */
object BalanceTableApp {
  val OutTopic = "balance_updates"
  val OutPartitions = 4
  private val Amount = "\"amount\":(-?[0-9]+)".r.unanchored

  def apply(txn: TableTransaction): Iterator[(Message, SourceOffset)] = {
    val m = txn.message
    val amount = m.value match {
      case Amount(v) => v.toInt
      case other => throw new IllegalStateException(s"no amount in $other")
    }
    val balance = BalanceApp.readBalance(txn.readTableEntry()) + amount
    txn.updateTableEntry(BalanceApp.writeBalance(balance))
    val out = Produce.message(m, s"""{"account_id":"${m.key}","balance":$balance}""",
      OutTopic, OutPartitions,
      headers = Map(TxLog.SrcHeader -> Some(TxLog.srcHeaderValue(m.partition, m.offset))))
    Iterator.single((out, SourceOffset(m.topic, m.partition, m.offset)))
  }
}

/** Workload `stream_catchup`: the exactly-once
  * consume → table → produce loop, composed from graft's public pieces:
  * `Kafka.toEnvelope` → `GraftTableApp.transform` → `Produce.message` →
  * `Transactions.writeBatchTransactional` inside `foreachBatch`, fed from a
  * `MemoryStream` of Kafka-source-shaped rows, trigger `ProcessingTime(0)`.
  *
  * It first fills the table with one message per account (untimed), then
  * warms up, then measures. */
object Streams {
  val SourcePartitions = 4
  /** fluvii's lag-gated batch mode: 100 msgs/txn batch × the ×10 multiplier. */
  val CatchupBatch = 1000
  val CatchupAccounts = 50000
  /** Engine counters (jobs, stages, tasks, ...) cover this many measured
    * batches, so they compare exactly between runs of different length. */
  val CountedBatches = 30
  /** Batch time falls for the first few dozen batches while the JIT warms
    * the per-batch path; the measured batches start after these. */
  val WarmBatches = 20
  /** Enough measured catch-up batches for ten beyond the reported p75. */
  val MinBatches = 40

  final class Pipeline(val in: MemoryStream[KafkaRow], val query: StreamingQuery,
      val ckpt: Path)

  /** Per-batch wall time inside `writeBatchTransactional`, traced runs only. */
  private val writeMs = new java.util.concurrent.ConcurrentHashMap[Long, Double]()

  def start(spark: SparkSession, ckpt: Path, tracer: Tracer): Pipeline = {
    import spark.implicits._
    val in = MemoryStream[KafkaRow](spark, SourcePartitions)
    val envelopes = Kafka.toEnvelope(in.toDF(), Generator.ValueSchemaJson)
    val out = GraftTableApp.transform(envelopes)(BalanceTableApp.apply)
    val traced = tracer.enabled
    val q = out.writeStream
      .foreachBatch { (ds: Dataset[(Message, SourceOffset)], id: Long) =>
        val t0 = System.nanoTime()
        val sc = ds.sparkSession.sparkContext
        tracer.span(0L, s"batch-$id", "sinks.writeBatchTransactional") { sid =>
          if (traced) sc.setLocalProperty(EngineListener.ParentKey, sid.toString)
          try Transactions.writeBatchTransactional(ds, TxLog.FactoryName, TxLog.GroupId)
          finally if (traced) sc.setLocalProperty(EngineListener.ParentKey, null)
        }
        if (traced) writeMs.put(id, (System.nanoTime() - t0) / 1e6)
        ()
      }
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    new Pipeline(in, q, ckpt)
  }

  private def stopPipeline(p: Pipeline): Unit = {
    p.query.stop()
    deleteTree(p.ckpt)
  }

  /** Set-up (repeated, see [[Main.repeatedSetup]]): session, the pipeline
    * started on a fresh checkpoint, and its first 1000-message batch
    * through to commit. Every set-up but the last feeds a throwaway
    * generator and leaves nothing behind. */
  private def setUp(a: Main.Args, res: Results, tracer: Tracer,
      gen: Generator): (SparkSession, Pipeline) = {
    TxProducers.register(TxLog.FactoryName, () => new TxLog.Producer)
    val (spark, p) = Main.repeatedSetup(Main.Setups, a.cores, res) { (k, s) =>
      TxLog.reset()
      val g = if (k == Main.Setups) gen
        else new Generator(a.seed + 7919L * k, gen.accounts, SourcePartitions)
      val p = start(s, Paths.get(a.out, s"ckpt-$k"), tracer)
      val now = System.nanoTime()
      p.in.addData((1 to CatchupBatch).map(_ => g.next(now)))
      p.query.processAllAvailable()
      p
    }(stopPipeline)
    (spark, p)
  }

  def catchup(a: Main.Args, res: Results, tracer: Tracer): Unit = {
    val gen = new Generator(a.seed, CatchupAccounts, SourcePartitions)
    val (spark, p) = setUp(a, res, tracer, gen)
    val listeners = if (a.trace) Some(Trace.install(spark, tracer)) else None
    p.in.addData(gen.primeAll(System.nanoTime()))
    p.query.processAllAvailable()
    def batch(): Double = {
      val rows = (1 to CatchupBatch).map(_ => gen.next(System.nanoTime()))
      val t0 = System.nanoTime()
      p.in.addData(rows)
      p.query.processAllAvailable()
      (System.nanoTime() - t0) / 1e6
    }
    (1 to WarmBatches).foreach(_ => batch())
    val c0 = TxLog.counters
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var n = 0
    Cpu.contention(res) {
      while (n < MinBatches || (System.nanoTime() - t0) / 1e9 < a.seconds) {
        res.add("batch_ms", batch())
        n += 1
      }
    }
    res.set("batch_msgs", CatchupBatch)
    Memory.recordLive(spark, res)
    val c1 = TxLog.counters
    listeners.foreach { case (engine, progress) =>
      layerValues(spark, res, tracer, engine, progress, startMs, c0, c1, a)
    }
    stopPipeline(p)
    check(gen, res)
  }

  /** Per-layer values of a traced stream run, over the batches that started
    * after `startMs`. */
  private def layerValues(spark: SparkSession, res: Results, tracer: Tracer,
      engine: EngineListener, progress: ProgressListener, startMs: Long,
      c0: TxLog.Counters, c1: TxLog.Counters, a: Main.Args): Unit = {
    progress.awaitBatch(lastBatchId(spark))
    engine.await(spark)
    val batches = progress.all.filter(_.startEpochMs >= startMs).sortBy(_.id)
    val n = batches.size
    res.set("stream.batches", n)
    def series(name: String, f: progress.Batch => Double): Unit = res.addAll(name, batches.map(f))
    Seq("triggerExecution" -> "trigger", "latestOffset" -> "latest_offset",
      "getBatch" -> "get_batch", "queryPlanning" -> "query_planning",
      "addBatch" -> "add_batch", "walCommit" -> "wal_commit",
      "commitOffsets" -> "commit_offsets").foreach { case (k, name) =>
      series(s"stream.${name}_ms", _.durations.getOrElse(k, 0L).toDouble)
    }
    series("state.rows_updated", _.stateRowsUpdated.toDouble)
    series("state.commit_ms", _.stateCommitMs.toDouble)
    series("state.updates_ms", _.stateUpdatesMs.toDouble)
    batches.lastOption.foreach { b =>
      res.set("state.rows_total", b.stateRowsTotal.toDouble)
      res.set("state.memory_bytes", b.stateMemoryBytes.toDouble)
    }
    res.addAll("sinks.write_batch_ms",
      batches.flatMap(b => Option(writeMs.get(b.id))))
    res.set("sinks.transactions", (c1.transactions - c0.transactions).toDouble)
    res.set("sinks.txn_per_batch",
      if (n > 0) (c1.transactions - c0.transactions).toDouble / n else 0.0)
    res.set("sinks.records_produced", (c1.produceCalls - c0.produceCalls).toDouble)
    res.set("sinks.offset_lookups", (c1.offsetLookups - c0.offsetLookups).toDouble)

    val counted = batches.take(CountedBatches)
    val all = new EngineCounts
    counted.foreach(b => all += engine.group(s"batch-${b.id}"))
    val wallS = counted.map(_.durations.getOrElse("triggerExecution", 0L)).sum / 1e3
    Trace.engineValues(res, all, wallS, a.cores)
    res.set("stream.jobs_per_batch",
      if (counted.nonEmpty) all.jobs.toDouble / counted.size else 0.0)
    res.set("core.parquet_scans", all.parquetScans.toDouble)
    Main.tablesLoadProbe(spark, a.sfDir, res, tracer)
    decodeProbe(spark, a.seed, res, tracer)
  }

  private def lastBatchId(spark: SparkSession): Long =
    spark.streams.active.headOption.flatMap(q => Option(q.lastProgress))
      .map(_.batchId).getOrElse(0L)

  /** Probe: `Kafka.toEnvelope` over 20k generated rows, then a noop write,
    * three times; the median as milliseconds per thousand messages. */
  def decodeProbe(spark: SparkSession, seed: Long, res: Results, tracer: Tracer): Unit = {
    import spark.implicits._
    val gen = new Generator(seed, CatchupAccounts, SourcePartitions)
    val n = 20000
    val rows = spark.createDataset((1 to n).map(_ => gen.next(0L))).repartition(SourcePartitions).cache()
    rows.count()
    val times = (1 to 3).map { r =>
      tracer.span(0L, s"probe-decode-$r", "sources.Kafka.toEnvelope") { _ =>
        val t0 = System.nanoTime()
        Kafka.toEnvelope(rows.toDF(), Generator.ValueSchemaJson)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e6
      }
    }
    rows.unpersist()
    res.set("sources.decode_ms_per_kmsg", Main.median(times) / (n / 1000.0))
  }

  /** The exactly-once checks over the committed log: one output per source
    * coordinate, per-key source order, final balances equal to the
    * generator's sums, and committed group offsets equal to end offsets. */
  def check(gen: Generator, res: Results): Unit = {
    val recs = TxLog.records
    val seen = mutable.HashMap.empty[(Int, Long), Int]
    val lastOffset = mutable.HashMap.empty[String, Long]
    val lastBalance = mutable.HashMap.empty[String, Double]
    var misordered = 0L
    val BalanceRe = "\"balance\":([-0-9.eE]+)".r.unanchored
    recs.foreach { r =>
      val k = (r.srcPartition, r.srcOffset)
      seen(k) = seen.getOrElse(k, 0) + 1
      if (lastOffset.get(r.key).exists(_ >= r.srcOffset)) misordered += 1
      lastOffset(r.key) = r.srcOffset
      r.value match {
        case BalanceRe(b) => lastBalance(r.key) = b.toDouble
        case _ => lastBalance(r.key) = Double.NaN
      }
    }
    val duplicated = seen.valuesIterator.map(c => (c - 1).toLong).sum
    val valid = (0 until gen.partitions).map(p => gen.endOffsets(p)).sum
    val lost = valid - seen.keysIterator.count { case (p, o) =>
      p >= 0 && p < gen.partitions && o >= 0 && o < gen.endOffsets(p) }
    val wrongBalance = (0 until gen.accounts).count { i =>
      gen.counts(i) > 0 && !lastBalance.get(gen.key(i)).contains(gen.balances(i).toDouble)
    }
    val wrongOffsets = (0 until gen.partitions).count { p =>
      !TxLog.committed(TxLog.GroupId, Generator.InTopic, p).contains(gen.endOffsets(p))
    }
    res.set("attempted", gen.total.toDouble)
    res.set("failed", (lost + duplicated + misordered + wrongBalance + wrongOffsets).toDouble)
    res.fact("checks", s"lost=$lost duplicated=$duplicated misordered=$misordered " +
      s"wrong_balance_keys=$wrongBalance wrong_group_offsets=$wrongOffsets " +
      s"aborts=${TxLog.counters.aborts}")
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }
}
