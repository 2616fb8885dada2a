package graft.state

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.SparkTestSession.{spark, sf0001}
import graft.core.Message
import graft.streaming.BalanceApp

/** Streaming-state semantics, replicating the reference's own integration
  * test scenario and assertions (reference: tests/temp_integration/
  * integration.py:24-51,97-121): 3 partitions x 3 keys, per-key accumulated
  * entry lists in table state, output count == input count, per-key
  * accumulation equals the number of repeats.
  */
class TableAppSpec extends AnyFunSuite {
  import spark.implicits._

  private def msg(key: String, part: Int, off: Long, v: String): Message =
    Message(key, v, Map.empty, "fluvii_testing_input", part, off,
      new Timestamp(1700000000000L + off))

  test("integration scenario: accumulating table state across microbatches") {
    // 3 partitions x 3 keys x 2 repeats (the reference uses 1 repeat; two
    // microbatches prove state durability across commits = changelog replay)
    val repeats = 2
    val input = MemoryStream[Message](spark)
    // app function: append "key-r<i>" to the state list, emit current list
    // (reference: integration.py:54-66 — accumulate_cool_data)
    val out = GraftTableApp.transform(input.toDS()) { txn =>
      val prev = txn.readTableEntry().map(_ + ",").getOrElse("")
      val acc = prev + txn.message.value
      txn.updateTableEntry(acc)
      Iterator.single((txn.message.key, acc))
    }
    val q = out.writeStream.format("memory").queryName("integration_out")
      .outputMode(OutputMode.Append).start()
    try {
      (0 until repeats).foreach { r =>
        val batch = for (p <- 0 until 3; k <- 0 until 3)
          yield msg(s"test--key_${k}-p$p", p, r * 10 + k, s"test--key_${k}-p$p-r$r")
        input.addData(batch)
        q.processAllAvailable()
      }
      val rows = spark.table("integration_out").as[(String, String)].collect()
      // output count == input count (every message produced one output)
      assert(rows.length == 3 * 3 * repeats)
      // per-key accumulation: final state has all repeats, in offset order
      val finals = rows.groupBy(_._1).map { case (k, vs) => k -> vs.maxBy(_._2.length)._2 }
      finals.foreach { case (k, acc) =>
        val parts = acc.split(",")
        assert(parts.length == repeats, s"$k accumulated ${parts.length} != $repeats")
        assert(parts.zipWithIndex.forall { case (p, i) => p == s"$k-r$i" },
          s"$k accumulated out of order: $acc")
      }
      assert(finals.size == 9)
    } finally q.stop()
  }

  test("streaming twin: rolling z-score via table state equals the batch window") {
    // The ev04 batch query is a trailing-10 window; its streaming twin
    // keeps the last 10 cents values as per-user table state. Bit-equal
    // output proves the keyed-state facade implements the same semantics a
    // bounded window frame declares — the state is exactly what a
    // streaming deployment of ev04 would maintain.
    import org.apache.spark.sql.functions.col
    val expected = graft.operators.Windows.rollingZscoreQuery(spark, sf0001)
      .collect()
      .map { r =>
        (r.getLong(0), r.getLong(1)) ->
          ((if (r.isNullAt(2)) None else Some(r.getDouble(2)),
            if (r.isNullAt(3)) None else Some(r.getDouble(3)),
            if (r.isNullAt(4)) None else Some(r.getBoolean(4))))
      }.toMap

    def zscoreFn(txn: TableTransaction)
        : Iterator[(Long, Long, Option[Double], Option[Double], Option[Boolean])] = {
      val m = txn.message
      val c = math.round(m.value.toDouble * 100)
      val frame: Seq[Long] = txn.readTableEntry()
        .map(_.split(",").filter(_.nonEmpty).map(_.toLong).toSeq).getOrElse(Nil)
      val n = frame.length.toLong
      val mu = if (n > 0) Some((frame.sum.toDouble / n.toDouble) / 100.0) else None
      val sd = if (n > 1) {
        val num = (n * frame.map(x => x * x).sum - frame.sum * frame.sum).toDouble
        Some(math.sqrt(num / (n * (n - 1)).toDouble) / 100.0)
      } else None
      val anomaly = sd.map { s =>
        if (s > 0) math.abs(c.toDouble / 100.0 - mu.get) > s * 3.0
        else c.toDouble / 100.0 != mu.get
      }
      txn.updateTableEntry((frame :+ c).takeRight(10).mkString(","))
      Iterator.single((m.key.toLong, m.offset, mu, sd, anomaly))
    }

    // events as messages (offset = event_id; per-user event_id order equals
    // (ts, event_id) order in this corpus — see BalanceApp), split into two
    // microbatches on the global order key to prove cross-commit durability
    val events = graft.core.Tables.events(spark, sf0001)
      .select(col("user_id"), col("event_id"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val mid = events.map(_._2).sorted.apply(events.length / 2)
    def msgs(f: ((Long, Long, Double)) => Boolean): Seq[Message] =
      events.filter(f).map { case (u, e, v) =>
        msg(u.toString, (u % 3).toInt, e, v.toString)
      }.toSeq

    val input = MemoryStream[Message](spark)
    val out = GraftTableApp.transform(input.toDS())(zscoreFn)
    val q = out.writeStream.format("memory").queryName("zscore_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(msgs(_._2 < mid)); q.processAllAvailable()
      input.addData(msgs(_._2 >= mid)); q.processAllAvailable()
      val got = spark.table("zscore_out")
        .as[(Long, Long, Option[Double], Option[Double], Option[Boolean])]
        .collect()
      assert(got.length == expected.size)
      got.foreach { case (u, e, mu, sd, an) =>
        assert(expected((u, e)) == ((mu, sd, an)), s"user $u event $e")
      }
    } finally q.stop()
  }

  test("streaming twin: changelog compaction via table state equals q38") {
    // q38's batch struct-max latest-wins IS the reference's changelog/table
    // semantic; replaying the event log through the keyed-state table in
    // two microbatches must land on the identical snapshot — the
    // batch/stream equality that makes the compaction claim structural.
    import org.apache.spark.sql.functions.col
    val expected = graft.operators.Relational.latestSnapshot(spark, sf0001)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2), r.getDouble(3), r.getLong(4),
          r.getLong(5)))).toMap

    def compactFn(txn: TableTransaction)
        : Iterator[(Long, Long, String, Double, Long, Long)] = {
      val m = txn.message
      val Array(tusS, ty, vS) = m.value.split(",", 3)
      val (tus, v) = (tusS.toLong, vS.toDouble)
      // state: lastTus,lastId,lastType,lastValue,count
      val (bTus, bId, bTy, bV, n) = txn.readTableEntry()
        .map(_.split(",", 5)) match {
        case Some(Array(t, i, t2, vv, c)) =>
          (t.toLong, i.toLong, t2, vv.toDouble, c.toLong)
        case _ => (Long.MinValue, Long.MinValue, "", 0.0, 0L)
      }
      val wins = tus > bTus || (tus == bTus && m.offset > bId)
      val (nT, nI, nTy, nV) =
        if (wins) (tus, m.offset, ty, v) else (bTus, bId, bTy, bV)
      txn.updateTableEntry(s"$nT,$nI,$nTy,$nV,${n + 1}")
      Iterator.single((m.key.toLong, nI, nTy, nV, nT, n + 1))
    }

    val events = graft.core.Tables.events(spark, sf0001)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), col("ts_us"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
        r.getLong(4)))
    val mid = events.map(_._2).sorted.apply(events.length / 2)
    def msgs(f: ((Long, Long, String, Double, Long)) => Boolean): Seq[Message] =
      events.filter(f).map { case (u, e, ty, v, tus) =>
        msg(u.toString, (u % 3).toInt, e, s"$tus,$ty,$v")
      }.toSeq

    val input = MemoryStream[Message](spark)
    val out = GraftTableApp.transform(input.toDS())(compactFn)
    val q = out.writeStream.format("memory").queryName("compact_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(msgs(_._2 < mid)); q.processAllAvailable()
      input.addData(msgs(_._2 >= mid)); q.processAllAvailable()
      val finals = spark.table("compact_out")
        .as[(Long, Long, String, Double, Long, Long)]
        .collect().groupBy(_._1).map { case (u, rows) => u -> rows.maxBy(_._6) }
      assert(finals.size == expected.size)
      finals.foreach { case (u, (_, id, ty, v, tus, n)) =>
        assert(expected(u) == ((id, ty, v, tus, n)), s"user $u")
      }
    } finally q.stop()
  }

  test("delete_table_entry tombstones state (read-your-writes included)") {
    val input = MemoryStream[Message](spark)
    val out = GraftTableApp.transform(input.toDS()) { txn =>
      txn.message.value match {
        case "set" =>
          txn.updateTableEntry("present")
          val rywOk = txn.readTableEntry().contains("present") // RYW
          Iterator.single((txn.message.key, s"set:$rywOk"))
        case "del" =>
          txn.deleteTableEntry()
          Iterator.single((txn.message.key, s"del:${txn.readTableEntry().isEmpty}"))
        case "read" =>
          Iterator.single((txn.message.key, s"read:${txn.readTableEntry().getOrElse("<absent>")}"))
      }
    }
    val q = out.writeStream.format("memory").queryName("tombstone_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(Seq(msg("k1", 0, 0, "set")))
      q.processAllAvailable()
      input.addData(Seq(msg("k1", 0, 1, "del")))
      q.processAllAvailable()
      input.addData(Seq(msg("k1", 0, 2, "read")))
      q.processAllAvailable()
      val rows = spark.table("tombstone_out").as[(String, String)].collect().map(_._2).toSet
      assert(rows == Set("set:true", "del:true", "read:<absent>"))
    } finally q.stop()
  }

  test("running balance: streaming microbatches == batch == SQL window") {
    // stream the sf0.001 events in two microbatches through the SAME app
    // function exposed as query st01
    val events = BalanceApp.eventsAsMessages(spark, sf0001).collect()
      .sortBy(_.offset)
    val (first, second) = events.splitAt(events.length / 2)
    val input = MemoryStream[Message](spark)
    val out = GraftTableApp.transform(input.toDS())(BalanceApp.appFn)
    val q = out.writeStream.format("memory").queryName("balance_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(first.toSeq); q.processAllAvailable()
      input.addData(second.toSeq); q.processAllAvailable()
      val streamed = spark.table("balance_out")
        .as[BalanceApp.BalanceUpdate].collect()
        .map(b => (b.user_id, b.event_id) -> math.round(b.balance * 100))
        .toMap
      val batch = BalanceApp.runningBalanceQuery(spark, sf0001).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> math.round(r.getDouble(2) * 100))
        .toMap
      assert(streamed.size == batch.size)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("transformBatch feeds bounded chunks in (partition, offset) order") {
    // 10k messages in ONE spark partition: the bulk function must see
    // bounded chunks (reference batch_consume_max_count), never the whole
    // partition materialized, and offsets must arrive globally ordered
    val n = 10000
    val msgs = spark.range(n).map { i =>
      Message(s"k${i % 7}", s"v$i", Map.empty, "t", (i % 3).toInt, i,
        new Timestamp(1700000000000L + i))
    }.repartition(1)
    val out = GraftTableApp.transformBatch(msgs, maxBatch = 100) { batch =>
      assert(batch.size <= 100, s"oversized batch: ${batch.size}")
      Iterator.single((batch.size, batch.map(m => (m.partition, m.offset))))
    }.collect()
    assert(out.map(_._1).sum == n)            // every message seen once
    assert(out.forall(_._1 <= 100))
    val offsets = out.toSeq.flatMap(_._2)
    assert(offsets == offsets.sorted)          // (partition, offset) order
  }

  test("hot-key bound: a pathological single-key batch fails fast under the cap") {
    import spark.implicits._
    // 5001 updates to ONE key in one batch, cap 5000: the ordering sort
    // must refuse to buffer past the bound (actionable error naming the
    // key), never accumulate unbounded heap inside the state operator
    val msgs = spark.range(5001).map { i =>
      Message("hot_key", s"v$i", Map.empty, "t", 0, i,
        new Timestamp(1700000000000L + i))
    }
    def countEm(maxKeyBatch: Int): Long =
      GraftTableApp.transform(msgs, maxKeyBatch) { txn =>
        txn.updateTableEntry(txn.message.value)
        Iterator.single(1)
      }.count()
    val ex = intercept[Throwable] { countEm(5000) }
    val cause = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .find(_.isInstanceOf[IllegalStateException])
    assert(cause.isDefined, s"expected IllegalStateException in cause chain of $ex")
    assert(cause.get.getMessage.contains("hot_key"))
    assert(cause.get.getMessage.contains("5000"))
    // the same data under a sufficient bound processes completely
    assert(countEm(6000) == 5001L)
  }
}
