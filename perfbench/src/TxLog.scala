package perfbench

import scala.collection.mutable
import graft.sinks.TxProducerClient

/** The output side of the `stream_catchup` workload: an in-process transactional
  * log standing in for the Kafka broker, plus the `TxProducerClient` the
  * pipeline's `writeBatchTransactional` drives (registered under
  * [[TxLog.FactoryName]] via `TxProducers.register`).
  *
  * A commit appends the transaction's records, stamped with one commit time
  * (the latency end point), and moves the group offsets it carried in the
  * same critical section — the atomicity Kafka gives a transactional
  * producer. `committedOffset` answers from those offsets, so the sink's
  * strict post-commit replay filter is the configuration being timed. */
object TxLog {
  val FactoryName = "perfbench-txlog"
  val GroupId = "perfbench-app"
  val SrcHeader = "src"

  /** A committed output record, reduced to what the checks read. */
  final case class Rec(key: String, value: String, srcPartition: Int,
      srcOffset: Long, dueNs: Long, commitNs: Long)

  private val log = mutable.ArrayBuffer.empty[Rec]
  private val offsets = mutable.HashMap.empty[(String, String, Int), Long]
  private var transactions = 0L
  private var produceCalls = 0L
  private var offsetLookups = 0L
  private var aborts = 0L

  final case class Counters(transactions: Long, produceCalls: Long,
      offsetLookups: Long, aborts: Long, records: Long)

  def counters: Counters = synchronized(
    Counters(transactions, produceCalls, offsetLookups, aborts, log.size.toLong))
  def records: IndexedSeq[Rec] = synchronized(log.toIndexedSeq)
  def committed(group: String, topic: String, partition: Int): Option[Long] =
    synchronized(offsets.get((group, topic, partition)))

  def reset(): Unit = synchronized {
    log.clear(); offsets.clear()
    transactions = 0; produceCalls = 0; offsetLookups = 0; aborts = 0
  }

  private def commit(recs: Seq[Rec], offs: Map[(String, Int), Long], group: String): Unit = {
    val now = System.nanoTime()
    synchronized {
      recs.foreach(r => log += r.copy(commitNs = now))
      offs.foreach { case ((t, p), o) => offsets((group, t, p)) = o }
      transactions += 1
    }
  }

  private def counted(f: => Unit): Unit = synchronized(f)

  final class Producer extends TxProducerClient {
    private val pending = mutable.ArrayBuffer.empty[Rec]
    private var pendingOffsets = Map.empty[(String, Int), Long]
    private var group = GroupId

    def initTransactions(): Unit = ()
    def beginTransaction(): Unit = { pending.clear(); pendingOffsets = Map.empty }

    def produce(topic: String, partition: Int, key: String, value: String,
        headers: Map[String, String]): Unit = {
      counted(produceCalls += 1)
      val src = headers.getOrElse(SrcHeader, "-1:-1").split(':')
      pending += Rec(key, value, src(0).toInt, src(1).toLong,
        headers.get(Generator.DueHeader).map(_.toLong).getOrElse(0L), 0L)
    }

    def sendOffsetsToTransaction(offs: Map[(String, Int), Long], groupId: String): Unit = {
      pendingOffsets ++= offs
      group = groupId
    }

    def commitTransaction(timeoutSecs: Int): Unit = {
      commit(pending.toList, pendingOffsets, group)
      pending.clear(); pendingOffsets = Map.empty
    }

    def abortTransaction(timeoutSecs: Int): Unit = {
      counted(aborts += 1)
      pending.clear(); pendingOffsets = Map.empty
    }

    override def committedOffset(groupId: String, topic: String, partition: Int): Option[Long] = {
      counted(offsetLookups += 1)
      Some(committed(groupId, topic, partition).getOrElse(0L))
    }
  }

  def srcHeaderValue(partition: Int, offset: Long): String = s"$partition:$offset"
}
