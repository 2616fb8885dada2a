package graft.state

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.core.Message

/** Per-key durable state facade — the reference's "table" surface
  * (reference: fluvii/apps/transactions/transaction.py:180-192):
  * read_table_entry / update_table_entry / delete_table_entry with
  * read-your-writes inside a transaction batch and JSON document values.
  *
  * Deletes are modeled as state removal; the reference's '-DELETED-'
  * sentinel (transaction.py:190-192, sqlite.py:61-62) is a SQLite
  * representation detail, not an API value — a deleted entry reads back as
  * absent there too.
  */
final class TableTransaction private[state] (
    val message: Message,
    stored: Option[String]) {

  private[state] var pending: Option[Option[String]] = None // None = untouched

  /** Point lookup for the current message's key, read-your-writes
    * (pending transaction writes win over the stored table — reference:
    * transaction.py:180-184, sqlite.py:130-152). */
  def readTableEntry(): Option[String] = pending.getOrElse(stored)

  /** Buffer a state write (any JSON document), applied on commit
    * (reference: transaction.py:186-188,151-156). */
  def updateTableEntry(value: String): Unit = pending = Some(Some(value))

  /** Tombstone the entry (reference: transaction.py:190-192). */
  def deleteTableEntry(): Unit = pending = Some(None)

  private[state] def resultingState: Option[String] = pending.getOrElse(stored)
}

/** The FluviiTableApp-equivalent transform: arbitrary per-message logic with
  * keyed durable state, on Spark's keyed-state machinery.
  *
  * The whole of the reference's SQLite-files + changelog-topic + rebalance
  * recovery engine (fluvii/apps/helpers/rebalance_manager.py, ~253 LoC) is
  * subsumed by flatMapGroupsWithState + the state store + checkpoint restore
  * (SURVEY.md §3.2): in streaming mode state persists across microbatches
  * and restarts; in batch mode the same code runs with fresh state — which
  * is how the oracle checks these semantics against SQL.
  *
  * Ordering contract: the reference processes each partition's messages in
  * offset order; a microbatch group iterator is unordered, so the facade
  * sorts each group by (partition, offset) before applying the user
  * function (SURVEY.md §7.4 risk 2).
  */
object GraftTableApp {

  /** Per-key per-microbatch row bound for the ordering sort. The
    * (partition, offset) total order requires buffering ONE key's batch
    * (bounded by batch size x key skew, never a whole partition); this cap
    * turns a pathological hot key — which would otherwise buffer unbounded
    * heap inside the state operator — into an actionable error naming the
    * key. At the default trigger cadence a key exceeding a million updates
    * per microbatch is a modeling bug (salt the key or pre-aggregate);
    * callers with legitimate hotter keys pass a higher bound. */
  val MaxKeyBatchRows: Int = 1 << 20

  /** Buffer + sort one key's microbatch by (partition, offset), failing
    * fast past `max` rows instead of buffering unbounded. */
  private[state] def sortedBounded(key: String, msgs: Iterator[Message],
      max: Int): Seq[Message] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Message]
    while (msgs.hasNext) {
      buf += msgs.next()
      if (buf.length > max)
        throw new IllegalStateException(
          s"key '$key' has more than $max rows in one microbatch; the " +
            "(partition, offset) ordering sort would buffer them all. " +
            "Salt the key, pre-aggregate upstream, or raise maxKeyBatch.")
    }
    buf.sortInPlaceBy(m => (m.partition, m.offset)).toSeq
  }

  /** Run `appFn` over every message, keyed by message key, threading JSON
    * state through [[TableTransaction]]. Emits whatever the function
    * produces, exactly like the reference's app_function
    * (reference: fluvii/apps/fluvii_app.py:41-43). */
  def transform[OUT: Encoder](input: Dataset[Message],
      maxKeyBatch: Int = MaxKeyBatchRows)(
      appFn: TableTransaction => IterableOnce[OUT]): Dataset[OUT] = {
    import input.sparkSession.implicits._
    input
      .groupByKey(_.key)
      .flatMapGroupsWithState[String, OUT](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, msgs: Iterator[Message], state: GroupState[String]) =>
          val sorted = sortedBounded(key, msgs, maxKeyBatch)
          var cur: Option[String] = state.getOption
          val out = Seq.newBuilder[OUT]
          sorted.foreach { m =>
            val txn = new TableTransaction(m, cur)
            out ++= appFn(txn)
            cur = txn.resultingState
          }
          cur match {
            case Some(v) => state.update(v)
            case None    => if (state.exists) state.remove()
          }
          out.result().iterator
      }
  }

  /** T2 — the multi-message variant (reference: fluvii/apps/
    * fluvii_multi_msg_app.py:7-21): the user function sees a transaction
    * batch at once for bulk processing. The input is repartitioned by
    * source partition and SORTED within partitions by (partition, offset) —
    * Spark's sort is a disk-spillable external sort, so ordering costs
    * bounded memory — then fed to bulkFn in chunks of at most `maxBatch`
    * messages (default = the reference's batch_consume_max_count of 100,
    * consumer/config.py). The reference's poll batches are bounded the same
    * way; buffering a whole Spark partition instead would OOM an executor
    * on a skewed 100 TB shard. A chunk may span several source partitions,
    * as the reference's poll batches do. */
  def transformBatch[OUT: Encoder](input: Dataset[Message], maxBatch: Int = 100)(
      bulkFn: Seq[Message] => IterableOnce[OUT]): Dataset[OUT] = {
    import org.apache.spark.sql.functions.col
    input.repartition(col("partition"))
      .sortWithinPartitions(col("partition"), col("offset"))
      .mapPartitions(_.grouped(maxBatch).flatMap(batch => bulkFn(batch).iterator))
  }
}
