package graft.state

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession.{rocksDbStateStore, sf0001, spark, withConfs}
import graft.operators.Windows

/** ev06's continuous form: the shared-fold batch backend must equal the
  * oracle-checked window query, and the transformWithState replay over
  * increments must equal both. */
class AttributionStreamSpec extends AnyFunSuite {

  test("batch fold equals the oracle-checked window query") {
    val fold = AttributionStream.attributionFold(spark, sf0001).collect().map(_.toSeq)
    val query = Windows.attributionQuery(spark, sf0001).collect().map(_.toSeq)
    assert(fold.length == query.length && fold.length > 0)
    assert(fold.sameElements(query))
  }

  test("streaming replay over increments equals the batch run (transformWithState)") {
    withConfs(rocksDbStateStore) {
      import spark.implicits._
      val events = graft.core.Tables.events(spark, sf0001)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("ts_us").as("tus"))
        .filter(col("event_type").isin("purchase", "click", "view"))
        .as[AttributionStream.Ev]
        .collect().sortBy(e => (e.tus, e.event_id))
      // three replay increments in global event-time order — per-user order
      // across microbatches is ascending time, the declared contract
      val inc = events.grouped(math.max(events.length / 3 + 1, 1)).toSeq
      val input = MemoryStream[AttributionStream.Ev](spark)
      val q = AttributionStream.attributionStream(input.toDS()).toDF()
        .writeStream.format("memory").queryName("ev06_stream")
        .outputMode(OutputMode.Append).start()
      try {
        inc.foreach { batch => input.addData(batch.toSeq); q.processAllAvailable() }
        val streamed = spark.table("ev06_stream")
          .orderBy(col("purchase_id")).collect().map(_.toSeq)
        val batchRun = Windows.attributionQuery(spark, sf0001)
          .select(col("purchase_id"), col("user_id"), col("purchase_us"),
            col("touch_id"), col("touch_type"), col("gap_secs"))
          .collect().map(_.toSeq)
        assert(streamed.length == batchRun.length && streamed.length > 0)
        assert(streamed.sameElements(batchRun))
      } finally q.stop()
    }
  }

  test("state carries across batches: a touch in batch 1 attributes a purchase in batch 2") {
    withConfs(rocksDbStateStore) {
      import spark.implicits._
      import AttributionStream.Ev
      val input = MemoryStream[Ev](spark)
      val q = AttributionStream.attributionStream(input.toDS()).toDF()
        .writeStream.format("memory").queryName("ev06_carry")
        .outputMode(OutputMode.Append).start()
      try {
        input.addData(Ev(7L, 1L, "click", 1000000L))
        q.processAllAvailable()
        input.addData(Ev(7L, 2L, "purchase", 5000000L),
          Ev(8L, 3L, "purchase", 5000000L))
        q.processAllAvailable()
        val rows = spark.table("ev06_carry").orderBy(col("purchase_id"))
          .collect()
        assert(rows.length == 2)
        assert(rows(0).getLong(0) == 2L && rows(0).getLong(3) == 1L &&
          rows(0).getString(4) == "click" && rows(0).getLong(5) == 4L)
        assert(rows(1).getLong(0) == 3L && rows(1).isNullAt(3),
          "user 8 has no touch — unattributed")
      } finally q.stop()
    }
  }
}
