package graft

import org.apache.spark.sql.SparkSession
import graft.core.GraftSession

/** One shared local session for the whole test JVM (suites reuse it). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4).master("local[4]")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"

  /** The state store the `transformWithState` streams need. */
  val rocksDbStateStore: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Runs `body` with the session confs `kv` set, then restores each key's
    * previous value, or unsets it if it had none. */
  def withConfs[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
