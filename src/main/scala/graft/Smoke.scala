package graft

import graft.core.GraftSession

/** Drives the driver's t1 smoke exactly: SparkEntry.entry(spark) on sf0.001,
  * checks rows > 0, prints the result. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows=$n ${if (n > 0) "OK" else "FAIL"}")
    spark.stop()
    if (n == 0) sys.exit(1)
  }
}
