package graft.tools

import graft.core.GraftSession

/** Dev tool: dump formatted physical plans of selected queries for the
  * scale review (pushdown reaching scans, broadcasts chosen, shuffle
  * counts). Usage: runMain graft.tools.Explain [queryName ...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq else graft.Bench.headline
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      try {
        val df = graft.SparkEntry.queries(n)(spark, dir)
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      } catch { case e: Throwable => println(s"ERROR: ${e.getMessage}") }
    }
    spark.stop()
  }
}
