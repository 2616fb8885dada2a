package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM (suites reuse it). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      // the local filesystem GraftSession.builder registers, so checkpointed
      // specs run on what users get
      .config(graft.core.GraftSession.localFsConfs)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.ui.enabled", "false")
      // Spark stringifies every execution's plan for its listeners; the
      // iterative graph queries nest cached adaptive plans deeply enough
      // that the UNBOUNDED default can build a multi-GB string and OOM the
      // shared test JVM (observed in the full-suite run). 4 MB is far above
      // any plan the PlanAuditSpec pins inspect and is the same guard a
      // production driver runs with.
      .config("spark.sql.maxPlanStringLength", (4 * 1024 * 1024).toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
}
