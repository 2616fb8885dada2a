package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.GraftBridge
import graft.functions._

/** Engine entrypoint: the one SparkSession factory plus SQL registration of
  * graft's native expressions, so the whole surface is reachable from
  * `spark.sql(...)` as well as the Scala API. */
object GraftSession {

  /** Hadoop `file:` scheme registrations for both filesystem APIs: the
    * fork-free local filesystem of [[ForkFreeRawLocalFileSystem]]. Checkpoints
    * and output on any other scheme (`hdfs:`, `s3a:`, ...) are unaffected. */
  val localFsConfs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName)

  /** Cores of a local session: `SPARK_GRAFT_CPUS` when set, else every
    * available processor. */
  def localCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors())(_.trim.toInt)

  /** The only session builder: every main, the test session and the
    * benchmark start here. On a cluster the same confs apply with shuffle
    * partitions sized to ~2-3x total cores. */
  def builder(cores: Int = localCores): SparkSession.Builder =
    SparkSession.builder()
      .config(localFsConfs)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // cache-heavy pipelines (the session memos hold pairs-scale
      // checkpoint blocks while graph loops aggregate): shrink the
      // UNEVICTABLE storage region so execution can push cached blocks to
      // disk instead of failing allocation — every block this engine
      // caches is MEMORY_AND_DISK, so eviction is a spill, never a loss
      // (measured: the 100x er rehearsal's label loop hit
      // AGGREGATE_OUT_OF_MEMORY at the default 0.5 with the 29M-pair memo
      // resident; green at 0.3)
      .config("spark.memory.storageFraction", "0.3")
      // Spark stringifies every execution's plan for its listeners; the
      // iterative graph queries nest cached adaptive plans deeply enough
      // that the UNBOUNDED default can build a multi-GB string and run the
      // JVM out of memory. 4 MB is far above any plan PlanAuditSpec inspects.
      .config("spark.sql.maxPlanStringLength", (4 * 1024 * 1024).toString)

  /** A `local[cores]` session from [[builder]], logging at WARN. */
  def local(cores: Int = localCores): SparkSession = {
    val spark = builder(cores).master(s"local[$cores]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Register graft's native expressions as SQL functions:
    * graft_minhash(text, n, k), graft_shingles(text, n),
    * graft_sig_overlap(a, b), graft_simhash64(tokens),
    * graft_cosine(a, b), graft_sq_dist(a, b),
    * graft_pq_adc(codes, lut, k), graft_lsh_bucket(v, planes),
    * graft_token_ngrams(text, n). */
  def registerFunctions(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def lit(e: org.apache.spark.sql.catalyst.expressions.Expression): Any =
      e.eval(null)
    reg.createOrReplaceTempFunction("graft_minhash", exprs =>
      MinHashFromText(exprs(0),
        lit(exprs(1)).asInstanceOf[Int], lit(exprs(2)).asInstanceOf[Int]), "scala_udf")
    reg.createOrReplaceTempFunction("graft_shingles", exprs =>
      CharShingles(exprs(0), lit(exprs(1)).asInstanceOf[Int]), "scala_udf")
    reg.createOrReplaceTempFunction("graft_sig_overlap", exprs =>
      SigOverlap(exprs(0), exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction("graft_simhash64", exprs =>
      SimHash64(exprs(0)), "scala_udf")
    reg.createOrReplaceTempFunction("graft_cosine", exprs =>
      CosineSim(exprs(0), exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction("graft_sq_dist", exprs =>
      SqDist(exprs(0), exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction("graft_pq_adc", exprs =>
      PqAdc(exprs(0), exprs(1), lit(exprs(2)).asInstanceOf[Int]), "scala_udf")
    reg.createOrReplaceTempFunction("graft_lsh_bucket", exprs =>
      SignLshBucket(exprs(0), lit(exprs(1)).asInstanceOf[Int]), "scala_udf")
    reg.createOrReplaceTempFunction("graft_token_ngrams", exprs =>
      TokenNgrams(exprs(0), lit(exprs(1)).asInstanceOf[Int]), "scala_udf")
  }
}
