package graft.core

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession.spark
import scala.jdk.CollectionConverters._

class GraftSessionSpec extends AnyFunSuite {

  test("the test session runs every conf GraftSession.builder sets") {
    // the builder's pending options (a public accessor on the JVM class,
    // protected in Scala); an empty or unreadable map fails below
    val b = GraftSession.builder(4)
    val set = b.getClass.getMethod("options").invoke(b)
      .asInstanceOf[scala.collection.mutable.Map[String, String]].toMap
    assert(set.get("spark.sql.shuffle.partitions").contains("4"))
    assert(set.get("spark.sql.maxPlanStringLength").contains((4 * 1024 * 1024).toString))
    assert(GraftSession.localFsConfs.toSet.subsetOf(set.toSet))
    set.foreach { case (k, v) =>
      assert(spark.conf.getOption(k).contains(v), s"$k: test session differs from builder")
    }
  }

  test("AQE flags resolve on and file: resolves to the fork-free filesystem") {
    Seq("spark.sql.adaptive.enabled",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.skewJoin.enabled").foreach { k =>
      assert(spark.conf.get(k) == "true", k)
    }
    val hadoopConf = spark.sessionState.newHadoopConf()
    assert(org.apache.hadoop.fs.FileSystem.getFileSystemClass("file", hadoopConf) ==
      classOf[ForkFreeLocalFileSystem])
  }

  test("no SparkSession is built outside GraftSession") {
    val builderCall = java.util.regex.Pattern.compile("SparkSession\\s*\\.\\s*builder\\b")
    val roots = Seq("src/main/scala", "src/test/scala").map(java.nio.file.Paths.get(_))
    roots.foreach(r => assert(java.nio.file.Files.isDirectory(r), s"$r not found"))
    val callers = roots.flatMap { r =>
      val files = java.nio.file.Files.walk(r)
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.filter(f => builderCall.matcher(java.nio.file.Files.readString(f)).find())
      .map(_.toString.replace('\\', '/'))
    assert(callers == Seq("src/main/scala/graft/core/GraftSession.scala"))
  }

  test("custom expressions are callable from SQL after registration") {
    GraftSession.registerFunctions(spark)
    val row = spark.sql("""
      SELECT graft_simhash64(split('the quick brown fox', ' ')) AS sh,
             graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS cos,
             size(graft_shingles('abcdefgh', 5)) AS nsh,
             graft_sig_overlap(graft_minhash('hello world text', 5, 16),
                               graft_minhash('hello world text', 5, 16)) AS self
    """).collect()(0)
    assert(row.getLong(0) != 0L)
    assert(row.getDouble(1) == 1.0)
    assert(row.getInt(2) == 4) // 8 chars -> 4 distinct 5-gram windows
    assert(row.getDouble(3) == 1.0)
  }

  test("vector/ngram expressions are callable from SQL after registration") {
    GraftSession.registerFunctions(spark)
    val row = spark.sql("""
      SELECT graft_sq_dist(array(1.0d, 2.0d), array(4.0d, 6.0d)) AS d,
             graft_pq_adc(array(1, 0), array(10.0d, 20.0d, 30.0d, 40.0d), 2) AS adc,
             graft_lsh_bucket(array(1.0d, -2.0d, 3.0d), 4) AS bkt,
             graft_token_ngrams('a b c d', 3) AS ngrams
    """).collect()(0)
    assert(row.getDouble(0) == 25.0) // 3^2 + 4^2
    assert(row.getDouble(1) == 50.0) // lut[0*2+1] + lut[1*2+0] = 20 + 30
    assert(row.getLong(2) >= 0L && row.getLong(2) < 16L)
    assert(row.getSeq[String](3) == Seq("a b c", "b c d"))
  }

  test("GraftExtensions injects the function surface at session build") {
    // a sibling session on the same context, built through the extensions
    // hook exactly as spark.sql.extensions would at deploy time
    val ext = new GraftExtensions()
    val s2 = spark.newSession()
    val reg = s2.sessionState.functionRegistry
    ext.apply(new org.apache.spark.sql.SparkSessionExtensions {
      override def injectFunction(
          f: (org.apache.spark.sql.catalyst.FunctionIdentifier,
            org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
            Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
              org.apache.spark.sql.catalyst.expressions.Expression)): Unit =
        reg.registerFunction(f._1, f._2, f._3) // real registration: info + builder
    })
    val row = s2.sql(
      "SELECT graft_cosine(array(3.0d, 4.0d), array(3.0d, 4.0d)) AS c, " +
        "graft_sq_dist(array(0.0d), array(2.0d)) AS d").collect()(0)
    assert(row.getDouble(0) == 1.0 && row.getDouble(1) == 4.0)
    // DESCRIBE FUNCTION metadata is intact (name is the function name, not
    // the usage text; usage is the declared one; class points at the expr)
    val info = reg.lookupFunction(
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_cosine")).get
    assert(info.getName == "graft_cosine")
    assert(info.getUsage.contains("cosine similarity"))
    assert(info.getClassName == classOf[graft.functions.CosineSim].getName)
  }

  test("SQL and Scala-API expressions agree") {
    GraftSession.registerFunctions(spark)
    import org.apache.spark.sql.functions._
    val bad = Tables.documents(spark, graft.SparkTestSession.sf0001).limit(20)
      .select(
        graft.functions.MinHashFromText.minhashFromText(col("text"), 5, 32).as("api"),
        expr("graft_minhash(text, 5, 32)").as("sql"))
      .filter(col("api") =!= col("sql"))
    assert(bad.count() == 0)
  }
}
