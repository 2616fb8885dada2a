package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import graft.SparkEntry
import graft.core.Tables

/** Workload `batch_mix`: one timed pass over a set of oracle-checked
  * `SparkEntry.queries` at the bench scale factor, in an order the seed
  * permutes, after an untimed warm pass over the same queries and data.
  * `clearCache()` runs before every query. Each timed query runs in two
  * parts: the `SparkEntry.queries(name)(spark, dir)` call (plan build plus
  * any eager actions inside operators) and the final action, a noop write of
  * the result. The warm pass writes each result as parquet, which `run.py`
  * compares with the query's DuckDB oracle after the JVM has exited, so no
  * disk write is timed. */
object BatchMix {

  /** Single-job relational plans (TPC-H-style aggregate, five-way join,
    * window rank, as-of join), the batch replays of the state facade (st01
    * is the catch-up workload's balance app; sa13), the multi-job audits (dq06
    * and dq08, up to 48 jobs each), a compute-heavy classifier (cl02) and an
    * iterative chain of eager actions (dd13 over sim06's k-means). None reads a
    * session memo, so no `xm*` build is needed and the order the seed picks
    * cannot move cost between queries. */
  val Queries: Seq[String] = Seq(
    "q01_pricing_summary", "q04_window_rank", "q13_asof_join",
    "q36_tpch_q5", "st01_stateful_balance", "sa13_streaming_admission",
    "dq06_ref_integrity", "dq08_key_uniqueness",
    "cl02_naive_bayes_langid", "dd13_semdedup")

  /** Tags the jobs this thread submits next with the counter group
    * and the span that caused them. */
  private def tag(sc: org.apache.spark.SparkContext, group: String, span: Long): Unit = {
    sc.setLocalProperty(EngineListener.GroupKey, group)
    sc.setLocalProperty(EngineListener.ParentKey, if (group == null) null else span.toString)
  }

  def order(seed: Long): Seq[String] =
    new scala.util.Random(seed).shuffle(Queries)

  def run(a: Main.Args, res: Results, tracer: Tracer): Unit = {
    val (spark, _) = Main.repeatedSetup(Main.Setups, a.cores, res) { (_, s) =>
      Main.TestdataTables.foreach(t => Tables.load(s, a.sfDir, t))
    }(_ => ())
    val sc = spark.sparkContext
    val failed = mutable.LinkedHashMap.empty[String, String]
    val outDir = Paths.get(a.out, "results")
    val seq = order(a.seed)
    res.fact("order", seq.mkString(","))

    val tw = System.nanoTime()
    seq.foreach { q =>
      spark.catalog.clearCache()
      try SparkEntry.queries(q)(spark, a.sfDir).write.parquet(outDir.resolve(q).toString)
      catch { case t: Throwable => failed(q) = s"warm pass: ${t.toString.take(300)}" }
    }
    Main.progress(f"warm pass ${(System.nanoTime() - tw) / 1e9}%.1f s")

    val listeners = if (a.trace) Some(Trace.install(spark, tracer)) else None
    System.gc() // every run starts the timed pass from the same heap state
    val tp = System.nanoTime()
    Cpu.contention(res)(seq.foreach { q =>
      spark.catalog.clearCache()
      tracer.span(0L, q, "query") { qid =>
        try {
          val tb = System.nanoTime()
          val df = tracer.span(qid, q, "operators.build") { sid =>
            tag(sc, s"$q/build", sid)
            SparkEntry.queries(q)(spark, a.sfDir)
          }
          listeners.foreach(_._1.addAnalysis(s"$q/build", df.queryExecution))
          val te = System.nanoTime()
          tracer.span(qid, q, "operators.exec") { sid =>
            tag(sc, s"$q/exec", sid)
            df.write.format("noop").mode("overwrite").save()
          }
          val tx = System.nanoTime()
          res.add(s"build_s.$q", (te - tb) / 1e9)
          res.add(s"exec_s.$q", (tx - te) / 1e9)
          Main.progress(f"$q build ${(te - tb) / 1e9}%.3f s exec ${(tx - te) / 1e9}%.3f s")
        } catch { case t: Throwable => failed.getOrElseUpdate(q, t.toString.take(300)) }
        finally tag(sc, null, 0L)
      }
    })
    val passS = (System.nanoTime() - tp) / 1e9
    Memory.recordLive(spark, res)

    listeners.foreach { case (engine, _) =>
      engine.await(spark)
      val groups = seq.flatMap(q => Seq(s"$q/build", s"$q/exec"))
      val all = new EngineCounts
      groups.foreach(g => all += engine.group(g))
      def jobs(suffix: String) = groups.filter(_.endsWith(suffix)).map(engine.group(_).jobs).sum
      Trace.engineValues(res, all, passS, a.cores)
      res.set("core.parquet_scans", all.parquetScans.toDouble)
      res.set("operators.build_jobs", jobs("/build").toDouble)
      res.set("operators.exec_jobs", jobs("/exec").toDouble)
      res.set("operators.build_s", seq.flatMap(q => res.first(s"build_s.$q")).sum)
      res.set("operators.exec_s", seq.flatMap(q => res.first(s"exec_s.$q")).sum)
      Main.tablesLoadProbe(spark, a.sfDir, res, tracer)
      Streams.decodeProbe(spark, a.seed, res, tracer)
    }

    Files.createDirectories(outDir)
    val oracle = Queries.map(q => Json.str(q) + ":" + Json.str(SparkEntry.oracleSql(q)))
    Files.write(outDir.resolve("oracle_sql.json"), oracle.mkString("{", ",", "}").getBytes(UTF_8))
    res.set("attempted", Queries.size)
    res.set("failed", failed.size)
    failed.foreach { case (q, why) => res.fact(s"failed.$q", why) }
  }
}
