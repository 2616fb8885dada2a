package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.core.{GraftSession, Tables}

/** JVM half of the benchmark; `run.py` launches it once per run.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --out <run dir> --cores <n> --sf <sf dir>
  * }}}
  *
  * It writes `raw.json` (samples and values, see [[Results]]) and, when
  * traced, `spans.jsonl` into the run directory. Sessions come from
  * `GraftSession.builder(cores)` with `local[cores]` and no settings of the
  * benchmark's own, so the configuration timed is the one users get. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      out: String, cores: Int, sfDir: String)

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  /** Every TESTDATA table (TESTDATA.md). */
  val TestdataTables: Seq[String] =
    "region nation customer supplier part orders lineitem events documents embeddings".split(' ').toSeq

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv("trace") == "1", kv("out"), kv("cores").toInt, kv("sf"))
    val res = new Results
    val tracer = new Tracer(a.trace)
    a.workload match {
      case "batch_mix"      => BatchMix.run(a, res, tracer)
      case "stream_catchup" => Streams.catchup(a, res, tracer)
      case "selftest"       => SelfTest.run(a, res)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Memory.recordPeakRss(res)
    Files.write(Paths.get(a.out, "raw.json"), res.toJson.getBytes(UTF_8))
    tracer.write(Paths.get(a.out, "spans.jsonl").toString)
    SparkSession.getActiveSession.foreach(_.stop())
  }

  def session(cores: Int): SparkSession = {
    val s = GraftSession.builder(cores).master(s"local[$cores]").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Runs `setup` `n` times on fresh sessions, recording each wall time as a
    * `setup_s` sample; every instance but the last is torn down. */
  def repeatedSetup[A](n: Int, cores: Int, res: Results)(setup: (Int, SparkSession) => A)(
      teardown: A => Unit): (SparkSession, A) = {
    var last: (SparkSession, A) = null
    (1 to n).foreach { k =>
      if (last != null) { teardown(last._2); stop(last._1) }
      val t0 = System.nanoTime()
      val spark = session(cores)
      val a = setup(k, spark)
      res.add("setup_s", (System.nanoTime() - t0) / 1e9)
      progress(f"set-up $k ${(System.nanoTime() - t0) / 1e9}%.2f s")
      last = (spark, a)
    }
    last
  }
  /** Probe: wall time of `Tables.load` for every TESTDATA table, three
    * rounds, as `core.tables_load_ms` samples. */
  def tablesLoadProbe(spark: SparkSession, dir: String, res: Results, tracer: Tracer): Unit =
    (1 to 3).foreach { r =>
      TestdataTables.foreach { t =>
        tracer.span(0L, s"probe-tables-$r", s"core.Tables.load.$t") { _ =>
          val t0 = System.nanoTime()
          Tables.load(spark, dir, t)
          res.add("core.tables_load_ms", (System.nanoTime() - t0) / 1e6)
        }
      }
    }

  /** A progress line in the run's JVM log. */
  def progress(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** Memory figures of the JVM run: the resident-set peak (`VmHWM`), and the
  * memory the program holds live, heap and non-heap, at the end of the
  * measured work. Cached datasets are dropped first. Spark's
  * `ContextCleaner` releases shuffles and broadcasts only after a collection
  * finds their owners unreferenced, and one release can unreference the
  * next, so the live figure is read once full collections, each followed by
  * a pause for the cleaner, stop lowering heap use. */
object Memory {
  private val mb = 1024.0 * 1024.0

  def recordLive(spark: SparkSession, res: Results): Unit = {
    spark.catalog.clearCache()
    val m = ManagementFactory.getMemoryMXBean
    def collect(): Long = { m.gc(); Thread.sleep(300); m.gc(); m.getHeapMemoryUsage.getUsed }
    var prev = Long.MaxValue
    var used = collect()
    var rounds = 1
    while (used < prev - (1L << 20) && rounds < 8) {
      prev = used
      used = collect()
      rounds += 1
    }
    res.set("live_gc_rounds", rounds)
    val heap = m.getHeapMemoryUsage.getUsed / mb
    val nonHeap = m.getNonHeapMemoryUsage.getUsed / mb
    res.set("live_mem_mb", heap + nonHeap)
    res.set("live_heap_mb", heap)
  }

  def recordPeakRss(res: Results): Unit =
    res.set("rss_peak_mb", Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0))
}

/** CPU time: this JVM's (every thread) and the machine's, so a report can
  * tell the program's own work from time lost to other load. */
object Cpu {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def processS: Double = os.getProcessCpuTime / 1e9

  /** (busy, steal) CPU seconds of the whole machine since boot. */
  private def machineS: (Double, Double) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).split("\\s+").tail
      .map(_.toDouble / 100.0) // USER_HZ
    (f(0) + f(1) + f(2) + f(5) + f(6) + f(7), f(7))
  }

  /** Runs `body` and records, as average cores over it, the CPU the machine
    * spent outside this JVM (`others_cores`: other processes and kernel work
    * such as file-system writeback) and the CPU the hypervisor stole
    * (`steal_cores`). */
  def contention[A](res: Results)(body: => A): A = {
    val (b0, s0) = machineS
    val p0 = processS
    val t0 = System.nanoTime()
    val a = body
    val wall = (System.nanoTime() - t0) / 1e9
    val (b1, s1) = machineS
    res.set("others_cores", (b1 - b0 - (s1 - s0) - (processS - p0)) / wall)
    res.set("steal_cores", (s1 - s0) / wall)
    a
  }
}
