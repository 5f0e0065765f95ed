package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point, launched by run.py in a fresh JVM per run.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --data <tables dir> --work <scratch dir> --expected <tsv>
  *        --out <result json> --t0-ms <epoch ms when set-up began>
  *   Main --make-expected <graft.Verify output dir> --data <tables dir> --out <tsv>
  *
  * The first form runs one workload and writes its result JSON to --out;
  * the second writes the expected result digests of the llm_pipeline queries.
  */
object Main {

  final case class Args(opts: Map[String, String]) {
    def apply(k: String): String =
      opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
    def get(k: String): Option[String] = opts.get(k)
  }

  def parse(args: Array[String]): Args =
    Args(args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap)

  val cores: Int = Runtime.getRuntime.availableProcessors()

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    a.get("make-expected") match {
      case Some(verifyDir) => Expected.make(a("data"), verifyDir, a("out"), a("work"))
      case None => runWorkload(a)
    }
  }

  private def runWorkload(a: Args): Unit = {
    // the gate's wait is host load, not set-up: it is left out of setup_s
    val g0 = System.currentTimeMillis()
    val gate = Host.gate(budgetS = 5)
    val gateMs = System.currentTimeMillis() - g0
    val stamp = Host.stamp("start")
    val report = new Report
    report.detail("gate") = gate
    val ctx = Ctx(a("workload"), a.int("seed"), a.int("seconds"), a("trace") == "1",
      a("data"), a("work"), a("expected"), a("t0-ms").toLong + gateMs, report)
    val workload: Workload = ctx.workload match {
      case "llm_pipeline" => new BatchWorkload(ctx)
      case "stream_replay" => new StreamWorkload(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val spark = session(ctx.work)
    val cpu0 = Host.jvmCounters()
    report.detail("calibration_ms_start") = Json.num(Host.calibrate())
    try workload.run(spark)
    finally spark.stop()
    report.detail("calibration_ms_end") = Json.num(Host.calibrate())
    val cpu1 = Host.jvmCounters()
    report.detail("jvm") = Seq("cpu_ms", "gc_ms", "jit_ms").zip(cpu1.zip(cpu0))
      .map { case (k, (b, a)) => s""""$k":${Json.num(b - a)}""" }.mkString("{", ",", "}")
    report.e2e("peak_rss_mb") = Host.peakRssMb()
    report.detail("host_start") = stamp
    report.detail("host_end") = Host.stamp("end")
    Files.writeString(Paths.get(a("out")), report.json)
  }
}

trait Workload {
  def run(spark: SparkSession): Unit
}

/** One run's parameters, shared by the workloads. */
final case class Ctx(workload: String, seed: Int, seconds: Int, trace: Boolean,
                     data: String, work: String, expected: String, t0Ms: Long,
                     report: Report) {
  /** Wall seconds from the start of set-up (before input generation and JVM
    * launch) until now: the workload calls it once warm-up is done. */
  def setupDone(): Unit = report.e2e("setup_s") = (System.currentTimeMillis() - t0Ms) / 1000.0
}

/** Everything a run reports: the end-to-end and per-layer metrics, the
  * attempted/failed tallies behind `error_rate`, and free-form details
  * (sample counts, percentiles used, host stamps). */
final class Report {
  val e2e: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  val layer: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  val detail: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap()
  var attempted = 0L
  var failed = 0L
  var wrong = 0L
  private val errors = mutable.ArrayBuffer[String]()

  def fail(what: String, e: Throwable): Unit = synchronized {
    failed += 1
    errors += s"$what failed: ${e.getMessage}"
  }

  def mismatch(what: String, msg: String): Unit = synchronized {
    failed += 1; wrong += 1
    errors += s"$what: wrong result ($msg)"
  }

  def json: String = {
    def obj(m: collection.Map[String, Double]) =
      m.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString("{", ",", "}")
    val details = (detail.map { case (k, v) => s""""$k":$v""" } ++
      Seq(s""""errors":${errors.map(e => Json.str(e.take(500))).mkString("[", ",", "]")}""")).mkString("{", ",", "}")
    s"""{"attempted":$attempted,"failed":$failed,"wrong":$wrong,""" +
      s""""e2e":${obj(e2e)},"layer":${obj(layer)},"detail":$details}"""
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

object Stats {
  /** Linear-interpolation percentile (numpy's default) of `xs`, p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }

  /** The highest percentile of the ladder with at least 10 samples beyond
    * it; p50 when there are too few samples for any. */
  def tailPercentile(n: Int): Double =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).find(p => n * (1 - p / 100.0) >= 10).getOrElse(50.0)

  /** Records p50 and the tail of a latency sample under the end-to-end
    * names, and the sample count and percentile used under `detail`. */
  def latency(report: Report, ms: Seq[Double], label: String): Unit = {
    val tail = tailPercentile(ms.size)
    report.e2e("latency_p50_ms") = pct(ms, 50)
    report.e2e("latency_tail_ms") = pct(ms, tail)
    report.detail(label) =
      s"""{"samples":${ms.size},"p50_ms":${Json.num(pct(ms, 50))},"tail_percentile":${Json.num(tail)},""" +
        s""""tail_ms":${Json.num(pct(ms, tail))},"max_ms":${Json.num(if (ms.isEmpty) Double.NaN else ms.max)}}"""
  }

  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Host sizing, load stamp and the launch gate. */
object Host {
  private def load(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Live JVMs other than this one. */
  private def siblingJvms(): Int = {
    val self = ProcessHandle.current().pid()
    Option(new File("/proc").listFiles).getOrElse(Array.empty)
      .filter(f => f.getName.forall(_.isDigit) && f.getName.toLong != self)
      .count { f =>
        try Files.readString(Paths.get(s"/proc/${f.getName}/comm")).trim == "java"
        catch { case _: Throwable => false }
      }
  }

  /** Waits (bounded) for the 1-minute load to drop below the core count,
    * through the engine's own gate, then returns the host stamp. */
  def gate(budgetS: Int): String = {
    val (l, waited, opened) = graft.Bench.waitForQuiet(Main.cores.toDouble, budgetS, 1000L, () => load())
    s"""{"load":${Json.num(l)},"waited_s":$waited,"opened":$opened}"""
  }

  def stamp(when: String): String =
    s"""{"when":"$when","load":${Json.num(load())},"sibling_jvms":${siblingJvms()},"cores":${Main.cores}}"""

  /** Milliseconds for a fixed single-threaded integer loop: a probe of the
    * host's speed at this moment, for reading the spread between runs. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 200000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    if (x == 42) println(x)
    (System.nanoTime() - t0) / 1e6
  }

  /** Process CPU, GC and JIT milliseconds so far. */
  def jvmCounters(): Seq[Double] = {
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    Seq(os.getProcessCpuTime / 1e6,
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.toDouble).sum,
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble)
  }

  /** Peak resident set size of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
        .map(_.toString).find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Throwable => -1.0 }
}
