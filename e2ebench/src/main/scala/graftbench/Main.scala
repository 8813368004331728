package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one run reports back to `run.py` (written as JSON). */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  var correct = true
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Results run.py checks against DuckDB: (name, oracle sql, distinct
    * results as JSON row lists with the number of jobs that produced each).
    */
  val oracle = mutable.ArrayBuffer.empty[(String, String, Seq[(String, Int)])]
  val notes = mutable.ArrayBuffer.empty[String]
  def note(s: String): Unit = { notes += s; System.err.println(s"[bench] $s") }
  def fail(what: String): Unit = { failed += 1; correct = false; note(s"FAILED: $what") }
}

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val listeners: Option[Listeners],
    val runDir: Path, val seed: Long, val seconds: Int, val cores: Int, val out: Outcome) {
  def traced: Boolean = tracer.enabled
  private var hostAtBegin: Host.Cpu = _
  /** Share of CPU time the hypervisor stole during the measured window. */
  var windowSteal = 0.0
  private var windowStart = 0L
  /** Wall time of the measured window, from `beginMeasure` to `endMeasure`. */
  var windowS = 0.0
  /** Start of the measured window: listener totals count from here. */
  def beginMeasure(): Unit = {
    listeners.foreach(_.recording = true); hostAtBegin = Host.sample()
    windowStart = System.nanoTime()
  }
  def endMeasure(): Unit = {
    windowS = (System.nanoTime() - windowStart) * 1e-9
    listeners.foreach(_.recording = false)
    windowSteal = Host.stolen(hostAtBegin, Host.sample())
    out.note(f"host steal over the measured window: $windowSteal%.3f")
  }
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) * 1e-9)
  }
  def dir(name: String): String = {
    val p = runDir.resolve(name); Files.createDirectories(p); p.toString
  }
  /** Median of `n` seeded renders (set-up is measured, and repeated so the
    * reported set-up time is a median).
    */
  def render[T](n: Int)(make: => T): (T, Double) = {
    val rs = (1 to n).map(_ => timed(make))
    out.note(s"render ${rs.map(r => f"${r._2}%.2f").mkString("/")} s")
    (rs.last._1, Stats.median(rs.map(_._2)))
  }
}

object Main {
  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toInt).getOrElse(10)
    val trace = arg(args, "--trace").contains("1")
    val runDir = Paths.get(arg(args, "--run-dir").getOrElse(sys.error("--run-dir"))).toAbsolutePath
    if (workload == "selftest") { SelfTest.run(seed); return }

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-e2ebench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val out = new Outcome
    val tracer = new Tracer(trace, s"$workload-$seed-${System.currentTimeMillis()}")
    tracer.spark = spark
    val listeners = if (trace) Some(new Listeners(tracer)) else None
    listeners.foreach(_.attach(spark))
    val ctx = new Ctx(spark, tracer, listeners, runDir, seed, seconds, cores, out)
    val t0 = System.nanoTime()
    try {
      val setupRest = workload match {
        case "rpc_backfill"  => Backfill.run(ctx)
        case "synced_hybrid" => Synced.run(ctx)
        case "corpus_build"  => CorpusBuild.run(ctx)
        case other => sys.error(s"unknown workload $other")
      }
      out.e2e.put("setup_s", (sessionS + setupRest, "s"))
      out.note(f"set-up: session $sessionS%.2f s + workload $setupRest%.2f s")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        out.attempted = math.max(out.attempted, 1L)
        out.fail(s"run threw ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    // VmHWM follows G1's heap sizing (±40% run to run at identical work):
    // reported, and recorded as a per-layer metric, not bounded end to end
    out.e2e.put("peak_rss_mb", (vmHwmMb(), "MB"))
    if (trace) out.layer.put("exec.peak_rss_mb", (vmHwmMb(), "MB"))
    if (trace) tracer.write(runDir.resolve("spans.jsonl"), t0)
    listeners.foreach { l =>
      val ps = scala.jdk.CollectionConverters.CollectionHasAsScala(l.progress).asScala
      Files.write(runDir.resolve("progress.jsonl"), ps.map(_.json.replace("\n", " ")).mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    writeOutcome(out, runDir.resolve("jvm_result.json"))
    listeners.foreach(_.detach(spark))
    SparkSession.getActiveSession.foreach(_.stop())
    spark.stop()
  }

  private def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def js(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)

  private def writeOutcome(o: Outcome, path: Path): Unit = {
    def metrics(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => s"${js(k)}:{\"value\":${num(v)},\"unit\":${js(u)}}" }.mkString("{", ",", "}")
    val oracle = o.oracle.map { case (n, sql, rs) =>
      val results = rs.map { case (rows, jobs) => s"{\"rows\":$rows,\"jobs\":$jobs}" }.mkString("[", ",", "]")
      s"{\"name\":${js(n)},\"sql\":${js(sql)},\"results\":$results}"
    }.mkString("[", ",", "]")
    val json = s"""{"attempted":${o.attempted},"failed":${o.failed},"correct":${o.correct},""" +
      s""""e2e":${metrics(o.e2e)},"layer":${metrics(o.layer)},"oracle":$oracle,""" +
      s""""notes":${o.notes.map(js).mkString("[", ",", "]")}}"""
    Files.write(path, json.getBytes("UTF-8"))
  }
}
