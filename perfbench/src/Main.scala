package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one process.
  *
  *   perfbench.Main --workload <log_load_ingest|star_queries> --seed <n>
  *     --seconds <s> --trace <0|1> --tmp <dir> --cores <n>
  *
  * Protocol: the inputs are generated from the seed; `setup_s` is the median
  * of [[SetupCycles]] set-ups, each a fresh `Sessions.local` plus the
  * workload's cold step, the first in a cold JVM (so only that one pays
  * class loading and JIT; the median is a set-up in a warm JVM).
  * The workload's untimed warm-up passes warm the JVM up. Then passes repeat,
  * closed loop with one client, while fewer than `--seconds` have passed,
  * and at least [[MinPasses]] run; `pass_s` sums the median of each step
  * of a pass. With `--trace 1` every other pass runs under the span
  * recorder and the run prints per-layer metrics instead of end-to-end
  * ones. The last line of stdout is the result object.
  */
object Main {
  val SetupCycles = 3
  val MinPasses = 3

  final case class Conf(workload: String, seed: Long, seconds: Double,
      trace: Boolean, tmp: Path, cores: Int)

  def parse(argv: Array[String]): Conf = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Conf(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("tmp")).toAbsolutePath,
      need("cores").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val conf = parse(argv)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val mainAt = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val phases = mutable.ArrayBuffer("jvm_s" -> mainAt)
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases += name -> (now - mark) / 1e9
      mark = now
    }
    val w: Workload = conf.workload match {
      case "log_load_ingest" => new LogLoadIngest(conf)
      case "star_queries"    => new StarQueries(conf)
      case other             => sys.error(s"unknown workload $other")
    }
    w.prepare()
    phase("prepare_s")

    // set-up cycles: each stops the previous session and times a new one
    // plus the cold step on it
    var spark: SparkSession = null
    val setups = (1 to SetupCycles).map { _ =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = graft.Sessions.local("perfbench", conf.cores)
      w.coldStep(spark)
      (System.nanoTime() - t0) / 1e9
    }
    phase("setup_cycles_s")
    (0 until w.warmUpPasses).foreach(k => w.warmUp(spark, k))
    phase("warm_up_s")

    val tracer = new Tracer(spark, s"${conf.workload}-${conf.seed}")
    val host0 = Host.sample()
    val t0 = System.nanoTime()
    val deadline = t0 + (conf.seconds * 1e9).toLong
    // passes start until the deadline, and at least [[MinPasses]] run so a
    // step's median never rests on one or two passes
    var i = 0
    def more: Boolean = i < MinPasses || System.nanoTime() < deadline
    val units = mutable.ArrayBuffer.empty[(Double, Double, Double)]
    while (more) {
      if (conf.trace && i % 2 == 0) tracer.start() else tracer.stop()
      val (u0, c0, h0) = (System.nanoTime(), Host.cpuNs, Host.sample())
      w.pass(spark, tracer, timed = true)
      units += (((System.nanoTime() - u0) / 1e9, (Host.cpuNs - c0) / 1e9,
        Host.sample().minus(h0).stealS))
      i += 1
    }
    tracer.stop()
    phase("timed_s")
    val wallS = (System.nanoTime() - t0) / 1e9
    val host = Host.sample().minus(host0)

    val meta = Seq("workload" -> Json.str(conf.workload),
      "seed" -> conf.seed.toString, "cores" -> conf.cores.toString,
      "passes" -> i.toString, "timed_wall_s" -> Json.num(wallS),
      "setups_s" -> setups.map(Json.num).mkString("[", ", ", "]"),
      "phases_s" -> Json.obj(phases.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "steps_s" -> Json.obj(w.stepSeconds.map { case (k, v) =>
        k -> v.map(Json.num).mkString("[", ", ", "]") }),
      "passes_wall_cpu_steal" -> units.map { case (a, b, c) =>
        Seq(a, b, c).map(Json.num).mkString("[", ", ", "]") }.mkString("[", ", ", "]"),
      "host_steal_s" -> Json.num(host.stealS),
      "host_other_cpu_s" -> Json.num(host.otherS),
      "peak_rss_mb" -> Json.num(Host.peakRssMb))
    println("perfbench-meta " + Json.obj(meta))

    val metrics: Seq[(String, Double, String)] =
      if (!conf.trace) Seq(
        ("setup_s", Stats.median(setups), "s"),
        ("pass_s", w.passS(), "s"))
      else {
        val spansFile = conf.tmp.getParent.getParent
          .resolve(".bench_out").resolve(s"spans-${conf.workload}-${conf.seed}.jsonl")
        Files.createDirectories(spansFile.getParent)
        Files.write(spansFile, tracer.jsonLines.mkString("\n").getBytes("UTF-8"))
        val layer = w.layers(tracer).toMap
        Layers.all.map { case (name, unit) => (name, layer.getOrElse(name, 0.0), unit) } ++
          Seq(("setup.cold_s", setups.head, "s"),
            ("trace.coverage", w.coverage(tracer), "ratio"),
            ("trace.overhead_s", w.traceOverheadS, "s"),
            ("trace.spans", tracer.all.length.toDouble, "count"),
            ("host.steal_s", host.stealS, "s"),
            ("host.other_cpu_s", host.otherS, "s"),
            ("host.peak_rss_mb", Host.peakRssMb, "MB"))
      }
    spark.stop()
    val body = metrics.map { case (n, v, u) =>
      Json.str(n) + ": " + Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    }.mkString("{", ", ", "}")
    println(Json.obj(Seq(
      "correct" -> (w.failed == 0 && w.attempted > 0).toString,
      "attempted" -> w.attempted.toString,
      "failed" -> w.failed.toString,
      "metrics" -> body)))
  }
}

/** One benchmark workload. A pass is a fixed sequence of named steps; a
  * timed pass records each step's seconds and runs the output checks. */
abstract class Workload(val conf: Main.Conf) {
  var attempted = 0
  var failed = 0
  /** step → (seconds, traced?) per timed execution, in first-seen order. */
  private val steps = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Double, Boolean)]]

  /** Writes the inputs, before any Spark session exists. */
  def prepare(): Unit
  def pass(spark: SparkSession, tr: Tracer, timed: Boolean): Unit
  /** The step each set-up cycle times on its fresh session. */
  def coldStep(spark: SparkSession): Unit
  /** Untimed passes before the timed ones. */
  def warmUpPasses: Int
  /** Warm-up pass `k`: by default an untimed pass. */
  def warmUp(spark: SparkSession, k: Int): Unit =
    pass(spark, new Tracer(spark, "warm-up"), timed = false)
  def layers(tr: Tracer): Seq[(String, Double)]

  /** A pass's time with each step at its median over the passes whose
    * tracing state `keep` accepts. */
  def passS(keep: Boolean => Boolean = _ => true): Double =
    steps.values.map(xs => Stats.median(xs.filter(x => keep(x._2)).map(_._1).toSeq)).sum
  def traceOverheadS: Double = passS(identity) - passS(!_)
  def stepSeconds: Seq[(String, Seq[Double])] = steps.toSeq.map { case (k, v) => k -> v.map(_._1).toSeq }

  /** Seconds `body` takes. */
  protected def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Runs a step that returns its seconds; in a timed pass records them, or
    * counts a failure when the step throws. */
  protected def step(timed: Boolean, name: String, tr: Tracer)(seconds: => Double): Unit = {
    val on = tr.on
    try {
      val s = seconds
      if (timed) {
        attempted += 1
        steps.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ((s, on))
      }
    } catch { case e: Throwable =>
      if (!timed) throw e
      attempted += 1; failed += 1
      System.err.println(s"[perfbench] step $name threw: $e")
    }
  }

  /** Runs `body`, counting an attempt that failed if it throws. */
  protected def guard(what: String)(body: => Unit): Unit =
    try body catch { case e: Throwable =>
      attempted += 1; failed += 1
      System.err.println(s"[perfbench] $what threw: $e")
    }

  /** Share of the traced ops' wall time that the spans around public calls
    * (the ops' direct children) cover. */
  def coverage(tr: Tracer): Double = {
    val ops = tr.all.filter(s => s.name.startsWith("op.") && s.parent < 0)
    val total = ops.map(_.durS).sum
    if (total <= 0) 0.0 else ops.map(s => s.durS - tr.selfS(s)).sum / total
  }

  /** Runs one check: counts it and counts a failure when it throws or
    * returns false; the reason goes to stderr. */
  protected def check(what: String, ok: => Boolean): Boolean = {
    attempted += 1
    val pass = try ok catch { case e: Throwable =>
      System.err.println(s"[perfbench] $what threw: $e"); false }
    if (!pass) { failed += 1; System.err.println(s"[perfbench] check failed: $what") }
    pass
  }

  protected def tmp(sub: String): Path = conf.tmp.resolve(sub)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ": " + v }.mkString("{", ", ", "}")
}

/** Host-noise and memory readings from /proc: steal is CPU the hypervisor
  * took from this guest (`ProbeHarness.stealJiffies`); other-process CPU is
  * guest busy time minus this JVM's own (the same two signals `graft.Bench`
  * gates its legs on). */
object Host {
  final case class Sample(steal: Long, busy: Long, self: Long) {
    def minus(o: Sample): Sample = Sample(steal - o.steal, busy - o.busy, self - o.self)
    def stealS: Double = steal / 100.0
    def otherS: Double = math.max(0L, busy - self) / 100.0
  }
  private def read(p: String): String =
    try new String(Files.readAllBytes(Paths.get(p)), "UTF-8") catch { case _: Throwable => "" }

  def sample(): Sample = {
    val cpu = read("/proc/stat").linesIterator.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.empty[Long])
    def c(i: Int) = if (cpu.length > i) cpu(i) else 0L
    val st = read("/proc/self/stat")
    val self = if (st.isEmpty) 0L else {
      val f = st.substring(st.lastIndexOf(')') + 2).trim.split("\\s+")
      (11 to 14).map(f(_).toLong).sum
    }
    Sample(graft.tools.ProbeHarness.stealJiffies, c(0) + c(1) + c(2) + c(5) + c(6), self)
  }

  def cpuNs: Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def peakRssMb: Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
}
