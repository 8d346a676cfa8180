package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run in one JVM: set up, check pass, then timed passes.
  *
  * {{{
  * perfbench.Harness mode=queries|pack ops=<names> data=<dir> run=<dir>
  *   seed=<n> passes=<n> trace=0|1 cpus=<n> [fail=1] [conf.<key>=<value> ...]
  * }}}
  *
  * `mode=queries` runs each named `SparkEntry.queries` entry through the
  * noop sink on one session built from the `conf.*` arguments.
  * `mode=pack` runs `graft.Main --jobs <ops>` in this JVM, so every
  * operation builds, uses and stops Main's own session.
  *
  * Set-up ends after the check pass, which runs every operation once in
  * a seed-permuted order and keeps its output under `run/check` (queries)
  * for the oracle comparison (every pack call rewrites `run/out`, so
  * there the last call's tables are compared). `passes` timed passes
  * follow, each in a new seed-permuted order. Their number is fixed
  * rather than set by a clock: executions still get faster over the first
  * several passes, as the JIT works, so a varying pass count would move
  * the fastest and the median time of every operation. With
  * `trace=1` the listeners are installed and every second pass is traced,
  * so the traced and untraced times of each operation come from the same
  * JVM. Writes `run/result.json`.
  */
object Harness {

  /** One timed operation: `build` returns what `sink` consumes. */
  final case class Op(name: String, build: () => AnyRef, sink: AnyRef => Unit,
      check: () => Unit)

  /** `cpu`: this process's CPU seconds during the execution; `busy` and
    * `steal`: the VM's CPU ticks during it (see `cpuTicks`). */
  final case class Sample(op: String, pass: Int, traced: Boolean, seconds: Double,
      cpu: Double, busy: Long, steal: Long, error: Option[String])

  def main(args: Array[String]): Unit = {
    val arg = args.map { kv =>
      val i = kv.indexOf('=')
      kv.take(i) -> kv.drop(i + 1)
    }.toMap
    val run = arg("run")
    val data = arg("data")
    val cpus = arg("cpus")
    val names = arg("ops").split(",").toSeq.filter(_.nonEmpty)
    val traced = arg("trace") == "1"
    val passes = arg("passes").toInt
    val rng = new scala.util.Random(arg("seed").toLong)
    val pack = arg("mode") == "pack"

    val spark: Option[SparkSession] =
      if (pack) None
      else Some(arg.foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
        case (b, (k, v)) if k.startsWith("conf.") => b.config(k.stripPrefix("conf."), v)
        case (b, _) => b
      }.getOrCreate())
    spark.foreach(_.sparkContext.setLogLevel("WARN"))

    val ops: Seq[Op] =
      if (pack) {
        val out = s"$run/out"
        val main = () => {
          graft.Main.main(Array("--data-dir", data, "--out", out, "--jobs", names.mkString(",")))
          null: AnyRef
        }
        Seq(Op(names.mkString("+"), main, _ => (), () => main()))
      } else {
        val s = spark.get
        val all = graft.SparkEntry.queries
        val missing = names.filterNot(all.contains)
        if (missing.nonEmpty) {
          System.err.println(s"[perfbench] not in SparkEntry.queries: ${missing.mkString(", ")}")
          sys.exit(3)
        }
        names.map { n =>
          val fn = all(n)
          Op(n, () => fn(s, data),
            df => df.asInstanceOf[DataFrame].write.mode("overwrite").format("noop").save(),
            () => fn(s, data).coalesce(1).write.mode("overwrite").parquet(s"$run/check/$n"))
        }
      }
    val forced = () => throw new IllegalStateException("failure injected by the benchmark")
    val allOps = ops ++ (if (arg.get("fail").contains("1"))
      Seq(Op("forced_failure", forced, _ => (), () => forced())) else Nil)

    val checkErrors = ArrayBuffer.empty[(String, String)]
    rng.shuffle(allOps).foreach { op =>
      try op.check() catch { case e: Throwable => checkErrors += op.name -> describe(e) }
    }
    // the noop sink's first use would otherwise land on the first timed op
    spark.foreach(_.range(1).write.mode("overwrite").format("noop").save())
    val readyMs = System.currentTimeMillis()
    val (readyBusy, readySteal) = cpuTicks()

    val packNames = if (pack) names else Nil
    // the oracle SQL of every table the operations produce
    val produced =
      if (pack) graft.Main.registry(data, s"$run/out").filter(j => names.contains(j.name))
        .flatMap(_.writeTargets.getOrElse(Set.empty[String]))
      else names
    val oracles = graft.SparkEntry.oracleSql.filter { case (k, _) => produced.contains(k) }
    def drain(): Unit = spark.foreach(s => org.apache.spark.perfbench.BusDrain(s.sparkContext))
    val samples = ArrayBuffer.empty[Sample]
    val rows = ArrayBuffer.empty[(String, Int, Seq[(String, Double)])]
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    // the JIT compiles the calibration sort before its times are kept
    (1 to 5).foreach(_ => calibrate())
    val calibration = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var pass = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (pass < passes) {
      calibration ++= (1 to 3).map(_ => calibrate())
      // untraced passes on both sides of each traced one, so the warm-up
      // trend does not show as tracing overhead
      val tracedPass = traced && pass % 2 == 1
      rng.shuffle(allOps).foreach { op =>
        if (tracedPass) { drain(); Trace.begin(op.name, packNames) }
        val (busy0, steal0) = cpuTicks()
        val opCpu0 = os.getProcessCpuTime
        val a = System.nanoTime()
        var b = a
        val error = try {
          val built = op.build()
          b = System.nanoTime()
          op.sink(built)
          None
        } catch { case e: Throwable => Some(describe(e)) }
        val c = System.nanoTime()
        val opCpu = (os.getProcessCpuTime - opCpu0) / 1e9
        val (busy1, steal1) = cpuTicks()
        samples += Sample(op.name, pass, tracedPass, (c - a) / 1e9, opCpu, busy1 - busy0,
          steal1 - steal0, error)
        if (tracedPass) {
          val endMs = System.currentTimeMillis()
          drain()
          Trace.withRecord { r =>
            r.buildEndMs = r.startMs + (b - a) / 1000000L
            rows += ((op.name, pass, r.row(endMs, (c - a) / 1e9, (b - a) / 1e9)))
          }
          Trace.end()
        }
      }
      pass += 1
    }
    val measuredS = elapsed
    spark.foreach(_.stop())

    val json = new StringBuilder
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    json ++= "{"
    json ++= s""""ready_ms": $readyMs, "ready_busy": $readyBusy, "ready_steal": $readySteal, """
    json ++= s""""measured_s": ${num(measuredS)}, "passes": $pass, """
    json ++= s""""peak_rss_mb": ${num(peakRssMb)}, """
    json ++= "\"calibration\": " + calibration.map(num).mkString("[", ", ", "]") + ", "
    json ++= s""""java": ${str(System.getProperty("java.version"))}, """
    json ++= s""""spark": ${str(org.apache.spark.SPARK_VERSION)}, """
    json ++= s""""max_heap_mb": ${Runtime.getRuntime.maxMemory / (1024 * 1024)}, """
    json ++= "\"oracles\": " + oracles.toSeq.sorted.map { case (k, v) =>
      s"${str(k)}: ${str(v)}" }.mkString("{", ", ", "}") + ", "
    json ++= "\"check_errors\": " + checkErrors.map { case (n, e) =>
      s"""{"op": ${str(n)}, "error": ${str(e)}}""" }.mkString("[", ", ", "]") + ", "
    json ++= "\"samples\": " + samples.map { s =>
      s"""{"op": ${str(s.op)}, "pass": ${s.pass}, "traced": ${s.traced}, """ +
        s""""seconds": ${num(s.seconds)}, "cpu": ${num(s.cpu)}, "busy": ${s.busy}, """ +
        s""""steal": ${s.steal}, """ +
        s""""error": ${s.error.map(str).getOrElse("null")}}"""
    }.mkString("[\n", ",\n", "\n]") + ", "
    json ++= "\"trace\": " + rows.map { case (n, p, kv) =>
      s"""{"op": ${str(n)}, "pass": $p, "metrics": """ +
        kv.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString("{", ", ", "}") + "}"
    }.mkString("[\n", ",\n", "\n]")
    json ++= "}\n"
    Files.write(Paths.get(s"$run/result.json"), json.toString.getBytes(UTF_8))
  }

  /** Error class and message, with the first cause that says more. */
  def describe(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    val head = s"${e.getClass.getName}: ${e.getMessage}"
    (if (root ne e) s"$head (cause ${root.getClass.getName}: ${root.getMessage})" else head)
      .take(1000)
  }

  private val calibrationInput = {
    val r = new scala.util.Random(42)
    Array.fill(1 << 20)(r.nextInt())
  }

  /** CPU seconds this thread takes to sort a fixed array of 2^20 ints: a
    * fixed piece of work whose time tracks the speed the host gives a vCPU
    * at the moment (clock rate, a busy sibling hyperthread, shared caches),
    * which the steal count does not show. */
  def calibrate(): Double = {
    val threads = ManagementFactory.getThreadMXBean
    val a = calibrationInput.clone()
    val t = threads.getCurrentThreadCpuTime
    java.util.Arrays.sort(a)
    (threads.getCurrentThreadCpuTime - t) / 1e9
  }

  /** CPU ticks of the whole VM since boot, from the first line of
    * /proc/stat: busy (user, nice, system, irq, softirq) and steal, the
    * time the host ran something else while one of this VM's vCPUs had
    * work. (0, 0) where the file is missing. */
  def cpuTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val line = try src.getLines().next() finally src.close()
      val t = line.trim.split("\\s+").drop(1).map(_.toLong)
      (t(0) + t(1) + t(2) + t(5) + t(6), if (t.length > 7) t(7) else 0L)
    } catch { case _: Exception => (0L, 0L) }

  /** High-water resident set size of this process, in MiB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }
}
