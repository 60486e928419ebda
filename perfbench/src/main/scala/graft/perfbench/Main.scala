package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Entry point of the benchmark JVM. `perfbench/run.py` builds the
  * classpath and launches it; one launch runs one phase of one workload:
  *
  *   --workload suite_batch|resume_incremental
  *   --seed N --seconds S --trace 0|1 --cores C --work DIR
  *   --phase main|setup
  *
  * `main` synthesizes the workload's input and runs its closed loop for
  * S seconds. suite_batch splits the two: its `setup` JVM synthesizes,
  * and its `main` JVM, which did not, times its first iteration before
  * the loop. The last stdout line is one JSON object
  * `{"correct","attempted","failed","metrics"}`; everything else the run
  * learns (environment, per-op samples, spans) goes to `<work>/record-<phase>.json`.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, cores: Int, work: String, phase: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("cores").toInt, need("work"),
      m.getOrElse("phase", "main"))
  }

  /** The one session configuration every workload uses: `graft.Bench`'s
    * settings (AQE + skew join, 16 MB splits, UTC, no UI, shuffle
    * partitions = 2 x cores) at `local[cores]`.
    */
  def session(cores: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", (cores * 2).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private val json = com.fasterxml.jackson.databind.json.JsonMapper.builder()
    .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule).build()

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val args = parse(argv)
    val run = new Run
    run.record("env") = Env.snapshot(args)
    val localDir = Paths.get(args.work, "spark-local").toString
    Files.createDirectories(Paths.get(localDir))
    val ctx = new Ctx(args, run, session(args.cores, localDir), localDir)
    ctx.processStartNs = t0
    val body: Ctx => Unit = args.workload match {
      case "suite_batch" =>
        if (args.phase == "setup") SuiteBatch.setup else SuiteBatch.main
      case "resume_incremental" => ResumeIncremental.main
      case other => sys.error(s"unknown workload $other")
    }
    try body(ctx)
    catch { case NonFatal(e) =>
      // a workload that dies mid-loop still reports what it attempted
      run.attempted += 1; run.failed += 1
      System.err.println(s"[perfbench] ${args.workload} aborted: $e")
      e.printStackTrace()
    }
    ctx.tracer.foreach(_.finish(ctx))
    run.record("env_end") = Env.end()
    run.record("samples") = run.samples
    run.metric("peak_rss_mb", Env.peakRssMb(), "MB")
    ctx.spark.stop()
    Files.write(Paths.get(args.work, s"record-${args.phase}.json"),
      json.writeValueAsString(run.record).getBytes(StandardCharsets.UTF_8))
    println(json.writeValueAsString(mutable.LinkedHashMap[String, Any](
      "correct" -> (run.failed == 0 && run.attempted > 0),
      "attempted" -> run.attempted,
      "failed" -> run.failed,
      "metrics" -> run.metrics.map { case (k, (v, u)) =>
        k -> mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> u) })))
  }
}

/** What one JVM run accumulates: the printed metrics, the operation
  * counts behind `failed_op_ratio`, and the side record.
  */
final class Run {
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val record = mutable.LinkedHashMap[String, Any]()
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** Samples of one named quantity (seconds unless stated), kept in the
    * record so every median can be re-derived from the artifact.
    */
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += v
}

/** Per-run context shared by the workloads. */
final class Ctx(val args: Main.Args, val run: Run, var spark: SparkSession,
                val localDir: String) {
  var processStartNs = 0L
  /** The operation whose per-call counters the traced run reports. */
  var headline = ""
  val tracer: Option[Tracer] =
    if (args.trace) Some(Tracer.install(this)) else None

  def path(name: String): String =
    Paths.get(args.work, name).toAbsolutePath.toString

  /** Time `call` inside a traced span (when tracing) and check its output
    * outside the timed region. A call that throws or whose check reports
    * problems counts as one failed operation; both are counted, never
    * filtered.
    */
  def op[A](name: String, layer: String)(call: => A)(check: A => Seq[String])
      : Option[(A, Double)] = {
    run.attempted += 1
    val gc0 = Env.gcSeconds()
    val t0 = System.nanoTime()
    val r = try Right(span(name, layer)(call)) catch { case NonFatal(e) => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    run.sample(s"gc:$name", Env.gcSeconds() - gc0)
    r match {
      case Left(e) =>
        run.failed += 1
        System.err.println(s"[perfbench] $name threw: $e")
        None
      case Right(a) =>
        val problems =
          try check(a) catch { case NonFatal(e) => Seq(s"check threw $e") }
        if (problems.nonEmpty) {
          run.failed += 1
          problems.foreach(p => System.err.println(s"[perfbench] $name: $p"))
        }
        run.sample(name, secs)
        tracer.foreach(_ => run.sample(s"$name@$loopTag", secs))
        Some((a, secs))
    }
  }

  def span[A](name: String, layer: String)(body: => A): A = tracer match {
    case Some(t) => t.span(name, layer)(body)
    case None => body
  }

  /** Closed loop: iterate until `args.seconds` have passed since the loop
    * began, at least `min` and at most `max` times. A traced run alternates
    * untraced and traced iterations (twice the minimum), so it measures its
    * own tracing overhead.
    */
  def loop(min: Int, max: Int)(body: Int => Unit): Int = {
    val deadline = System.nanoTime() + args.seconds * 1000000000L
    val least = if (tracer.isDefined) 2 * min + 1 else min
    var i = 0
    while (i < max && (i < least || System.nanoTime() < deadline)) {
      // traced runs: a warm-up call, then untraced and traced in turn
      loopTag = if (i == 0) "warmup" else if (i % 2 == 0) "traced" else "untraced"
      tracer.foreach(_.record(loopTag == "traced"))
      body(i)
      i += 1
    }
    loopTag = "other"
    tracer.foreach(_.record(true))
    i
  }
  private var loopTag = "other"

  /** Run the workload's set-up `n` times; `setup_s` is the median, so the
    * first call's one-time JVM warm-up (class loading, code generation)
    * does not set the figure.
    */
  def setup(n: Int)(body: => Unit): Unit = {
    // each repetition is an operation: a set-up that throws counts as failed
    val secs = (0 until n).flatMap(_ => op("setup", "sequences")(body)(_ => Nil).map(_._2))
    run.metric("setup_s", Stats.median(secs), "s")
    run.metric("sequences.synth_s", Stats.median(secs), "s")
    run.record("process_start_to_setup_end_s") = (System.nanoTime() - processStartNs) / 1e9
  }
}

object Stats {
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toVector.sorted
    require(s.nonEmpty, "median of no samples")
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

object Env {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  def loadAvg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0

  def snapshot(a: Main.Args): mutable.LinkedHashMap[String, Any] =
    mutable.LinkedHashMap(
      "workload" -> a.workload, "phase" -> a.phase, "seed" -> a.seed,
      "seconds" -> a.seconds, "trace" -> a.trace,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "spark_cores" -> a.cores,
      "load_avg_1m_start" -> loadAvg(),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
      "scala" -> scala.util.Properties.versionNumberString)

  def end(): mutable.LinkedHashMap[String, Any] =
    mutable.LinkedHashMap("load_avg_1m_end" -> loadAvg(), "gc_s_total" -> gcSeconds())

  /** JVM resident high-water mark (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
