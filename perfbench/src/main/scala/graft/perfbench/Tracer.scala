package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.constraints.Validator
import graft.constraints.Validator.SuiteConfig
import graft.lineage.Checkpoint

/** The traced run's outside view of the engine. The benchmark records a
  * span around each of its own calls into a layer; a `SparkListener` and
  * a `QueryExecutionListener` record the Spark jobs, stages and SQL
  * executions those calls cause.
  * Everything stays in memory and is linked once, at the end of the run:
  *
  *  - a job's parent is the innermost benchmark span that was open when
  *    it started; a stage's parent is its job;
  *  - a job belongs to the layer of the engine file that issued it (the
  *    first `graft.` frame of its SQL execution's call site, taken on the
  *    calling thread), else to its parent's; its stages follow it;
  *  - a span's self time is its duration minus the part its children
  *    cover; the layer table gives every traced instant to the innermost
  *    span open at that instant, so its rows add up to the traced wall.
  *
  * Counters (bytes read, shuffle bytes, tasks, stages, scans of the input,
  * files and bytes written) come from stage task metrics, plan
  * descriptions and driver metric updates, so host load cannot move them.
  * The listeners record only while enabled; the workload loops alternate
  * that per iteration, so one run yields traced and untraced samples of
  * the same operation, whose difference is the tracing overhead.
  */
final class Tracer private (ctx: Ctx) {
  import Tracer._

  @volatile private var enabled = true

  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  private def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Span]()
  // keyed by (SparkContext generation, id): ids restart in a new context
  private val jobs = mutable.LinkedHashMap[(Int, Int), Job]()
  private val stages = mutable.LinkedHashMap[(Int, Int), Stage]()
  private val execs = mutable.Map[(Int, Long), Exec]()
  private val accums = mutable.Map[(Int, Long), Long]()
  private val actions = mutable.Map[String, (Int, Double)]()

  /** Absolute paths whose scans count as passes over the workload input. */
  var inputRoots: Seq[String] = Nil

  def span[A](name: String, layer: String)(body: => A): A = {
    val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, layer,
      "bench", nowUs, 0L, mutable.LinkedHashMap("traced" -> enabled))
    spans += s
    stack.push(s)
    try body finally { s.endUs = nowUs; stack.pop() }
  }

  private def sparkListener(gen: Int) = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) synchronized {
      jobs((gen, e.jobId)) = Job(gen, e.jobId, e.time * 1000L, 0L, e.stageIds,
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .map(_.toLong))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get((gen, e.jobId)).foreach(_.endUs = e.time * 1000L)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      stages((gen, i.stageId)) = Stage(i.stageId, i.details, i.name,
        i.submissionTime.getOrElse(0L) * 1000L, i.completionTime.getOrElse(0L) * 1000L,
        i.numTasks, m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.outputMetrics.bytesWritten)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      // adaptive execution submits jobs from a pool thread, so the call
      // site naming the engine call is the SQL execution's, taken on the
      // calling thread
      case s: SparkListenerSQLExecutionStart if enabled => synchronized {
        val nodes = planNodes(s.sparkPlanInfo)
        execs((gen, s.executionId)) = Exec(
          callSite(s.details, s.description),
          nodes.filter(_.nodeName.startsWith("Scan")).flatMap(_.metadata.get("Location")),
          nodes.filter(_.nodeName.contains("InsertIntoHadoopFsRelationCommand"))
            .flatMap(n => WritePath.findFirstMatchIn(n.simpleString).map(_.group(1))),
          nodes.flatMap(_.metrics).filter(_.name == "number of written files")
            .map(_.accumulatorId))
      }
      case u: SparkListenerDriverAccumUpdates if enabled => synchronized {
        u.accumUpdates.foreach { case (id, v) => accums((gen, id)) = v }
      }
      case _ =>
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (enabled) synchronized {
        val (n, s) = actions.getOrElse(funcName, (0, 0.0))
        actions(funcName) = (n + 1, s + durationNs / 1e9)
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private var generation = 0

  def attach(spark: SparkSession): Unit = {
    generation += 1
    spark.sparkContext.addSparkListener(sparkListener(generation))
    spark.listenerManager.register(queryListener)
  }

  /** Switch recording on or off once every event posted so far has been
    * delivered under the current setting.
    */
  def record(on: Boolean): Unit = {
    org.apache.spark.perfbench.ListenerBusDrain(ctx.spark.sparkContext)
    enabled = on
  }

  private def median(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Time each layer's entry point from outside, on the workload's input,
    * `ProbeRepeats` traced calls each; the metric is their median.
    */
  def probes(c: Ctx, read: SparkSession => DataFrame, dimPath: String,
             scfg: SuiteConfig, statePath: String, inputPath: String): Unit = {
    val spark = c.spark
    record(true)
    inputRoots = Seq(inputPath)
    val dim = spark.read.parquet(dimPath).collect()
    def probe[A](metric: String, layer: String)(f: => A): A = {
      val (results, secs) = (0 until ProbeRepeats).map { _ =>
        val t0 = System.nanoTime()
        val r = span(s"probe:$metric", layer)(f)
        (r, (System.nanoTime() - t0) / 1e9)
      }.unzip
      c.run.metric(metric, median(secs), "s")
      results.last
    }
    probe("scan.decode_s", "scan")(
      read(spark).agg(sum(size(col("tokens")))).collect())
    probe("constraints.violations_s", "constraints")(
      Validator.violations(read(spark), scfg).count())
    probe("constraints.source_stats_s", "constraints")(
      Validator.sourceStats(read(spark), scfg).collect())
    val stats = probe("constraints.fused_pass_s", "constraints") {
      val (observed, thunk) = Validator.observeStats(read(spark), scfg)
      Validator.violations(observed, scfg).count()
      thunk()
    }
    val dup = probe("constraints.uniqueness_s", "constraints")(
      Validator.dupStats(read(spark), scfg))
    probe("stats.verdicts_s", "stats")(
      Validator.buildVerdicts(spark, stats, dim, dup, scfg).collect())
    probe("lineage.plan_s", "lineage")(Checkpoint.plan(spark, inputPath, statePath))
    // the streaming validator's micro-batch body (violations write, stats
    // state merge, verdict write) over the whole input as one batch each
    val streamState = s"$statePath-stream"
    var batchId = -1L
    probe("streaming.batch_s", "streaming") {
      batchId += 1
      graft.streaming.PerfbenchAccess.processBatch(spark, read(spark), batchId, streamState, dim, scfg)
    }
    val fs = Common.fs(spark, streamState)
    c.run.metric("streaming.state_bytes",
      fs.getContentSummary(new org.apache.hadoop.fs.Path(streamState)).getLength.toDouble, "bytes")
  }

  /** Throughput of `op` at `local[1]` (same table, same config), and the
    * scaling efficiency against the untraced `local[nproc]` figure.
    */
  def oneCore(c: Ctx, opName: String, rowsPerOp: Double)(op: () => Unit): Unit = {
    record(false)
    c.spark.stop()
    c.spark = Main.session(1, c.localDir)
    attach(c.spark)
    record(false)
    (0 until OneCoreRepeats).foreach(_ => op())
    val one = rowsPerOp / median(c.run.samples(s"$opName.local1"))
    val many = rowsPerOp / median(c.run.samples(s"$opName@untraced"))
    c.run.record("one_core_seq_per_s") = one
    c.run.record("scaling_eff") = many / (c.args.cores * one)
  }

  /** Link the spans, derive the per-layer metrics, print the tables and
    * keep the spans in the run record.
    */
  def finish(c: Ctx): Unit = {
    record(false)
    val headline = c.headline
    val all = (spans.toSeq ++ linkSpark()).sortBy(_.startUs)
    val children = all.groupBy(_.parent)
    val run = c.run
    def descendants(s: Span): Seq[Span] =
      children.getOrElse(s.id, Nil).flatMap(k => k +: descendants(k))

    // counters and the job/driver split of each traced headline call
    val heads = spans.toSeq.filter(s => s.name == headline && s.attrs("traced") == true)
    val perHead = heads.map { h =>
      val d = descendants(h)
      val st = d.filter(_.kind == "stage")
      val jb = d.filter(_.kind == "job")
      val ex = jb.flatMap(_.exec).distinct
      def scansInput(e: Exec) = e.scans.count(loc => inputRoots.exists(loc.contains))
      // input bytes of the jobs that scan the workload's input; state reads
      // are left out (their size moves with the randomized KLL sketches)
      val inputJobs = jb.filter(_.exec.exists(scansInput(_) > 0)).map(_.id).toSet
      def stageSum(k: String, ss: Seq[Span] = st) = ss.map(_.attrs(k).asInstanceOf[Long]).sum.toDouble
      mutable.LinkedHashMap[String, Double](
        "bytes_read" -> stageSum("bytes_read", st.filter(s => inputJobs(s.parent))),
        "shuffle_write_bytes" -> stageSum("shuffle_write_bytes"),
        "bytes_written" -> stageSum("bytes_written"),
        "tasks" -> st.map(_.attrs("tasks").asInstanceOf[Int]).sum.toDouble,
        "stages" -> st.size.toDouble,
        "jobs" -> jb.size.toDouble,
        "table_passes" -> ex.map(scansInput).sum.toDouble,
        "files_written" -> ex.flatMap(e => e.fileAccums.flatMap(a => accums.get((e.gen, a)))).sum.toDouble,
        "jobs_s" -> coveredUs(h, jb) / 1e6,
        "driver_s" -> (h.durUs - coveredUs(h, jb)) / 1e6)
    }
    def headMedian(k: String): Double = median(perHead.map(_(k)))
    // counters come from the first traced call: the loop's order is fixed,
    // so that call sees the same input state in every run of a seed
    def headFirst(k: String): Double = perHead.headOption.map(_(k)).getOrElse(0.0)
    run.metric("scan.bytes_read", headFirst("bytes_read"), "bytes")
    run.metric("scan.table_passes", headFirst("table_passes"), "count")
    run.metric("constraints.shuffle_write_bytes", headFirst("shuffle_write_bytes"), "bytes")
    run.metric("constraints.tasks", headFirst("tasks"), "count")
    run.metric("constraints.stages", headFirst("stages"), "count")
    run.metric("io.bytes_written", headFirst("bytes_written"), "bytes")
    run.metric("io.files_written", headFirst("files_written"), "count")
    run.metric("op.spark_jobs_s", headMedian("jobs_s"), "s")
    run.metric("op.driver_s", headMedian("driver_s"), "s")
    run.metric("jvm.gc_s", Env.gcSeconds(), "s")
    val traced = median(run.samples.getOrElse(s"$headline@traced", Nil))
    val untraced = median(run.samples.getOrElse(s"$headline@untraced", Nil))
    run.metric("op.traced_s", traced, "s")
    run.metric("trace.overhead_s", traced - untraced, "s")
    run.metric("failed_op_ratio", run.failed.toDouble / math.max(1L, run.attempted), "ratio")

    // Spark job time by the engine call that issued it, per headline call
    val headJobs = heads.flatMap(h => descendants(h).filter(_.kind == "job"))
    val bySite = headJobs.groupBy(_.attrs("site").toString)
      .map { case (k, js) => k -> js.map(_.durUs).sum / 1e6 / math.max(1, heads.size) }
    val layerSelf = sweepByLayer(all)
    val headSeconds = median(heads.map(_.durUs / 1e6))
    val breakdown = mutable.LinkedHashMap[String, Double]()
    bySite.foreach { case (site, secs) =>
      val k = breakdownKey(site)
      breakdown(k) = breakdown.getOrElse(k, 0.0) + secs
    }
    breakdown("driver_s") = headMedian("driver_s")
    run.record("headline_breakdown_s") = breakdown
    run.record("headline_op") = headline
    run.record("headline_calls") = perHead
    run.record("headline_job_s_by_call_site") = bySite
    run.record("layer_self_s") = layerSelf
    run.record("sql_actions") = actions.map { case (k, (n, s)) => k -> Seq(n.toDouble, s) }
    run.record("spans") = all.map(_.toMap)

    println(f"# traced run: ${c.args.workload} seed=${c.args.seed}; headline op '$headline': " +
      f"${heads.size} traced calls, median $traced%.3f s traced, $untraced%.3f s untraced")
    println("# self time by layer over the traced run (s)")
    layerSelf.toSeq.sortBy(-_._2).foreach { case (l, s) => println(f"#   $l%-14s $s%8.3f") }
    println(f"# '$headline' call ($headSeconds%.3f s traced median) split (s)")
    breakdown.foreach { case (k, s) => println(f"#   $k%-48s $s%7.3f") }
    println(s"# Spark job time per '$headline' call, by issuing engine call (s)")
    bySite.toSeq.sortBy(-_._2).foreach { case (k, s) => println(f"#   $k%-48s $s%7.3f") }
  }

  /** Job and stage spans, hung under benchmark spans. */
  private def linkSpark(): Seq[Span] = synchronized {
    var nextId = spans.size
    def newId(): Int = { nextId += 1; nextId }
    val holders = spans.toSeq
    val jobSpans = jobs.values.filter(_.endUs > 0).toSeq.map { j =>
      val parent = innermost(holders, j.startUs)
      val exec = j.execId.flatMap(e => execs.get((j.gen, e)).map(_.copy(gen = j.gen, id = e)))
      val site = exec.map(_.site).getOrElse {
        j.stageIds.flatMap(st => stages.get((j.gen, st))).sortBy(-_.id).headOption
          .map(st => callSite(st.details, st.name)).getOrElse("?")
      }
      val label = exec.flatMap(_.writes.headOption)
        .map(out => s"$site -> ${out.split('/').last}").getOrElse(site)
      val layer = layerOfSite(site).orElse(parent.map(_.layer)).getOrElse("jvm")
      j -> Span(newId(), parent.map(_.id).getOrElse(-1), s"job ${j.id}", layer, "job",
        j.startUs, j.endUs, mutable.LinkedHashMap("site" -> label), exec)
    }
    val stageOwner = jobSpans.flatMap { case (j, s) => j.stageIds.map(st => (j.gen, st) -> s) }.toMap
    val stageSpans = stages.toSeq.filter(_._2.endUs > 0).map { case (key, st) =>
      val job = stageOwner.get(key)
      Span(newId(), job.map(_.id).getOrElse(-1), s"stage ${st.id}",
        job.map(_.layer).getOrElse("jvm"), "stage", st.startUs, st.endUs,
        mutable.LinkedHashMap[String, Any]("tasks" -> st.tasks, "bytes_read" -> st.bytesRead,
          "shuffle_write_bytes" -> st.shuffleWrite, "bytes_written" -> st.bytesWritten))
    }
    jobSpans.map(_._2) ++ stageSpans
  }

  private def innermost(cands: Seq[Span], tUs: Long): Option[Span] =
    cands.filter(s => s.endUs > 0 && s.startUs - SlackUs <= tUs && tUs <= s.endUs + SlackUs)
      .sortBy(s => (s.durUs, -s.startUs)).headOption
}

object Tracer {
  val ProbeRepeats = 3
  val OneCoreRepeats = 3
  private val SlackUs = 1000L
  private val WritePath = """InsertIntoHadoopFsRelationCommand (?:file:)?(\S+?),""".r

  final case class Span(id: Int, parent: Int, name: String, layer: String, kind: String,
                        startUs: Long, var endUs: Long,
                        attrs: mutable.LinkedHashMap[String, Any],
                        exec: Option[Exec] = None) {
    def durUs: Long = math.max(0L, endUs - startUs)
    def toMap: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap[String, Any](
      "id" -> id, "parent" -> parent, "name" -> name, "layer" -> layer, "kind" -> kind,
      "start_us" -> startUs, "end_us" -> endUs) ++ attrs
  }
  final case class Job(gen: Int, id: Int, startUs: Long, var endUs: Long, stageIds: Seq[Int],
                       execId: Option[Long])
  final case class Stage(id: Int, details: String, name: String, startUs: Long, endUs: Long,
                         tasks: Int, bytesRead: Long, shuffleWrite: Long, bytesWritten: Long)
  /** A SQL execution: its call site, the locations it scans, the paths it
    * writes and the accumulators counting the files it writes.
    */
  final case class Exec(site: String, scans: Seq[String], writes: Seq[String],
                        fileAccums: Seq[Long], gen: Int = 0, id: Long = -1L)

  def install(ctx: Ctx): Tracer = {
    val t = new Tracer(ctx)
    t.attach(ctx.spark)
    t
  }

  def planNodes(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(planNodes)

  /** Length of `s`'s interval covered by the union of `kids`' intervals. */
  def coveredUs(s: Span, kids: Seq[Span]): Long = {
    val iv = kids.map(k => (math.max(k.startUs, s.startUs), math.min(k.endUs, s.endUs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = 0L
    var curB = 0L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered + (curB - curA)
  }

  /** Seconds of wall time per layer: each instant covered by some span
    * goes to the deepest span open at that instant.
    */
  def sweepByLayer(all: Seq[Span]): Map[String, Double] = {
    val byId = all.map(s => s.id -> s).toMap
    def depth(s: Span): Int = byId.get(s.parent).map(depth(_) + 1).getOrElse(0)
    val depths = all.map(s => s.id -> depth(s)).toMap
    val cuts = all.flatMap(s => Seq(s.startUs, s.endUs)).distinct.sorted
    val out = mutable.Map[String, Long]()
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val open = all.filter(s => s.startUs <= a && s.endUs >= b && s.durUs > 0)
      if (open.nonEmpty) {
        val owner = open.maxBy(s => (depths(s.id), s.startUs))
        out(owner.layer) = out.getOrElse(owner.layer, 0L) + (b - a)
      }
    }
    out.map { case (k, v) => k -> v / 1e6 }.toMap
  }

  /** "<method> at <File>:<line>" of the first engine frame (a `graft.`
    * frame outside the benchmark) of a call site, else Spark's short form.
    */
  def callSite(details: String, shortForm: String): String = {
    val Frame = """\s*(?:at )?graft\.([\w.$]+)\.([\w$]+)\((\w+\.scala):(\d+)\).*""".r
    details.split('\n').iterator.collect {
      case Frame(cls, method, file, line) if !cls.startsWith("perfbench") =>
        s"$method at $file:$line"
    }.nextOption().getOrElse(shortForm)
  }

  private val FileLayers = Seq(
    "ResumableValidator.scala" -> "constraints", "Validator.scala" -> "constraints",
    "SuiteStats" -> "constraints", "Checkpoint.scala" -> "lineage",
    "StreamingValidator.scala" -> "streaming", "CompactedIndex.scala" -> "streaming",
    "SequenceSynth.scala" -> "sequences", "Drift.scala" -> "stats",
    "KllSketchAgg.scala" -> "stats")

  /** The job-time buckets a headline call is split into: the fused pass,
    * the uniqueness exchange, state writes (per output directory) and
    * everything else the call runs as Spark jobs.
    */
  def breakdownKey(site: String): String =
    if (site.contains("dupStats")) "uniqueness_s"
    else if (site.contains("validateOneScan")) "fused_pass_s"
    else if (site.endsWith("-> violations")) "validate_and_violations_write_s"
    else if (site.endsWith("-> stats") || site.endsWith("-> verdicts")) "state_write_s"
    else "other_jobs_s"

  def layerOfSite(site: String): Option[String] =
    FileLayers.collectFirst { case (f, l) if site.contains(s" at $f") => l }
}
