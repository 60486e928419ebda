package graft.perfbench

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.constraints.{ResumableValidator, Validator}
import graft.constraints.Validator.{SuiteConfig, ValidationReport}
import graft.sequences.SequenceSynth

/** Inputs and output checks shared by the workloads. */
object Common {
  val SetupRepeats = 3

  def suiteConfig(cfg: SequenceSynth.Config): SuiteConfig =
    SuiteConfig(vocabSize = cfg.vocabSize, minNtok = cfg.minNtok, maxNtok = cfg.maxNtok + 1)

  def fs(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def writeDim(spark: SparkSession, cfg: SequenceSynth.Config, path: String): Unit =
    SequenceSynth.sourcesDim(spark, cfg).write.mode("overwrite").parquet(path)

  /** (source, check) -> pass for a verdict frame. */
  def decisions(verdicts: DataFrame): Map[(String, String), Boolean] =
    verdicts.collect().map(r =>
      (r.getAs[String]("source"), r.getAs[String]("check")) -> r.getAs[Boolean]("pass")).toMap

  def rowsBySource(stats: Array[Row]): Map[String, Long] =
    stats.map(r => r.getAs[String]("source") -> r.getAs[Long]("n_rows")).toMap

  /** Exact ground truth of a synthesized table, re-derived from the
    * generator's id-residue families: per-class totals from
    * `SequenceSynth.expectedViolationCounts` plus the number of rows that
    * carry at least one row-level violation (the families overlap on a
    * few ids, so this is the union, counted id by id).
    */
  final case class Expected(cfg: SequenceSynth.Config) {
    val counts: Map[String, Long] = SequenceSynth.expectedViolationCounts(cfg)
    val violationRows: Long = {
      def hit(every: Long, residue: Long, id: Long) = every > 0 && id % every == residue
      var n = 0L
      var id = 0L
      while (id < cfg.rows) {
        if (hit(cfg.ntokMismatchEvery, 7, id) || hit(cfg.oovEvery, 11, id) ||
            hit(cfg.nullTokEvery, 17, id)) n += 1
        id += 1
      }
      n
    }
  }

  private val DupKeys = """(\d+) duplicated doc_ids""".r.unanchored

  /** Checks of one full-table validation report against the generator's
    * ground truth. Returns the problems found (empty = correct).
    */
  def checkReport(rep: ValidationReport, exp: Expected): Seq[String] = {
    val stats = rep.sourceStats.collect()
    val d = decisions(rep.verdicts)
    val problems = Seq.newBuilder[String]
    def expect(ok: Boolean, msg: => String): Unit = if (!ok) problems += msg
    def total(f: String) = stats.map(_.getAs[Long](f)).sum
    expect(total("n_rows") == exp.cfg.rows, s"n_rows ${total("n_rows")} != ${exp.cfg.rows}")
    for ((cls, field) <- Seq("ntok_mismatch" -> "n_ntok_mismatch",
        "null_token" -> "n_null_token", "oov_token" -> "n_oov_token"))
      expect(total(field) == exp.counts(cls), s"$cls ${total(field)} != ${exp.counts(cls)}")
    expect(total("n_ntok_bounds") == 0L, s"ntok_bounds ${total("n_ntok_bounds")} != 0")
    expect(rowsBySource(stats).get("ghost").contains(exp.counts("referential")),
      s"ghost rows ${rowsBySource(stats).get("ghost")} != ${exp.counts("referential")}")
    val uniq = rep.verdicts.filter(col("check") === "uniqueness").collect()
    val dupKeys = uniq.headOption.map(_.getAs[String]("observed")).collect {
      case DupKeys(k) => k.toLong
    }
    expect(dupKeys.contains(exp.counts("uniqueness")),
      s"uniqueness observed $dupKeys != ${exp.counts("uniqueness")} duplicated keys")
    expect(d.get(("*", "uniqueness")).contains(false), "uniqueness verdict is not FAIL")
    expect(d.get(("ghost", "referential")).contains(false), "ghost referential is not FAIL")
    expect(d.get(("web", "referential")).contains(true), "web referential is not PASS")
    expect(d.get(("chat", "ntok_drift")).contains(false), "chat drift is not FAIL")
    expect(d.get(("web", "ntok_drift")).contains(true), "web drift is not PASS")
    problems.result()
  }

  def checkViolationCount(n: Long, exp: Expected): Seq[String] =
    if (n == exp.violationRows) Nil else Seq(s"violation rows $n != ${exp.violationRows}")

}

/** `suite_batch`: `Validator.validateOneScan` over a freshly synthesized
  * source-partitioned table with the hot `web` source at 80%.
  */
object SuiteBatch {
  import Common._

  val Rows = 60000L
  val WarmCalls = 6

  def cfg(seed: Long): SequenceSynth.Config = SequenceSynth.Config(rows = Rows, seed = seed)

  def iteration(ctx: Ctx, table: String, dim: String, scfg: SuiteConfig): ValidationReport = {
    val spark = ctx.spark
    Validator.validateOneScan(spark, spark.read.parquet(table), spark.read.parquet(dim), scfg)
  }

  /** Synthesis runs in its own JVM: the `main` JVM's first iteration is
    * then what a `Main validate` user pays.
    */
  val setup: Ctx => Unit = { ctx =>
    val c = cfg(ctx.args.seed)
    ctx.setup(SetupRepeats) {
      SequenceSynth.write(ctx.spark, c, ctx.path("table"), buckets = ctx.args.cores)
      writeDim(ctx.spark, c, ctx.path("dim"))
    }
  }

  val main: Ctx => Unit = { ctx =>
    val c = cfg(ctx.args.seed)
    val table = ctx.path("table")
    val dim = ctx.path("dim")
    val exp = Expected(c)
    val scfg = suiteConfig(c)
    ctx.headline = "suite"
    ctx.op("suite.first", "constraints")(iteration(ctx, table, dim, scfg)) { rep =>
      // one full violation count per run: it re-scans the table
      checkReport(rep, exp) ++ checkViolationCount(rep.violations.count(), exp)
    }.foreach { case (_, secs) => ctx.run.metric("first_s", secs, "s") }
    // a call keeps getting faster for about six calls after the first (JIT
    // compilation of the suite's code paths); those calls are checked but
    // not timed
    (1 to WarmCalls).foreach { _ =>
      ctx.op("suite.warm", "constraints")(iteration(ctx, table, dim, scfg))(checkReport(_, exp))
    }
    ctx.loop(min = 4, max = 200) { _ =>
      ctx.op("suite", "constraints")(iteration(ctx, table, dim, scfg))(checkReport(_, exp))
    }
    val p50 = Stats.median(ctx.run.samples("suite"))
    ctx.run.metric("op_p50_s", p50, "s")
    ctx.run.metric("seq_per_s", Rows / p50, "seq/s")
    ctx.tracer.foreach { t =>
      // the suite validates without lineage state
      ctx.run.metric("lineage.partitions_validated", 0, "count")
      ctx.run.metric("lineage.partitions_skipped", 0, "count")
      t.probes(ctx, spark => spark.read.parquet(table), dim, scfg, ctx.path("no-state"), table)
      // how much of an untraced iteration the fused pass, the uniqueness
      // exchange and verdict assembly account for, timed from outside
      val parts = Seq("constraints.fused_pass_s", "constraints.uniqueness_s", "stats.verdicts_s")
        .map(ctx.run.metrics(_)._1).sum
      ctx.run.record("probe_parts_over_untraced_iteration") =
        parts / Stats.median(ctx.run.samples("suite@untraced"))
      t.oneCore(ctx, "suite", Rows.toDouble) { () =>
        ctx.op("suite.local1", "constraints")(iteration(ctx, table, dim, scfg))(checkReport(_, exp))
      }
    }
  }
}

/** `resume_incremental`: `ResumableValidator.run` with a state dir —
  * runs on empty state, then a loop of reruns after one generated file is
  * added to the small `books` partition, after it is removed, and with
  * nothing changed. Each run is checked against a fresh
  * `validateOneScan` of the same table state, computed once per state
  * outside the timed region.
  */
object ResumeIncremental {
  import Common._

  val Rows = 60000L
  val ExtraRows = 4000L
  val FullRuns = 3
  val WarmLoops = 2

  /** A fresh full result. `decisions` leaves out the sketch-based drift
    * verdicts that are not a stable output to compare, listed in
    * `uncertain`: KLL compaction is randomized, so two runs over the same
    * data move the bin edges and with them PSI/KS. A source with fewer
    * than `MinDriftRows` rows (the 61-row `ghost` source here, whose PSI
    * sits near 0.25 and jumps when an edge moves one of its few rows into
    * another bin) flips its decision between runs; for the others a
    * readout within `DriftBand` of its threshold counts as uncertain.
    */
  final case class Reference(decisions: Map[(String, String), Boolean],
                             uncertain: Set[(String, String)],
                             violations: Long, rows: Map[String, Long])

  val DriftBand = 0.05
  val MinDriftRows = 1000L
  private val Readout = """PSI=([0-9.]+) KS=([0-9.]+)""".r.unanchored

  def reference(spark: SparkSession, table: String, dim: String, scfg: SuiteConfig): Reference = {
    val rep = Validator.validateOneScan(spark, spark.read.parquet(table),
      spark.read.parquet(dim), scfg)
    val rows = rowsBySource(rep.sourceStats.collect())
    val uncertain = rep.verdicts.filter(col("check") === "ntok_drift").collect().collect {
      case r if rows.getOrElse(r.getAs[String]("source"), 0L) < MinDriftRows ||
          (r.getAs[String]("observed") match {
        case Readout(psi, ks) =>
          // PASS needs both readouts under their thresholds, FAIL either over
          val (p, k) = (psi.toDouble, ks.toDouble)
          val surePass = p < scfg.psiThreshold - DriftBand && k < scfg.ksThreshold - DriftBand
          val sureFail = p > scfg.psiThreshold + DriftBand || k > scfg.ksThreshold + DriftBand
          !surePass && !sureFail
        case _ => false
      }) => (r.getAs[String]("source"), "ntok_drift")
    }.toSet
    Reference(decisions(rep.verdicts) -- uncertain, uncertain, rep.violations.count(), rows)
  }

  def check(s: ResumableValidator.RunSummary, ref: Reference,
            validated: Set[String]): Seq[String] = {
    val problems = Seq.newBuilder[String]
    val d = decisions(s.report.verdicts) -- ref.uncertain
    if (d != ref.decisions)
      problems += s"verdicts differ from a fresh full run: " +
        (d.toSet diff ref.decisions.toSet).mkString(",")
    val nv = s.report.violations.count()
    if (nv != ref.violations) problems += s"violation rows $nv != ${ref.violations}"
    if (s.validatedSources.toSet != validated)
      problems += s"validated ${s.validatedSources.sorted} != ${validated.toSeq.sorted}"
    if (s.skippedSources.toSet != ref.rows.keySet -- validated)
      problems += s"skipped ${s.skippedSources.sorted}"
    val rows = rowsBySource(s.report.sourceStats.collect())
    if (rows != ref.rows) problems += s"rows by source $rows != ${ref.rows}"
    problems.result()
  }

  val main: Ctx => Unit = { ctx =>
    val spark = ctx.spark
    val c = SequenceSynth.Config(rows = Rows, seed = ctx.args.seed)
    val table = ctx.path("table")
    val dim = ctx.path("dim")
    val extraDir = ctx.path("extra")
    ctx.setup(SetupRepeats) {
      SequenceSynth.write(spark, c, table, buckets = ctx.args.cores)
      writeDim(spark, c, dim)
      // the appended file: new books rows with their own ids
      val extraCfg = c.copy(rows = ExtraRows, seed = c.seed + 1,
        sourceWeights = Seq("books" -> 1.0), orphanEvery = 0, dupEvery = 0,
        driftSource = None)
      SequenceSynth.sequences(spark, extraCfg)
        .withColumn("doc_id", concat(lit("add-"), col("doc_id")))
        .drop("source").coalesce(1)
        .write.mode("overwrite").parquet(extraDir)
    }
    val scfg = suiteConfig(c)
    val fsys = fs(spark, table)
    val extraFile = fsys.listStatus(new Path(extraDir)).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).getOrElse(sys.error("no extra file"))
    val inBooks = new Path(s"$table/source=books/${extraFile.getName}")
    def add(): Unit = require(fsys.rename(extraFile, inBooks), "add failed")
    def remove(): Unit = require(fsys.rename(inBooks, extraFile), "remove failed")

    ctx.headline = "resume.delta"
    val refBase = reference(spark, table, dim, scfg)
    add()
    val refAdded = reference(spark, table, dim, scfg)
    remove()
    ctx.run.record("uncertain_drift_verdicts") =
      (refBase.uncertain ++ refAdded.uncertain).map(_._1).toSeq.sorted
    val all = refBase.rows.keySet
    val books = Set("books")

    def rerun(name: String, state: String, ref: Reference, validated: Set[String]) =
      ctx.op(name, "constraints")(
        ResumableValidator.run(spark, table, spark.read.parquet(dim), scfg, state)) { s =>
        if (name == ctx.headline && ctx.tracer.isDefined) {
          ctx.run.metric("lineage.partitions_validated", s.validatedSources.size, "count")
          ctx.run.metric("lineage.partitions_skipped", s.skippedSources.size, "count")
        }
        check(s, ref, validated)
      }

    // resume calls keep getting faster for several calls in a fresh JVM, as
    // the suite's do: one run on empty state and two rounds of the loop's
    // reruns, checked but not timed, come first
    val warmState = ctx.path("state-warm")
    rerun("resume.warm", warmState, refBase, all)
    (1 to WarmLoops).foreach { _ =>
      add()
      rerun("resume.warm", warmState, refAdded, books)
      remove()
      rerun("resume.warm", warmState, refBase, books)
      rerun("resume.warm", warmState, refBase, Set.empty)
    }
    // runs on empty state, each into a fresh state dir; the median keeps
    // the first (coldest) one from setting the figure
    val state = (0 until FullRuns).map { i =>
      val dir = ctx.path(s"state-$i")
      rerun("resume.full", dir, refBase, all)
      dir
    }.last
    ctx.loop(min = 3, max = 100) { _ =>
      add()
      rerun("resume.delta", state, refAdded, books)
        .foreach(_ => ctx.run.sample("resume.delta.rows", refAdded.rows("books").toDouble))
      remove()
      rerun("resume.delta", state, refBase, books)
        .foreach(_ => ctx.run.sample("resume.delta.rows", refBase.rows("books").toDouble))
      rerun("resume.noop", state, refBase, Set.empty)
    }
    val delta = ctx.run.samples("resume.delta")
    ctx.run.metric("op_p50_s", Stats.median(delta), "s")
    // rows actually validated (the changed partition), never the skipped ones
    ctx.run.metric("seq_per_s", ctx.run.samples("resume.delta.rows").sum / delta.sum, "seq/s")
    ctx.run.metric("first_s", Stats.median(ctx.run.samples("resume.full")), "s")
    ctx.run.record("resume_noop_s") = Stats.median(ctx.run.samples("resume.noop"))
    ctx.tracer.foreach { t =>
      val state = ctx.path("state-probe")
      ResumableValidator.run(spark, table, spark.read.parquet(dim), scfg, state)
      t.probes(ctx, s => s.read.parquet(table), dim, scfg, state, table)
    }
  }
}

