package graft.constraints

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.lineage.Checkpoint
import graft.sequences.SequenceSynth

class ResumeSpec extends AnyFunSuite {
  import ResumeSpec._
  lazy val spark = SharedSpark.spark

  val cfg = SequenceSynth.Config(rows = 20000)
  val suite = Validator.SuiteConfig(
    vocabSize = cfg.vocabSize, minNtok = cfg.minNtok, maxNtok = cfg.maxNtok + 1)

  /** Full tuples, except drift checks compare on decision only: KLL merge
    * compaction is randomized, so drift READOUTS differ in trailing
    * decimals while the verdict decision is stable.
    */
  private def verdictSet(s: ResumableValidator.RunSummary) =
    verdictRows(s.report.verdicts)

  test("rerun skips all checkpointed partitions and reproduces identical verdicts") {
    val dir = java.nio.file.Files.createTempDirectory("resume").toString
    val (inPath, statePath) = (s"$dir/seqs", s"$dir/state")
    SequenceSynth.write(spark, cfg, inPath, buckets = 4)
    val dim = SequenceSynth.sourcesDim(spark, cfg)

    val first = ResumableValidator.run(spark, inPath, dim, suite, statePath)
    assert(first.skippedSources.isEmpty)
    assert(first.validatedSources.toSet ==
      Set("web", "books", "code", "chat", "ghost"))
    assert(first.totalRows == cfg.rows)
    assert((first.validatedRows, first.skippedRows) == ((cfg.rows, 0L)))

    val second = ResumableValidator.run(spark, inPath, dim, suite, statePath)
    assert(second.validatedSources.isEmpty)
    assert(second.skippedSources.toSet == first.validatedSources.toSet)
    // a no-change rerun validates nothing: throughput must not count skips
    assert((second.validatedRows, second.skippedRows) == ((0L, cfg.rows)))
    assert(verdictSet(second) == verdictSet(first))
    // violations survive the skip
    assert(second.report.violations.count() == first.report.violations.count())
  }

  test("kill-mid-run: partitions without a manifest are revalidated, others skipped") {
    val dir = java.nio.file.Files.createTempDirectory("resume2").toString
    val (inPath, statePath) = (s"$dir/seqs", s"$dir/state")
    SequenceSynth.write(spark, cfg, inPath, buckets = 4)
    val dim = SequenceSynth.sourcesDim(spark, cfg)

    val first = ResumableValidator.run(spark, inPath, dim, suite, statePath)
    // simulate a crash that lost two partitions' manifests (data writes are
    // idempotent; manifests are written last)
    new java.io.File(s"$statePath/manifests/web.json").delete()
    new java.io.File(s"$statePath/manifests/chat.json").delete()

    val resumed = ResumableValidator.run(spark, inPath, dim, suite, statePath)
    assert(resumed.validatedSources.toSet == Set("web", "chat"))
    assert(resumed.skippedSources.toSet == Set("books", "code", "ghost"))
    assert(verdictSet(resumed) == verdictSet(first))
  }

  test("changed input lineage invalidates exactly that partition") {
    val dir = java.nio.file.Files.createTempDirectory("resume3").toString
    val (inPath, statePath) = (s"$dir/seqs", s"$dir/state")
    SequenceSynth.write(spark, cfg, inPath, buckets = 4)
    val dim = SequenceSynth.sourcesDim(spark, cfg)
    ResumableValidator.run(spark, inPath, dim, suite, statePath)

    // touch one file in the books partition -> fingerprint changes
    val f = new java.io.File(s"$inPath/source=books").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    f.setLastModified(f.lastModified() + 60000)

    val resumed = ResumableValidator.run(spark, inPath, dim, suite, statePath)
    assert(resumed.validatedSources == Seq("books"))
    assert(resumed.skippedSources.toSet == Set("web", "code", "chat", "ghost"))
  }

  test("state audit readers: manifest info, current/changed split, orphans") {
    val dir = java.nio.file.Files.createTempDirectory("resume4").toString
    val (inPath, statePath) = (s"$dir/seqs", s"$dir/state")
    SequenceSynth.write(spark, cfg, inPath, buckets = 4)
    val dim = SequenceSynth.sourcesDim(spark, cfg)
    ResumableValidator.run(spark, inPath, dim, suite, statePath)

    // every input partition's manifest parses with its row count
    val inputs = Checkpoint.inputPartitions(spark, inPath)
    inputs.foreach { pl =>
      val info = Checkpoint.readManifestInfo(spark, statePath, pl.source)
      assert(info.exists(_._1.contains(pl.fingerprint)), pl.source)
      assert(info.exists(_._2.exists(_ > 0L)), s"${pl.source} n_rows")
    }
    assert(Checkpoint.manifestSources(spark, statePath).toSet ==
      inputs.map(_.source).toSet)

    // a touched partition reads CHANGED (fingerprint mismatch), a
    // removed one leaves its manifest ORPHANED
    val f = new java.io.File(s"$inPath/source=books").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    f.setLastModified(f.lastModified() + 60000)
    val booksNow = Checkpoint.inputPartitions(spark, inPath)
      .find(_.source == "books").get
    assert(!Checkpoint.readManifestInfo(spark, statePath, "books")
      .exists(_._1.contains(booksNow.fingerprint)))
    // a garbled body still shows the audit its fingerprint (so it reads
    // NO-STATS, not NEW or UNPARSEABLE), but its stats no longer decode,
    // so the planner revalidates it — audit and planner share that one
    // predicate
    val webFp = Checkpoint.readManifestInfo(spark, statePath, "web").get._1.get
    val mp = new java.io.File(s"$statePath/manifests/web.json")
    java.nio.file.Files.writeString(mp.toPath,
      s"""{"source": "web", "fingerprint": "$webFp", "n_rows": garbled}""")
    // the raw edit invalidates Hadoop LocalFileSystem's checksum sidecar
    new java.io.File(s"$statePath/manifests/.web.json.crc").delete()
    val webInfo = Checkpoint.readManifestInfo(spark, statePath, "web")
    assert(webInfo.exists(i => i._1.contains(webFp) && i._2.isEmpty))
    val webNow = Checkpoint.inputPartitions(spark, inPath).find(_.source == "web").get
    assert(Checkpoint.checkpointed(spark, statePath, webNow).isEmpty)
    assert(!Checkpoint.plan(spark, inPath, statePath)._1.exists(_.lineage.source == "web"))

    rmAll(new java.io.File(s"$inPath/source=ghost"))
    val live = Checkpoint.inputPartitions(spark, inPath).map(_.source).toSet
    assert(!live("ghost"))
    assert(Checkpoint.manifestSources(spark, statePath).contains("ghost"))
  }

  test("a partition that turns clean loses its stored violation rows") {
    val dir = java.nio.file.Files.createTempDirectory("resume5").toString
    val (inPath, statePath) = (s"$dir/seqs", s"$dir/state")
    SequenceSynth.write(spark, cfg, inPath, buckets = 4)
    val dim = SequenceSynth.sourcesDim(spark, cfg)
    val first = ResumableValidator.run(spark, inPath, dim, suite, statePath)
    def booksViolations(s: ResumableValidator.RunSummary) =
      s.report.violations.filter(col("source") === "books").count()
    assert(booksViolations(first) > 0)

    // rewrite books with only its clean rows
    val clean = spark.read.parquet(s"$inPath/source=books").filter(
      graft.sequences.ViolationMask.violation_mask(col("tokens"), col("n_tok"),
        suite.vocabSize, suite.minNtok, suite.maxNtok) === 0)
    clean.write.parquet(s"$dir/books-clean")
    rmAll(new java.io.File(s"$inPath/source=books"))
    assert(new java.io.File(s"$dir/books-clean")
      .renameTo(new java.io.File(s"$inPath/source=books")))

    val resumed = ResumableValidator.run(spark, inPath, dim, suite, statePath)
    assert(resumed.validatedSources == Seq("books"))
    assert(booksViolations(resumed) == 0)
    assert(resumed.report.violations.count() ==
      Validator.violations(spark.read.parquet(inPath), suite).count())
  }

  test("escaped and NULL partition values are validated, not skipped") {
    val dir = java.nio.file.Files.createTempDirectory("resume6").toString
    val (inPath, statePath) = (s"$dir/seqs", s"$dir/state")
    SequenceSynth.sequences(spark, cfg)
      .withColumn("source", when(col("source") === "code", "a:b")
        .when(col("source") =!= "chat", col("source")))
      .write.partitionBy("source").parquet(inPath)
    val dim = SequenceSynth.sourcesDim(spark, cfg)
    val dirs = new java.io.File(inPath).list().toSet
    assert(dirs("source=a%3Ab") && dirs("source=__HIVE_DEFAULT_PARTITION__"))

    val first = ResumableValidator.run(spark, inPath, dim, suite, statePath)
    assert(first.validatedSources.toSet == Set("web", "books", "a:b", null, "ghost"))
    assert(first.totalRows == cfg.rows)
    assert(first.validatedRows + first.skippedRows == cfg.rows)
    val allViolations = Validator.violations(spark.read.parquet(inPath), suite).count()
    assert(first.report.violations.count() == allViolations)
    assert(verdictSet(first) == verdictRows(Validator.validateOneScan(
      spark, spark.read.parquet(inPath), dim, suite).verdicts))

    val second = ResumableValidator.run(spark, inPath, dim, suite, statePath)
    assert(second.validatedSources.isEmpty)
    assert((second.validatedRows, second.skippedRows) == ((0L, cfg.rows)))
    assert(verdictSet(second) == verdictSet(first))

    // a changed NULL partition is revalidated alone, its old rows replaced
    val f = new java.io.File(s"$inPath/source=__HIVE_DEFAULT_PARTITION__").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    f.setLastModified(f.lastModified() + 60000)
    val third = ResumableValidator.run(spark, inPath, dim, suite, statePath)
    assert(third.validatedSources == Seq(null))
    assert(third.validatedRows + third.skippedRows == cfg.rows)
    assert(third.report.violations.count() == allViolations)
    assert(verdictSet(third) == verdictSet(first))
  }

  test("an old-layout manifest without stats is revalidated") {
    val dir = java.nio.file.Files.createTempDirectory("resume7").toString
    val (inPath, statePath) = (s"$dir/seqs", s"$dir/state")
    SequenceSynth.write(spark, cfg, inPath, buckets = 4)
    val dim = SequenceSynth.sourcesDim(spark, cfg)
    val first = ResumableValidator.run(spark, inPath, dim, suite, statePath)
    // counted now: the rerun replaces web's violation files under this frame
    val firstViolations = first.report.violations.count()

    val (fp, n) = Checkpoint.readManifestInfo(spark, statePath, "web").get
    val mp = new java.io.File(s"$statePath/manifests/web.json")
    java.nio.file.Files.writeString(mp.toPath,
      s"""{"source": "web", "fingerprint": "${fp.get}", "n_rows": ${n.get}}""")
    new java.io.File(s"$statePath/manifests/.web.json.crc").delete()

    val resumed = ResumableValidator.run(spark, inPath, dim, suite, statePath)
    assert(resumed.validatedSources == Seq("web"))
    assert(resumed.totalRows == cfg.rows)
    assert(verdictSet(resumed) == verdictSet(first))
    assert(resumed.report.violations.count() == firstViolations)
  }

  test("a one-partition rerun runs five Spark jobs: no stats or verdict jobs") {
    val dir = java.nio.file.Files.createTempDirectory("resume8").toString
    val (inPath, statePath) = (s"$dir/seqs", s"$dir/state")
    SequenceSynth.write(spark, cfg, inPath, buckets = 4)
    val dim = SequenceSynth.sourcesDim(spark, cfg) // local: collecting it runs no job
    ResumableValidator.run(spark, inPath, dim, suite, statePath)
    val f = new java.io.File(s"$inPath/source=books").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    f.setLastModified(f.lastModified() + 60000)

    val sc = spark.sparkContext
    val group = "resume-spec-job-count"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.add(e.stageInfos.map(_.name).mkString("+"))
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "one-partition rerun")
    val resumed = try {
      val r = ResumableValidator.run(spark, inPath, dim, suite, statePath)
      org.apache.spark.ListenerBusDrain(sc)
      r
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(resumed.validatedSources == Seq("books"))
    // input schema inference, the violations write and the uniqueness
    // stages; before the stats moved into the manifests there were five
    // more (stats write, stats schema inference, stats collect,
    // violations schema inference, verdicts write)
    assert(jobs.size == 5, jobs)
  }

  /** Verdict tuples; drift checks compare on decision only (see
    * [[verdictSet]]).
    */
  private def verdictRows(v: org.apache.spark.sql.DataFrame) =
    v.collect().map { r =>
      if (r.getString(1) == "ntok_drift")
        (r.getString(0), r.getString(1), r.getBoolean(2), "", "")
      else
        (r.getString(0), r.getString(1), r.getBoolean(2),
          r.getString(3), r.getString(4))
    }.toSet
}

object ResumeSpec {
  def rmAll(p: java.io.File): Unit = {
    if (p.isDirectory) p.listFiles().foreach(rmAll); p.delete()
  }
}
