package graft.constraints

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.lineage.Checkpoint
import Validator.{SuiteConfig, ValidationReport}

/** Checkpointed, restartable validation over a source-partitioned
  * sequences table. A rerun after a crash revalidates only partitions
  * whose input lineage (file list) changed; unchanged partitions' stats,
  * violations, and verdict inputs are served from state — the scan skip is
  * real partition pruning on the `source=` filter.
  *
  * State layout (see [[Checkpoint]]): one manifest per partition carrying
  * its fingerprint and stats row, written last; violation rows as
  * `source`-partitioned parquet; the verdicts as `verdicts.json` (JSON
  * lines, written from the driver). The stats never pass through a Spark
  * job: fresh partitions' rows come from the scan's observation, skipped
  * partitions' rows from their manifests.
  */
object ResumableValidator {

  final case class RunSummary(
      report: ValidationReport,
      validatedSources: Seq[String],
      skippedSources: Seq[String],
      totalRows: Long,
      /** rows scanned by this run (the revalidated partitions) */
      validatedRows: Long,
      /** rows served from state: the skipped partitions' manifest counts */
      skippedRows: Long)

  def run(spark: SparkSession, inputPath: String, dim: DataFrame,
          cfg: SuiteConfig, statePath: String): RunSummary = {

    val (done, todo) = Checkpoint.plan(spark, inputPath, statePath)
    val allSources = done.map(_.lineage.source) ++ todo.map(_.source)
    require(allSources.nonEmpty,
      s"$inputPath has no source= partitions; use Validator.validate for unpartitioned input")
    val input = spark.read.parquet(inputPath)
    val violationsPath = Checkpoint.violationsPath(statePath)

    val freshStats = if (todo.isEmpty) Array.empty[Row] else {
      // partition-pruned scan: only not-yet-validated sources are read.
      // ONE scan per run: the per-source stats ride the violations write
      // as an observe aggregate (Validator.observeStats).
      val (observed, statsThunk) =
        Validator.observeStats(input.filter(Checkpoint.sourceIn(todo.map(_.source))), cfg)
      // a revalidated partition's old rows go even when it has none now;
      // a crash after this leaves it without a manifest, so still todo
      todo.foreach(pl => Checkpoint.dropViolations(spark, statePath, pl.source))
      Validator.violations(observed, cfg)
        .write.mode("append").partitionBy("source").parquet(violationsPath)

      val stats = statsThunk()
      // manifests LAST: a crash between data and manifest writes only
      // means redundant (idempotent) revalidation on the next run
      val bySource = stats.map(r => r.getAs[String]("source") -> r).toMap
      todo.foreach(pl => Checkpoint.writeManifest(spark, statePath, pl, bySource.get(pl.source)))
      stats
    }
    val skippedStats = done.flatMap(_.stats)
    val stats = skippedStats.toArray ++ freshStats

    // explicit schema (source last, as partition discovery puts it): no
    // inference job over a table this engine wrote itself
    val violSchema = {
      val s = Validator.violations(input.limit(0), cfg).schema
      StructType(s.filterNot(_.name == "source") :+ s("source"))
    }
    val viols = Checkpoint.readParquetIfExists(spark, violationsPath, violSchema)
      .getOrElse(spark.createDataFrame(java.util.List.of[Row](), violSchema))
      .filter(Checkpoint.sourceIn(allSources))

    // global uniqueness always reruns: it is cross-partition by nature and
    // scans a one-column projection of the full table
    val dupAgg = Validator.dupStats(input, cfg)

    val verdicts = Validator.buildVerdicts(spark, stats, dim.collect(), dupAgg, cfg)
    // a local frame: collecting it runs no job
    Checkpoint.writeString(spark, Checkpoint.verdictsPath(statePath),
      verdicts.collect().map(_.json + "\n").mkString)

    def rows(rs: Iterable[Row]) = rs.map(_.getAs[Long]("n_rows")).sum
    RunSummary(
      ValidationReport(verdicts, viols, Validator.statsToDf(spark, stats)),
      validatedSources = todo.map(_.source),
      skippedSources = done.map(_.lineage.source),
      totalRows = rows(stats),
      validatedRows = rows(freshStats),
      skippedRows = rows(skippedStats))
  }
}
