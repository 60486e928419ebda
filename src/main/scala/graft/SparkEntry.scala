package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.constraints.Validator
import graft.sequences.SequenceSynth

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship: the full constraint-validation suite (stats, uniqueness,
    * referential, drift, declared-fit) over a deterministically
    * synthesized tokenized-sequence table — per-partition pass/fail
    * verdict rows.
    */
  def entry(spark: SparkSession): DataFrame = {
    val cfg = SequenceSynth.Config(rows = 20000)
    // the flagship path: one-scan fused validation (stats observed on the
    // uniqueness scan; see Validator.validateOneScan)
    val report = Validator.validateOneScan(spark,
      SequenceSynth.sequences(spark, cfg),
      SequenceSynth.sourcesDim(spark, cfg),
      Validator.SuiteConfig(vocabSize = cfg.vocabSize,
        minNtok = cfg.minNtok, maxNtok = cfg.maxNtok + 1))
    report.verdicts
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.defs.map { case (name, d) => name -> d.fn }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (approximate sketches, LSH, schema inference).
    */
  def oracleSql: Map[String, String] =
    Queries.defs.collect {
      case (name, d) if d.oracle.isDefined => name -> d.oracle.get
    }.toMap
}
