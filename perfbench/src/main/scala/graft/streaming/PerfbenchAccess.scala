package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.constraints.Validator.SuiteConfig

/** The benchmark's handle on the streaming validator's micro-batch body,
  * which is package-private: the traced runs time it from outside.
  */
object PerfbenchAccess {
  def processBatch(spark: SparkSession, batch: DataFrame, batchId: Long, statePath: String,
                   dimRows: Array[Row], cfg: SuiteConfig): Unit =
    StreamingValidator.processBatch(spark, batch, batchId, statePath, dimRows, cfg)
}
