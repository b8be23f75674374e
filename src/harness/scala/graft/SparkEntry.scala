package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.harness.PipelineDemo

/** Driver contract. The correctness gates — one per implemented operator
  * from SURVEY.md §2 plus the LLM-pipeline extension operators — are the
  * [[graft.gates.Gates]] registry; this object keeps the flagship entry. */
object SparkEntry {

  /** Flagship: the full descriptor → scan → search → group → materialize
    * pipeline on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    PipelineDemo.datasetDictAsFrame(spark, "/root/testdata/sf0.001")
}
