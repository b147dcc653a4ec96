package org.apache.spark.sql.execution.datasources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Spark's own partition-directory inference, reachable from the lake
  * (`PartitioningUtils` is package-private): the typed partition values
  * a `spark.read.option("basePath", base).parquet(files)` scan would
  * surface for files under `leafDirs`, computed from the paths alone —
  * no listing, no job. Same session settings the file index passes.
  */
object GraftPartitionInference {
  def infer(
      spark: SparkSession, leafDirs: Seq[Path], basePath: Path): PartitionSpec = {
    val conf = spark.sessionState.conf
    PartitioningUtils.parsePartitions(
      leafDirs,
      typeInference = conf.partitionColumnTypeInferenceEnabled,
      basePaths = Set(basePath),
      userSpecifiedSchema = None,
      caseSensitive = conf.caseSensitiveAnalysis,
      validatePartitionColumns = conf.validatePartitionColumns,
      timeZoneId = conf.sessionLocalTimeZone,
      ignoreInvalidPartitionPaths = conf.ignoreInvalidPartitionPaths)
  }
}
