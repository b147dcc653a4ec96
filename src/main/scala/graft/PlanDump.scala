package graft

import org.apache.spark.sql.SparkSession

/** Optimization-round deliverable helper: dump `.explain("formatted")`
  * of named queries to `<outDir>/<query>_<tag>.txt` (plans/r19/...),
  * then run each query and append the number of data files its scans
  * read, so before/after dumps show whether a change moved any I/O.
  * Not part of the driver contract.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <tag> <q1>[,<q2>...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, tag, names) = args.take(4)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    for (name <- names.split(",").map(_.trim).filter(_.nonEmpty)) {
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val txt = plan +
          s"\nfiles read: ${graft.query.ScanAudit.filesReadAfterRun(df)}\n"
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"),
          txt.getBytes("UTF-8"))
        System.err.println(s"[plandump] wrote $name")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
