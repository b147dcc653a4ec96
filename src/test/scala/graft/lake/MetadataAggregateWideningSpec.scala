package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest
import graft.config.PartitionSpec
import graft.query.{ScanAudit, Views}

/** Shapes [[MetadataAggregateRule]] serves because every shape now runs
  * one match → probe → emit path: each is metadata-served (zero data
  * files read) and must equal the plain parquet reader over
  * `lake.dataFiles`, which the rule cannot touch.
  */
class MetadataAggregateWideningSpec extends AnyFunSuite with SparkTest {

  /** Five day-contained appends (2024-03-01 .. 03-05), two `tp_index`
    * values each, with `tp_timestamp` stats: every file is contained in
    * a day-aligned band and in its day bucket.
    */
  private lazy val lake: Lake = {
    val lake = Lake(Files.createTempDirectory("graft_metaagg_wide").toString)
    val spec = PartitionSpec("wd", "p0", tpIndexColumn = Some("idx"))
    for (i <- 0 until 5) lake.append(spark, "wd", TpSchema.enrich(
      spark.range(i * 40, (i + 1) * 40).select(
        col("id").as("event_id"),
        expr(s"timestamp '2024-03-01 00:00:00' + " +
          s"make_interval(0,0,0,$i,0,0, (id % 40) * 900)")
          .as("tp_timestamp"),
        (col("id") % 2).cast("string").as("idx"),
        (col("id") % 9).as("v")), spec))
    lake.enableColumnStats(spark, "wd", Seq("tp_timestamp", "v"))
    lake
  }

  private val band = "tp_timestamp >= timestamp'2024-03-02 00:00:00' " +
    "AND tp_timestamp < timestamp'2024-03-05 00:00:00'"

  /** Rows via the rule (asserting zero files read) and via the plain
    * reader, both sorted.
    */
  private def both(sql: String => String): (Seq[String], Seq[String]) = {
    Views.register(spark, lake, Views.Filters())
    spark.read.option("basePath", lake.tableDir("wd"))
      .parquet(lake.dataFiles(spark, "wd"): _*)
      .createOrReplaceTempView("wd_plain")
    val q = spark.sql(sql("wd"))
    val got = q.collect().toSeq.map(_.toString).sorted
    assert(ScanAudit.filesRead(q) === 0, s"${sql("wd")} read data files")
    (got, spark.sql(sql("wd_plain")).collect().toSeq.map(_.toString).sorted)
  }

  test("a literal output beside band-contained aggregates") {
    val (got, want) = both(t =>
      s"SELECT 'band' AS tag, count(*) AS n, max(v) AS mx FROM $t " +
        s"WHERE $band")
    assert(got === want)
    assert(got === Seq("[band,120,8]"))
  }

  test("count(DISTINCT tp_date) per partition key under a band and " +
      "per month bucket") {
    val (byKey, byKeyPlain) = both(t =>
      s"SELECT tp_index, count(DISTINCT tp_date) AS d, count(*) AS n " +
        s"FROM $t WHERE $band GROUP BY tp_index")
    assert(byKey === byKeyPlain)
    assert(byKey === Seq("[0,3,60]", "[1,3,60]"))
    val (byMonth, byMonthPlain) = both(t =>
      s"SELECT date_trunc('MONTH', tp_timestamp) AS m, " +
        s"count(DISTINCT tp_date) AS d FROM $t GROUP BY 1")
    assert(byMonth === byMonthPlain)
    assert(byMonth === Seq("[2024-03-01 00:00:00.0,5]"))
  }

  test("an output derived from partition keys") {
    val (got, want) = both(t =>
      s"SELECT tp_index, tp_index * 10 AS k10, " +
        s"concat(tp_partition, '-x') AS px, count(*) AS n FROM $t " +
        "GROUP BY tp_partition, tp_index")
    assert(got === want)
    assert(got === Seq("[0,0,p0-x,100]", "[1,10,p0-x,100]"))
  }
}
