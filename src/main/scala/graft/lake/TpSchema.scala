package graft.lake

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.config.PartitionSpec

/** The `tp_` common-column contract every lake row carries (SURVEY
  * §1.2; reference read_json_query.go:30-75 builds the same five
  * columns in generated SQL).
  *
  * Enrichment is pure column algebra — casts, `date_trunc`, literals —
  * so it rides inside whole-stage codegen on top of the source scan:
  * zero extra passes, zero shuffles, and Catalyst prunes unused source
  * columns straight down to the reader.
  */
object TpSchema {

  val Timestamp = "tp_timestamp"
  val Date = "tp_date"
  val Index = "tp_index"
  val Partition = "tp_partition"
  val Table = "tp_table"
  /** Materialized physical partition columns. The reference partitions
    * by expressions `year(tp_timestamp)`/`month(tp_timestamp)`
    * (ducklake_table.go:36-44); Spark partitions by columns, so we
    * materialize them (SURVEY §1.1 maps this explicitly).
    */
  val Year = "tp_year"
  val Month = "tp_month"

  /** Physical partition key, in directory order. */
  val partitionCols: Seq[String] = Seq(Partition, Index, Year, Month)

  /** Micros in one day: `tp_date` is `tp_timestamp` floored to a UTC
    * day, so epoch day d spans `[d·DayUs, (d+1)·DayUs)`.
    */
  val DayUs: Long = 86400000000L

  /** True when `tz` denotes exactly UTC under `ZoneId` normalization —
    * "UTC", "Etc/UTC", "GMT", "Z", "+00:00" all qualify; any zone with
    * a nonzero offset or DST history does not. The metadata layers
    * gate their tp_date/date_trunc arithmetic on the READER session
    * being UTC (the engine's writer convention, enrich() above);
    * matching the literal string "UTC" declined exactly-UTC spellings
    * for nothing (r18 verdict nit 1).
    */
  def isUtcZone(tz: String): Boolean =
    try java.time.ZoneId.of(tz, java.time.ZoneId.SHORT_IDS)
      .normalized() match {
      case off: java.time.ZoneOffset => off.getTotalSeconds == 0
      case _ => false
    }
    catch { case _: java.time.DateTimeException => false }

  /** The five required common columns (collector_synthetic.go:395-419
    * marks exactly these Required).
    */
  val required: Seq[String] = Seq(Timestamp, Partition, Table, Index, Date)

  /** Reserved names a source may not claim for itself: if present in the
    * source they are ignored and regenerated (read_json_query.go:39-43
    * does this for tp_index; tp_date "is never taken from source").
    */
  val reserved: Set[String] =
    Set(Date, Index, Partition, Table, Year, Month)

  /** Enrich a typed source DataFrame with the tp_ columns for one
    * partition (SURVEY §2A rows 5-6; read_json_query.go:36-67):
    *
    *  - `tp_timestamp`: cast of `timestampColumn`
    *  - `tp_date`: `date_trunc('day', tp_timestamp)` when not null
    *  - `tp_index`: value of the configured bare column cast to string,
    *    with NULL → 'default' (the reference's fallback literal)
    *  - `tp_partition` / `tp_table`: literals
    *  - `tp_year` / `tp_month`: materialized physical partition columns
    *
    * Source-provided reserved columns are dropped first.
    */
  def enrich(df: DataFrame, spec: PartitionSpec,
      timestampColumn: String = Timestamp): DataFrame = {
    val cleaned = df.drop(reserved.toSeq.filter(_ != Timestamp): _*)
    val ts = col(timestampColumn).cast(TimestampType)
    val idx: Column = spec.tpIndexColumn match {
      case Some(c) => coalesce(col(c).cast(StringType), lit("default"))
      case None    => lit("default")
    }
    val base =
      if (timestampColumn == Timestamp) cleaned.withColumn(Timestamp, ts)
      else cleaned.withColumn(Timestamp, ts).drop(timestampColumn)
    base
      .withColumn(Date,
        when(col(Timestamp).isNotNull,
          date_trunc("DAY", col(Timestamp)).cast(DateType)))
      .withColumn(Index, idx)
      .withColumn(Partition, lit(spec.name))
      .withColumn(Table, lit(spec.table))
      .withColumn(Year, year(col(Timestamp)))
      .withColumn(Month, month(col(Timestamp)))
  }
}
