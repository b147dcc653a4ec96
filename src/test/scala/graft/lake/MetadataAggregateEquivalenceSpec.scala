package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest
import graft.config.PartitionSpec
import graft.query.{ScanAudit, Views}

/** Property: over random small lake histories and random aggregate
  * shapes, SQL through the registered view — where
  * [[MetadataAggregateRule]] may answer from the manifest and the
  * colstats sidecar — returns exactly the rows the plain parquet reader
  * returns over `lake.dataFiles` (no zone index there, so the rule
  * cannot fire). Histories mix appends across days and partitions,
  * files that straddle hour/day/month buckets, null `tp_timestamp`
  * rows and an all-null-timestamp file, column stats enabled at a
  * random point (or never), and an optional `compact`. The seed is
  * fixed, so every run checks the same cases.
  */
class MetadataAggregateEquivalenceSpec extends AnyFunSuite with SparkTest {
  import MetadataAggregateEquivalenceSpec._

  private val table = "eq"

  private def build(h: History): Lake = {
    val lake = Lake(Files.createTempDirectory("graft_metaagg_eq").toString)
    var nextId = 0L
    h.slices.zipWithIndex.foreach { case (s, i) =>
      if (h.statsAt.exists(_._1 == i))
        lake.enableColumnStats(spark, table, h.statsAt.get._2)
      if (h.compactAt.contains(i))
        Maintenance.compact(spark, lake, table, targetFileRows = 1000)
      lake.append(spark, table, sliceDf(s, nextId))
      nextId += s.rows
    }
    if (h.statsAt.exists(_._1 >= h.slices.size))
      lake.enableColumnStats(spark, table, h.statsAt.get._2)
    if (h.compactAt.exists(_ >= h.slices.size))
      Maintenance.compact(spark, lake, table, targetFileRows = 1000)
    lake
  }

  private def sliceDf(s: Slice, firstId: Long) = {
    val startSec = BaseSec + s.day * 86400L + s.hour * 3600L
    val stepSec = math.max(1L, s.spanHours * 3600L / s.rows)
    val ts = expr(s"timestamp_seconds($startSec + " +
      s"(id - $firstId) * $stepSec)")
    val raw = spark.range(firstId, firstId + s.rows, 1, s.tasks).select(
      col("id").as("event_id"),
      (s.nullTs match {
        case NoNullTs => ts
        case SomeNullTs =>
          when(col("id") % 4 === 0, lit(null).cast("timestamp"))
            .otherwise(ts)
        case AllNullTs => lit(null).cast("timestamp")
      }).as("tp_timestamp"),
      (col("id") % 2).cast("string").as("idx"),
      when(col("id") % 5 === 0, lit(null).cast("long"))
        .otherwise(col("id") % 13 * 3).as("v"),
      concat(lit("s"), (col("id") % 7).cast("string")).as("s"))
    TpSchema.enrich(raw, PartitionSpec(table, s.part,
      tpIndexColumn = Some("idx")))
  }

  private def rows(sql: String): Seq[String] =
    spark.sql(sql).collect().toSeq.map(rowString).sorted

  test("metadata-served aggregates equal the plain reader over random " +
      "lake histories and query shapes") {
    var checked = 0
    var served = 0
    val prop = Prop.forAllNoShrink(genCase) { case (h, queries) =>
      val lake = build(h)
      Views.register(spark, lake, Views.Filters())
      spark.read.option("basePath", lake.tableDir(table))
        .parquet(lake.dataFiles(spark, table): _*)
        .createOrReplaceTempView(PlainView)
      queries.foreach { q =>
        val viaRule = spark.sql(q.sql(table))
        val got = viaRule.collect().toSeq.map(rowString).sorted
        val want = rows(q.sql(PlainView))
        assert(got == want,
          s"\n$h\n${q.sql(table)}\nrule:  $got\nplain: $want")
        checked += 1
        if (ScanAudit.filesRead(viaRule) == 0) served += 1
      }
      true
    }
    val params = Test.Parameters.default
      .withMinSuccessfulTests(Cases)
      .withInitialSeed(Seed(FixedSeed))
      .withWorkers(1)
    val res = Test.check(params, prop)
    res.status match {
      case Test.PropException(_, e, _) => throw e
      case _ => assert(res.passed, res.status.toString)
    }
    // the property is only meaningful if the rule actually served some
    // of the shapes scan-free
    assert(served > 0, s"no query of $checked was metadata-served")
    info(s"$checked queries compared, $served read zero data files")
  }
}

object MetadataAggregateEquivalenceSpec {
  private val FixedSeed = 20261018L
  private val Cases = 8
  private val QueriesPerCase = 10
  private val PlainView = "eq_plain"
  // 2024-02-27 00:00:00 UTC: six days of data cross a month boundary
  private val BaseSec = 1708992000L

  sealed trait NullTs
  case object NoNullTs extends NullTs
  case object SomeNullTs extends NullTs
  case object AllNullTs extends NullTs

  final case class Slice(part: String, day: Int, hour: Int,
      spanHours: Int, rows: Int, tasks: Int, nullTs: NullTs)

  /** Appends in order; column stats enabled (on the given columns)
    * before the append at `statsAt._1`, a compact before the append at
    * `compactAt` (an index past the last append means after it).
    */
  final case class History(slices: Seq[Slice],
      statsAt: Option[(Int, Seq[String])], compactAt: Option[Int])

  final case class Query(keys: Seq[String], where: Option[String],
      aggs: Seq[String]) {
    def sql(view: String): String = {
      val sel = keys.zipWithIndex.map { case (k, i) => s"$k AS k$i" } ++
        aggs.zipWithIndex.map { case (a, i) => s"$a AS a$i" }
      s"SELECT ${sel.mkString(", ")} FROM $view" +
        where.map(" WHERE " + _).getOrElse("") +
        (if (keys.isEmpty) "" else keys.mkString(" GROUP BY ", ", ", ""))
    }
  }

  private def rowString(r: Row): String = r.toSeq.map {
    case null => "null"
    case x => x.toString
  }.mkString("|")

  private val genSlice: Gen[Slice] = for {
    part <- Gen.oneOf("p0", "p1")
    day <- Gen.choose(0, 5)
    hour <- Gen.oneOf(0, 3, 12, 20, 23)
    span <- Gen.oneOf(1, 6, 30)
    rows <- Gen.choose(20, 60)
    tasks <- Gen.oneOf(1, 2)
    nullTs <- Gen.frequency(6 -> NoNullTs, 2 -> SomeNullTs, 1 -> AllNullTs)
  } yield Slice(part, day, hour, span, rows, tasks, nullTs)

  private val genHistory: Gen[History] = for {
    n <- Gen.choose(2, 5)
    slices <- Gen.listOfN(n, genSlice)
    statsCols <- Gen.someOf("v", "s", "tp_timestamp")
    statsAt <- Gen.option(Gen.choose(1, n))
    compactAt <- Gen.option(Gen.choose(1, n))
  } yield History(slices,
    statsAt.filter(_ => statsCols.nonEmpty).map(_ -> statsCols.toSeq),
    compactAt)

  private val genKeys: Gen[Seq[String]] = Gen.oneOf(
    Nil, Nil,
    Seq("tp_index"),
    Seq("tp_partition", "tp_index"),
    Seq("tp_year", "tp_month"),
    Seq("tp_date"),
    Seq("date_trunc('HOUR', tp_timestamp)"),
    Seq("date_trunc('MONTH', tp_timestamp)"),
    Seq("tp_index", "tp_date"),
    Seq("tp_partition", "date_trunc('DAY', tp_timestamp)"))

  private def tsLit(hours: Int): String = {
    val t = java.time.LocalDateTime.ofEpochSecond(
      BaseSec + hours * 3600L, 0, java.time.ZoneOffset.UTC)
    s"timestamp'${t.toString.replace('T', ' ')}'"
  }

  private def dateLit(day: Int): String =
    s"date'${java.time.LocalDate.ofEpochDay(BaseSec / 86400L + day)}'"

  private val genBand: Gen[String] = for {
    from <- Gen.choose(-12, 150)
    width <- Gen.oneOf(1, 6, 24, 48)
  } yield s"tp_timestamp >= ${tsLit(from)} AND " +
    s"tp_timestamp < ${tsLit(from + width)}"

  private val genWhere: Gen[Option[String]] = Gen.oneOf(
    Gen.const(None),
    Gen.const(Some("tp_index = 1")),
    genBand.map(Some(_)),
    genBand.map(b => Some(s"tp_index = 0 AND $b")),
    Gen.zip(genBand, genBand).map { case (a, b) => Some(s"($a) OR ($b)") },
    Gen.zip(Gen.choose(-1, 6), Gen.choose(0, 3)).map { case (d, w) =>
      Some(s"tp_date >= ${dateLit(d)} AND tp_date <= ${dateLit(d + w)}")
    })

  private val aggPool = Seq("count(*)", "count(v)", "min(v)", "max(v)",
    "sum(v)", "avg(v)", "ndv(s)", "min(tp_timestamp)", "max(tp_timestamp)",
    "count(DISTINCT tp_date)")

  private val genAggs: Gen[Seq[String]] = for {
    n <- Gen.choose(1, 4)
    aggs <- Gen.pick(n, aggPool)
  } yield aggs.toSeq

  private val genQuery: Gen[Query] = for {
    keys <- genKeys
    where <- genWhere
    aggs <- genAggs
  } yield Query(keys, where, aggs)

  private val genCase: Gen[(History, Seq[Query])] = for {
    h <- genHistory
    qs <- Gen.listOfN(QueriesPerCase, genQuery)
  } yield (h, qs)
}
