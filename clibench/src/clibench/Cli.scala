package clibench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.cli.Main
import graft.config.{TableSpec, Workspace}
import graft.ingest.{CollectionState, Ingest, SourceRegistry}
import graft.lake.{Lake, Maintenance, TpSchema}
import graft.query.{Render, Views}

/** One CLI invocation, as a user types it. */
sealed trait Op {
  def kind: String
  def args: Seq[String]
}
final case class QueryOp(sql: String, from: Option[String] = None,
    to: Option[String] = None, partition: Option[String] = None,
    index: Option[String] = None) extends Op {
  def kind = "query"
  def args: Seq[String] = Seq("query", sql, "--output", "csv") ++
    from.toSeq.flatMap(Seq("--from", _)) ++ to.toSeq.flatMap(Seq("--to", _)) ++
    partition.toSeq.flatMap(Seq("--partition", _)) ++
    index.toSeq.flatMap(Seq("--index", _))
}
final case class CollectOp(partition: String) extends Op {
  def kind = "collect"
  def args: Seq[String] = Seq("collect", partition)
}
final case class StreamOp(partition: String) extends Op {
  def kind = "stream"
  def args: Seq[String] = Seq("collect", partition, "--stream")
}
final case class CompactOp(table: String) extends Op {
  def kind = "compact"
  def args: Seq[String] = Seq("compact", table)
}

/** What one invocation did. `request` is the traced request id, or -1
  * when the op ran untraced through `Main.run`. */
final case class OpResult(op: Op, phase: String, rc: Int, out: String,
    wallNs: Long, request: Int, codegen: Long, codegenMs: Double, gcMs: Long,
    filesRead: Option[Long], phases: Map[String, Long]) {
  def ms: Double = wallNs / 1e6
}

/** Runs ops against one lake + config dir. With a tracer, every other
  * op of each kind runs as the benchmark's own composition of the
  * public calls the CLI command makes, each wrapped in a span; the rest
  * run untraced through `Main.run`, which gives the tracing overhead.
  */
final class Cli(spark: SparkSession, val lakeDir: String, val configDir: String,
    tracer: Option[Tracer]) {

  private val lake = Lake(lakeDir)
  /** Data files and dirs each traced append added, by request id. */
  val appends = mutable.Map.empty[Int, (Int, Int)]
  private val seen = mutable.Map.empty[String, Int]
  private val cgTime = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  private def gcMs(): Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  def run(op: Op, phase: String): OpResult = {
    val n = seen.getOrElse(op.kind, 0)
    seen(op.kind) = n + 1
    val bos = new ByteArrayOutputStream()
    val out = new PrintStream(bos, true, "UTF-8")
    val cg0 = cgTime.getCount
    val cgMs0 = cgTime.getCount * cgTime.getSnapshot.getMean
    val gc0 = gcMs()
    val t0 = System.nanoTime()
    val (rc, req, files, phases) = tracer match {
      case Some(t) if n % 2 == 1 =>
        val ((rc, files, phases), root) = t.request(s"Main.run ${op.kind}") {
          try traced(t, op, out)
          catch { case e: Exception => out.println(s"Error: ${e.getMessage}"); (1, None, Map.empty[String, Long]) }
        }
        (rc, root.request, files, phases)
      case _ =>
        (Main.run(spark, op.args ++ Seq("--lake-dir", lakeDir, "--config-dir", configDir), out),
          -1, None, Map.empty[String, Long])
    }
    val wall = System.nanoTime() - t0
    out.flush()
    val cg1 = cgTime.getCount
    OpResult(op, phase, rc, new String(bos.toByteArray, "UTF-8").trim, wall, req,
      cg1 - cg0, cg1 * cgTime.getSnapshot.getMean - cgMs0, gcMs() - gc0, files, phases)
  }

  // ---- traced compositions ---------------------------------------------

  private def startup(t: Tracer, out: PrintStream): graft.config.Hcl.Config = {
    t.span("DialectShims.register", "cli")(graft.functions.DialectShims.register(spark))
    t.span("Plugins.registerInstalled", "cli")(
      graft.plugin.Plugins.registerInstalled(configDir, m => out.println(s"Warning: $m")))
    t.span("Workspace.load", "cli")(Workspace.load(configDir, None))
    t.span("Main.loadConfig", "cli")(Main.loadConfig(configDir))
  }

  private def traced(t: Tracer, op: Op,
      out: PrintStream): (Int, Option[Long], Map[String, Long]) = {
    val config = startup(t, out)
    op match {
      case q: QueryOp =>
        val filters = Views.Filters(
          from = q.from.map(Main.parseTime(_)), to = q.to.map(Main.parseTime(_)),
          partitions = q.partition.toSeq, indexes = q.index.toSeq)
        t.span("Views.register", "query")(
          Views.register(spark, lake, filters, config.rollups.values.toSeq))
        val df = t.span("spark.sql", "query")(spark.sql(q.sql))
        t.span("Render.csvTo", "query")(Render.csvTo(out, df))
        out.println()
        (0, Some(filesRead(df)), phases(df))
      case CollectOp(id) =>
        collect(t, config, id, out); (0, None, Map.empty)
      case StreamOp(id) =>
        stream(t, config, id, out); (0, None, Map.empty)
      case CompactOp(table) =>
        val (before, after) = t.span("Maintenance.compact", "lake")(
          Maintenance.compact(spark, lake, table))
        out.println(s"Compacted $table: $before files -> $after files")
        (0, None, Map.empty)
    }
  }

  private def partition(config: graft.config.Hcl.Config, id: String) =
    config.partitions.values.find(_.id == id).getOrElse(
      throw new IllegalArgumentException(s"no partitions match '$id'"))

  /** The file-source branch of `collect`, post-collect compaction on. */
  private def collect(t: Tracer, config: graft.config.Hcl.Config, id: String,
      out: PrintStream): Unit = {
    val p = partition(config, id)
    val src = p.source.get
    val fmt = src.format.map(f => config.formats(f.stripPrefix("format.")))
    val adapter = SourceRegistry.get(src.kind).get
    val tableSpec = config.tables.getOrElse(p.table, TableSpec(p.table))
    val statsCols = tableSpec.statsColumns.getOrElse(
      (p.filter.toSeq.flatMap(f =>
        spark.sessionState.sqlParser.parseExpression(f).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.name
        }) :+ TpSchema.Index).distinct)
    val armed = t.span("Lake.colStatsColumns", "lake")(lake.colStatsColumns(spark, p.table))
    if (statsCols.nonEmpty && armed.isEmpty) {
      t.span("Lake.enableColumnStats", "lake")(lake.enableColumnStats(spark, p.table, statsCols))
      out.println(s"Column stats enabled for ${p.table}: " + statsCols.mkString(", "))
    }
    val from = t.span("CollectionState.read", "ingest")(
      CollectionState.read(spark, lake, p.table, p.name).map(_.resumeFrom))
    t.span("Maintenance.backupManifest", "lake")(Maintenance.backupManifest(spark, lake, p.table))
    out.println(s"Collection started: ${p.id} (source ${src.kind})")
    val raw = t.span("FileSource.read", "ingest")(
      adapter.read(spark, src, fmt, from, None, out.println(_: String)))
    val res = appended(t, p.table)(t.span("Ingest.collectBatch", "ingest")(
      Ingest.collectBatch(spark, lake, p, raw, tableSpec,
        timestampColumn = "tp_timestamp", from = from, to = None)))
    t.span("CollectionState.advance", "ingest")(
      CollectionState.advance(spark, lake, p.table, p.name, None, res))
    out.println(s"Collected ${p.id}: ${res.rowsIngested} rows" +
      (if (res.rowsInvalid > 0) s" (${res.rowsInvalid} invalid)" else ""))
    if (t.span("Lake.tableExists", "lake")(lake.tableExists(spark, p.table))) {
      val (before, after) = t.span("Maintenance.compact", "lake")(
        Maintenance.compact(spark, lake, p.table))
      if (after != before) out.println(s"Compacted ${p.table}: $before files -> $after files")
    }
  }

  /** The `--stream` branch of `collect`: inbox sample → schema, live row
    * count before and after, AvailableNow drain. */
  private def stream(t: Tracer, config: graft.config.Hcl.Config, id: String,
      out: PrintStream): Unit = {
    val p = partition(config, id)
    val src = p.source.get
    val tableSpec = config.tables.getOrElse(p.table, TableSpec(p.table))
    val inbox = src.paths.head
    val dataFiles = t.span("inbox.list", "streaming") {
      val pth = new org.apache.hadoop.fs.Path(inbox)
      pth.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(pth).toSeq
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
    }
    val sorted = dataFiles.sortBy(_.getModificationTime)
    val sk = math.min(4, sorted.size)
    val picks = if (sorted.size <= sk) sorted
      else (0 until sk).map(i => sorted(((sorted.size - 1).toLong * i / (sk - 1)).toInt)).distinct
    val schema = t.span("spark.read.json.schema", "streaming")(
      spark.read.json(picks.map(_.getPath.toString): _*).schema)
    val ckpt = s"${lake.tableDir(p.table)}/_stream_ckpt/${p.name}"
    def liveRows = t.span("Lake.read.count", "lake") {
      if (!lake.hasData(spark, p.table)) 0L else lake.read(spark, p.table).count()
    }
    val before = liveRows
    appended(t, p.table)(t.span("StreamIngest.collectStream", "streaming") {
      graft.streaming.StreamIngest.collectStream(spark, lake, p, inbox, schema, ckpt,
        tableSpec, rollups = config.rollups.values.filter(_.table == p.table).toSeq,
        onSizing = sz => out.println(s"Stream sizing (auto): ${sz.files} files"))
        .awaitTermination()
    })
    out.println(s"Collected ${p.id} (stream): ${liveRows - before} rows")
  }

  /** Runs `body` between two walks of the table dir and records what
    * it added under the current request. */
  private def appended[T](t: Tracer, table: String)(body: => T): T = {
    def walk() = t.span("bench.walk", "bench")(LakeWalk(new java.io.File(lake.tableDir(table))))
    val before = walk()
    val r = body
    appends(t.current.request) = walk().added(before)
    r
  }

  // ---- per-query plan facts --------------------------------------------

  private object Plans extends AdaptiveSparkPlanHelper

  /** Files the executed plan's file scans read (0 when served from
    * metadata). */
  private def filesRead(df: DataFrame): Long =
    Plans.collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum

  private def phases(df: DataFrame): Map[String, Long] =
    df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs }
}
