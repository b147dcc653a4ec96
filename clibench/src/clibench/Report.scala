package clibench

import java.io.{File, PrintWriter}

import scala.io.Source

/** Turns a finished [[Bench.Run]] into metrics: prints every metric by
  * name, unit and sample count, writes the op log, spans and report
  * under the run's work dir, and ends stdout with the JSON result line.
  */
object Report {

  final case class Metric(name: String, value: Double, unit: String, n: Int, note: String = "")

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def peakRssMb(): Double = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def endToEnd(run: Bench.Run): Seq[Metric] = {
    val queryMs = run.timed.filter(_.kind == "query").map(_.res.ms)
    val writes = run.timed.filter(o => Set("collect", "stream", "compact")(o.kind))
    val (collectRate, collectN, collectNote) =
      if (writes.exists(_.check.rows > 0))
        (writes.map(_.check.rows).sum / (writes.map(_.res.wallNs).sum / 1e9),
          writes.size, "timed collect/compact invocations")
      else (med(run.setupCollect.toSeq), run.setupCollect.size,
        "median of the set-up collects")
    Seq(
      Metric("setup_s", run.sessionS + run.setupWalls.size * med(run.setupWalls.toSeq), "s",
        run.setupWalls.size, f"session ${run.sessionS}%.2f s + ${run.setupWalls.size} x " +
          f"median set-up step ${med(run.setupWalls.toSeq)}%.2f s"),
      Metric("collect_rows_per_s", collectRate, "rows/s", collectN, collectNote),
      Metric("query_p50_ms", med(queryMs), "ms", queryMs.size),
      Metric("lake_bytes_per_input_byte",
        run.finalWalk.dataBytes.toDouble / math.max(1L, run.collectedBytes), "ratio", 1),
      Metric("peak_rss_mb", peakRssMb(), "MB", 1))
  }

  /** The highest query-latency percentile (at most p90) with at least
    * ten samples beyond it, when the sample supports one. */
  def queryTail(run: Bench.Run): Option[Metric] = {
    val ms = run.timed.filter(_.kind == "query").map(_.res.ms)
    Stats.supportedTail(ms.size).map(p =>
      Metric(s"query_p${p}_ms", Stats.percentile(ms, p), "ms", ms.size, "highest supported tail"))
  }

  /** Per-layer metrics from the traced ops of the timed phase. */
  def perLayer(run: Bench.Run): Seq[Metric] = {
    val t = run.tracer.get
    val l = run.listener.get
    val timed = run.timed
    val traced = timed.filter(_.traced)
    val reqs = traced.map(_.res.request).toSet
    val spans = t.spans.toSeq.filter(s => reqs(s.request))
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    def named(n: String) = spans.filter(_.name == n)
    def ms(ns: Long) = ns / 1e6
    def medDur(n: String) = med(named(n).map(s => ms(s.dur)))
    /** The span and everything nested in it (one client thread). */
    def subtree(s: Span) = spans.filter(c => c.request == s.request && c.start >= s.start && c.end <= s.end)
    def count(ss: Seq[Span], k: String): Long = ss.map(s => l.get(s.id, k)).sum
    def ofKind(k: String) = traced.filter(_.kind == k)
    def reqSpans(r: Int) = spans.filter(_.request == r)

    val startupNames = Set("DialectShims.register", "Plugins.registerInstalled",
      "Workspace.load", "Main.loadConfig")
    val startup = traced.map(o => ms(reqSpans(o.res.request).filter(s => startupNames(s.name)).map(_.dur).sum))

    // ingest: bytes Spark read while collecting, per JSONL byte collected
    val ingestNames = Set("FileSource.read", "Ingest.collectBatch", "spark.read.json.schema",
      "StreamIngest.collectStream")
    val collectOps = traced.filter(o => o.kind == "collect" || o.kind == "stream")
    val jsonlBytes = collectOps.map(_.inputBytes).sum
    val readBytes = collectOps.flatMap(o => reqSpans(o.res.request).filter(s => ingestNames(s.name)))
      .flatMap(subtree).distinct.map(s => l.get(s.id, "input_bytes")).sum

    val batches = named("Ingest.collectBatch")
    val jobIv = l.jobs
    def driverMs(s: Span): Double = {
      val ids = subtree(s).map(_.id).toSet
      val iv = jobIv.filter(j => ids(j._1)).map(j => (t.nanosOfEpochMs(j._2), t.nanosOfEpochMs(j._3)))
      ms(s.dur - Stats.coverage(iv, s.start, s.end))
    }
    // the append itself: batch collect, or the whole drain on a stream
    val appendSpans = batches ++ named("StreamIngest.collectStream")
    val appends = collectOps.flatMap(o => run.cliAppends.get(o.res.request))
    val compacts = named("Maintenance.compact")

    val queries = ofKind("query").map(_.res)
    def phase(k: String) = med(queries.map(q => q.phases.getOrElse(k, 0L).toDouble))
    val execMs = queries.flatMap { q =>
      reqSpans(q.request).find(_.name == "Render.csvTo").map(s =>
        ms(s.dur) - q.phases.getOrElse("optimization", 0L) - q.phases.getOrElse("planning", 0L))
    }
    val filesRead = queries.map(_.filesRead.getOrElse(0L))
    val filesTotal = ofKind("query").map(_.walk.dataFiles).sum
    val streams = timed.count(_.kind == "stream")

    // overhead: traced vs untraced wall, per op kind, weighted by traced count
    val (tracedW, plainW) = traced.map(_.kind).distinct.map { k =>
      val (tr, pl) = timed.filter(_.kind == k).partition(_.traced)
      if (pl.isEmpty) (0.0, 0.0)
      else (tr.size * med(tr.map(_.res.ms)), tr.size * med(pl.map(_.res.ms)))
    }.foldLeft((0.0, 0.0)) { case ((a, b), (c, d)) => (a + c, b + d) }
    val roots = spans.filter(_.parent < 0)
    // the benchmark's own lake walks inside a traced collect are not layer work
    val rootSelf = roots.map(r => Tracer.selfTime(r, kids.getOrElse(r.id, Nil).filter(_.layer != "bench")))
    val unattributed = rootSelf.sum.toDouble / math.max(1L, roots.map(_.dur).sum)
    val worstRoot = roots.zip(rootSelf).map { case (r, u) => u.toDouble / math.max(1L, r.dur) }
      .maxOption.getOrElse(0.0)
    val perOp = traced.size

    Seq(
      Metric("cli.startup_ms", med(startup), "ms", startup.size),
      Metric("ingest.read_ms", medDur("FileSource.read"), "ms", named("FileSource.read").size),
      Metric("ingest.read_bytes_per_input_byte", readBytes.toDouble / math.max(1L, jsonlBytes),
        "ratio", collectOps.size),
      Metric("ingest.collect_batch_ms", medDur("Ingest.collectBatch"), "ms", batches.size),
      Metric("lake.shuffle_write_bytes",
        mean(batches.map(s => count(subtree(s), "shuffle_write_bytes").toDouble)), "bytes", batches.size),
      Metric("lake.files_written", mean(appends.map(_._1.toDouble)), "count", appends.size),
      Metric("lake.dirs_touched", mean(appends.map(_._2.toDouble)), "count", appends.size),
      Metric("lake.append_driver_ms", med(appendSpans.map(driverMs)), "ms", appendSpans.size),
      Metric("lake.compact_ms", medDur("Maintenance.compact"), "ms", compacts.size),
      Metric("lake.compact_bytes_rewritten",
        mean(compacts.map(s => count(subtree(s), "output_bytes").toDouble)), "bytes", compacts.size),
      Metric("lake.files_after_compact", run.finalWalk.dataFiles.toDouble, "count", 1),
      Metric("lake.manifest_files", run.finalWalk.manifestParts.toDouble, "count", 1),
      Metric("query.register_views_ms", medDur("Views.register"), "ms", named("Views.register").size),
      Metric("query.analysis_ms", phase("analysis"), "ms", queries.size),
      Metric("query.optimization_ms", phase("optimization"), "ms", queries.size),
      Metric("query.planning_ms", phase("planning"), "ms", queries.size),
      Metric("query.exec_ms", med(execMs), "ms", execMs.size),
      Metric("query.jobs", mean(queries.map(q => count(reqSpans(q.request), "jobs").toDouble)),
        "count", queries.size),
      Metric("query.tasks", mean(queries.map(q => count(reqSpans(q.request), "tasks").toDouble)),
        "count", queries.size),
      Metric("query.files_read", mean(filesRead.map(_.toDouble)), "count", queries.size),
      Metric("query.files_skipped_frac",
        if (filesTotal == 0) 0.0 else 1.0 - filesRead.sum.toDouble / filesTotal, "ratio", queries.size),
      Metric("query.metadata_served_frac",
        if (queries.isEmpty) 0.0 else filesRead.count(_ == 0).toDouble / queries.size, "ratio", queries.size),
      Metric("streaming.collect_ms", medDur("StreamIngest.collectStream"), "ms",
        named("StreamIngest.collectStream").size),
      Metric("streaming.batches", if (streams == 0) 0.0
        else (l.streamBatches.get - run.streamBatches0).toDouble / streams, "count", streams),
      Metric("spark.codegen_compiles", mean(traced.map(_.res.codegen.toDouble)), "count", perOp),
      Metric("spark.codegen_ms", mean(traced.map(_.res.codegenMs)), "ms", perOp),
      Metric("spark.task_ms", mean(traced.map(o => count(reqSpans(o.res.request), "task_ms").toDouble)),
        "ms", perOp),
      Metric("spark.spill_bytes",
        mean(traced.map(o => count(reqSpans(o.res.request), "spill_bytes").toDouble)), "bytes", perOp),
      Metric("jvm.gc_ms", mean(traced.map(_.res.gcMs.toDouble)), "ms", perOp),
      Metric("trace.overhead_frac", if (plainW == 0) 0.0 else tracedW / plainW - 1, "ratio", perOp),
      Metric("trace.unattributed_frac", unattributed, "ratio", roots.size,
        f"worst single command $worstRoot%.4f"))
  }

  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def jnum(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def json(fields: Seq[(String, Any)]): String = fields.map { case (k, v) =>
    jstr(k) + ":" + (v match {
      case s: String => jstr(s)
      case d: Double => jnum(d)
      case b: Boolean => b.toString
      case n: Number => n.toString
      case raw: RawJson => raw.text
      case other => jstr(other.toString)
    })
  }.mkString("{", ",", "}")

  final case class RawJson(text: String)

  private def writeLines(f: File, lines: Iterable[String]): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }

  def fingerprint(cores: Int, sparkVersion: String): Seq[(String, Any)] = {
    val cpu = scala.util.Try {
      val s = Source.fromFile("/proc/cpuinfo")
      try s.getLines().find(_.startsWith("model name")).map(_.split(":", 2)(1).trim).getOrElse("?")
      finally s.close()
    }.getOrElse("?")
    Seq("cpu" -> cpu, "nproc" -> cores, "spark" -> sparkVersion,
      "java" -> System.getProperty("java.version"),
      "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "os" -> s"${System.getProperty("os.name")} ${System.getProperty("os.version")}")
  }

  def emit(run: Bench.Run, cores: Int, sparkVersion: String): Unit = {
    val a = run.args
    val e2e = endToEnd(run)
    val tail = queryTail(run).toSeq
    val layers = if (a.trace) perLayer(run) else Nil
    val failed = run.ops.count(_.failure.nonEmpty)
    val attempted = run.ops.size
    val fp = fingerprint(cores, sparkVersion)

    val out = new File(a.work, "out"); out.mkdirs()
    writeLines(new File(out, "ops.jsonl"), run.ops.map { d =>
      json(Seq("phase" -> d.res.phase, "kind" -> d.kind, "args" -> d.res.op.args.mkString(" "),
        "traced" -> d.traced, "rc" -> d.res.rc, "ms" -> d.res.ms, "ok" -> d.failure.isEmpty) ++
        d.res.filesRead.map("files_read" -> _) ++ d.walk.fields)
    })
    run.tracer.foreach { t =>
      val kids = t.children
      writeLines(new File(out, "spans.jsonl"), t.spans.map { s =>
        json(Seq("id" -> s.id, "parent" -> s.parent, "request" -> s.request, "name" -> s.name,
          "layer" -> s.layer, "start_us" -> (s.start / 1000), "end_us" -> (s.end / 1000),
          "self_us" -> (Tracer.selfTime(s, kids.getOrElse(s.id, Nil)) / 1000)) ++
          Seq("jobs", "tasks", "input_bytes", "output_bytes", "shuffle_write_bytes",
            "spill_bytes", "task_ms").map(k => k -> run.listener.get.get(s.id, k)))
      })
    }
    def metricsJson(ms: Seq[Metric]) = RawJson(json(ms.map(m =>
      m.name -> RawJson(json(Seq("value" -> m.value, "unit" -> m.unit, "n" -> m.n))))))
    writeLines(new File(out, "report.json"), Seq(json(Seq(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "fingerprint" -> RawJson(json(fp)), "attempted" -> attempted, "failed" -> failed,
      "end_to_end" -> metricsJson(e2e), "query_tail" -> metricsJson(tail), "per_layer" -> metricsJson(layers)))))

    println(s"== clibench ${a.workload} seed=${a.seed} seconds=${a.seconds} trace=${if (a.trace) 1 else 0}")
    println("box: " + fp.map { case (k, v) => s"$k=$v" }.mkString(", "))
    val timed = run.timed
    println(s"ops: ${timed.size} timed + ${run.ops.size - timed.size} set-up, " +
      timed.groupBy(_.kind).map { case (k, v) => s"$k=${v.size}" }.toSeq.sorted.mkString(" "))
    def show(m: Metric) = println(f"  ${m.name}%-34s ${m.value}%14.4f ${m.unit}%-7s n=${m.n}" +
      (if (m.note.isEmpty) "" else s"  (${m.note})"))
    println("end-to-end:")
    e2e.foreach(show)
    tail.foreach(show)
    show(Metric("ops_failed_frac", failed.toDouble / math.max(1, attempted), "ratio", attempted))
    if (layers.nonEmpty) { println("per-layer:"); layers.foreach(show) }
    println(s"details: ${out.getPath}/{report.json,ops.jsonl${if (a.trace) ",spans.jsonl" else ""}}")
    val shown = if (a.trace) layers else e2e
    println(json(Seq("correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> RawJson(json(shown.map(m =>
        m.name -> RawJson(json(Seq("value" -> m.value, "unit" -> m.unit)))))))))
  }
}
