package clibench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** End-to-end benchmark of the `graft` CLI: `collect`, `collect
  * --stream`, `compact` and `query` invoked through `Main.run` exactly as
  * a user types them, one closed-loop client, on seeded inputs.
  *
  * Usage: `clibench.Bench --workload W --seed N --seconds S --trace 0|1
  * --work DIR`. Prints a readable report, then one JSON line with the
  * end-to-end metrics (`--trace 0`) or the per-layer metrics
  * (`--trace 1`).
  */
object Bench {

  /** No new timed round starts this long after JVM start. */
  val HardStopS = 140.0

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: File)

  def parse(argv: Seq[String]): Args = {
    val m = argv.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", new File(need("work")))
  }

  /** One checked command: its result, what was wrong with its output,
    * the lake counters after it, and the JSONL bytes it collected. */
  final case class Done(res: OpResult, check: Check, failure: Option[String], walk: LakeWalk,
      inputBytes: Long) {
    def kind: String = res.op.kind
    def traced: Boolean = res.request >= 0
  }

  /** Everything one run records. */
  final class Run(val args: Args, val spark: SparkSession, val tracer: Option[Tracer],
      val listener: Option[SpanListener]) {
    val t0: Long = ManagementFactory.getRuntimeMXBean.getStartTime
    val ops = mutable.ArrayBuffer.empty[Done]
    val setupWalls = mutable.ArrayBuffer.empty[Double]
    /** Throughput (rows/s) of each set-up collect, where set-up collects. */
    val setupCollect = mutable.ArrayBuffer.empty[Double]
    var sessionS = 0.0
    /** JSONL bytes the lake was loaded from. */
    var collectedBytes = 0L
    var finalWalk: LakeWalk = _
    var streamBatches0 = 0L
    /** Data files and dirs each traced append added, by request id. */
    var cliAppends: collection.Map[Int, (Int, Int)] = Map.empty

    def elapsedS: Double = (System.currentTimeMillis() - t0) / 1000.0

    /** Run a checked op; the oracle's answer is computed before the
      * clock starts. */
    def exec(cli: Cli, c: Check, phase: String, table: String, bytes: Long = 0L): OpResult = {
      val res = cli.run(c.op, phase)
      val bad = Oracle.mismatch(res.out, res.rc, c)
      bad.foreach(b => System.err.println(s"FAILED ${c.op.args.mkString(" ")}\n$b"))
      ops += Done(res, c, bad, LakeWalk(new File(cli.lakeDir, table)), bytes)
      res
    }

    /** Wait for the listener to settle, then mark where the timed
      * phase's stream batches start. */
    def drainListener(): Unit =
      listener.foreach { l => l.drain(); streamBatches0 = l.streamBatches.get }

    def timed: Seq[Done] = ops.toSeq.filter(_.res.phase == "timed")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toIndexedSeq)
    require(Set("collect_wide", "dashboard", "live_tail")(a.workload),
      s"unknown workload '${a.workload}' (collect_wide, dashboard, live_tail)")
    a.work.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .appName("clibench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getAbsolutePath)
      .getOrCreate()
    val code = try {
      val tracer = if (a.trace) Some(new Tracer(spark)) else None
      val listener = if (a.trace) Some(new SpanListener) else None
      listener.foreach(spark.sparkContext.addSparkListener)
      val run = new Run(a, spark, tracer, listener)
      run.sessionS = run.elapsedS
      a.workload match {
        case "collect_wide" => Workloads.collectWide(run)
        case "dashboard"    => Workloads.events(run, live = false)
        case "live_tail"    => Workloads.events(run, live = true)
      }
      listener.foreach(_.drain())
      Report.emit(run, cores, spark.version)
      0
    } finally spark.stop()
    sys.exit(code)
  }
}

/** The three workloads. Set-up runs as [[SetupSteps]] equal steps, each
  * generating and loading one share of the inputs, so that set-up time
  * is a median too. The timed phase then runs a fixed number of rounds
  * sized from `--seconds`, so every count repeats exactly for a seed.
  */
object Workloads {
  import Bench.Run

  val SetupSteps = 3

  private def write(f: File, text: String): Unit = {
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    try w.print(text) finally w.close()
  }

  private def setupSteps(run: Run)(step: Int => Unit): Unit =
    for (r <- 0 until SetupSteps) {
      val t0 = System.nanoTime()
      step(r)
      run.setupWalls += (System.nanoTime() - t0) / 1e9
    }

  /** Rounds for the `--seconds` budget; `roundS` is one round's wall on
    * the 4-core box the sizes were tuned on. */
  private def rounds(run: Run, roundS: Double): Int =
    math.max(2, math.round(run.args.seconds / roundS).toInt)

  /** Safety stop: no new round once the run nears the time limit. */
  private def timeLeft(run: Run): Boolean = run.elapsedS < Bench.HardStopS

  // ---- collect_wide ----------------------------------------------------

  /** Rows and chunk files of each set-up step's wide inbox. */
  val WideRows = 8000
  val WideChunks = 4
  val WideRoundS = 2.7

  def collectWide(run: Run): Unit = {
    val dir = new File(run.args.work, "wide")
    val n = rounds(run, WideRoundS)
    def inbox(i: Int) = new File(dir, s"inbox/w${i % SetupSteps}")
    // set-up partitions s<i>, then one partition per timed round; each
    // reads the inbox of set-up step i % SetupSteps
    val parts = (0 until SetupSteps).map(i => s"s$i" -> inbox(i)) ++
      (0 until n).map(i => part(i) -> inbox(i))
    write(new File(dir, "config/wide.tpc"),
      """table "wide" {
        |  column "tp_timestamp" { source = "ts" }
        |}
        |""".stripMargin + parts.map { case (p, in) =>
        s"""partition "wide" "$p" {
           |  source "file" {
           |    paths = ["${in.getAbsolutePath}"]
           |  }
           |}
           |""".stripMargin
      }.mkString("\n"))
    val setupCli = new Cli(run.spark, new File(dir, "lake").getAbsolutePath,
      new File(dir, "config").getAbsolutePath, None)
    val inboxes = mutable.ArrayBuffer.empty[Gen.WideInbox]
    var total = 0L
    def collect(cli: Cli, p: String, in: Gen.WideInbox, phase: String): Unit = {
      val id = s"wide.$p"
      run.exec(cli, Check(CollectOp(id), Oracle.collected(id, in.rows, stream = false), in.rows),
        phase, "wide", in.bytes)
      total += in.rows
      run.collectedBytes += in.bytes
      Oracle.wide(p, in, total).foreach(run.exec(cli, _, phase, "wide"))
    }
    setupSteps(run) { r =>
      val in = Gen.writeWide(inbox(r), run.args.seed, r, WideRows, WideChunks)
      inboxes += in
      collect(setupCli, s"s$r", in, "setup")
    }
    run.drainListener()
    val cli = new Cli(run.spark, setupCli.lakeDir, setupCli.configDir, run.tracer)
    run.cliAppends = cli.appends
    for (i <- 0 until n if timeLeft(run)) collect(cli, part(i), inboxes(i % SetupSteps), "timed")
    run.finalWalk = LakeWalk(new File(cli.lakeDir, "wide"))
  }

  private def part(p: Int): String = f"w$p%03d"

  // ---- dashboard / live_tail -------------------------------------------

  /** Rows and chunk files of each batch partition of the event log (one
    * partition per set-up step, each covering two of the six months, so
    * that a set-up collect writes 16 of the table's 48 dirs). */
  val EventRows = 10000
  val EventChunks = 4
  /** live_tail: chunk files landed per round, their rows, the event time
    * each landing advances, and how often the table is compacted. */
  val LandFiles = 2
  val LandRows = 500
  val LandStepUs: Long = 10L * 60 * 1000000L
  val CompactEvery = 2
  val DashboardRoundS = 1.5
  val LiveRoundS = 4.8

  /** `dashboard` (read-only queries) or, with `live`, `live_tail`. */
  def events(run: Run, live: Boolean): Unit = {
    val seed = run.args.seed
    val dir = new File(run.args.work, "events")
    val n = rounds(run, if (live) LiveRoundS else DashboardRoundS)
    val parts = (0 until SetupSteps).map(p => s"p$p") ++ (if (live) Seq("live") else Nil)
    write(new File(dir, "config/events.tpc"),
      """table "events" {
        |  column "tp_timestamp" { source = "ts" }
        |  column "event_id" { type = "bigint" }
        |  column "account_id" { type = "varchar" }
        |  column "user_id" { type = "varchar" }
        |  column "event_type" { type = "varchar" }
        |  column "status" { type = "integer" }
        |  column "latency_ms" { type = "integer" }
        |  column "bytes" { type = "bigint" }
        |  column "region" { type = "varchar" }
        |}
        |""".stripMargin + parts.map { p =>
        s"""partition "events" "$p" {
           |  tp_index = "account_id"
           |  source "file" {
           |    paths = ["${new File(dir, s"inbox/$p").getAbsolutePath}"]
           |  }
           |}
           |""".stripMargin
      }.mkString("\n"))
    val ev = new Gen.Events(SetupSteps * EventRows +
      (if (live) (SetupSteps + n) * LandFiles * LandRows else 0))
    val r = Gen.rng(seed, 99)
    var landed = 0
    var clock = Gen.EventEnd
    /** live_tail: new chunk files in the live inbox, then a drain. */
    def land(cli: Cli, phase: String): Unit = {
      val rows = LandFiles * LandRows
      val bytes = Gen.writeEvents(new File(dir, "inbox/live"), seed, 1000 + landed, ev,
        SetupSteps, rows, LandFiles, clock, clock + LandStepUs, f"r$landed%05d")
      landed += 1
      clock += LandStepUs
      run.collectedBytes += bytes
      run.exec(cli, Check(StreamOp("events.live"),
        Oracle.collected("events.live", rows, stream = true), rows), phase, "events", bytes)
    }
    def query(cli: Cli, kind: String, phase: String): Unit =
      run.exec(cli, Oracle.event(kind, ev, parts, r), phase, "events")

    val setupCli = new Cli(run.spark, new File(dir, "lake").getAbsolutePath,
      new File(dir, "config").getAbsolutePath, None)
    setupSteps(run) { s =>
      // partition p<s> holds months [2s, 2s + 2) of the six
      val (lo, hi) = (Gen.monthStart(2 * s), Gen.monthStart(2 * s + 2))
      run.collectedBytes += Gen.writeEvents(new File(dir, s"inbox/p$s"), seed, s + 1, ev, s,
        EventRows, EventChunks, lo, hi, "chunk")
      val id = s"events.p$s"
      val res = run.exec(setupCli, Check(CollectOp(id),
        Oracle.collected(id, EventRows, stream = false), EventRows), "setup", "events")
      run.setupCollect += EventRows / (res.wallNs / 1e9)
      // two query kinds per step: all six are warm before timing starts
      Seq(2 * s, 2 * s + 1).foreach(k => query(setupCli, Oracle.EventKinds(k), "setup"))
      if (live) land(setupCli, "setup")
    }
    run.drainListener()
    val cli = new Cli(run.spark, setupCli.lakeDir, setupCli.configDir, run.tracer)
    run.cliAppends = cli.appends
    for (round <- 0 until n if timeLeft(run)) {
      if (live) {
        land(cli, "timed")
        if (round % CompactEvery == CompactEvery - 1)
          run.exec(cli, Check(CompactOp("events"), "Compacted events:"), "timed", "events")
      }
      // one query of each kind per round, in a seeded order
      val kinds = Oracle.EventKinds.toArray
      for (i <- kinds.indices.reverse) {
        val j = r.nextInt(i + 1)
        val t = kinds(i); kinds(i) = kinds(j); kinds(j) = t
      }
      kinds.foreach(query(cli, _, "timed"))
    }
    run.finalWalk = LakeWalk(new File(cli.lakeDir, "events"))
  }
}
