package clibench

import java.io.File
import java.nio.file.Files

/** Checks of the benchmark's own logic (no Spark needed):
  * `python3 clibench/run.py --self-test`. Exits non-zero on a failure.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Exception => println(s"  threw $e"); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  private def span(id: Int, parent: Int, start: Long, end: Long): Span = {
    val s = new Span(id, parent, 1, s"s$id", "test", start)
    s.end = end
    s
  }

  def main(args: Array[String]): Unit = {
    // ---- percentile rule ----
    val hundred = (1 to 100).map(_.toDouble)
    check("p90 of 1..100 is 90, with 10 samples beyond") {
      Stats.percentile(hundred, 90) == 90.0 && Stats.beyond(100, 90) == 10
    }
    check("100 samples support p90") { Stats.supportedTail(100).contains(90) }
    check("99 samples support only p89") { Stats.supportedTail(99).contains(89) }
    check("50 samples support p80") { Stats.supportedTail(50).contains(80) }
    check("20 samples support the median, 19 not even that") {
      Stats.supportedTail(20).contains(50) && Stats.supportedTail(19).isEmpty
    }
    check("median of an even sample averages the middle pair") {
      Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5 && Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0
    }

    // ---- self time ----
    val parent = span(0, -1, 0, 100)
    val kids = Seq(
      span(1, 0, 10, 30),
      span(2, 0, 20, 50),   // overlaps span 1
      span(3, 0, 40, 45),   // inside span 2
      span(4, 0, 90, 120))  // runs past the parent's end
    val grandchild = span(5, 2, 25, 35)
    check("self time subtracts the union of children, clipped to the parent") {
      Tracer.selfTime(parent, kids) == 100 - (40 + 10)
    }
    check("grandchildren count only against their own parent") {
      val byParent = (kids :+ grandchild).groupBy(_.parent)
      Tracer.selfTime(parent, byParent(0)) == 50 &&
        Tracer.selfTime(kids(1), byParent(2)) == 30 - 10
    }
    check("a span without children is all self time") { Tracer.selfTime(parent, Nil) == 100 }
    check("disjoint and touching intervals add up") {
      Stats.coverage(Seq((0L, 10L), (10L, 20L), (30L, 35L)), 0, 100) == 25
    }

    // ---- checker ----
    val tmp = Files.createTempDirectory("clibench-selftest").toFile
    val ev = new Gen.Events(400)
    Gen.writeEvents(new File(tmp, "a"), 7, 1, ev, 0, 200, 2, Gen.EventStart, Gen.EventEnd, "c")
    Gen.writeEvents(new File(tmp, "b"), 7, 2, ev, 1, 200, 2, Gen.EventStart, Gen.EventEnd, "c")
    val r = Gen.rng(7, 3)
    val statusQ = Oracle.event("status", ev, IndexedSeq("p0", "p1"), r)
    check("the status breakdown counts every row of its partition") {
      statusQ.expected.split("\n").tail.map(_.split(",")(1).toLong).sum == 200
    }
    check("the checker passes the right answer") {
      Oracle.mismatch(statusQ.expected, 0, statusQ).isEmpty
    }
    check("the checker catches a wrong count") {
      val lines = statusQ.expected.split("\n")
      val Array(k, n) = lines(1).split(",")
      val wrong = (lines.head +: s"$k,${n.toLong + 1}" +: lines.drop(2)).mkString("\n")
      Oracle.mismatch(wrong, 0, statusQ).nonEmpty
    }
    check("the checker catches a missing row and a failed command") {
      Oracle.mismatch(statusQ.expected.split("\n").init.mkString("\n"), 0, statusQ).nonEmpty &&
        Oracle.mismatch(statusQ.expected, 1, statusQ).nonEmpty
    }
    val collect = Check(CollectOp("events.p0"), Oracle.collected("events.p0", 200, stream = false))
    check("a collect must report the generated row count") {
      Oracle.mismatch("Collection started: events.p0 (source file)\nCollected events.p0: 200 rows",
        0, collect).isEmpty &&
        Oracle.mismatch("Collected events.p0: 199 rows", 0, collect).nonEmpty
    }
    check("every query kind has an answer") {
      Oracle.EventKinds.forall(k => Oracle.event(k, ev, IndexedSeq("p0", "p1"), r).expected.nonEmpty)
    }

    // ---- seeded generation ----
    def bytesOf(seed: Long): Seq[Byte] = {
      val d = Files.createTempDirectory(tmp.toPath, "g").toFile
      Gen.writeEvents(d, seed, 1, new Gen.Events(50), 0, 50, 1, Gen.EventStart, Gen.EventEnd, "c")
      val w = Gen.writeWide(new File(d, "w"), seed, 0, 20, 2)
      (d.listFiles().filter(_.isFile) ++ w.dir.listFiles()).sortBy(_.getName)
        .flatMap(f => Files.readAllBytes(f.toPath)).toSeq
    }
    check("one seed gives byte-identical inputs, another seed different ones") {
      bytesOf(11) == bytesOf(11) && bytesOf(11) != bytesOf(12)
    }
    check("a wide row has the 50 template columns") {
      val w = Gen.writeWide(new File(tmp, "w1"), 5, 0, 3, 1)
      val line = new String(Files.readAllBytes(w.dir.listFiles().head.toPath), "UTF-8").split("\n").head
      (0 until Gen.WideCols).forall(i => line.contains("\"" + Gen.wideColName(i) + "\":")) &&
        line.length > 1500
    }

    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete()
    }
    rm(tmp)
    println(if (failures == 0) "self-test passed" else s"self-test: $failures failure(s)")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
