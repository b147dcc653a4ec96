package clibench

import java.util.SplittableRandom

import scala.collection.mutable

/** A CLI invocation and the output it must print. */
final case class Check(op: Op, expected: String, rows: Long = 0L)

/** Expected answers, computed from the generated rows in memory — never
  * from the lake — outside the timed region.
  */
object Oracle {

  private def csv(header: String, rows: Iterable[String]): String =
    (header +: rows.toSeq).mkString("\n")

  private def sqlTs(us: Long): String = s"timestamp'${Gen.tsText(us)}'"
  private def flagTs(us: Long): String = Gen.tsText(us).replace(' ', 'T')

  private val HourUs = 3600L * 1000000L
  private val DayUs = 24 * HourUs
  /** Band width of the time-band and daily queries (top-k uses twice
    * it): seeds move the band, never its size, so cost stays comparable. */
  private val BandDays = 7

  /** What `collect` prints for a partition whose inbox held `rows`. */
  def collected(id: String, rows: Long, stream: Boolean): String =
    if (stream) s"Collected $id (stream): $rows rows" else s"Collected $id: $rows rows"

  /** `out` passes when it holds `expected` as a line block (collect
    * output carries progress lines around the result line). */
  def mismatch(out: String, rc: Int, c: Check): Option[String] =
    if (rc != 0) Some(s"rc=$rc: ${out.take(400)}")
    else c.op match {
      case _: QueryOp if out != c.expected =>
        Some(s"expected:\n${c.expected.take(400)}\ngot:\n${out.take(400)}")
      case _: CollectOp | _: StreamOp if !out.linesIterator.contains(c.expected) =>
        Some(s"expected line '${c.expected}' in:\n${out.take(400)}")
      case _: CompactOp if !out.startsWith(c.expected) =>
        Some(s"expected '${c.expected}...', got:\n${out.take(400)}")
      case _ => None
    }

  // ---- event log: the dashboard query mix ------------------------------

  val EventKinds: IndexedSeq[String] =
    IndexedSeq("meta", "band", "daily", "topk", "fetch", "status")

  /** One query of kind `kind` with parameters drawn from `r`. `parts`
    * names the partitions whose rows are committed. */
  def event(kind: String, ev: Gen.Events, parts: IndexedSeq[String],
      r: SplittableRandom): Check = {
    var lo = Long.MaxValue
    var hi = Long.MinValue
    var i = 0
    while (i < ev.n) { lo = math.min(lo, ev.ts(i)); hi = math.max(hi, ev.ts(i)); i += 1 }
    val hours = (hi - lo) / HourUs
    def count(pred: Int => Boolean): Long = {
      var c = 0L; var j = 0
      while (j < ev.n) { if (pred(j)) c += 1; j += 1 }
      c
    }
    kind match {
      case "meta" =>
        Check(QueryOp("select count(*) as n, min(tp_timestamp) as lo, " +
          "max(tp_timestamp) as hi from events"),
          csv("n,lo,hi", Seq(s"${ev.n},${Gen.tsText(lo)},${Gen.tsText(hi)}")))
      case "band" =>
        val a = lo + r.nextLong(hours - BandDays * 24) * HourUs
        val b = a + BandDays * DayUs
        Check(QueryOp("select count(*) as n from events where " +
          s"tp_timestamp >= ${sqlTs(a)} and tp_timestamp < ${sqlTs(b)}"),
          csv("n", Seq(count(j => ev.ts(j) >= a && ev.ts(j) < b).toString)))
      case "daily" =>
        val a = Math.floorDiv(lo, DayUs) * DayUs + r.nextLong(hours / 24 - BandDays) * DayUs
        val b = a + BandDays * DayUs
        val byDay = mutable.TreeMap.empty[Long, Long]
        (0 until ev.n).foreach { j =>
          if (ev.ts(j) >= a && ev.ts(j) < b) {
            val d = Math.floorDiv(ev.ts(j), DayUs)
            byDay(d) = byDay.getOrElse(d, 0L) + 1
          }
        }
        Check(QueryOp("select tp_date, count(*) as n from events where " +
          s"tp_timestamp >= ${sqlTs(a)} and tp_timestamp < ${sqlTs(b)} " +
          "group by tp_date order by tp_date"),
          csv("tp_date,n", byDay.map { case (d, n) =>
            s"${Gen.DayFormat.format(Gen.ldt(d * DayUs))},$n" }))
      case "topk" =>
        val a = lo + r.nextLong(hours - 2 * BandDays * 24) * HourUs
        val b = a + 2 * BandDays * DayUs
        val counts = new Array[Long](Gen.EventTypes.size)
        (0 until ev.n).foreach { j =>
          if (ev.ts(j) >= a && ev.ts(j) <= b) counts(ev.etype(j)) += 1
        }
        val top = Gen.EventTypes.indices.filter(counts(_) > 0)
          .sortBy(t => (-counts(t), Gen.EventTypes(t))).take(5)
        Check(QueryOp("select event_type, count(*) as n from events " +
          "group by event_type order by n desc, event_type limit 5",
          from = Some(flagTs(a)), to = Some(flagTs(b))),
          csv("event_type,n", top.map(t => s"${Gen.EventTypes(t)},${counts(t)}")))
      case "fetch" =>
        val k = r.nextInt(ev.n)
        val acct = ev.acct(k)
        val a = Math.floorDiv(ev.ts(k), HourUs) * HourUs
        val b = a + HourUs
        val rows = (0 until ev.n)
          .filter(j => ev.acct(j) == acct && ev.ts(j) >= a && ev.ts(j) < b)
          .sortBy(ev.id(_))
          .map(j => s"${ev.id(j)},${Gen.tsText(ev.ts(j))}," +
            s"${Gen.EventTypes(ev.etype(j))},${ev.status(j)}")
        Check(QueryOp("select event_id, tp_timestamp, event_type, status from events " +
          s"where tp_timestamp >= ${sqlTs(a)} and tp_timestamp < ${sqlTs(b)} " +
          "order by event_id", index = Some(Gen.Accounts(acct))),
          csv("event_id,tp_timestamp,event_type,status", rows))
      case "status" =>
        val p = r.nextInt(parts.size)
        val counts = mutable.TreeMap.empty[Int, Long]
        (0 until ev.n).foreach { j =>
          if (ev.part(j) == p) counts(ev.status(j).toInt) = counts.getOrElse(ev.status(j).toInt, 0L) + 1
        }
        Check(QueryOp("select status, count(*) as n from events " +
          "group by status order by status", partition = Some(parts(p))),
          csv("status,n", counts.map { case (s, n) => s"$s,$n" }))
    }
  }

  // ---- wide table: per-collect verification ----------------------------

  /** Queries that check one collected wide partition, plus the table's
    * running total. */
  def wide(part: String, in: Gen.WideInbox, totalRows: Long): Seq[Check] = Seq(
    Check(QueryOp("select count(*) as n from wide", partition = Some(part)),
      csv("n", Seq(in.rows.toString))),
    Check(QueryOp("select sum(int_col_1) as s, count_if(bool_col_3) as t, " +
      "min(tp_timestamp) as lo, max(tp_timestamp) as hi from wide", partition = Some(part)),
      csv("s,t,lo,hi", Seq(s"${in.sumInt1},${in.trueBool3},${Gen.tsText(in.minTs)}," +
        Gen.tsText(in.maxTs)))),
    Check(QueryOp("select count(*) as n from wide"), csv("n", Seq(totalRows.toString))))
}
