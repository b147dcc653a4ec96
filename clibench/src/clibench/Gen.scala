package clibench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

/** Seeded input generation. Every value is a function of the seed and
  * the row's position, so one seed always yields byte-identical files.
  * The program under test only ever sees the JSONL files written here;
  * the in-memory copies feed the answer oracles.
  */
object Gen {

  val TsFormat: DateTimeFormatter =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  val DayFormat: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyy-MM-dd")

  def micros(ldt: LocalDateTime): Long = {
    val i = ldt.toInstant(ZoneOffset.UTC)
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def ldt(micros: Long): LocalDateTime =
    LocalDateTime.ofInstant(
      Instant.ofEpochSecond(Math.floorDiv(micros, 1000000L),
        Math.floorMod(micros, 1000000L) * 1000L), ZoneOffset.UTC)

  /** `yyyy-MM-dd HH:mm:ss`, whole seconds (inputs never carry fractions). */
  def tsText(micros: Long): String = TsFormat.format(ldt(micros))

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L)

  final class JsonlWriter(f: File) extends AutoCloseable {
    private val os = new FileOutputStream(f)
    private val w = new BufferedWriter(
      new OutputStreamWriter(os, StandardCharsets.UTF_8), 1 << 16)
    def row(json: CharSequence): Unit = { w.append(json); w.append('\n') }
    def close(): Unit = w.close()
  }

  /** JSON string literal for ASCII text that may hold quotes. */
  def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  // ---- collect_wide: the reference's synthetic_<N>cols load shape ------

  /** The 11-type column template cycle of the reference's synthetic
    * collector; column `i` uses template `i % 11` and is named
    * `<template>_<i>`.
    */
  val WideTemplates: Seq[String] = Seq(
    "string_col", "int_col", "float_col", "bool_col", "json_col",
    "timestamp_col", "array_col", "nested_json_col", "uuid_col",
    "simple_struct_col", "nested_struct_col")
  val WideCols = 50

  def wideColName(i: Int): String = s"${WideTemplates(i % WideTemplates.size)}_$i"

  val WideStart: Long = micros(LocalDateTime.of(2024, 3, 1, 0, 0))
  /** Two calendar months of event time, so each partition fills two
    * month directories. */
  val WideSpanMicros: Long = micros(LocalDateTime.of(2024, 5, 1, 0, 0)) - WideStart

  /** What the oracle keeps of one wide inbox. */
  final case class WideInbox(dir: File, rows: Int, bytes: Long,
      sumInt1: Long, trueBool3: Long, minTs: Long, maxTs: Long)

  /** Write `rows` wide rows as `chunks` JSONL files under `dir`. */
  def writeWide(dir: File, seed: Long, inbox: Int, rows: Int, chunks: Int): WideInbox = {
    dir.mkdirs()
    val r = rng(seed, 1000L + inbox)
    var sumInt1 = 0L
    var trues = 0L
    var minTs = Long.MaxValue
    var maxTs = Long.MinValue
    val per = (rows + chunks - 1) / chunks
    var written = 0
    val sb = new java.lang.StringBuilder(4096)
    for (c <- 0 until chunks if written < rows) {
      val w = new JsonlWriter(new File(dir, f"chunk_$c%04d.jsonl"))
      try {
        val n = math.min(per, rows - written)
        for (_ <- 0 until n) {
          val k = r.nextInt(100000)
          val flag = r.nextBoolean()
          val ts = WideStart + r.nextLong(WideSpanMicros / 1000000L) * 1000000L
          val back = ts - r.nextInt(30) * 86400000000L
          val ver = s"v${r.nextInt(10)}.${r.nextInt(5)}"
          val uuidHi = r.nextLong()
          val uuidLo = r.nextLong()
          sumInt1 += k + 1
          if (flag) trues += 1
          minTs = math.min(minTs, ts); maxTs = math.max(maxTs, ts)
          sb.setLength(0)
          sb.append("{\"ts\":\"").append(tsText(ts)).append('"')
          for (i <- 0 until WideCols) {
            val name = wideColName(i)
            sb.append(",\"").append(name).append("\":")
            (i % WideTemplates.size) match {
              case 0 => sb.append('"').append(name).append("_val").append(k).append('"')
              case 1 => sb.append(k + 1)
              case 2 => sb.append(k).append(".5")
              case 3 => sb.append(flag)
              case 4 => sb.append(q(s"""{"field1":$k,"field2":"field_$k","field3":$flag}"""))
              case 5 => sb.append('"').append(tsText(back)).append('"')
              case 6 => sb.append(q(s"""["item_$k","$k","$flag"]"""))
              case 7 => sb.append(q(
                s"""{"created_at":"${DayFormat.format(ldt(back))}","version":"$ver"}"""))
              case 8 => sb.append('"').append(new java.util.UUID(uuidHi ^ i, uuidLo).toString).append('"')
              case 9 => sb.append(s"""{"id":$k,"name":"name_$k","active":$flag}""")
              case _ => sb.append(
                s"""{"metadata":{"created_at":"${DayFormat.format(ldt(back))}","version":"$ver"}}""")
            }
          }
          sb.append('}')
          w.row(sb)
        }
        written += n
      } finally w.close()
    }
    WideInbox(dir, rows, dirBytes(dir), sumInt1, trues, minTs, maxTs)
  }

  def dirBytes(dir: File): Long =
    Option(dir.listFiles()).toSeq.flatten.filter(_.isFile).map(_.length).sum

  // ---- dashboard / live_tail: a narrow event log -----------------------

  val Accounts: IndexedSeq[String] = (0 until 8).map(i => f"acct$i%02d")
  val EventTypes: IndexedSeq[String] = IndexedSeq(
    "page_view", "click", "login", "logout", "search", "add_to_cart",
    "checkout", "purchase", "signup", "error", "api_call", "download")
  /** Cumulative weights: a few event types dominate, like real logs. */
  private val EventCdf: Array[Int] = Array(30, 52, 60, 64, 74, 80, 83, 85, 86, 91, 99, 100)
  val Statuses: IndexedSeq[Int] = IndexedSeq(200, 201, 204, 301, 400, 403, 404, 500, 503)
  private val StatusCdf: Array[Int] = Array(70, 76, 79, 82, 86, 88, 94, 98, 100)
  val Regions: IndexedSeq[String] = IndexedSeq("us-east", "us-west", "eu-west", "ap-south")

  val EventStart: Long = monthStart(0)
  /** Six calendar months of history. */
  val EventEnd: Long = monthStart(6)

  /** Start of the `m`-th month of the event history. */
  def monthStart(m: Int): Long = micros(LocalDateTime.of(2024, 1, 1, 0, 0).plusMonths(m))

  private def pick(cdf: Array[Int], u: Int): Int = {
    var i = 0
    while (cdf(i) <= u) i += 1
    i
  }

  /** Column-wise event rows (the oracle's copy). Partition and
    * account are small ids into [[Accounts]] and the partition list.
    */
  final class Events(cap: Int) {
    var n = 0
    val ts = new Array[Long](cap)
    val id = new Array[Long](cap)
    val part = new Array[Byte](cap)
    val acct = new Array[Byte](cap)
    val etype = new Array[Byte](cap)
    val status = new Array[Short](cap)
  }

  /** Append `rows` events for partition `partIdx` with timestamps drawn
    * uniformly from `[lo, hi)`, written as `chunks` JSONL files into
    * `dir` (file names carry `tag` so later landings never collide).
    * Returns the JSONL bytes written.
    */
  def writeEvents(dir: File, seed: Long, stream: Long, ev: Events, partIdx: Int,
      rows: Int, chunks: Int, lo: Long, hi: Long, tag: String): Long = {
    dir.mkdirs()
    val r = rng(seed, stream)
    val per = (rows + chunks - 1) / chunks
    var written = 0
    var bytes = 0L
    val sb = new java.lang.StringBuilder(256)
    for (c <- 0 until chunks if written < rows) {
      val f = new File(dir, f"${tag}_$c%04d.jsonl")
      val w = new JsonlWriter(f)
      try {
        val n = math.min(per, rows - written)
        for (_ <- 0 until n) {
          val i = ev.n
          ev.ts(i) = lo + r.nextLong((hi - lo) / 1000000L) * 1000000L
          ev.id(i) = stream * 100000000L + i
          ev.part(i) = partIdx.toByte
          ev.acct(i) = r.nextInt(Accounts.size).toByte
          ev.etype(i) = pick(EventCdf, r.nextInt(100)).toByte
          ev.status(i) = Statuses(pick(StatusCdf, r.nextInt(100))).toShort
          ev.n += 1
          sb.setLength(0)
          sb.append("{\"ts\":\"").append(tsText(ev.ts(i)))
            .append("\",\"event_id\":").append(ev.id(i))
            .append(",\"account_id\":\"").append(Accounts(ev.acct(i)))
            .append("\",\"user_id\":\"u").append(r.nextInt(5000))
            .append("\",\"event_type\":\"").append(EventTypes(ev.etype(i)))
            .append("\",\"status\":").append(ev.status(i))
            .append(",\"latency_ms\":").append(1 + r.nextInt(2000))
            .append(",\"bytes\":").append(r.nextInt(1 << 20))
            .append(",\"region\":\"").append(Regions(r.nextInt(Regions.size))).append("\"}")
          w.row(sb)
        }
        written += n
      } finally w.close()
      bytes += f.length()
    }
    bytes
  }
}
