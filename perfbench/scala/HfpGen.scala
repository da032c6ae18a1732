package perfbench

import java.util.SplittableRandom

/** Seeded HFP feed generator with planted duplicate structure.
  *
  * Lines use the reference's wire format, `<recv_ts> <topic> <payload>`
  * (see graft.sources.HfpSource).  Each message has exactly one redundant
  * copy: 85 % trail their original by 0.2-5 s, 13 % by TTL/2 (+-10 min) and
  * 2 % by just past the TTL, which readmits them as primes.  10 % of copies
  * are reformatted (key order, whitespace, trailing zeros on floats), so only
  * a canonical content hash can match them.  0.1 % of lines are malformed in
  * ways the source parser drops.  The copy mix and lags are assumed, not
  * taken from a measured feed.  Messages are spaced 2.16 s apart so ~40k
  * lines span three TTLs of event time: state reaches a steady size and
  * timers evict, but that size is ~6.7k keys (TTL / spacing), where a real
  * feed at ~1000 lines/s holds millions.
  *
  * The truth (`verdict`) is what the planted structure implies -- an
  * original is a prime, a near or TTL/2 copy a duplicate, a past-TTL copy a
  * prime, a malformed line dropped -- and is never computed by a dedup.
  * `recv_ts` is unique per line, so its epoch micros serve as the event id.
  */
final case class Feed(lines: Array[String], verdict: Array[Byte], eventUs: Array[Long]) {
  def size: Int = lines.length
}

object HfpGen {
  val TtlMs: Long = 4L * 3600 * 1000
  val WindowMs: Long = 60L * 1000
  val BaseMs: Long = 1700000000000L // 2023-11-14T22:13:20Z
  val Vehicles = 5000
  val MsgSpacingMs = 2160L
  val Prime: Byte = 'P'
  val Dup: Byte = 'D'
  val Drop: Byte = 'X'

  private val isoUs = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").withZone(java.time.ZoneOffset.UTC)
  private val isoMs = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(java.time.ZoneOffset.UTC)

  def isoOfUs(us: Long): String =
    isoUs.format(java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
      Math.floorMod(us, 1000000L) * 1000L))

  private final case class Vehicle(oper: Int, veh: Int, line: Int, desi: String, dir: String)

  private def round(x: Double, d: Int): Double = {
    val f = math.pow(10, d)
    math.round(x * f) / f
  }

  private def fields(r: SplittableRandom, v: Vehicle, tstMs: Long): Array[(String, Any)] = {
    val tst = isoMs.format(java.time.Instant.ofEpochMilli(tstMs))
    Array(
      "desi" -> v.desi, "dir" -> v.dir, "oper" -> v.oper, "veh" -> v.veh,
      "tst" -> tst, "tsi" -> tstMs / 1000,
      "spd" -> round(r.nextDouble(0.1, 30.0), 2), "hdg" -> r.nextInt(360),
      "lat" -> round(r.nextDouble(60.1, 60.3), 5),
      "long" -> round(r.nextDouble(24.7, 25.2), 5),
      "acc" -> round(r.nextDouble(-1.5, 1.5), 2), "dl" -> (r.nextInt(601) - 300),
      "odo" -> r.nextInt(40001), "drst" -> r.nextInt(2), "oday" -> tst.take(10),
      "jrn" -> (1 + r.nextInt(999)), "line" -> v.line,
      "start" -> f"${5 + r.nextInt(19)}%02d:${r.nextInt(4) * 15}%02d")
  }

  /** Compact JSON; with `reformat`, the same content with shuffled key
    * order, extra whitespace and a trailing zero on every float. */
  private def render(fs: Array[(String, Any)], reformat: Option[SplittableRandom]): String = {
    val items = fs.clone()
    reformat.foreach { r =>
      var i = items.length - 1
      while (i > 0) {
        val j = r.nextInt(i + 1)
        val t = items(i); items(i) = items(j); items(j) = t
        i -= 1
      }
    }
    val (sep, kv) = if (reformat.isDefined) (", ", ": ") else (",", ":")
    val inner = items.map { case (k, v) =>
      val value = v match {
        case s: String => "\"" + s + "\""
        case d: Double => if (reformat.isDefined) d.toString + "0" else d.toString
        case other => other.toString
      }
      "\"" + k + "\"" + kv + value
    }.mkString(sep)
    if (reformat.isDefined) "{ \"VP\" : { " + inner + " } }" else "{\"VP\":{" + inner + "}}"
  }

  /** About `nLines` lines in arrival order, with their truth. */
  def generate(seed: Long, nLines: Int): Feed = {
    val r = new SplittableRandom(seed)
    val vehicles = Array.tabulate(Vehicles) { i =>
      val opers = Array(6, 12, 17, 18, 22, 30, 40, 47)
      val line = 1000 + r.nextInt(9000)
      Vehicle(opers(r.nextInt(opers.length)), 1000 + i, line, (line % 1000).toString,
        (1 + r.nextInt(2)).toString)
    }
    val nMsgs = math.max(1, nLines / 2)
    val cutUs = (BaseMs + nMsgs * MsgSpacingMs) * 1000L
    val evUs = Array.newBuilder[Long]
    val evText = Array.newBuilder[String]
    val evVerdict = Array.newBuilder[Byte]
    var nEv = 0
    def emit(us: Long, text: String, v: Byte): Unit = {
      evUs += us; evText += text; evVerdict += v; nEv += 1
    }
    var m = 0
    while (m < nMsgs) {
      val v = vehicles(r.nextInt(Vehicles))
      val tUs = (BaseMs + m * MsgSpacingMs) * 1000L + r.nextLong(MsgSpacingMs * 1000L)
      val fs = fields(r, v, tUs / 1000L)
      val topic = f"/hfp/v1/journey/ongoing/bus/${v.oper}%04d/${v.veh}%05d/${v.line}/${v.dir}"
      emit(tUs, topic + " " + render(fs, None), Prime)
      val k = r.nextDouble()
      val (dMs, verdict) =
        if (k < 0.85) (200L + r.nextInt(4801), Dup)
        else if (k < 0.98) (TtlMs / 2 + r.nextInt(1200001) - 600000L, Dup)
        else (TtlMs + 1000L + r.nextInt(59001), Prime)
      val cUs = tUs + dMs * 1000L + r.nextInt(1000)
      if (cUs < cutUs) {
        val text = if (r.nextDouble() < 0.10) render(fs, Some(r)) else render(fs, None)
        emit(cUs, topic + " " + text, verdict)
      }
      m += 1
    }
    val nBad = math.max(1, nEv / 1000)
    var b = 0
    val firstUs = BaseMs * 1000L
    while (b < nBad) {
      val us = firstUs + r.nextLong(cutUs - firstUs)
      if (r.nextBoolean()) emit(us, "/hfp/v1/journey/ongoing/bus/0022/01234", Drop)
      else emit(us, "/hfp/v1/journey {\"VP\":{\"veh\":1}}", Drop)
      b += 1
    }
    val us = evUs.result(); val text = evText.result(); val verdict = evVerdict.result()
    val order = us.indices.sortBy(i => us(i)).toArray
    val lines = new Array[String](order.length)
    val outV = new Array[Byte](order.length)
    val outUs = new Array[Long](order.length)
    var last = Long.MinValue
    var i = 0
    while (i < order.length) {
      val j = order(i)
      val t = math.max(us(j), last + 1) // unique micros: they are the event id
      last = t
      lines(i) = isoOfUs(t) + " " + text(j)
      outV(i) = verdict(j)
      outUs(i) = t
      i += 1
    }
    Feed(lines, outV, outUs)
  }

  /** Window start ms -> (primes, duplicates) over the first `upto` lines. */
  def windowCounts(f: Feed, upto: Int): Map[Long, (Long, Long)] = {
    val acc = scala.collection.mutable.HashMap.empty[Long, (Long, Long)]
    var i = 0
    while (i < upto) {
      val v = f.verdict(i)
      if (v != Drop) {
        val w = Math.floorDiv(f.eventUs(i) / 1000L, WindowMs) * WindowMs
        val (p, d) = acc.getOrElse(w, (0L, 0L))
        acc(w) = if (v == Prime) (p + 1, d) else (p, d + 1)
      }
      i += 1
    }
    acc.toMap
  }

  /** Windows that fire an alert under Analytics.java's rule
    * (DedupStream.windowedStats): start -> (primes, dups, highDup, feedDown). */
  def alertWindows(counts: Map[Long, (Long, Long)], threshold: Double = 0.97)
      : Map[Long, (Long, Long, Boolean, Boolean)] =
    counts.collect { case (w, (p, d)) if p > 0 =>
      val ratio = d.toDouble / p
      (w, (p, d, ratio > 1.0, !(ratio > 1.0) && ratio < threshold))
    }.filter { case (_, (_, _, hi, down)) => hi || down }
}
