package perfbench

import java.util.SplittableRandom

/** One client request: its operation type (for per-type latencies), the
  * RPC method and encoded body, and the check its reply must pass —
  * `check` returns the reason it failed, or None. */
final case class Req(kind: String, method: String, body: Array[Byte],
                     check: Reply => Option[String])

object Requests {
  val Second = 1000000000L

  private def base(u: String): ProtoOut = new ProtoOut().raw(1, Proto.uuidBytes(u))

  def rawValues(u: String, s: Long, e: Long): Array[Byte] =
    base(u).sfixed(2, s).sfixed(3, e).bytes
  def aligned(u: String, s: Long, e: Long, pw: Int): Array[Byte] =
    base(u).sfixed(2, s).sfixed(3, e).uint(5, pw.toLong).bytes
  def windows(u: String, s: Long, e: Long, width: Long, depth: Int): Array[Byte] =
    base(u).sfixed(2, s).sfixed(3, e).uint(5, width).uint(6, depth.toLong).bytes
  def nearest(u: String, t: Long, backward: Boolean): Array[Byte] =
    base(u).sfixed(2, t).bool(4, backward).bytes
  def changes(u: String, from: Long, to: Long, res: Int): Array[Byte] =
    base(u).uint(2, from).uint(3, to).uint(4, res.toLong).bytes
  def streamInfo(u: String): Array[Byte] = base(u).bytes
  def lookup(collection: String): Array[Byte] = new ProtoOut().string(1, collection).bytes
  def flush(u: String): Array[Byte] = base(u).bytes

  def insert(u: String, times: Array[Long], values: Array[Double],
             sync: Boolean): Array[Byte] = {
    val w = base(u).bool(2, sync)
    var i = 0
    while (i < times.length) {
      w.message(3, new ProtoOut().sfixed(1, times(i)).double(2, values(i)))
      i += 1
    }
    w.bytes
  }

  def statusOk(r: Reply): Option[String] =
    if (r.stat != 0) Some(s"bte ${r.stat}: ${r.statMsg}") else None

  /** Raw points equal the model's [s, e): count, digest, time order. */
  def checkRaw(d: StreamData, s: Long, e: Long)(r: Reply): Option[String] =
    statusOk(r).orElse {
      var h = 0L; var sorted = true; var i = 0
      while (i < r.times.size) {
        h += Corpus.mix(r.times(i), r.values(i))
        if (i > 0 && r.times(i) < r.times(i - 1)) sorted = false
        i += 1
      }
      val want = d.count(s, e)
      if (r.times.size != want) Some(s"RawValues count ${r.times.size} != $want")
      else if (h != d.digest(s, e)) Some("RawValues digest mismatch")
      else if (!sorted) Some("RawValues out of time order")
      else None
    }

  /** Stat windows equal the model's non-empty 2^pw windows (the mean
    * is the engine's cents mean, see [[Win]]). */
  def checkAligned(d: StreamData, s: Long, e: Long, pw: Int)(r: Reply): Option[String] =
    statusOk(r).orElse {
      val want = d.aligned(s, e, pw)
      if (r.counts.size != want.size) Some(s"AlignedWindows ${r.counts.size} windows != ${want.size}")
      else want.indices.collectFirst {
        case i if r.times(i) != want(i).start || r.counts(i) != want(i).count ||
            r.mins(i) != want(i).min || r.maxs(i) != want(i).max ||
            !Harness.near(r.means(i), want(i).centsMean) =>
          s"AlignedWindows pw $pw window ${want(i).start}: got (${r.times(i)}, " +
            s"${r.counts(i)}, ${r.mins(i)}, ${r.means(i)}, ${r.maxs(i)}) want ${want(i)}"
      }
    }

  /** Windows of `width` from s, empty ones reported with count 0. */
  def checkWindows(d: StreamData, s: Long, e: Long, width: Long)(r: Reply): Option[String] =
    statusOk(r).orElse {
      val want = d.windows(s, e, width)
      if (r.counts.size != want.size) Some(s"Windows ${r.counts.size} windows != ${want.size}")
      else want.indices.collectFirst {
        case i if r.times(i) != want(i)._1 || r.counts(i) != want(i)._2 ||
            (want(i)._2 > 0 && (r.mins(i) != want(i)._3 || r.maxs(i) != want(i)._4)) =>
          s"Windows window ${want(i)._1} differs"
      }
    }

  def checkNearest(d: StreamData, t: Long, backward: Boolean)(r: Reply): Option[String] =
    d.nearest(t, backward) match {
      case None => if (r.stat == 401) None else Some(s"Nearest expected no point, got stat ${r.stat}")
      case Some((wt, wv)) =>
        statusOk(r).orElse(
          if (r.times.size == 1 && r.times(0) == wt && r.values(0) == wv) None
          else Some(s"Nearest($t, $backward) != $wt"))
    }

  /** The whole stream was committed, so its changes are non-empty and
    * lie within its envelope at the requested resolution. */
  def checkChanges(d: StreamData, res: Int)(r: Reply): Option[String] =
    statusOk(r).orElse {
      if (r.ends.size == 0) Some("Changes empty after known commits")
      else if ((0 until r.ends.size).exists(i => r.ends(i) <= r.times(i) ||
          r.times(i) > d.tmax || r.ends(i) <= (d.tmin >> res << res)))
        Some("Changes range outside the stream")
      else None
    }

  /** The dashboard's gRPC mix in twentieths: 8 pyramid-served and 3
    * raw-path AlignedWindows, 2 Windows, 3 RawValues, 2 Nearest, 1
    * Changes, 1 StreamInfo/LookupStreams. */
  val DashboardDeck: IndexedSeq[String] = IndexedSeq("aligned_pyr" -> 8, "aligned_raw" -> 3,
    "windows" -> 2, "raw" -> 3, "nearest" -> 2, "changes" -> 1, "catalog" -> 1)
    .flatMap { case (kind, n) => Seq.fill(n)(kind) }

  /** Deals request kinds from a seeded shuffle of `deck`, so every 20
    * requests dealt follow the mix exactly. Clients may share one. */
  final class Dealer(deck: IndexedSeq[String], rng: SplittableRandom) {
    private var hand = List.empty[String]
    /** Drop the rest of the current shuffle: the next card starts a new one. */
    def restart(): Unit = synchronized { hand = Nil }
    def next(): String = synchronized {
      if (hand.isEmpty) {
        val a = deck.toArray
        for (i <- a.length - 1 to 1 by -1) {
          val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
        }
        hand = a.toList
      }
      val k = hand.head; hand = hand.tail; k
    }
  }

  /** One request of the dashboard's gRPC mix over `corpus`: the kind
    * from `dealer`, the stream drawn by `zipf`. */
  def dashboard(rng: SplittableRandom, dealer: Dealer, zipf: Zipf,
                corpus: IndexedSeq[StreamData]): Req = {
    val d = corpus(zipf.next(rng))
    val u = d.uuid
    def at(span: Long): Long = // a start leaving `span` inside the stream
      d.tmin + (rng.nextDouble() * math.max(1L, d.tmax - d.tmin - span)).toLong
    dealer.next() match {
      case "aligned_pyr" => // AlignedWindows above the finest pyramid level
        val pw = if (rng.nextBoolean()) 36 else 42
        val span = 1L << (pw + 6)
        val (s, e) =
          if (d.tmax - d.tmin < span) (d.tmin >> pw << pw, ((d.tmax >> pw) + 1) << pw)
          else { val s0 = at(span) >> pw << pw; (s0, s0 + span) }
        Req("aligned_pyr", "AlignedWindows", aligned(u, s, e, pw), checkAligned(d, s, e, pw))
      case "aligned_raw" => // AlignedWindows below the finest level: the raw path
        val s = at(10 * Second) >> 24 << 24
        val e = s + (10 * Second >> 24 << 24)
        Req("aligned_raw", "AlignedWindows", aligned(u, s, e, 24), checkAligned(d, s, e, 24))
      case "windows" =>
        val s = at(60 * Second); val e = s + 60 * Second
        Req("windows", "Windows", windows(u, s, e, Second, 0), checkWindows(d, s, e, Second))
      case "raw" =>
        val s = at(10 * Second); val e = s + 10 * Second
        Req("raw", "RawValues", rawValues(u, s, e), checkRaw(d, s, e))
      case "nearest" =>
        val backward = rng.nextBoolean()
        val t = (if (rng.nextInt(10) < 3) d.holeTime(rng) else None)
          .getOrElse(d.tmin - Second + (rng.nextDouble() * (d.tmax - d.tmin + 2 * Second)).toLong)
        Req("nearest", "Nearest", nearest(u, t, backward), checkNearest(d, t, backward))
      case "changes" =>
        Req("changes", "Changes", changes(u, 0, 0, 36), checkChanges(d, 36))
      case _ if rng.nextBoolean() =>
        Req("catalog", "StreamInfo", streamInfo(u), r => statusOk(r).orElse(
          if (r.collections == Seq(d.collection)) None else Some("StreamInfo collection differs")))
      case _ =>
        val want = corpus.count(_.collection == d.collection)
        Req("catalog", "LookupStreams", lookup(d.collection), r => statusOk(r).orElse(
          if (r.descriptors == want) None
          else Some(s"LookupStreams ${r.descriptors} streams != $want")))
    }
  }
}
