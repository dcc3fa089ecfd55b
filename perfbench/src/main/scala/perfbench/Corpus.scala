package perfbench

import java.util.SplittableRandom

/** One generated stream: identity, shape and its points, sorted by
  * (time, value) — the order the engine returns raw points in. The
  * arrays are the model every reply is checked against. */
final class StreamData(val idx: Int, val uuid: String, val collection: String,
                       val tags: Map[String, String], val periodNs: Long,
                       val grid: Boolean, val times: Array[Long],
                       val values: Array[Double]) {
  def n: Int = times.length
  def tmin: Long = times(0)
  def tmax: Long = times(n - 1)

  /** First index whose time is >= t. */
  def lower(t: Long): Int = {
    var lo = 0; var hi = n
    while (lo < hi) { val m = (lo + hi) >>> 1; if (times(m) < t) lo = m + 1 else hi = m }
    lo
  }

  def count(s: Long, e: Long): Int = math.max(0, lower(e) - lower(s))

  /** Order-independent digest of the points in [s, e). */
  def digest(s: Long, e: Long): Long = {
    var h = 0L; var i = lower(s); val j = lower(e)
    while (i < j) { h += Corpus.mix(times(i), values(i)); i += 1 }
    h
  }

  /** Non-empty 2^pw windows of [s, e). */
  def aligned(s: Long, e: Long, pw: Int): Seq[Win] = {
    val out = Seq.newBuilder[Win]
    var i = lower(s); val j = lower(e)
    while (i < j) {
      val w = times(i) >> pw << pw
      var c = 0L; var mn = Double.MaxValue; var mx = -Double.MaxValue
      var sum = 0.0; var cents = 0L
      while (i < j && (times(i) >> pw << pw) == w) {
        val v = values(i); c += 1; sum += v; cents += Corpus.cents(v)
        if (v < mn) mn = v
        if (v > mx) mx = v
        i += 1
      }
      out += Win(w, c, mn, mx, sum / c, cents / 100.0 / c)
    }
    out.result()
  }

  /** Every `width` window of [s, s + k*width) for the largest whole k,
    * empty ones included with count 0. */
  def windows(s: Long, e: Long, width: Long): Seq[(Long, Long, Double, Double)] =
    (0L until (e - s) / width).map { k =>
      val ws = s + k * width
      var i = lower(ws); val j = lower(ws + width)
      var c = 0L; var mn = Double.MaxValue; var mx = -Double.MaxValue
      while (i < j) {
        val v = values(i); c += 1
        if (v < mn) mn = v
        if (v > mx) mx = v
        i += 1
      }
      (ws, c, mn, mx)
    }

  /** The point Nearest returns: forward, the first at time >= t (lowest
    * value among duplicates); backward, the last at time < t (highest
    * value among duplicates). */
  def nearest(t: Long, backward: Boolean): Option[(Long, Double)] =
    if (backward) { val i = lower(t) - 1; if (i < 0) None else Some((times(i), values(i))) }
    else { val i = lower(t); if (i >= n) None else Some((times(i), values(i))) }

  /** A time inside a dropout (a gap of more than 3 periods), if any. */
  def holeTime(rng: SplittableRandom): Option[Long] = {
    val from = rng.nextInt(n - 1)
    (0 until n - 1).iterator.map(k => (from + k) % (n - 1))
      .find(i => times(i + 1) - times(i) > 3 * periodNs)
      .map(i => (times(i) + times(i + 1)) / 2)
  }
}

/** One stat window of the model: its IEEE mean, and the mean the
  * engine's stat RPCs define — the mean of the values rounded to cents
  * (`StatOps.rawMean`/`rollupMean`), which differs from the IEEE mean by
  * up to 0.005 on streams off the 0.01 grid. */
final case class Win(start: Long, count: Long, min: Double, max: Double,
                     mean: Double, centsMean: Double)

object Corpus {
  /** 2^42-aligned epoch near 2024-01-01, so every pyramid level's
    * windows align with the streams' starts. */
  val Base: Long = (1704067200L * 1000000000L >> 42) << 42
  val PmuHz = 120
  val Day: Long = 86400L * 1000000000L

  def pmuTime(t0: Long, i: Long): Long = t0 + i * 1000000000L / PmuHz

  /** Order-independent per-point hash (a murmur3 finalizer over time and
    * value bits), summed into digests. */
  def mix(t: Long, v: Double): Long = {
    var h = t * 0x9e3779b97f4a7c15L ^ java.lang.Double.doubleToLongBits(v)
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb93fe53a87c5L
    h ^ (h >>> 33)
  }

  /** `round(v * 100)` half-up, as Spark's `round` on a double. */
  def cents(v: Double): Long = {
    val x = v * 100
    if (math.abs(x - math.floor(x) - 0.5) > 1e-6) math.round(x)
    else scala.math.BigDecimal(x).setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong
  }

  def uuid(rng: SplittableRandom): String =
    new java.util.UUID(rng.nextLong(), rng.nextLong()).toString

  /** A PMU-like value: a slow sine plus noise, on the 0.01 grid or not. */
  private def value(rng: SplittableRandom, phase: Double, i: Long,
                    grid: Boolean): Double = {
    val v = 60.0 + 0.5 * math.sin(phase + i / 1200.0) + rng.nextGaussian() * 0.02
    if (grid) math.round(v * 100) / 100.0 else v
  }

  /** A stream of `n` nominal samples at `periodNs` from `t0`, with
    * seeded dropouts (one per 10,000 samples on average, each losing
    * 60-600 samples: 0.5-5 s at 120 Hz) and about 0.1% duplicate
    * timestamps. */
  def stream(rng: SplittableRandom, idx: Int, collection: String,
             t0: Long, n: Int, periodNs: Long, grid: Boolean): StreamData = {
    val id = uuid(rng)
    val phase = rng.nextDouble() * 6.28
    val ts = new LongBuf; val vs = new DoubleBuf
    var i = 0L
    while (i < n) {
      if (rng.nextInt(10000) == 0) i += 60 + rng.nextInt(540) // dropout
      else {
        val t = if (periodNs == 1000000000L / PmuHz) pmuTime(t0, i)
                else t0 + i * periodNs
        val v = value(rng, phase, i, grid)
        if (rng.nextInt(1000) == 0) { // duplicate timestamp, value-ordered
          val w = value(rng, phase, i, grid)
          ts += t; vs += math.min(v, w); ts += t; vs += math.max(v, w)
        } else { ts += t; vs += v }
        i += 1
      }
    }
    new StreamData(idx, id, collection,
      Map("name" -> f"s$idx%02d", "unit" -> (if (grid) "volts" else "hz")),
      periodNs, grid, Array.tabulate(ts.size)(ts(_)),
      Array.tabulate(vs.size)(vs(_)))
  }

  /** The dashboard corpus: `pmu` streams at 120 Hz of `pmuPoints`
    * nominal samples from [[Base]], the last one off the 0.01 grid, and a
    * sparse stream sampling once a minute over the 30 days that end at
    * [[Base]] (about 10 time buckets of the point log). */
  def dashboard(seed: Long, pmu: Int, pmuPoints: Int): IndexedSeq[StreamData] = {
    val rng = new SplittableRandom(seed)
    val dense = (0 until pmu).map { i =>
      stream(rng.split(), i, s"pmu/site$i", Base, pmuPoints,
        1000000000L / PmuHz, grid = i < pmu - 1)
    }
    dense :+ stream(rng.split(), pmu, "weather/sparse", Base - 30 * Day,
      30 * 24 * 60, 60L * 1000000000L, grid = true)
  }

  /** Export corpus: `k` whole 120 Hz streams of `points` samples. */
  def exportSet(seed: Long, k: Int, points: Int): IndexedSeq[StreamData] = {
    val rng = new SplittableRandom(seed)
    (0 until k).map(i => stream(rng.split(), i, "pmu/export", Base, points,
      1000000000L / PmuHz, grid = true))
  }
}

/** Zipf(1.0) over `n` items: item k (0-based) drawn with weight 1/(k+1).
  * The ranks are fixed, not seeded, so every seed sends the same share
  * of requests to each stream shape. */
final class Zipf(n: Int) {
  private val cdf = {
    val w = (1 to n).map(1.0 / _); val s = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / s).toArray
  }
  def next(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    val k = cdf.indexWhere(_ >= u)
    if (k < 0) n - 1 else k
  }
}

/** Write-side generator for the `ingest` and `live` workloads: 25,000
  * point batches at 120 Hz, each stream advancing its own cursor; every
  * 16th batch of a writer is a backfill whose points interleave
  * (half a period later) with a batch the stream has already committed. */
final class BatchPlan(seed: Long, val streams: IndexedSeq[String]) {
  val BatchPts = 25000
  private val rng = new SplittableRandom(seed)
  private val phase = streams.map(_ => rng.nextDouble() * 6.28)
  private val normal = Array.fill(streams.size)(0)   // normal batches issued
  private val backfills = Array.fill(streams.size)(0) // backfills issued
  private var k = 0
  private var rr = 0

  /** (stream index, first sample index, time offset ns, isBackfill). */
  def next(): (Int, Long, Long, Boolean) = {
    k += 1
    val bfStream = (k / 16 - 1 + streams.size) % streams.size
    // a backfill needs a committed target: the stream's normal batches
    // commit in pairs, so batch b is committed once 2(b+1) were sent
    if (k % 16 == 0 && normal(bfStream) >= 2 * (backfills(bfStream) + 1)) {
      val b = backfills(bfStream); backfills(bfStream) += 1
      (bfStream, b.toLong * BatchPts, 1000000000L / Corpus.PmuHz / 2, true)
    } else {
      val s = rr; rr = (rr + 1) % streams.size
      val b = normal(s); normal(s) += 1
      (s, b.toLong * BatchPts, 0L, false)
    }
  }

  def times(first: Long, offset: Long): Array[Long] =
    Array.tabulate(BatchPts)(i => Corpus.pmuTime(Corpus.Base, first + i) + offset)

  def values(s: Int, first: Long, offset: Long): Array[Double] =
    Array.tabulate(BatchPts) { i =>
      val x = 60.0 + 0.5 * math.sin(phase(s) + (first + i) / 1200.0) +
        (if (offset != 0) 0.25 else 0.0)
      math.round(x * 100) / 100.0
    }
}
