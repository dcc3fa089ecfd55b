package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.engine.{Admission, Btrdb}

/** Latency samples of one operation type, in milliseconds. */
final class Samples {
  private val buf = ArrayBuffer.empty[Double]
  def add(ms: Double): Unit = synchronized { buf += ms; () }
  def n: Int = synchronized(buf.size)
  def all: Seq[Double] = synchronized(buf.toSeq)
  /** Nearest-rank percentile; 0 when empty. */
  def p(q: Double): Double = Samples.p(all, q)
  def sum: Double = synchronized(buf.sum)
}

object Samples {
  def p(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double = p(xs, 0.5)
}

/** One reported number: name, value, unit, direction, sample count. */
final case class Metric(name: String, value: Double, unit: String,
                        better: String, n: Long)

/** Pass/fail tally of client operations. A failed check, a non-zero
  * bte status, a shed request or a timeout all count as failed. */
final class Tally {
  private var attempted = 0L
  private var failed = 0L
  private val first = ArrayBuffer.empty[String]
  def ok(): Unit = synchronized { attempted += 1 }
  def fail(why: String): Unit = synchronized {
    attempted += 1; failed += 1
    if (first.size < 5) first += why
  }
  /** Record one operation: `err` is None when its reply checked out. */
  def record(err: Option[String]): Unit = err.fold(ok())(fail)
  /** Every operation of the run failed (the durability check tripped). */
  def failAll(why: String): Unit = synchronized {
    failed = attempted; if (first.size < 5) first += why
  }
  def counts: (Long, Long) = synchronized((attempted, failed))
  def reasons: Seq[String] = synchronized(first.toSeq)
}

/** What every workload shares: the Spark session, the run's scratch
  * directory inside the checkout, the seed and the closed-loop window
  * (warm-up, then `seconds` timed). */
final class Env(val spark: SparkSession, val cpus: Int,
                val work: java.io.File, val seed: Long, val seconds: Int,
                val warmupNs: Long, val trace: Boolean, val listener: JobListener) {
  private val roots = new java.util.concurrent.atomic.AtomicInteger(0)
  /** A fresh, empty engine root. */
  def newRoot(): String = {
    val d = new java.io.File(work, s"root${roots.incrementAndGet()}")
    d.getAbsolutePath
  }
  /** An engine over a fresh root at the engine's defaults (32,768-point
    * commit threshold), with an admission controller the benchmark can
    * read gauges from. */
  def newEngine(): (Btrdb, Admission) = {
    val adm = Admission.default
    (new Btrdb(spark, newRoot(), admission = adm), adm)
  }
}

object Harness {
  /** Run `f` in `n` threads until each returns; rethrows the first
    * failure. */
  def parallel(n: Int)(f: Int => Unit): Unit = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until n).map { i =>
      val t = new Thread(() => try f(i) catch { case e: Throwable => errs.add(e); () },
        s"perfbench-client-$i")
      t.start(); t
    }
    ts.foreach(_.join())
    if (!errs.isEmpty) throw errs.peek()
  }

  /** Close a JDBC connection without waiting: the server's session
    * teardown re-initialises a Hive metastore client and takes tens of
    * seconds, no part of any measured operation; it runs at shutdown. */
  def closeQuietly(c: java.sql.Connection): Unit = {
    val t = new Thread(() => try c.close() catch { case _: Exception => () },
      "perfbench-jdbc-close")
    t.setDaemon(true); t.start()
  }

  /** Relative closeness for means whose summation order differs. */
  def near(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  def json(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
