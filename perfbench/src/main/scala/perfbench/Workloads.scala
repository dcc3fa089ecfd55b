package perfbench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.{Admission, Btrdb}
import graft.wire.GrpcServer

/** A running deployment: engine, admission controller, gRPC endpoint,
  * and the JDBC service when one was started. */
final class Deployment(val engine: Btrdb, val admission: Admission,
                       val server: GrpcServer, val port: Int) {
  private var stopped = false
  @volatile var thrift: Option[org.apache.hive.service.server.HiveServer2] = None
  @volatile var jdbc: Option[java.sql.Connection] = None
  def isStopped: Boolean = synchronized(stopped)
  def stop(): Unit = synchronized {
    if (!stopped) {
      stopped = true
      jdbc.foreach(Harness.closeQuietly)
      thrift.foreach(_.stop()); server.stop(); engine.close()
    }
  }
}

/** What a workload run produced. `e2e` holds the user-facing numbers by
  * their generic name; `detail` holds the same numbers by the name of
  * the operation they measure, plus counts. */
final case class Outcome(tally: Tally, e2e: Seq[Metric], detail: Seq[Metric],
                         deployment: Deployment, ctx: TraceCtx)

object Workloads {
  val Sec = 1000000000L
  /** Dashboard corpus: PMU streams of 2^16 nominal 120 Hz samples plus
    * one sparse 30-day stream (README lists the sizes and why). */
  val DashPmu = 2
  val DashPmuPoints = 1 << 16
  /** Export corpus: whole 120 Hz streams of 2^17 nominal samples. */
  val ExportStreams = 1
  val ExportPoints = 1 << 17
  /** Requests before the timed window, per workload, so the timed
    * requests run on compiled code: after the set-ups, read latency
    * keeps falling for about 11 s of dashboard requests and 3 to 5 s
    * of exports while the JIT compiles the read path (README,
    * Steadiness). */
  def warmupSec(workload: String): Int = workload match {
    case "dashboard" => 11
    case "export" => 5
    case _ => 4
  }

  /** The points as a DataFrame whose partitions index the arrays
    * directly (no per-row reflective conversion on the driver). */
  def frame(spark: SparkSession, times: Array[Long], values: Array[Double]): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaDouble)
    spark.range(0, times.length, 1, math.max(1, times.length / 65536))
      .map((i: java.lang.Long) => (times(i.intValue), values(i.intValue)))(enc)
      .toDF("time", "value")
  }

  /** Create `data`'s streams and commit each one (every stream holds
    * more than the commit threshold, so each insert commits and folds
    * the pyramid directly). Returns the sids in `data` order. */
  def load(e: Btrdb, data: Seq[StreamData]): IndexedSeq[Long] = {
    val sids = e.createStreams(data.map(d => (d.uuid, d.collection, d.tags))).toIndexedSeq
    data.foreach(d => e.insert(d.uuid, frame(e.spark, d.times, d.values)))
    sids
  }

  def deploy(env: Env)(prepare: Btrdb => Unit): Deployment = {
    val (e, adm) = env.newEngine()
    prepare(e)
    val server = new GrpcServer(e, 0)
    new Deployment(e, adm, server, server.start())
  }

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  /** Deploy `Setups` times, each on a fresh root, and keep the last
    * deployment. The first set-up runs on the run's cold JVM, the later
    * ones on a warmer one; `setup_s` is the median wall time. */
  def setup(env: Env)(prepare: Btrdb => Unit): (Deployment, Metric) = {
    val runs = (1 to Setups).map { i =>
      val t0 = System.nanoTime()
      val dep = deploy(env)(prepare)
      val secs = (System.nanoTime() - t0) / 1e9
      Main.phase(f"setup $i done ($secs%.2f s)")
      if (i < Setups) dep.stop()
      (dep, secs)
    }
    (runs.last._1, Metric("setup_s", Samples.median(runs.map(_._2)), "s", "lower", Setups))
  }

  def lat(name: String, s: Samples, q: Double): Metric =
    Metric(name, s.p(q), "ms", "lower", s.n)

  /** Optionally sync-flush every stream, then close the engine, reopen
    * the root and require every stream to hold exactly its acknowledged
    * points; a mismatch fails every operation of the run. */
  def durability(env: Env, dep: Deployment, flushFirst: Boolean, ctx: TraceCtx,
                 tally: Tally, acked: Map[String, Long]): Unit = {
    if (flushFirst) {
      val client = new WireClient(dep.port)
      try acked.keys.toSeq.sorted.foreach { u =>
        val r = new Reply
        ctx.rpc(client, "Flush", Requests.flush(u), r)
        tally.record(Requests.statusOk(r))
      } finally client.close()
    }
    dep.stop()
    val reopened = Btrdb.attach(env.spark, dep.engine.root)
    val bad = try Durability.mismatches(reopened, acked) finally reopened.close()
    if (bad.nonEmpty) tally.failAll(s"durability: ${bad.mkString("; ")}")
  }

  // ---- ingest ---------------------------------------------------------

  /** Write path: 2 closed-loop writers, each owning 2 streams, sending
    * non-sync 25,000-point Inserts round-robin; then a sync Flush of
    * every stream and the reopen check. */
  def ingest(env: Env): Outcome = {
    val clients = 2; val perClient = 2
    val rng = new SplittableRandom(env.seed)
    val uuids = (0 until clients * perClient).map(_ => Corpus.uuid(rng))
    val (dep, setupM) = setup(env) { e =>
      e.createStreams(uuids.zipWithIndex.map { case (u, i) =>
        (u, s"ingest/w${i / perClient}", Map("name" -> s"s$i")) })
      ()
    }
    val tally = new Tally
    val staged = new Samples; val committing = new Samples
    val acked = new ConcurrentHashMap[String, java.lang.Long]()
    val ctx = new TraceCtx(env, dep)
    val win = new Window(env)
    Harness.parallel(clients) { c =>
      val mine = uuids.slice(c * perClient, (c + 1) * perClient)
      val plan = new BatchPlan(env.seed * 31 + c, mine)
      val major = Array.fill(perClient)(0L)
      val client = new WireClient(dep.port)
      try while (win.running) {
        val (s, first, off, _) = plan.next()
        val body = Requests.insert(mine(s), plan.times(first, off),
          plan.values(s, first, off), sync = false)
        val r = new Reply
        val t = ctx.rpc(client, "Insert", body, r)
        val err = Requests.statusOk(r).orElse(
          if (t.grpcStatus != 0) Some(s"grpc ${t.grpcStatus}") else None)
        tally.record(err)
        if (err.isEmpty) {
          acked.merge(mine(s), plan.BatchPts.toLong, (a, b) => a + b)
          if (win.timed(t)) {
            if (r.major > major(s)) committing.add(t.ms) else staged.add(t.ms)
          }
          major(s) = r.major
        }
      } finally client.close()
    }
    ctx.finish()
    val ackedMap = uuids.map(u => u -> Option(acked.get(u)).map(_.longValue).getOrElse(0L)).toMap
    val n = staged.n + committing.n
    val secs = win.secs
    durability(env, dep, flushFirst = true, ctx, tally, ackedMap)
    val ackedPts = ackedMap.values.sum
    Outcome(tally,
      Seq(setupM, lat("op_p50_ms", staged, 0.5),
        Metric("ops_per_s", n / secs, "1/s", "higher", n)),
      Seq(lat("insert_p50_ms", staged, 0.5), lat("insert_p90_ms", staged, 0.9),
        lat("insert_commit_p50_ms", committing, 0.5),
        Metric("ingest_pts_per_s", n * 25000.0 / secs, "1/s", "higher", n),
        Metric("storage_bytes_per_point",
          Storage.bytes(new java.io.File(dep.engine.root, "points")).toDouble /
            math.max(1L, ackedPts), "B", "lower", ackedPts)),
      dep, ctx)
  }

  // ---- dashboard ------------------------------------------------------

  /** Interactive reads: 2 gRPC readers with the mixed dashboard RPCs and
    * 1 JDBC client cycling the four SQL shapes, over a committed corpus
    * served through the JDBC service as well. */
  def dashboard(env: Env, jdbcPort: Int): Outcome = {
    val corpus = Corpus.dashboard(env.seed, DashPmu, DashPmuPoints)
    var sids = IndexedSeq.empty[Long]
    val (dep, setupM) = setup(env) { e =>
      sids = load(e, corpus)
      e.registerViews("graft")
    }
    graft.plans.QueryGate.install(env.spark,
      new Admission(Map(Admission.Query -> env.cpus), maxQueue = 4 * env.cpus))
    dep.thrift = Some(graft.Service.start(env.spark))
    Main.phase("thrift started")
    val tally = new Tally
    val reads = new Samples; val sqls = new Samples
    val byKind = new ConcurrentHashMap[String, Samples]()
    def kind(k: String) = byKind.computeIfAbsent(k, _ => new Samples)
    val ctx = new TraceCtx(env, dep)
    val zipf = new Zipf(corpus.size)
    // One dealer for both readers, reshuffled when the timed window
    // opens: the 35 to 50 timed reads then start with a whole deck, so
    // the window holds the deck's mix rather than two partial hands.
    val dealer = new Requests.Dealer(Requests.DashboardDeck,
      new SplittableRandom(env.seed * 7919 + 17))
    val reshuffled = new java.util.concurrent.atomic.AtomicBoolean(false)
    val win = new Window(env)
    Harness.parallel(3) { c =>
      val rng = new SplittableRandom(env.seed * 7919 + c)
      if (c < 2) {
        val client = new WireClient(dep.port)
        try while (win.running) {
          if (System.nanoTime() >= win.warmEnd && reshuffled.compareAndSet(false, true))
            dealer.restart()
          val q = Requests.dashboard(rng, dealer, zipf, corpus)
          val r = new Reply
          val t = ctx.rpc(client, q.method, q.body, r, q.kind)
          val err = q.check(r).orElse(
            if (t.grpcStatus != 0) Some(s"grpc ${t.grpcStatus}") else None)
          tally.record(err)
          if (err.isEmpty && win.timed(t)) { reads.add(t.ms); kind(q.kind).add(t.ms) }
        } finally client.close()
      } else {
        val conn = Sql.connect(jdbcPort)
        dep.jdbc = Some(conn)
        var i = 0
        while (win.running) {
          val q = Sql.dashboard(i, rng, corpus, sids)
          val t0 = System.nanoTime()
          val (ms, err) = ctx.sql(conn, q)
          tally.record(err)
          if (err.isEmpty && t0 >= win.warmEnd) { sqls.add(ms); kind(q.kind).add(ms) }
          i += 1
        }
      }
    }
    ctx.finish()
    Main.phase("window done")
    val secs = win.secs
    ctx.kinds = byKind
    Outcome(tally,
      Seq(setupM, lat("op_p50_ms", reads, 0.5),
        Metric("ops_per_s", reads.n / secs, "1/s", "higher", reads.n)),
      Seq(lat("read_p50_ms", reads, 0.5), lat("read_p90_ms", reads, 0.9),
        Metric("read_ops_per_s", reads.n / secs, "1/s", "higher", reads.n),
        lat("sql_p50_ms", sqls, 0.5), lat("sql_p90_ms", sqls, 0.9)) ++
        Seq("aligned_pyr", "aligned_raw", "windows", "raw", "nearest", "changes",
          "catalog", "sql_pyr", "sql_raw", "sql_join").map(k => lat(s"op.${k}_ms", kind(k), 0.5)),
      dep, ctx)
  }

  // ---- export ---------------------------------------------------------

  /** Bulk read: 1 client sending back-to-back RawValues over one whole
    * 120 Hz stream each, in a seeded order over the export corpus. */
  def bulkExport(env: Env): Outcome = {
    val corpus = Corpus.exportSet(env.seed, ExportStreams, ExportPoints)
    val (dep, setupM) = setup(env) { e => load(e, corpus); () }
    val tally = new Tally
    val total = new Samples; val first = new Samples
    var points = 0L
    val ctx = new TraceCtx(env, dep)
    val order = new SplittableRandom(env.seed + 1)
    val client = new WireClient(dep.port)
    val win = new Window(env)
    try while (win.running) {
      val d = corpus(order.nextInt(corpus.size))
      val (s, e) = (d.tmin, d.tmax + 1)
      val r = new Reply
      val t = ctx.rpc(client, "RawValues", Requests.rawValues(d.uuid, s, e), r, "export")
      val err = Requests.checkRaw(d, s, e)(r)
      tally.record(err)
      if (err.isEmpty && win.timed(t)) {
        total.add(t.ms); first.add(t.firstMs); points += r.times.size
      }
    } finally client.close()
    ctx.finish()
    val busy = total.sum / 1000
    Outcome(tally,
      Seq(setupM, lat("op_p50_ms", total, 0.5),
        Metric("ops_per_s", total.n / busy, "1/s", "higher", total.n)),
      Seq(Metric("export_pts_per_s", points / busy, "1/s", "higher", total.n),
        lat("export_first_msg_ms", first, 0.5), lat("export_rpc_p50_ms", total, 0.5)),
      dep, ctx)
  }

  // ---- live -----------------------------------------------------------

  /** Read-your-writes: 1 writer as in `ingest` on 4 streams, 1 reader
    * asking for the latest data of the same streams; every reply must
    * include every point acknowledged before its request was sent. */
  def live(env: Env): Outcome = {
    val rng = new SplittableRandom(env.seed)
    val uuids = (0 until 4).map(_ => Corpus.uuid(rng))
    val (dep, setupM) = setup(env) { e =>
      e.createStreams(uuids.zipWithIndex.map { case (u, i) => (u, "live", Map("name" -> s"s$i")) })
      ()
    }
    val plan = new BatchPlan(env.seed * 31, uuids)
    val acked = new Acked(uuids.size)
    val tally = new Tally
    val inserts = new Samples; val reads = new Samples
    val ctx = new TraceCtx(env, dep)
    val win = new Window(env)
    Harness.parallel(2) { c =>
      val client = new WireClient(dep.port)
      try {
        if (c == 0) while (win.running) {
          val (s, first, off, _) = plan.next()
          val ts = plan.times(first, off); val vs = plan.values(s, first, off)
          val r = new Reply
          val t = ctx.rpc(client, "Insert", Requests.insert(uuids(s), ts, vs, sync = false), r)
          val err = Requests.statusOk(r)
          tally.record(err)
          if (err.isEmpty) { acked.add(s, ts, vs); if (win.timed(t)) inserts.add(t.ms) }
        } else {
          val rr = new SplittableRandom(env.seed * 7 + 3)
          var i = 0
          while (win.running) {
            val s = rr.nextInt(uuids.size)
            val snap = acked.snapshot(s)
            if (snap.newest == Long.MinValue) Thread.sleep(20) // nothing acknowledged yet
            else {
              val tNew = snap.newest
              val (kind, method, body, check) = i % 3 match {
                case 0 =>
                  val lo = (tNew - 300 * Sec) >> 30 << 30; val hi = ((tNew >> 30) + 1) << 30
                  ("latest_aligned", "AlignedWindows", Requests.aligned(uuids(s), lo, hi, 30),
                    (r: Reply) => snap.checkAligned(lo, hi, 30, r))
                case 1 =>
                  val lo = tNew - 10 * Sec; val hi = tNew + 1
                  ("latest_raw", "RawValues", Requests.rawValues(uuids(s), lo, hi),
                    (r: Reply) => snap.checkRaw(lo, hi, r))
                case _ =>
                  ("latest_nearest", "Nearest", Requests.nearest(uuids(s), tNew, true),
                    (r: Reply) => snap.checkNearestBack(tNew, r))
              }
              ctx.liveRead(uuids(s))
              val r = new Reply
              val t = ctx.rpc(client, method, body, r, kind)
              val err = Requests.statusOk(r).orElse(check(r))
              tally.record(err)
              if (err.isEmpty && win.timed(t)) reads.add(t.ms)
              i += 1
            }
          }
        }
      } finally client.close()
    }
    ctx.finish()
    val secs = win.secs
    Main.phase("window done")
    val ackedMap = uuids.indices.map(s => uuids(s) -> acked.count(s)).toMap
    // acknowledged non-sync inserts sit in the on-disk staging buffer:
    // they must survive a reopen without a Flush
    durability(env, dep, flushFirst = false, ctx, tally, ackedMap)
    Outcome(tally,
      Seq(setupM, lat("op_p50_ms", reads, 0.5),
        Metric("ops_per_s", reads.n / secs, "1/s", "higher", reads.n)),
      Seq(lat("read_p50_ms", reads, 0.5), lat("read_p90_ms", reads, 0.9),
        Metric("read_ops_per_s", reads.n / secs, "1/s", "higher", reads.n),
        lat("insert_p50_ms", inserts, 0.5), lat("insert_p90_ms", inserts, 0.9),
        Metric("ingest_pts_per_s", inserts.n * 25000.0 / secs, "1/s", "higher", inserts.n)),
      dep, ctx)
  }
}

/** The closed-loop window: requests start while `running`; those that
  * start after the warm-up are timed, and the window closes at the end
  * of the last timed request. */
final class Window(env: Env) {
  val warmEnd: Long = System.nanoTime() + env.warmupNs
  val deadline: Long = warmEnd + env.seconds * Workloads.Sec
  private val lastEnd = new java.util.concurrent.atomic.AtomicLong(warmEnd)
  def running: Boolean = System.nanoTime() < deadline
  def timed(t: RpcTiming): Boolean = {
    val in = t.startNs >= warmEnd
    if (in) lastEnd.accumulateAndGet(t.endNs, math.max)
    in
  }
  def secs: Double = (lastEnd.get - warmEnd) / 1e9
}

/** Acknowledged batches per stream, appended by the live writer and
  * snapshotted by the reader before each request. */
final class Acked(streams: Int) {
  private val batches = Array.fill(streams)(Vector.empty[(Array[Long], Array[Double])])
  private val newest = Array.fill(streams)(Long.MinValue)
  def clear(): Unit = synchronized {
    batches.indices.foreach { i => batches(i) = Vector.empty; newest(i) = Long.MinValue }
  }
  def add(s: Int, ts: Array[Long], vs: Array[Double]): Unit = synchronized {
    batches(s) = batches(s) :+ ((ts, vs)); newest(s) = math.max(newest(s), ts.last)
  }
  def snapshot(s: Int): AckedSnap = synchronized(new AckedSnap(batches(s), newest(s)))
  def count(s: Int): Long = synchronized(batches(s).map(_._1.length.toLong).sum)
}

final class AckedSnap(bs: Vector[(Array[Long], Array[Double])], val newest: Long) {
  /** Acknowledged points with time in [s, e). */
  def points(s: Long, e: Long): Seq[(Long, Double)] = bs.flatMap { case (ts, vs) =>
    val i = java.util.Arrays.binarySearch(ts, s) match { case k if k < 0 => -k - 1; case k => k }
    (i until ts.length).iterator.takeWhile(ts(_) < e).map(k => (ts(k), vs(k)))
  }

  def checkRaw(s: Long, e: Long, r: Reply): Option[String] = {
    val got = scala.collection.mutable.HashMap.empty[(Long, Double), Int]
    (0 until r.times.size).foreach { i =>
      got((r.times(i), r.values(i))) = got.getOrElse((r.times(i), r.values(i)), 0) + 1 }
    val missing = points(s, e).count { p =>
      val c = got.getOrElse(p, 0); if (c > 0) got(p) = c - 1; c == 0 }
    if (missing > 0) Some(s"latest RawValues misses $missing acknowledged points") else None
  }

  def checkAligned(s: Long, e: Long, pw: Int, r: Reply): Option[String] = {
    val want = points(s, e).groupBy(_._1 >> pw << pw)
    val got = (0 until r.counts.size).map(i => r.times(i) -> i).toMap
    want.collectFirst {
      case (w, ps) if !got.get(w).exists { i =>
          r.counts(i) >= ps.size && r.mins(i) <= ps.map(_._2).min &&
            r.maxs(i) >= ps.map(_._2).max } =>
        s"latest AlignedWindows window $w misses acknowledged points"
    }
  }

  def checkNearestBack(t: Long, r: Reply): Option[String] = {
    val before = points(Long.MinValue, t).map(_._1)
    if (before.isEmpty) None
    else if (r.times.size == 1 && r.times(0) >= before.max && r.times(0) < t) None
    else Some(s"latest Nearest before $t skipped an acknowledged point")
  }
}

object Durability {
  /** Streams whose point count after a reopen differs from what was
    * acknowledged: "uuid: got/want". */
  def mismatches(e: Btrdb, acked: Map[String, Long]): Seq[String] = {
    val counts = e.pointsView().groupBy("sid").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sidOf = e.catalog.select("uuid", "sid").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    acked.toSeq.sorted.flatMap { case (u, want) =>
      val got = sidOf.get(u).flatMap(counts.get).getOrElse(0L)
      if (got == want) None else Some(s"$u: $got/$want")
    }
  }
}

object Storage {
  def bytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L)
    else if (f.getName.endsWith(".crc")) 0L else f.length()
  def files(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(files).sum).getOrElse(0L)
    else if (f.getName.endsWith(".crc")) 0L else 1L
}
