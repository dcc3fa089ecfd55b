package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

/** A traced interval: layer, name, wall start/end (ns), the request it
  * belongs to and the span that caused it (0 for a root). */
final case class Span(id: Long, parent: Long, req: Long, layer: String,
                      name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Per-run tracing context. Every client call goes through it. In a
  * traced run (`--trace 1`) the first half of the window runs with
  * tracing off and the second half with it on — the difference is the
  * tracing overhead — and it keeps client spans in memory, samples
  * requests for the in-process replay, and samples admission gauges. */
final class TraceCtx(env: Env, val dep: Deployment) {
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  def nextId(): Long = ids.incrementAndGet()
  /** Start of the traced half of the window. */
  val traceFrom: Long =
    if (env.trace) System.nanoTime() + env.warmupNs + env.seconds * Workloads.Sec / 2
    else Long.MaxValue
  val spans = new ConcurrentLinkedQueue[Span]()
  /** Every client call: (traced, start ns, ms). */
  val calls = new ConcurrentLinkedQueue[(Boolean, Long, Double)]()
  /** Requests kept for the replay: (kind, method, body, client timing, span id). */
  val sampled = new ConcurrentLinkedQueue[(String, String, Array[Byte], RpcTiming, Long)]()
  val rpcs = new ConcurrentLinkedQueue[RpcTiming]()
  /** SQL statements kept for the replay: (statement, JDBC ms). */
  val sqls = new ConcurrentLinkedQueue[(SqlReq, Double)]()
  @volatile var kinds: ConcurrentHashMap[String, Samples] = new ConcurrentHashMap()
  private val sampleRng = new java.util.SplittableRandom(env.seed ^ 0x7eace)
  private var sampledBy = Map.empty[String, Int]
  val liveReads = new java.util.concurrent.atomic.AtomicLong(0)
  val liveMerged = new java.util.concurrent.atomic.AtomicLong(0)
  val stagedSamples = new Samples
  val queuedSamples = new Samples
  val jobs0: JobListener.Totals = env.listener.totals()
  @volatile var jobs1: JobListener.Totals = jobs0
  val t0: Long = System.nanoTime()
  @volatile var t1: Long = t0

  private val sampler: Option[Thread] = if (!env.trace) None else {
    val t = new Thread(() => try while (true) {
      queuedSamples.add(dep.admission.gauges.values.map(_.queued).sum.toDouble)
      Thread.sleep(20)
    } catch { case _: InterruptedException => () }, "perfbench-gauges")
    t.setDaemon(true); t.start(); Some(t)
  }

  /** Close the traced window: stop sampling, snapshot the counters. */
  def finish(): Unit = {
    sampler.foreach { t => t.interrupt(); t.join() }
    jobs1 = env.listener.totals(); t1 = System.nanoTime()
  }

  /** One client RPC, recorded as a root span when tracing. */
  def rpc(client: WireClient, method: String, body: Array[Byte], reply: Reply,
          kind: String = ""): RpcTiming = {
    val traced = System.nanoTime() >= traceFrom
    val t = client.call(method, body, reply)
    calls.add((traced, t.startNs, t.ms))
    if (traced) {
      val k = if (kind.isEmpty) method else kind
      val id = nextId()
      spans.add(Span(id, 0, id, "client", s"$method/$k", t.startNs, t.endNs))
      rpcs.add(t)
      // up to 4 requests of each kind, chosen by the seeded sampler
      synchronized {
        val n = sampledBy.getOrElse(k, 0)
        if (n < 4 && (n < 1 || sampleRng.nextInt(3) == 0)) {
          sampledBy += k -> (n + 1); sampled.add((k, method, body, t, id))
        }
      }
    }
    t
  }

  /** One JDBC statement: (client ms, failure). */
  def sql(conn: java.sql.Connection, q: SqlReq): (Double, Option[String]) = {
    val traced = System.nanoTime() >= traceFrom
    val t0 = System.nanoTime()
    val err = Sql.run(conn, q)
    val t1 = System.nanoTime()
    calls.add((traced, t0, (t1 - t0) / 1e6))
    if (traced) {
      val id = nextId()
      spans.add(Span(id, 0, id, "client", s"sql/${q.kind}", t0, t1))
      sqls.add((q, (t1 - t0) / 1e6))
    }
    ((t1 - t0) / 1e6, err)
  }

  /** Before a live read: does the stream have staged points to merge? */
  def liveRead(uuid: String): Unit = if (System.nanoTime() >= traceFrom) {
    val staged = dep.engine.version(uuid)._2
    liveReads.incrementAndGet()
    if (staged > 0) liveMerged.incrementAndGet()
    stagedSamples.add(staged.toDouble)
  }
}
