package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft.core.TimeConsts
import graft.engine.Btrdb
import graft.wire.BtrdbWire

/** Spark job/stage/task counters, in total and per job group (the
  * benchmark sets one group per replayed call). */
final class JobListener extends SparkListener {
  import JobListener.Totals
  final class Counts {
    val jobs = new AtomicLong; val stages = new AtomicLong; val tasks = new AtomicLong
    val taskMs = new AtomicLong; val schedMs = new AtomicLong
    val scanBytes = new AtomicLong; val shuffleBytes = new AtomicLong; val spill = new AtomicLong
    def snapshot: Totals = Totals(jobs.get, stages.get, tasks.get, taskMs.get, schedMs.get,
      scanBytes.get, shuffleBytes.get, spill.get)
  }
  private val total = new Counts
  val byGroup = new ConcurrentHashMap[String, Counts]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  /** (group, start ns, end ns) of every finished job that had a group. */
  val jobSpans = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()

  def totals(): Totals = total.snapshot
  def group(g: String): Totals = Option(byGroup.get(g)).map(_.snapshot).getOrElse(Totals(0, 0, 0, 0, 0, 0, 0, 0))

  private def counts(group: String): Seq[Counts] =
    if (group == null) Seq(total) else Seq(total, byGroup.computeIfAbsent(group, _ => new Counts))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    counts(g).foreach(_.jobs.incrementAndGet())
    if (g != null) {
      e.stageIds.foreach(stageGroup.put(_, g))
      jobStart.put(e.jobId, (g, System.nanoTime()))
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (g, t0) => jobSpans.add((g, t0, System.nanoTime())) }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    counts(stageGroup.get(e.stageInfo.stageId)).foreach(_.stages.incrementAndGet())
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    counts(stageGroup.get(e.stageId)).foreach { c =>
      c.tasks.incrementAndGet()
      c.taskMs.addAndGet(e.taskInfo.duration)
      if (m != null) {
        c.schedMs.addAndGet(math.max(0L, e.taskInfo.duration - m.executorRunTime))
        c.scanBytes.addAndGet(m.inputMetrics.bytesRead)
        c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }
}

object JobListener {
  final case class Totals(jobs: Long, stages: Long, tasks: Long, taskMs: Long,
                          schedMs: Long, scanBytes: Long, shuffleBytes: Long, spill: Long)
}

/** JVM GC time and heap peak. */
final case class Jvm(gcMs: Long, atNs: Long)
object Jvm {
  def snapshot(): Jvm = Jvm(
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum, System.nanoTime())
  def peakHeapMb(): Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** The traced run's per-layer breakdown. After the closed-loop window
  * it replays the sampled requests single-threaded, once through
  * `BtrdbWire.handle` and once through the engine facade (split into
  * resolve, plan and exec), replays the sampled SQL in-process, and
  * probes the write path on a fresh root. Layer times come from the
  * differences: transport = client − handle, codec = handle − facade. */
object Probe {
  /** One replayed request. */
  final case class Replayed(kind: String, method: String, clientMs: Double, handleMs: Double,
                            resolveMs: Double, planMs: Option[Double], execMs: Double,
                            sparkMs: Double, pyramid: Option[Boolean], files: Long,
                            points: Long, bytes: Long)

  def med(xs: Iterable[Double]): Double = Samples.median(xs.toSeq)

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  private def framed(body: Array[Byte]): Array[Byte] =
    java.nio.ByteBuffer.allocate(5 + body.length).put(0.toByte).putInt(body.length).put(body).array()

  private def uuidOf(body: Array[Byte]): String = {
    val in = new ProtoIn(body)
    in.tag(); val s = in.sub()
    val hi = s.fixed(); val lo = s.fixed()
    new java.util.UUID(java.lang.Long.reverseBytes(hi), java.lang.Long.reverseBytes(lo)).toString
  }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e6)
  }

  def sparkMs(env: Env, group: String): Double =
    env.listener.jobSpans.asScala.filter(_._1 == group).map(j => (j._3 - j._2) / 1e6).sum

  /** Replay one sampled read through the wire handler and the facade. */
  def replay(env: Env, e: Btrdb, i: Int, kind: String, method: String, body: Array[Byte],
             client: RpcTiming): Replayed = {
    val sc = env.spark.sparkContext
    sc.setJobGroup(s"replay-$i-wire", kind, false)
    val (reply, handleMs) = timed {
      val r = new Reply; var bytes = 0L
      BtrdbWire.handle(e, method, framed(body)).messages.foreach { m =>
        bytes += m.length; Proto.decode(method, m, r) }
      (r, bytes)
    }
    val g = s"replay-$i-engine"
    sc.setJobGroup(g, kind, false)
    val f = if (method == "LookupStreams") Map.empty[Int, Any] else fieldsOf(body)
    val uuid = if (method == "LookupStreams") "" else uuidOf(body)
    def l(k: Int) = f.get(k).map(_.asInstanceOf[Long]).getOrElse(0L)
    val (maj, resolveMs) = timed(if (uuid.isEmpty) 0L else e.version(uuid)._1)
    val frame: Option[DataFrame] = method match {
      case "RawValues" => Some(e.rawValues(uuid, l(2), l(3)))
      case "AlignedWindows" => Some(e.alignedWindows(uuid, l(2), l(3), l(5).toInt))
      case "Windows" => Some(e.windows(uuid, l(2), l(3), l(5), TimeConsts.LatestGeneration, l(6).toInt))
      case "Changes" => Some(e.changes(uuid, l(2), if (l(3) == 0) maj else l(3), l(4).toInt))
      case "LookupStreams" =>
        val in = new ProtoIn(body); in.tag()
        Some(e.lookupStreams(in.string()))
      case _ => None
    }
    val planMs = frame.map(df => timed(df.queryExecution.executedPlan)._2)
    val (_, execMs) = timed(frame match {
      case Some(df) => df.toLocalIterator().asScala.foreach(_ => ())
      case None if method == "Nearest" => e.nearest(uuid, l(2), l(4) != 0)
      case None => e.streamInfo(uuid)
    })
    sc.clearJobGroup()
    val plan = frame.map(_.queryExecution.executedPlan)
    val pyramid = if (method == "AlignedWindows" && l(5) >= 30)
      plan.map(_.toString.contains("/pyramid")) else None
    val files = plan.toSeq.flatMap(scans).map(s => s.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
    Replayed(kind, method, client.ms, handleMs, resolveMs, planMs, execMs, sparkMs(env, g),
      pyramid, files, reply._1.times.size.toLong, reply._2)
  }

  private def fieldsOf(body: Array[Byte]): Map[Int, Any] = {
    val in = new ProtoIn(body)
    var m = Map.empty[Int, Any]
    while (in.hasNext) in.tag() match {
      case (f, 0) => m += f -> in.varint()
      case (f, 1) => m += f -> in.fixed()
      case (_, w) => in.skip(w)
    }
    m
  }

  /** Write-path probe on a fresh root: two 25,000-point batches through
    * the wire handler to one stream and through the facade to another
    * (the first stages, the second crosses the commit threshold), with
    * a latest read of the facade stream while its points are staged. */
  final case class WriteProbe(handleMs: Seq[Double], insertMs: Double, commitMs: Double,
                              jobsPerInsert: Double, commitsPerKpt: Double, stagedPoints: Double,
                              mergedReads: Int, reads: Int, bytesPerPoint: Double,
                              filesPerCommit: Double, reqBytesPerPoint: Double)

  def writeProbe(env: Env): WriteProbe = {
    val (e, _) = env.newEngine()
    val sc = env.spark.sparkContext
    try {
      val rng = new java.util.SplittableRandom(env.seed ^ 0x3417e)
      val (wireU, engU) = (Corpus.uuid(rng), Corpus.uuid(rng))
      e.createStreams(Seq((wireU, "probe", Map("path" -> "wire")), (engU, "probe", Map("path" -> "engine"))))
      val plan = new BatchPlan(env.seed, IndexedSeq(wireU))
      var handle = Seq.empty[Double]; var reqBytes = 0L
      var staged = Seq.empty[Double]; var committed = Seq.empty[Double]
      var stagedPts = Seq.empty[Double]; var merged = 0; var reads = 0
      for (b <- 0 until 2) {
        val ts = plan.times(b.toLong * plan.BatchPts, 0L); val vs = plan.values(0, b.toLong * plan.BatchPts, 0L)
        val body = Requests.insert(wireU, ts, vs, sync = false)
        reqBytes += body.length + 5
        sc.setJobGroup(s"probe-wire-$b", "insert", false)
        handle :+= timed(BtrdbWire.handle(e, "Insert", framed(body)).messages.foreach(_ => ()))._2
        sc.setJobGroup(s"probe-insert-$b", "insert", false)
        val before = e.version(engU)._1
        val df = Workloads.frame(env.spark, ts, vs)
        val ((maj, minor), ms) = timed(e.insert(engU, df))
        if (maj > before) committed :+= ms else staged :+= ms
        if (minor > 0) {
          stagedPts :+= minor.toDouble
          reads += 1; merged += 1
          e.rawValues(engU, ts.last - 10 * Requests.Second, ts.last + 1).count()
        }
      }
      sc.clearJobGroup()
      val jobs = (0 until 2).map(b => env.listener.group(s"probe-insert-$b").jobs).sum
      val pts = 2.0 * plan.BatchPts
      val root = new java.io.File(e.root)
      WriteProbe(handle, med(staged), med(committed), jobs / 2.0,
        committed.size * 1000.0 / pts, med(stagedPts), merged, reads,
        Storage.bytes(root) / (2 * pts), Storage.files(root).toDouble / math.max(1, 2 * committed.size),
        reqBytes / pts)
    } finally { sc.clearJobGroup(); e.close() }
  }

  /** Replay one sampled SQL statement in-process: analysis (where the
    * pyramid substitution runs), planning, collect. */
  def replaySql(env: Env, i: Int, q: SqlReq, jdbcMs: Double): (Double, Double, Boolean, Double) = {
    env.spark.sparkContext.setJobGroup(s"replay-sql-$i", q.kind, false)
    val (df, analyzeMs) = timed(env.spark.sql(q.sql))
    val (plan, planMs) = timed(df.queryExecution.executedPlan)
    val (_, execMs) = timed(df.collect())
    env.spark.sparkContext.clearJobGroup()
    (analyzeMs, jdbcMs - (analyzeMs + planMs + execMs), plan.toString.contains("/pyramid"), execMs)
  }

  def layers(env: Env, o: Outcome, jvm0: Jvm, traceDir: java.io.File,
             workload: String): Seq[Metric] = {
    val ctx = o.ctx
    val dep = o.deployment
    // QueryGate takes a query-pool permit per job group and releases it on
    // the Thrift server's statement-finish event, which in-process calls
    // never post: the replay's job groups would exhaust the pool. The gate
    // is service-layer cost, so the in-process replay runs without it.
    if (dep.thrift.isDefined) graft.plans.QueryGate.uninstall(env.spark)
    val e = if (dep.isStopped) Btrdb.attach(env.spark, dep.engine.root) else dep.engine
    val sampled = ctx.sampled.asScala.toSeq.filter(x => x._2 != "Insert" && x._2 != "Flush")
    val reps = sampled.zipWithIndex.map { case ((k, m, b, t, _), i) => replay(env, e, i, k, m, b, t) }
    val sqlReps = ctx.sqls.asScala.toSeq.groupBy(_._1.kind).values.flatMap(_.take(3)).toSeq
      .zipWithIndex.map { case ((q, ms), i) => (q, replaySql(env, i, q, ms)) }
    val rootFiles = Storage.files(new java.io.File(dep.engine.root))
    if (e ne dep.engine) e.close()
    val wp = writeProbe(env)
    val jvm1 = Jvm.snapshot()

    // spans: each replayed request under its client span
    val spanOut = scala.collection.mutable.ArrayBuffer.empty[Span]
    spanOut ++= ctx.spans.asScala
    sampled.zip(reps).foreach { case ((_, _, _, t, cid), r) =>
      val w = ctx.nextId(); val en = ctx.nextId()
      spanOut += Span(w, cid, cid, "wire", s"handle/${r.kind}", t.startNs, t.startNs + (r.handleMs * 1e6).toLong)
      spanOut += Span(en, w, cid, "engine", s"facade/${r.kind}", t.startNs,
        t.startNs + ((r.resolveMs + r.planMs.getOrElse(0.0) + r.execMs) * 1e6).toLong)
      spanOut += Span(ctx.nextId(), en, cid, "spark", s"jobs/${r.kind}", t.startNs,
        t.startNs + (r.sparkMs * 1e6).toLong)
    }
    val facade = reps.map(r => r.resolveMs + r.planMs.getOrElse(0.0) + r.execMs)
    val self = Seq(
      "transport" -> med(reps.map(r => r.clientMs - r.handleMs)),
      "codec" -> med(reps.zip(facade).map { case (r, f) => r.handleMs - f }),
      "engine" -> med(reps.zip(facade).map { case (r, f) => math.max(0.0, f - r.sparkMs) }),
      "spark" -> med(reps.map(_.sparkMs)))
    writeTrace(traceDir, workload, env.seed, spanOut.toSeq, self, reps)

    val d = ctx.jobs1; val s = ctx.jobs0
    val ops = math.max(1L, ctx.calls.asScala.count(_._2 >= ctx.t0)).toDouble
    val wallMs = (ctx.t1 - ctx.t0) / 1e6
    val traced = ctx.calls.asScala.filter(_._1).map(_._3)
    val untraced = ctx.calls.asScala
      .filter(c => !c._1 && c._2 >= ctx.t0 + env.warmupNs).map(_._3)
    val stat = sqlReps.filter(_._1.kind != "sql_join")
    val pyrEligible = reps.flatMap(_.pyramid)
    val rpcs = ctx.rpcs.asScala.toSeq
    def kindP50(k: String) = Option(ctx.kinds.get(k)).map(_.p(0.5)).getOrElse(0.0)
    def m(name: String, v: Double, unit: String, better: String, n: Long) = Metric(name, v, unit, better, n)
    Seq(
      m("wire.transport_ms", self.head._2, "ms", "lower", reps.size),
      m("wire.codec_ms", self(1)._2, "ms", "lower", reps.size),
      m("wire.bytes_in_per_point", wp.reqBytesPerPoint, "B", "lower", 2),
      m("wire.bytes_out_per_point", reps.map(_.bytes).sum.toDouble / math.max(1L, reps.map(_.points).sum), "B", "lower", reps.size),
      m("wire.msgs_per_rpc", rpcs.map(_.msgs.toDouble).sum / math.max(1, rpcs.size), "count", "lower", rpcs.size),
      m("engine.insert_ms", wp.insertMs, "ms", "lower", 1),
      m("engine.commit_ms", wp.commitMs, "ms", "lower", 1),
      m("engine.commits_per_kpt", wp.commitsPerKpt, "count", "lower", 2),
      m("engine.jobs_per_insert", wp.jobsPerInsert, "count", "lower", 2),
      m("engine.staged_points", med(ctx.stagedSamples.all ++ Seq(wp.stagedPoints)), "count", "lower", ctx.stagedSamples.n + 1),
      m("engine.resolve_ms", med(reps.map(_.resolveMs)), "ms", "lower", reps.size),
      m("engine.plan_ms", med(reps.flatMap(_.planMs)), "ms", "lower", reps.count(_.planMs.isDefined)),
      m("engine.exec_ms", med(reps.map(_.execMs)), "ms", "lower", reps.size),
      m("engine.pyramid_served_ratio", pyrEligible.count(identity).toDouble / math.max(1, pyrEligible.size), "ratio", "higher", pyrEligible.size),
      m("engine.staging_merge_ratio", (ctx.liveMerged.get + wp.mergedReads).toDouble /
        math.max(1L, ctx.liveReads.get + wp.reads), "ratio", "lower", ctx.liveReads.get + wp.reads),
      m("engine.admission_queued", if (ctx.queuedSamples.n == 0) 0.0 else ctx.queuedSamples.sum / ctx.queuedSamples.n, "count", "lower", ctx.queuedSamples.n),
      m("plans.substitution_ratio", stat.count(_._2._3).toDouble / math.max(1, stat.size), "ratio", "higher", stat.size),
      m("plans.analyze_ms", med(sqlReps.map(_._2._1)), "ms", "lower", sqlReps.size),
      m("service.thrift_ms", med(sqlReps.map(_._2._2)), "ms", "lower", sqlReps.size),
      m("spark.jobs_per_op", (d.jobs - s.jobs) / ops, "count", "lower", ops.toLong),
      m("spark.stages_per_op", (d.stages - s.stages) / ops, "count", "lower", ops.toLong),
      m("spark.tasks_per_op", (d.tasks - s.tasks) / ops, "count", "lower", ops.toLong),
      m("spark.task_ms_per_op", (d.taskMs - s.taskMs) / ops, "ms", "lower", ops.toLong),
      m("spark.sched_delay_ms_per_op", (d.schedMs - s.schedMs) / ops, "ms", "lower", ops.toLong),
      m("spark.scan_bytes_per_op", (d.scanBytes - s.scanBytes) / ops, "B", "lower", ops.toLong),
      m("spark.files_read_per_op", med(reps.map(_.files.toDouble)), "count", "lower", reps.size),
      m("spark.shuffle_bytes_per_op", (d.shuffleBytes - s.shuffleBytes) / ops, "B", "lower", ops.toLong),
      m("spark.spill_bytes", (d.spill - s.spill).toDouble, "B", "lower", ops.toLong),
      m("spark.parallelism", (d.taskMs - s.taskMs) / math.max(1.0, wallMs * env.cpus), "ratio", "higher", ops.toLong),
      m("storage.bytes_written_per_point", wp.bytesPerPoint, "B", "lower", 2),
      m("storage.files_per_commit", wp.filesPerCommit, "count", "lower", 1),
      m("storage.root_files", rootFiles.toDouble, "count", "lower", 1),
      m("jvm.gc_ms_per_s", (jvm1.gcMs - jvm0.gcMs) / math.max(1e-9, (jvm1.atNs - jvm0.atNs) / 1e9), "ms/s", "lower", 1),
      m("jvm.peak_heap_mb", Jvm.peakHeapMb(), "MB", "lower", 1),
      m("trace.overhead_ms", med(traced) - med(untraced), "ms", "lower", traced.size),
      m("self.transport_ms", self.head._2, "ms", "lower", reps.size),
      m("self.codec_ms", self(1)._2, "ms", "lower", reps.size),
      m("self.engine_ms", self(2)._2, "ms", "lower", reps.size),
      m("self.spark_ms", self(3)._2, "ms", "lower", reps.size)) ++
      Seq("aligned_pyr", "aligned_raw", "windows", "raw", "nearest", "changes", "catalog",
        "sql_pyr", "sql_raw").map(k => m(s"op.${k}_ms", kindP50(k), "ms", "lower",
          Option(ctx.kinds.get(k)).map(_.n.toLong).getOrElse(0L)))
  }

  /** Write the span file and the self-time table of this traced run. */
  private def writeTrace(dir: java.io.File, workload: String, seed: Long, spans: Seq[Span],
                         self: Seq[(String, Double)], reps: Seq[Replayed]): Unit = {
    dir.mkdirs()
    val base = new java.io.File(dir, s"$workload-seed$seed")
    val w = new java.io.PrintWriter(s"${base.getPath}.spans.jsonl", "UTF-8")
    try spans.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},"layer":${Harness.json(s.layer)},""" +
        s""""name":${Harness.json(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
    val t = new java.io.PrintWriter(s"${base.getPath}.selftime.txt", "UTF-8")
    try {
      t.println(f"self time per layer, median over ${reps.size} replayed requests ($workload, seed $seed)")
      self.foreach { case (l, v) => t.println(f"  $l%-10s $v%10.2f ms") }
      t.println("per request: kind, client, handle, resolve, plan, exec, spark (ms)")
      reps.foreach { r =>
        t.println(f"  ${r.kind}%-16s ${r.clientMs}%9.1f ${r.handleMs}%9.1f ${r.resolveMs}%8.1f " +
          f"${r.planMs.getOrElse(0.0)}%8.1f ${r.execMs}%9.1f ${r.sparkMs}%9.1f")
      }
    } finally t.close()
  }
}
