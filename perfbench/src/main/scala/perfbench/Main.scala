package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (started by run.py, which builds the classpath):
  * `Main --workload <ingest|dashboard|export|live> --seed N --seconds S
  * --trace 0|1 --cpus N --out FILE --work DIR --traces DIR`. Writes two
  * JSON lines to FILE: the
  * full metric table (name, value, unit, direction, sample count), then
  * the result object. */
object Main {
  val Names = Seq("ingest", "dashboard", "export", "live")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Names.contains(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val cpus = opts("cpus").toInt
    val out = new java.io.File(opts("out"))
    val work = new java.io.File(opts("work"))
    val jdbcPort = freePort()
    val spark =
      if (workload == "dashboard") graft.Service.buildSession(jdbcPort, cpus)
      else SparkSession.builder()
        .master(s"local[$cpus]").appName("perfbench")
        .withExtensions(new graft.functions.GraftExtensions)
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new JobListener
    spark.sparkContext.addSparkListener(listener)
    val env = new Env(spark, cpus, work, seed, seconds,
      Workloads.warmupSec(workload) * Workloads.Sec, trace, listener)
    val jvm0 = Jvm.snapshot()
    phase("session ready")
    val o = workload match {
      case "ingest" => Workloads.ingest(env)
      case "dashboard" => Workloads.dashboard(env, jdbcPort)
      case "export" => Workloads.bulkExport(env)
      case "live" => Workloads.live(env)
    }
    phase("workload done")
    val layers =
      if (trace) Probe.layers(env, o, jvm0, new java.io.File(opts("traces")), workload) else Nil
    o.deployment.stop()
    phase("deployment stopped")
    val (attempted, failed) = o.tally.counts
    o.tally.reasons.foreach(r => System.err.println(s"[perfbench] failed: $r"))
    val reported = if (trace) layers else o.e2e
    val table = (o.e2e ++ o.detail ++ layers ++ Seq(
      Metric("ops_failed_frac", failed.toDouble / math.max(1L, attempted), "ratio", "lower", attempted)))
    val detail = table.map { m =>
      s"""{"name":${Harness.json(m.name)},"value":${Harness.num(m.value)},""" +
        s""""unit":${Harness.json(m.unit)},"better":"${m.better}","n":${m.n}}"""
    }.mkString(s"""{"workload":"$workload","seed":$seed,"trace":$trace,"table":[""", ",", "]}")
    val result = reported.map(m =>
      s"""${Harness.json(m.name)}:{"value":${Harness.num(m.value)},"unit":${Harness.json(m.unit)}}""")
      .mkString(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{""", ",", "}}")
    val w = new java.io.PrintWriter(out, "UTF-8")
    try { w.println(detail); w.println(result) } finally w.close()
    spark.stop()
    phase("spark stopped")
    // server and client thread pools outlive main; the results are written
    System.exit(0)
  }

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def phase(what: String): Unit = System.err.println(f"[perfbench] $what at ${
    (System.currentTimeMillis() - java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime) / 1e3}%.1f s")

  private def freePort(): Int = {
    val s = new java.net.ServerSocket(0)
    try s.getLocalPort finally s.close()
  }
}
