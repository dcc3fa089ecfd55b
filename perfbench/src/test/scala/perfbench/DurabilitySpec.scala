package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Btrdb

/** The reopen check of the write workloads trips when an acknowledged
  * batch is missing. */
class DurabilitySpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()
  override def afterAll(): Unit = spark.stop()

  test("a dropped batch fails the reopen check; a complete root passes") {
    val root = java.nio.file.Files.createTempDirectory("durability").toString
    val e = new Btrdb(spark, root)
    val plan = new BatchPlan(9, IndexedSeq("11111111-0000-0000-0000-000000000001",
      "11111111-0000-0000-0000-000000000002"))
    e.createStreams(plan.streams.map(u => (u, "d", Map("k" -> u.takeRight(1)))))
    val acked = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    for (k <- 0 until 4) {
      val (s, first, off, _) = plan.next()
      val ts = plan.times(first, off); val vs = plan.values(s, first, off)
      acked(plan.streams(s)) += ts.length
      // the third batch is acknowledged but never lands
      if (k != 2) e.insert(plan.streams(s), Workloads.frame(spark, ts, vs))
    }
    e.close()
    val reopened = Btrdb.attach(spark, root)
    try {
      val bad = Durability.mismatches(reopened, acked.toMap)
      assert(bad.size == 1 && bad.head.startsWith(plan.streams(0)), bad)
      val landed = acked.toMap.updated(plan.streams(0), acked(plan.streams(0)) - plan.BatchPts)
      assert(Durability.mismatches(reopened, landed).isEmpty)
    } finally reopened.close()
  }
}
