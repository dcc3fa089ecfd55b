package perfbench

import java.util.SplittableRandom

import org.scalatest.funsuite.AnyFunSuite

/** The workload inputs are a function of the seed alone. */
class CorpusSpec extends AnyFunSuite {
  private def dashboardInputs(seed: Long): (Seq[StreamData], Seq[Seq[Byte]], Seq[String]) = {
    val corpus = Corpus.dashboard(seed, 2, 1 << 12)
    val zipf = new Zipf(corpus.size)
    val rng = new SplittableRandom(seed * 7919)
    val dealer = new Requests.Dealer(Requests.DashboardDeck, rng.split())
    val reqs = (0 until 200).map(_ => Requests.dashboard(rng, dealer, zipf, corpus).body.toSeq)
    val sqlRng = new SplittableRandom(seed * 7919 + 2)
    val sqls = (0 until 8).map(i => Sql.dashboard(i, sqlRng, corpus, corpus.indices.map(_.toLong)).sql)
    (corpus, reqs, sqls)
  }

  private def same(a: Seq[StreamData], b: Seq[StreamData]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      x.uuid == y.uuid && x.collection == y.collection && x.grid == y.grid &&
        x.times.sameElements(y.times) && x.values.sameElements(y.values) }

  test("the same seed gives the same corpus and request sequence") {
    val (c1, r1, s1) = dashboardInputs(42)
    val (c2, r2, s2) = dashboardInputs(42)
    assert(same(c1, c2))
    assert(r1 == r2)
    assert(s1 == s2)
    assert(same(Corpus.exportSet(42, 2, 1 << 12), Corpus.exportSet(42, 2, 1 << 12)))
    val p1 = new BatchPlan(42, IndexedSeq("a", "b")); val p2 = new BatchPlan(42, IndexedSeq("a", "b"))
    assert((0 until 40).map(_ => p1.next()) == (0 until 40).map(_ => p2.next()))
  }

  test("another seed gives other inputs") {
    val (c1, r1, _) = dashboardInputs(42)
    val (c2, r2, _) = dashboardInputs(43)
    assert(!same(c1, c2))
    assert(r1 != r2)
  }

  test("the corpus has the shapes the checks rely on") {
    val c = Corpus.dashboard(7, 2, 1 << 14)
    assert(c.count(_.grid) == 2 && c.count(!_.grid) == 1)
    assert(c.forall(d => d.times.indices.tail.forall(i =>
      d.times(i) > d.times(i - 1) || (d.times(i) == d.times(i - 1) && d.values(i) >= d.values(i - 1)))))
    assert(c.exists(d => d.times.indices.tail.exists(i => d.times(i) == d.times(i - 1))),
      "duplicate timestamps")
    assert(c.exists(d => d.holeTime(new SplittableRandom(1)).isDefined), "dropouts")
  }

  test("every 20 dashboard requests follow the mix exactly") {
    val dealer = new Requests.Dealer(Requests.DashboardDeck, new SplittableRandom(3))
    val dealt = (0 until 60).map(_ => dealer.next())
    assert(Requests.DashboardDeck.size == 20)
    dealt.grouped(20).foreach(g => assert(g.sorted == Requests.DashboardDeck.sorted))
  }

  test("backfills target batches that have already committed") {
    val p = new BatchPlan(5, IndexedSeq("a", "b"))
    val seen = scala.collection.mutable.Map.empty[Int, Int].withDefaultValue(0)
    (0 until 64).map(_ => p.next()).foreach { case (s, first, off, backfill) =>
      if (backfill) {
        assert(off > 0)
        assert(seen(s) >= 2 * (first / p.BatchPts + 1))
      } else seen(s) += 1
    }
  }
}
