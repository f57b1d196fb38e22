package graft.vecbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's pure parts: statistics, input generation, span
  * arithmetic, job attribution and the correctness checker. */
class VecbenchSpec extends AnyFunSuite {

  test("percentile interpolates between closest ranks") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(xs, 0) === 1.0)
    assert(Stats.percentile(xs, 100) === 4.0)
    assert(Stats.median(xs) === 2.5)
    assert(math.abs(Stats.percentile(xs, 90) - 3.7) < 1e-12)
    assert(Stats.median(Seq(7.0)) === 7.0)
    assert(Stats.percentile(Seq.empty, 50).isNaN)
  }

  test("tail level keeps at least ten samples beyond it") {
    assert(Stats.tailLevel(100).contains(90.0))
    assert(Stats.tailLevel(1000).contains(99.0))
    assert(Stats.tailLevel(10000).contains(99.9))
    assert(Stats.tailLevel(40).contains(75.0))
    assert(Stats.tailLevel(20).contains(50.0))
    assert(Stats.tailLevel(19).isEmpty)
  }

  private val shape = Gen.ChurnShape(fresh = 20, reUpserts = 15, deletes = 10, queries = 3)

  private def same(a: Array[(Long, Array[Float])], b: Array[(Long, Array[Float])]) =
    a.length == b.length && a.zip(b).forall { case ((i, u), (j, v)) => i == j && u.sameElements(v) }

  test("the same seed gives the same corpus and queries; another seed does not") {
    assert(same(Gen.corpus(7, 500), Gen.corpus(7, 500)))
    assert(!same(Gen.corpus(7, 500), Gen.corpus(8, 500)))
    assert(Gen.corpus(7, 500).map(_._1).toSeq === (1L to 500L))
    val q = Gen.queries(7, 3, 5)
    assert(q.zip(Gen.queries(7, 3, 5)).forall { case (a, b) => a.sameElements(b) })
    assert(!q.head.sameElements(Gen.queries(7, 4, 5).head))
  }

  test("the churn script is deterministic and names only live ids") {
    val a = new Gen.ChurnScript(11, 500, shape)
    val b = new Gen.ChurnScript(11, 500, shape)
    var live = (1L to 500L).toSet
    var seen = live
    (0 until 30).foreach { _ =>
      val (ra, rb) = (a.next(), b.next())
      assert(ra.deletes === rb.deletes)
      assert(ra.fresh.map(_._1) === rb.fresh.map(_._1))
      assert(ra.reUpserts.zip(rb.reUpserts).forall { case ((i, u), (j, v)) => i == j && u.sameElements(v) })
      assert(ra.queries.zip(rb.queries).forall { case (u, v) => u.sameElements(v) })
      val re = ra.reUpserts.map(_._1)
      assert(re.forall(live) && ra.deletes.forall(live), "re-upserts and deletes name live ids")
      assert(re.toSet.intersect(ra.deletes.toSet).isEmpty)
      assert(ra.deletes.distinct.length == ra.deletes.length)
      assert(ra.fresh.map(_._1).forall(id => !seen(id)), "fresh ids are new")
      live = live -- ra.deletes ++ ra.fresh.map(_._1)
      seen ++= ra.fresh.map(_._1)
      assert(a.liveIds === live)
    }
  }

  test("covered time merges overlaps and clips to the window") {
    assert(Trace.coveredNs(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0, 100) === 25)
    assert(Trace.coveredNs(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 8, 25) === 12)
    assert(Trace.coveredNs(Seq((0L, 10L), (2L, 3L)), 0, 100) === 10)
    assert(Trace.coveredNs(Seq.empty, 0, 100) === 0)
    assert(Trace.coveredNs(Seq((50L, 60L)), 0, 10) === 0)
  }

  test("self time is duration minus the union of the children") {
    val root = Span(0, -1, "call", "api", 0, 100)
    val kids = Seq(Span(1, 0, "job 1", "spark", 10, 40), Span(2, 0, "job 2", "spark", 30, 60),
      Span(3, 0, "job 3", "spark", 90, 120))
    assert(Trace.selfNs(root, kids) === 100 - 50 - 10)
    val self = Trace.selfTimes(root +: kids)
    assert(self(0) === 40 && self(1) === 30 && self(3) === 30)
  }

  test("the roll-up counts concurrent spans of one layer once and adds up to the roots") {
    val spans = Seq(
      Span(0, -1, "round", "bench", 0, 1000),
      Span(1, 0, "search", "api", 100, 900),
      Span(2, 1, "exec", "api", 300, 900),
      Span(3, 2, "job 1", "spark", 400, 700),
      Span(4, 2, "job 2", "spark", 500, 800))
    val r = Trace.rollup(spans)
    assert(r("spark") === ((2, 400 / 1e6)))
    assert(r("api") === ((2, 400 / 1e6)))
    assert(r("bench") === ((1, 200 / 1e6)))
    assert(math.abs(r.values.map(_._2).sum - 1000 / 1e6) < 1e-15)
  }

  test("jobs go to the call of their group, else to the call open when they started") {
    import Ledger._
    val windows = Seq(Window(1, 0, 100), Window(2, 100, 200))
    val jobs = Seq(
      Job(0, Some(1), 10, 30, Seq(0)),
      Job(1, None, 40, 60, Seq(1, 0)), // broadcast job: no group of ours; stage 0 already ran
      Job(2, Some(2), 120, 150, Seq(2)),
      Job(3, None, 500, 510, Seq(3))) // outside every call
    val tasks = Seq(
      Task(0, 12, 20, 8, 7000000, 1, 100, 1000, 0, 0),
      Task(1, 45, 50, 5, 4000000, 0, 0, 0, 50, 0),
      Task(2, 125, 150, 25, 20000000, 2, 0, 0, 700, 9),
      Task(3, 501, 502, 1, 0, 0, 0, 0, 0, 0))
    val u = attribute(jobs, tasks, Set(0, 1, 2, 3), windows)
    assert(u(1).jobs.map(_.id) === Seq(0, 1))
    assert(u(1).stages === 2 && u(1).tasks === 2)
    assert(u(1).jobMs === 40.0) // 10..30 and 40..60
    assert(u(1).schedWaitMs === 40.0 - 8 - 5)
    assert(u(1).taskCpuMs === 11.0)
    assert(u(2).jobs.map(_.id) === Seq(2))
    assert(u(2).schedWaitMs === 5.0 && u(2).writtenBytes === 700.0 && u(2).spillBytes === 9.0)
    assert(u.values.flatMap(_.jobs).map(_.id).toSet === Set(0, 1, 2))
  }

  private val vecs = Array(
    Array(1f, 0f), Array(0.9f, 0.1f), Array(0f, 1f), Array(-1f, 0f), Array(0.7f, 0.7f))
  private val exact = new Check.Exact(Array(10L, 11L, 12L, 13L, 14L), vecs)
  private val q = Array(1f, 0.05f)

  private def result(k: Int): Seq[Check.Hit] =
    exact.topk(q, k).zipWithIndex.map { case ((id, s), i) =>
      Check.Hit(0, i + 1, id, math.round(s * 1e4) / 1e4) }

  test("exact search ranks by cosine") {
    assert(exact.topk(q, 3).map(_._1) === Seq(10L, 11L, 14L))
    assert(math.abs(exact.score(q, 13L) + 1 / math.sqrt(1.0025)) < 1e-6)
  }

  test("the checker passes a correct result") {
    val hits = result(3)
    assert(Check.shape(hits, 1, 3, exact.contains).isEmpty)
    assert(Check.scores(hits, _ => q, exact).isEmpty)
    assert(Check.matchesExact(0, hits, exact.topk(q, 3)).isEmpty)
    assert(Check.recall(hits, exact.topk(q, 3)) === 1.0)
  }

  test("the checker rejects corrupted results") {
    val good = result(3)
    val top = exact.topk(q, 3)
    val live: Long => Boolean = id => id != 11L
    // a missing row, a dead id, scores out of order, a repeated id, a stray query
    assert(Check.shape(good.take(2), 1, 3, exact.contains).nonEmpty)
    assert(Check.shape(good, 1, 3, live).exists(_.contains("not live")))
    val swapped = good.updated(0, good(0).copy(score = good(1).score - 0.1))
    assert(Check.shape(swapped, 1, 3, exact.contains).exists(_.contains("order")))
    assert(Check.shape(good.updated(2, good(2).copy(id = 10L)), 1, 3, exact.contains)
      .exists(_.contains("repeats")))
    assert(Check.shape(good :+ good(0).copy(qid = 5), 1, 3, exact.contains)
      .exists(_.contains("unknown")))
    // a reported score that is not the pair's cosine
    assert(Check.scores(good.updated(1, good(1).copy(score = 0.5)), _ => q, exact).nonEmpty)
    // a non-top-k hit with its true score: fails exact agreement, lowers recall
    val worse = good.updated(2, Check.Hit(0, 3, 12L, math.round(exact.score(q, 12L) * 1e4) / 1e4))
    assert(Check.scores(worse, _ => q, exact).isEmpty)
    assert(Check.matchesExact(0, worse, top).nonEmpty)
    assert(Check.recall(worse, top) === 2.0 / 3)
  }

  test("ties may swap ids without failing exact agreement") {
    val tied = new Check.Exact(Array(1L, 2L, 3L), Array(Array(1f, 0f), Array(1f, 0f), Array(0f, 1f)))
    val hits = Seq(Check.Hit(0, 1, 2L, 1.0), Check.Hit(0, 2, 1L, 1.0))
    assert(Check.matchesExact(0, hits, tied.topk(Array(1f, 0f), 2)).isEmpty)
  }

  test("the catalogue names each metric once") {
    val names = (Metrics.EndToEnd ++ Metrics.PerLayer).map(_.name)
    assert(names.distinct.length === names.length)
    assert(Metrics.EndToEnd.exists(m => m.name == "setup_s" && m.unit == "s" && m.better == "lower"))
    assert(Metrics.PerLayer.forall(_.moves.nonEmpty))
  }
}
