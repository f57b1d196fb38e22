package graft.vecbench

import scala.collection.mutable.ArrayBuffer

/** Seeded synthetic inputs: a Gaussian-mixture corpus, query sets drawn
  * from the same mixture, and the churn op script. Everything is a pure
  * function of the seed, so one seed always yields the same inputs; the
  * facade only ever sees the generated rows.
  *
  * Each purpose draws from its own stream (`seed` mixed with a salt), so
  * running more churn rounds never shifts the corpus or the query sets. */
object Gen {
  val Dim = 64
  /** Mixture components, and the per-coordinate noise around each. */
  val Clusters = 32
  val Spread = 1.5

  /** Corpus and churn ids share one id space: the corpus takes
    * `1..n`, fresh churn upserts continue from `n + 1`. */
  def docOf(id: Long): Long = id / 50

  private def rng(seed: Long, salt: Long): java.util.Random =
    new java.util.Random(seed * 0x9E3779B97F4A7C15L + salt)

  /** The mixture's cluster centres, unit-variance per coordinate. */
  def centres(seed: Long): Array[Array[Float]] = {
    val r = rng(seed, 1)
    Array.fill(Clusters)(Array.fill(Dim)(r.nextGaussian().toFloat))
  }

  /** One draw from the mixture: a uniformly chosen centre plus isotropic
    * noise of standard deviation [[Spread]]. */
  private def draw(r: java.util.Random, cs: Array[Array[Float]]): Array[Float] = {
    val c = cs(r.nextInt(cs.length))
    Array.tabulate(c.length)(i => (c(i) + Spread * r.nextGaussian()).toFloat)
  }

  /** `n` vectors with ids `1..n`. */
  def corpus(seed: Long, n: Int): Array[(Long, Array[Float])] = {
    val cs = centres(seed)
    val r = rng(seed, 2)
    Array.tabulate(n)(i => ((i + 1).toLong, draw(r, cs)))
  }

  /** Query set number `set` (each call of a read workload uses its own
    * set; sets repeat deterministically from the seed). */
  def queries(seed: Long, set: Int, q: Int): Array[Array[Float]] = {
    val cs = centres(seed)
    val r = rng(seed, 1000003L * (set + 1) + 3)
    Array.fill(q)(draw(r, cs))
  }

  /** One churn round: fresh-id upserts, re-upserts of live ids, deletes of
    * live ids, then a search. Ids in `reUpserts` and `deletes` are live
    * when the round starts and disjoint from each other, because the
    * facade's batch delete refuses a dead id. */
  final case class Round(index: Int,
                         fresh: Seq[(Long, Array[Float])],
                         reUpserts: Seq[(Long, Array[Float])],
                         deletes: Seq[Long],
                         queries: Array[Array[Float]])

  final case class ChurnShape(fresh: Int, reUpserts: Int, deletes: Int, queries: Int)

  /** The churn op script as a stream: round `i` depends only on the seed
    * and the rounds before it, so a run that stops early has executed a
    * prefix of the same script another run executes. The script tracks
    * the live id set itself; it never reads the store. */
  final class ChurnScript(seed: Long, n: Int, shape: ChurnShape) {
    private val cs = centres(seed)
    private val r = rng(seed, 4)
    // live ids as a dense array: O(1) uniform sampling and swap-removal
    private val live = ArrayBuffer.tabulate(n)(i => (i + 1).toLong)
    private var nextId = n.toLong + 1
    private var i = 0

    def liveIds: Set[Long] = live.toSet

    /** Distinct positions into `live`, chosen uniformly. */
    private def sample(k: Int): Seq[Int] = {
      val picked = scala.collection.mutable.LinkedHashSet[Int]()
      while (picked.size < k) picked += r.nextInt(live.length)
      picked.toSeq
    }

    def next(): Round = {
      require(live.length > shape.reUpserts + shape.deletes, "churn script ran out of live ids")
      val pos = sample(shape.reUpserts + shape.deletes)
      val re = pos.take(shape.reUpserts).map(p => live(p) -> draw(r, cs))
      val delPos = pos.drop(shape.reUpserts)
      val dels = delPos.map(live(_))
      // swap-remove from the highest position down so earlier positions stay valid
      delPos.sorted(Ordering[Int].reverse).foreach { p =>
        live(p) = live(live.length - 1)
        live.remove(live.length - 1)
      }
      val fresh = (0 until shape.fresh).map { _ =>
        val id = nextId; nextId += 1
        live += id
        id -> draw(r, cs)
      }
      val qs = Array.fill(shape.queries)(draw(r, cs))
      val round = Round(i, fresh, re, dels, qs)
      i += 1
      round
    }
  }
}
