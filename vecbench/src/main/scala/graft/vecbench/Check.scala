package graft.vecbench

/** Correctness checks on `searchAll` results, against an in-JVM exact
  * search over the benchmark's own mirror of the live vectors. Every
  * check returns the list of problems it found; an empty list passes. */
object Check {

  /** One result row: `searchAll`'s (qid, rank, chunk_id, score). */
  final case class Hit(qid: Long, rank: Long, id: Long, score: Double)

  /** The facade rounds scores to 4 decimals; allow that plus float noise. */
  val ScoreTol = 2e-4

  /** Every query has exactly `k` hits ranked 1..k with non-increasing
    * scores and distinct ids, every hit is a live id, and no hit names a
    * query that was not asked. */
  def shape(hits: Seq[Hit], nQueries: Int, k: Int, isLive: Long => Boolean): Seq[String] = {
    val byQ = hits.groupBy(_.qid)
    val stray = byQ.keySet.filterNot(q => q >= 0 && q < nQueries)
    val problems = Seq.newBuilder[String]
    if (stray.nonEmpty) problems += s"hits for unknown queries ${stray.toSeq.sorted.take(5)}"
    (0L until nQueries.toLong).foreach { q =>
      val hs = byQ.getOrElse(q, Seq.empty).sortBy(_.rank)
      if (hs.length != k) problems += s"query $q has ${hs.length} hits, expected $k"
      else {
        if (hs.map(_.rank) != (1L to k.toLong)) problems += s"query $q ranks ${hs.map(_.rank)}"
        if (hs.sliding(2).exists { case Seq(a, b) => b.score > a.score; case _ => false })
          problems += s"query $q scores not in order"
        if (hs.map(_.id).distinct.length != k) problems += s"query $q repeats an id"
      }
      hs.filterNot(h => isLive(h.id)).foreach(h => problems += s"query $q hit ${h.id} is not live")
    }
    problems.result()
  }

  /** Exact cosine search over a fixed set of vectors. */
  final class Exact(ids: Array[Long], vecs: Array[Array[Float]]) {
    private val norms = vecs.map(v => math.sqrt(dot(v, v)))
    private val index = ids.zipWithIndex.toMap

    private def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
      s
    }

    /** The engine's cosine (0 when either norm is 0), in double. */
    def score(q: Array[Float], id: Long): Double = cos(q, math.sqrt(dot(q, q)), index(id))

    def contains(id: Long): Boolean = index.contains(id)

    private def cos(q: Array[Float], qn: Double, j: Int): Double =
      if (qn == 0 || norms(j) == 0) 0.0 else dot(q, vecs(j)) / (qn * norms(j))

    /** The exact top `k` as (id, score), best first, ties by id. */
    def topk(q: Array[Float], k: Int): Seq[(Long, Double)] = {
      val qn = math.sqrt(dot(q, q))
      val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
        Ordering.by[(Double, Long), (Double, Long)] { case (s, id) => (-s, id) })
      var j = 0
      while (j < ids.length) {
        heap.enqueue((cos(q, qn, j), ids(j)))
        if (heap.size > k) heap.dequeue()
        j += 1
      }
      heap.toSeq.sortBy { case (s, id) => (-s, id) }.map { case (s, id) => (id, s) }
    }
  }

  /** Every reported score equals the true cosine of its (query, id) pair. */
  def scores(hits: Seq[Hit], query: Long => Array[Float], exact: Exact): Seq[String] =
    hits.filter(h => exact.contains(h.id))
      .filter(h => math.abs(exact.score(query(h.qid), h.id) - h.score) > ScoreTol)
      .map(h => s"query ${h.qid} hit ${h.id} reports score ${h.score}, " +
        s"true ${exact.score(query(h.qid), h.id)}")

  /** One query's hits (best first) equal the exact top-k up to ties: rank
    * by rank the scores agree within [[ScoreTol]], so ids may only differ
    * where the exact scores themselves tie. */
  def matchesExact(qid: Long, hits: Seq[Hit], exact: Seq[(Long, Double)]): Seq[String] =
    if (hits.length != exact.length) Seq(s"query $qid has ${hits.length} hits, exact has ${exact.length}")
    else hits.zip(exact).collect {
      case (h, (id, s)) if math.abs(h.score - s) > ScoreTol =>
        s"query $qid rank ${h.rank}: hit ${h.id} score ${h.score}, exact $id score $s"
    }

  /** Share of the exact top-k ids that the hits found. */
  def recall(hits: Seq[Hit], exact: Seq[(Long, Double)]): Double =
    if (exact.isEmpty) 1.0
    else hits.map(_.id).toSet.intersect(exact.map(_._1).toSet).size.toDouble / exact.length
}
