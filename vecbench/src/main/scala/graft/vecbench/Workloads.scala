package graft.vecbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.api.GraftDb

/** The benchmark's workloads. Each drives the `GraftDb` facade from one
  * client thread in a closed loop: the next call starts when the previous
  * one (and the benchmark's check of its result) has finished. */
object Workloads {

  final case class Def(name: String, indexType: String, why: String)

  val ScanFlat = Def("scan_flat", "flat",
    "1024-query exact searches, compute-bound in the cosine and top-k kernels with negligible " +
      "job overhead; each cycle ends with a few upserts, deletes and a compaction")
  val ChurnIvf = Def("churn_ivf", "ivf",
    "upserts, re-upserts and deletes beside IVF searches, with periodic compaction: every " +
      "write invalidates the snapshot memo, so a read gain that costs writes shows here")

  val All: Seq[Def] = Seq(ScanFlat, ChurnIvf)

  /** Compaction cycles every run measures, however long they take, so
    * every run times the same mix of calls. */
  val FlatCycles = 3
  val ChurnCycles = 2
  val CorpusSize = 5000
  val Lib = 1L
  val K = 10
  val Centroids = 16
  val TrainIters = 3
  val Probes = 4
  val IvfQueries = 8
  val FlatQueries = 1024
  /** Queries of each flat call checked against in-JVM exact search. */
  val FlatChecked = 16
  /** Query sets of a flat cycle, one search each. */
  val FlatSets = 3
  /** Fresh and re-upserted batches are the same size, so the upsert calls
    * do about the same work and their median is not the boundary between
    * two kinds of call. */
  val Churn = Gen.ChurnShape(fresh = 200, reUpserts = 200, deletes = 20, queries = IvfQueries)
  /** Churn rounds that warm every call kind up before the measured cycles. */
  val WarmupRounds = 2
  /** Churn rounds between compactions. */
  val RoundsPerCompact = 2
  /** Queries of the untimed recall search that follows the first churn
    * cycle's rounds, before its compaction. */
  val RecallQueries = 256
  /** Untraced and traced searches of the tracing-overhead probe, each. */
  val ProbePairs = 3
}

/** The benchmark's copy of the live vectors, the reference for checks. */
final class Mirror(init: Array[(Long, Array[Float])]) {
  private val live = mutable.HashMap[Long, Array[Float]]() ++= init
  private var exactCache: Option[Check.Exact] = None

  def contains(id: Long): Boolean = live.contains(id)
  def size: Int = live.size
  def upsert(rows: Seq[(Long, Array[Float])]): Unit = { live ++= rows; exactCache = None }
  def delete(ids: Seq[Long]): Unit = { live --= ids; exactCache = None }
  def exact: Check.Exact = exactCache.getOrElse {
    val (ids, vecs) = live.toArray.sortBy(_._1).unzip
    val e = new Check.Exact(ids, vecs)
    exactCache = Some(e)
    e
  }
}

/** One run of one workload. */
final class WorkloadRun(spark: SparkSession, w: Workloads.Def, seed: Long, seconds: Int,
                        traced: Boolean, workDir: Path) {
  import Workloads._
  import spark.implicits._

  val rec = new Recorder(spark.sparkContext)
  val corpus: Array[(Long, Array[Float])] = Gen.corpus(seed, CorpusSize)

  /** Set-up wall time (s). */
  var setupS = Double.NaN
  /** Problems found by the checks, and the number of failed calls. */
  val problems = mutable.ArrayBuffer[String]()
  var failedCalls = 0
  /** Per checked query of the measured and recall searches: its recall
    * against exact top-k. */
  val recalls = mutable.ArrayBuffer[Double]()
  /** Store bytes over live vector bytes, after the first measured compaction. */
  var diskRatio = Double.NaN
  /** Log files under the root when each traced measured search ran. */
  val logFilesAtSearch = mutable.ArrayBuffer[Int]()
  /** Score pairs one kernel run computes. */
  var kernelPairs = 0L
  val queriesPerSearch: Int = if (w.indexType == "flat") FlatQueries else IvfQueries

  def errorRate: Double = failedCalls.toDouble / math.max(1, rec.calls.length)

  private val born = System.nanoTime()
  /** Progress on stderr, with seconds since the run started. */
  def note(msg: String): Unit =
    System.err.println(f"vecbench [${(System.nanoTime() - born) / 1e9}%6.1f s] ${w.name}: $msg")

  private def rows(b: Seq[(Long, Array[Float])]) =
    b.map { case (id, v) => (Lib, Gen.docOf(id), id, "", v) }

  private def queryFrame(qs: Array[Array[Float]]): DataFrame =
    qs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq.toDF("qid", "qvec")

  /** Create a fresh store and bring it to ready: ingest, compact and, for
    * an IVF library, train and build the standing index. It runs once per
    * run, right after the Spark session starts in a fresh JVM, so
    * `setup_s` includes the JVM's warm-up, as a service's first start
    * does. */
  private def setup(): (GraftDb, Path) = {
    val root = workDir.resolve("store")
    rec.phase = "setup"
    val t0 = System.nanoTime()
    val db = rec.span("setup", "bench") {
      val db = rec.call("open")(new GraftDb(spark, root.toString))
      rec.call("create")(db.createLibrary(Lib, w.name, Gen.Dim, w.indexType))
      rec.call("upsert")(db.upsertChunks(rows(corpus.toSeq)))
      rec.call("compact")(db.compact())
      if (w.indexType == "ivf") {
        rec.call("train")(db.trainIndex(Lib, Centroids, TrainIters))
        rec.call("build")(db.buildIndex(Lib))
      }
      db
    }
    setupS = (System.nanoTime() - t0) / 1e9
    note(f"set-up ready in $setupS%.2f s")
    rec.list(root, "setup")
    (db, root)
  }

  private def liveRatio(root: Path, live: Int): Double =
    Store.list(root).bytes.toDouble / (live.toLong * Gen.Dim * 4)

  /** Check one search result. Shape and liveness for every query; scores,
    * exact agreement (when `exactMatch` holds) and recall for the queries in
    * `checked`. Recall counts only for measured and recall searches. */
  private def check(hits: Array[Check.Hit], qs: Array[Array[Float]], mirror: Mirror,
                    checked: Seq[Int], exactMatch: Boolean): Boolean = {
    val exact = mirror.exact
    val found = mutable.ArrayBuffer[String]()
    found ++= Check.shape(hits.toSeq, qs.length, K, mirror.contains)
    val byQ = hits.groupBy(_.qid)
    checked.foreach { q =>
      val hs = byQ.getOrElse(q.toLong, Array.empty[Check.Hit]).sortBy(_.rank).toSeq
      found ++= Check.scores(hs, _ => qs(q), exact)
      val top = exact.topk(qs(q), K)
      if (exactMatch) found ++= Check.matchesExact(q.toLong, hs, top)
      if (rec.phase == "measure" || rec.phase == "recall") recalls += Check.recall(hs, top)
    }
    if (found.nonEmpty) problems ++= found.take(5)
    found.isEmpty
  }

  /** A search call plus its check; either failing counts the call failed. */
  private def searchChecked(db: GraftDb, root: Path, qs: Array[Array[Float]], frame: DataFrame,
                            mirror: Mirror, checked: Seq[Int]): Unit = {
    val exactMatch = w.indexType == "flat"
    if (rec.tracing && rec.phase == "measure") logFilesAtSearch += Store.list(root).logFiles
    val hits = try {
      rec.search("search") {
        if (w.indexType == "ivf") db.searchAll(Lib, frame, k = K, nProbes = Probes)
        else db.searchAll(Lib, frame, k = K)
      }.map(r => Check.Hit(r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    } catch {
      case e: Exception => problems += s"search failed: $e"; failedCalls += 1; return
    }
    if (!rec.span("check", "bench")(check(hits, qs, mirror, checked, exactMatch))) failedCalls += 1
  }

  /** A write call; failures are counted, not thrown, so the run goes on. */
  private def write(kind: String)(body: => Unit): Boolean =
    try { rec.call(kind)(body); true }
    catch { case e: Exception => problems += s"$kind failed: $e"; failedCalls += 1; false }

  /** A round's writes: the delete first, then the fresh upsert and the
    * re-upsert. A call's cost depends on whether the facade's snapshot memo
    * is still warm from a read, which every write drops. So a delete always
    * follows a search (or a compaction) and an upsert always follows a
    * write, and the calls of a kind meet the same state. */
  private def writes(db: GraftDb, mirror: Mirror, r: Gen.Round): Unit = {
    if (write("delete")(db.deleteChunksBatch(Lib, r.deletes))) mirror.delete(r.deletes)
    if (write("upsert")(db.upsertChunks(rows(r.fresh)))) mirror.upsert(r.fresh)
    if (write("upsert")(db.upsertChunks(rows(r.reUpserts)))) mirror.upsert(r.reUpserts)
  }

  /** One line per call kind of the measured phase: its latencies, their
    * median, and the highest tail percentile that has at least ten samples
    * beyond it (none when there are fewer than twenty). */
  private def noteMeasured(): Unit =
    rec.calls.filter(_.phase == "measure").groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, cs) =>
      val ms = cs.map(_.ms).toSeq
      val tail = Stats.tailLevel(ms.length)
        .fold("no tail with 10 samples beyond")(p => f"p$p%.1f ${Stats.percentile(ms, p)}%.0f ms")
      note(f"${cs.length} $k calls, p50 ${Stats.median(ms)}%.0f ms, $tail; " +
        s"ms: ${ms.map(math.round).mkString(" ")}")
    }

  /** Run `cycle` in a closed loop: `minCycles` times, and
    * on until `seconds` have passed. Whole cycles only, so every run
    * measures the same mix of calls. */
  private def measure(minCycles: Int)(cycle: () => Unit): Unit = {
    rec.phase = "measure"
    note("measuring")
    val t0 = System.nanoTime()
    var n = 0
    while (n < minCycles || System.nanoTime() - t0 < seconds * 1000000000L) { cycle(); n += 1 }
    note(s"$n cycles measured")
  }

  /** Traced runs only: the cost of tracing. Untraced and traced searches
    * over one query set alternate (U T T U U T ...) after a warm-up
    * search, so drift of the JVM or the host falls on both sides alike. */
  private def overheadProbe(search: () => Unit): Unit = {
    rec.phase = "warmup"
    search()
    rec.phase = "probe"
    rec.span("overhead probe", "bench") {
      (0 until 2 * ProbePairs).foreach { i =>
        rec.setTracing(i % 4 == 1 || i % 4 == 2)
        search()
      }
      rec.setTracing(true)
    }
  }

  /** Time the scoring and top-k kernels directly over a cached copy of
    * the corpus, outside the facade (traced runs only). */
  private def kernels(qs: Array[Array[Float]]): Unit = {
    rec.phase = "kernel"
    val emb = rec.call("kernel-prep", "kernel") {
      val df = corpus.toSeq.toDF("vec_id", "embedding").cache()
      df.count()
      df
    }
    val frame = queryFrame(qs)
    val t0 = System.nanoTime()
    do rec.call("kernel", "kernel") {
      graft.operators.Knn.topkPerQuery(
        graft.operators.Knn.scoreAll(emb, frame, "cosine"), "cosine", K).collect()
    } while (rec.calls.count(_.kind == "kernel") < 3 && System.nanoTime() - t0 < 4000000000L)
    kernelPairs = corpus.length.toLong * qs.length
    emb.unpersist()
  }

  def execute(): Unit = {
    note(s"seed $seed, ${seconds}s, trace ${if (traced) 1 else 0}")
    rec.setTracing(traced)
    rec.span(w.name, "bench") {
      if (w == ChurnIvf) churn() else scan()
    }
  }

  /** scan_flat: cycles of one search per query set, each call checking a
    * different sample of its queries against exact search, then the
    * writes of one churn round and a compaction, so the write metrics are
    * measured here too. The first search of a cycle follows a compaction
    * and is the slowest, so a cycle has more than two searches and their
    * median is not that boundary. A write round and a search per query set
    * warm up first. */
  private def scan(): Unit = {
    val (db, root) = setup()
    val mirror = new Mirror(corpus)
    val sets = (0 until FlatSets).map { s =>
      val qs = Gen.queries(seed, s, FlatQueries)
      (qs, queryFrame(qs))
    }
    val script = new Gen.ChurnScript(seed, CorpusSize, Churn.copy(queries = 0))
    var searches = 0
    def search(set: Int): Unit = {
      val (qs, frame) = sets(set)
      val checked = (0 until FlatChecked).map(j => (searches * 7919 + j * 61) % FlatQueries).distinct
      searchChecked(db, root, qs, frame, mirror, checked)
      searches += 1
    }
    var cycles = 0
    def cycle(): Unit = {
      rec.span("round", "bench")(sets.indices.foreach(search))
      rec.span("round", "bench") {
        writes(db, mirror, script.next())
        write("compact")(db.compact())
        if (diskRatio.isNaN) diskRatio = liveRatio(root, mirror.size)
        cycles += 1
        rec.list(root, s"compact after cycle $cycles")
      }
    }
    rec.phase = "warmup"
    rec.span("round", "bench") { writes(db, mirror, script.next()); sets.indices.foreach(search) }
    measure(FlatCycles)(() => cycle())
    noteMeasured()
    rec.list(root, "end")
    if (traced) {
      overheadProbe(() => search(0))
      kernels(sets.head._1)
    }
  }

  /** churn_ivf: rounds of writes then a search, and a compaction after
    * every [[RoundsPerCompact]] rounds. [[WarmupRounds]] rounds warm every
    * call kind up before the measured cycles. Recall comes from the measured
    * searches and from one untimed search of [[RecallQueries]] queries
    * before the first compaction, so it covers the store as the writes left
    * it. The store's size is read once, after the first compaction, so it
    * does not depend on how many cycles a run fits. */
  private def churn(): Unit = {
    val (db, root) = setup()
    val mirror = new Mirror(corpus)
    val script = new Gen.ChurnScript(seed, CorpusSize, Churn)
    def search(qs: Array[Array[Float]]): Unit =
      searchChecked(db, root, qs, queryFrame(qs), mirror, qs.indices)
    var rounds = 0
    var cycles = 0
    def round(): Unit = rec.span("round", "bench") {
      val r = script.next()
      writes(db, mirror, r)
      search(r.queries)
      rounds += 1
    }
    def cycle(): Unit = {
      (1 to RoundsPerCompact).foreach(_ => round())
      if (cycles == 0) {
        rec.phase = "recall"
        rec.span("recall", "bench")(search(Gen.queries(seed, 1, RecallQueries)))
        rec.phase = "measure"
      }
      rec.span("round", "bench") {
        write("compact")(db.compact())
        if (diskRatio.isNaN) diskRatio = liveRatio(root, mirror.size)
        rec.list(root, s"compact after round $rounds")
      }
      cycles += 1
    }
    val probe = Gen.queries(seed, 0, IvfQueries)
    rec.phase = "warmup"
    (1 to WarmupRounds).foreach(_ => round())
    measure(ChurnCycles)(() => cycle())
    noteMeasured()
    rec.list(root, "end")
    if (traced) {
      overheadProbe(() => search(probe))
      kernels(probe)
    }
  }
}
