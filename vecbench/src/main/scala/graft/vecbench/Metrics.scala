package graft.vecbench

import Recorder.Call

/** The metric catalogue and how each metric is computed from a run. */
object Metrics {

  /** `moves`: the end-to-end metric a per-layer metric should move, and on
    * which workload — written down before any measurement. */
  final case class Metric(name: String, unit: String, better: String, what: String,
                          moves: String = "")

  private def lo(n: String, u: String, what: String, moves: String = "") = Metric(n, u, "lower", what, moves)
  private def hi(n: String, u: String, what: String, moves: String = "") = Metric(n, u, "higher", what, moves)

  private val SearchMoves = "search_p50_ms on churn_ivf; not scan_flat"
  private val WriteMoves = "upsert_p50_ms, delete_p50_ms and ops_per_s on churn_ivf"
  private val CompactMoves = "compact_p50_ms and ops_per_s on churn_ivf"
  private val FlatMoves = "queries_per_s on scan_flat; hardly churn_ivf"

  val EndToEnd: Seq[Metric] = Seq(
    lo("setup_s", "s", "time from a started Spark session, in a fresh JVM, to a ready store (ingest, compact, train, build)"),
    lo("search_p50_ms", "ms", "median searchAll call, construction to collect()"),
    hi("queries_per_s", "1/s", "query vectors answered per second of search time"),
    hi("ops_per_s", "1/s", "facade calls completed per second of call time"),
    lo("upsert_p50_ms", "ms", "median upsertChunks call of the measured phase"),
    lo("delete_p50_ms", "ms", "median deleteChunksBatch call of the measured phase"),
    lo("compact_p50_ms", "ms", "median compact() of the measured phase"),
    hi("recall_at_10", "ratio", "hits in the exact top-10 over the same live vectors, per checked query of the measured searches and of one 256-query search before churn_ivf's first compaction"),
    lo("disk_bytes_per_live_byte", "ratio", "bytes under the store root over live vector bytes, after the first measured compaction"),
  )

  val PerLayer: Seq[Metric] = Seq(
    lo("api.search.plan_ms", "ms", "median lazy searchAll construction", SearchMoves),
    lo("api.search.exec_ms", "ms", "median searchAll action (collect)", SearchMoves),
    lo("api.driver_ms_per_search", "ms", "median search time not covered by any Spark job", SearchMoves),
    lo("api.driver_ms_per_write", "ms", "median write time not covered by any Spark job", WriteMoves),
    lo("api.driver_ms_per_compact", "ms", "median compact time not covered by any Spark job", CompactMoves),
    lo("api.upsert_ms", "ms", "median upsertChunks call", WriteMoves),
    lo("api.delete_ms", "ms", "median deleteChunksBatch call", WriteMoves),
    lo("api.compact_ms", "ms", "median compact call", CompactMoves),
    lo("api.train_ms", "ms", "trainIndex call in set-up (0: flat)", "setup_s"),
    lo("api.build_ms", "ms", "buildIndex call in set-up (0: flat)", "setup_s"),
    lo("api.ingest_ms", "ms", "summed upsert time of set-up's ingest", "setup_s"),
    lo("spark.jobs_per_search", "count", "jobs per search call", "search_p50_ms on churn_ivf"),
    lo("spark.jobs_per_write", "count", "jobs per write call", WriteMoves),
    lo("spark.jobs_per_compact", "count", "jobs per compact call", CompactMoves),
    lo("spark.jobs_setup", "count", "jobs of set-up", "setup_s"),
    lo("spark.stages_per_search", "count", "stages run per search call", "search_p50_ms on churn_ivf"),
    lo("spark.tasks_per_search", "count", "tasks run per search call", "search_p50_ms on churn_ivf"),
    lo("spark.job_ms_per_search", "ms", "union of a search call's job intervals", SearchMoves),
    lo("spark.job_ms_per_write", "ms", "union of a write call's job intervals", WriteMoves),
    lo("spark.job_ms_per_compact", "ms", "union of a compact call's job intervals", CompactMoves),
    lo("spark.task_run_ms_per_search", "ms", "summed task run time per search call", "queries_per_s on scan_flat"),
    lo("spark.task_cpu_ms_per_search", "ms", "summed task CPU time per search call", "queries_per_s on scan_flat"),
    lo("spark.task_gc_ms_per_search", "ms", "summed task GC time per search call", "queries_per_s on scan_flat"),
    lo("spark.sched_wait_ms_per_search", "ms", "job time of a search call with none of its tasks running", "search_p50_ms on churn_ivf"),
    lo("spark.shuffle_bytes_per_search", "bytes", "shuffle bytes read and written per search call", SearchMoves),
    lo("spark.input_bytes_per_search", "bytes", "input bytes read per search call", SearchMoves),
    lo("spark.bytes_written_per_write", "bytes", "output bytes per write call", WriteMoves),
    lo("spark.bytes_written_per_compact", "bytes", "output bytes per compact call", CompactMoves),
    lo("spark.spill_bytes", "bytes", "memory and disk spill over the traced calls", "queries_per_s on scan_flat"),
    lo("kernel.score_topk_ms", "ms", "median Knn.scoreAll + topkPerQuery over a cached corpus copy", FlatMoves),
    hi("kernel.pairs_per_cpu_s", "1/s", "scored (vector, query) pairs per task CPU second in the kernel runs", FlatMoves),
    lo("store.bytes", "bytes", "bytes under the store root at the end of the run", "disk_bytes_per_live_byte"),
    lo("store.files", "count", "files under the store root at the end of the run", "disk_bytes_per_live_byte"),
    lo("store.log_files", "count", "changelog files the next fold reads, mean over traced searches", "search_p50_ms on churn_ivf; constant on read-only workloads"),
    lo("trace.overhead_pct", "%", "traced over untraced median search of the alternating overhead probe, minus 1", "none (cost of tracing)"),
    lo("check.error_rate", "ratio", "failed or wrong facade calls over attempted calls", "none (must stay 0)"),
  )

  private def ms(cs: Seq[Call]): Seq[Double] = cs.map(_.ms)
  private def p(xs: Seq[Double], q: Double): Double = if (xs.isEmpty) 0.0 else Stats.percentile(xs, q)

  private def isWrite(c: Call) = c.kind == "upsert" || c.kind == "delete"


  /** Tracing overhead (%) from the probe's traced and untraced searches,
    * and whether it is resolved: the two medians differ by more than the
    * wider of the two sides' ranges. */
  def overhead(run: WorkloadRun): (Double, Boolean) = {
    val probe = run.rec.calls.toSeq.filter(c => c.phase == "probe" && c.ok)
    val (t, u) = probe.partition(_.traced)
    def range(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.max - xs.min
    val (mt, mu) = (p(ms(t), 50), p(ms(u), 50))
    (100 * (mt / mu - 1), math.abs(mt - mu) > math.max(range(ms(t)), range(ms(u))))
  }

  /** The untraced run's metrics. */
  def endToEnd(run: WorkloadRun): Map[String, Double] = {
    val calls = run.rec.calls.toSeq
    val measured = calls.filter(c => c.phase == "measure" && c.ok)
    val searches = measured.filter(_.kind == "search")
    val queries = run.queriesPerSearch.toDouble * searches.length
    Map(
      "setup_s" -> run.setupS,
      "search_p50_ms" -> p(ms(searches), 50),
      "queries_per_s" -> queries / (ms(searches).sum / 1e3),
      "ops_per_s" -> measured.length / (ms(measured).sum / 1e3),
      "upsert_p50_ms" -> p(ms(measured.filter(_.kind == "upsert")), 50),
      "delete_p50_ms" -> p(ms(measured.filter(_.kind == "delete")), 50),
      "compact_p50_ms" -> p(ms(measured.filter(_.kind == "compact")), 50),
      "recall_at_10" -> Stats.mean(run.recalls.toSeq),
      "disk_bytes_per_live_byte" -> run.diskRatio,
    )
  }

  /** The traced run's metrics. `usage` maps a traced call's id to what
    * the listener saw it do. */
  def perLayer(run: WorkloadRun, usage: Map[Long, Ledger.Usage]): Map[String, Double] = {
    val calls = run.rec.calls.toSeq
    val traced = calls.filter(c => c.traced && c.ok)
    val measured = traced.filter(_.phase == "measure")
    val searches = measured.filter(_.kind == "search")
    val writes = measured.filter(isWrite)
    val compacts = measured.filter(_.kind == "compact")
    val setup = traced.filter(_.phase == "setup")
    val kernel = traced.filter(_.kind == "kernel")
    def u(c: Call) = usage(c.id)
    def mean(cs: Seq[Call])(f: Ledger.Usage => Double): Double =
      if (cs.isEmpty) 0.0 else cs.map(c => f(u(c))).sum / cs.length
    def driver(cs: Seq[Call]) = p(cs.map(c => c.ms - u(c).jobMs), 50)
    def setupMs(kind: String) = setup.filter(_.kind == kind).map(_.ms).sum
    val kernelCpuS = kernel.map(c => u(c).taskCpuMs).sum / 1e3
    val last = run.rec.listings.lastOption.map(_._3)
    Map(
      "api.search.plan_ms" -> p(searches.map(_.planMs), 50),
      "api.search.exec_ms" -> p(searches.map(_.execMs), 50),
      "api.driver_ms_per_search" -> driver(searches),
      "api.driver_ms_per_write" -> driver(writes),
      "api.driver_ms_per_compact" -> driver(compacts),
      "api.upsert_ms" -> p(ms(writes.filter(_.kind == "upsert")), 50),
      "api.delete_ms" -> p(ms(writes.filter(_.kind == "delete")), 50),
      "api.compact_ms" -> p(ms(compacts), 50),
      "api.train_ms" -> setupMs("train"),
      "api.build_ms" -> setupMs("build"),
      "api.ingest_ms" -> setupMs("upsert"),
      "spark.jobs_per_search" -> mean(searches)(_.jobs.length),
      "spark.jobs_per_write" -> mean(writes)(_.jobs.length),
      "spark.jobs_per_compact" -> mean(compacts)(_.jobs.length),
      "spark.jobs_setup" -> setup.map(c => u(c).jobs.length.toDouble).sum,
      "spark.stages_per_search" -> mean(searches)(_.stages),
      "spark.tasks_per_search" -> mean(searches)(_.tasks),
      "spark.job_ms_per_search" -> mean(searches)(_.jobMs),
      "spark.job_ms_per_write" -> mean(writes)(_.jobMs),
      "spark.job_ms_per_compact" -> mean(compacts)(_.jobMs),
      "spark.task_run_ms_per_search" -> mean(searches)(_.taskRunMs),
      "spark.task_cpu_ms_per_search" -> mean(searches)(_.taskCpuMs),
      "spark.task_gc_ms_per_search" -> mean(searches)(_.taskGcMs),
      "spark.sched_wait_ms_per_search" -> mean(searches)(_.schedWaitMs),
      "spark.shuffle_bytes_per_search" -> mean(searches)(_.shuffleBytes),
      "spark.input_bytes_per_search" -> mean(searches)(_.inputBytes),
      "spark.bytes_written_per_write" -> mean(writes)(_.writtenBytes),
      "spark.bytes_written_per_compact" -> mean(compacts)(_.writtenBytes),
      "spark.spill_bytes" -> traced.map(c => u(c).spillBytes).sum,
      "kernel.score_topk_ms" -> p(ms(kernel), 50),
      "kernel.pairs_per_cpu_s" ->
        (if (kernelCpuS > 0) run.kernelPairs.toDouble * kernel.length / kernelCpuS else 0.0),
      "store.bytes" -> last.fold(0.0)(_.bytes.toDouble),
      "store.files" -> last.fold(0.0)(_.files.toDouble),
      "store.log_files" -> Stats.mean(run.logFilesAtSearch.toSeq.map(_.toDouble)),
      "trace.overhead_pct" -> overhead(run)._1,
      "check.error_rate" -> run.errorRate,
    )
  }
}
