package graft.vecbench

import java.io.PrintStream
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark's entry point:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work-dir <dir>
  * [--trace-dir <dir>]`.
  *
  * Prints one JSON object as the last line of stdout: `correct`,
  * `attempted`, `failed` and `metrics` (end-to-end metrics untraced,
  * per-layer metrics traced). A traced run also writes its spans and
  * per-layer roll-up to the trace directory. `--list-metrics` prints
  * the catalogue instead. Everything else goes to stderr. */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (args.contains("--list-metrics")) { listMetrics(); return }
    val w = Workloads.All.find(_.name == opts.getOrElse("workload", ""))
      .getOrElse(sys.error(s"--workload must be one of ${Workloads.All.map(_.name).mkString(", ")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts.getOrElse("trace", "0") == "1"
    val workDir = Paths.get(opts("work-dir")).toAbsolutePath
    // stdout carries only the result line
    val out = System.out
    System.setOut(new PrintStream(new java.io.FileOutputStream(java.io.FileDescriptor.err), true))

    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"vecbench ${w.name}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val run = new WorkloadRun(spark, w, seed, seconds, traced, workDir)
      run.execute()
      val metrics =
        if (!traced) Metrics.endToEnd(run)
        else {
          run.rec.setTracing(false) // drains the listener bus
          val usage = attribute(run)
          val m = Metrics.perLayer(run, usage)
          writeTrace(run, w, seed, usage, m,
            opts.get("trace-dir").fold(workDir.resolve("traces"))(Paths.get(_)))
          m
        }
      val units = (Metrics.EndToEnd ++ Metrics.PerLayer).map(m => m.name -> m.unit).toMap
      run.problems.take(20).foreach(p => System.err.println(s"CHECK FAILED: $p"))
      metrics.toSeq.sortBy(_._1).foreach { case (k, v) =>
        System.err.println(f"  $k%-34s $v%16.4f ${units(k)}")
      }
      val result = Map(
        "correct" -> (run.failedCalls == 0 && run.problems.isEmpty),
        "attempted" -> run.rec.calls.length,
        "failed" -> run.failedCalls,
        "metrics" -> metrics.map { case (k, v) => k -> Map("value" -> v, "unit" -> units(k)) })
      out.println(Json.render(result))
      out.flush()
    } finally spark.stop()
  }

  private def listMetrics(): Unit = {
    println("end-to-end (untraced run, --trace 0):")
    Metrics.EndToEnd.foreach(m => println(f"  ${m.name}%-34s ${m.unit}%-6s ${m.better}%-7s ${m.what}"))
    println("per-layer (traced run, --trace 1):")
    Metrics.PerLayer.foreach { m =>
      println(f"  ${m.name}%-34s ${m.unit}%-6s ${m.better}%-7s ${m.what}")
      println(f"  ${""}%-34s should move: ${m.moves}")
    }
    println("workloads:")
    Workloads.All.foreach(w => println(f"  ${w.name}%-10s ${w.why}"))
  }

  /** Jobs per traced call. */
  private def attribute(run: WorkloadRun): Map[Long, Ledger.Usage] = {
    val (jobs, tasks, stages) = run.rec.ledger.snapshot()
    val windows = run.rec.calls.filter(_.traced).map(c => Ledger.Window(c.id, c.startMs, c.endMs)).toSeq
    Ledger.attribute(jobs, tasks, stages, windows)
  }

  /** The traced run's span file: every span (bench, api, kernel, and the
    * Spark jobs under the api span that was open when each started), the
    * per-layer self-time roll-up, the per-call-kind split of wall time into
    * driver time and job time, and the store listings. */
  private def writeTrace(run: WorkloadRun, w: Workloads.Def, seed: Long,
                         usage: Map[Long, Ledger.Usage], metrics: Map[String, Double],
                         dir: Path): Unit = {
    val rec = run.rec
    // listener times are wall-clock ms; spans are nanoTime
    val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
    def ns(ms: Long) = ms * 1000000L - offsetNs
    val bySpanCall = rec.spans.filter(_.call >= 0).groupBy(_.call)
    var nextId = rec.spans.map(_.id).maxOption.getOrElse(0L) + 1
    val jobSpans = usage.toSeq.flatMap { case (call, u) =>
      val inCall = bySpanCall.getOrElse(call, Seq.empty).toSeq
      val callSpan = inCall.maxByOption(_.durNs)
      u.jobs.flatMap { j =>
        val s = ns(j.startMs)
        val parent = Trace.innermost(inCall, s).orElse(callSpan)
        parent.map { p =>
          nextId += 1
          Span(nextId, p.id, s"job ${j.id}", "spark", math.max(s, p.startNs),
            math.max(math.min(ns(j.endMs), p.endNs), math.max(s, p.startNs)), call)
        }
      }
    }
    val spans = rec.spans.toSeq ++ jobSpans
    val self = Trace.selfTimes(spans)
    val t0 = spans.map(_.startNs).minOption.getOrElse(0L)
    val roots = spans.filter(_.parent == -1L)
    val total = roots.map(_.durNs).sum / 1e6
    val rollup = Trace.rollup(spans).map { case (layer, (n, selfMs)) =>
      layer -> Map("spans" -> n, "self_ms" -> selfMs, "share" -> selfMs / total)
    }
    val traced = rec.calls.filter(_.traced).toSeq
    val byKind = traced.groupBy(c => (c.phase, c.kind)).toSeq.sortBy(_._1).map { case ((ph, kind), cs) =>
      val wall = cs.map(_.ms).sum
      val job = cs.map(c => usage(c.id).jobMs).sum
      Map("phase" -> ph, "kind" -> kind, "calls" -> cs.length, "wall_ms" -> wall,
        "job_ms" -> job, "driver_ms" -> (wall - job),
        "jobs" -> cs.map(c => usage(c.id).jobs.length).sum,
        "tasks" -> cs.map(c => usage(c.id).tasks).sum,
        "task_cpu_ms" -> cs.map(c => usage(c.id).taskCpuMs).sum,
        "sched_wait_ms" -> cs.map(c => usage(c.id).schedWaitMs).sum,
        "bytes_written" -> cs.map(c => usage(c.id).writtenBytes).sum,
        "shuffle_bytes" -> cs.map(c => usage(c.id).shuffleBytes).sum)
    }
    val doc = Map(
      "workload" -> w.name, "seed" -> seed,
      "traced_ms" -> total,
      "tracing_overhead_pct" -> metrics("trace.overhead_pct"),
      "tracing_overhead_resolved" -> Metrics.overhead(run)._2,
      "rollup_by_layer" -> rollup,
      "split_by_call" -> byKind,
      "store_listings" -> rec.listings.map { case (what, t, l) =>
        Map("after" -> what, "at_ms" -> (t - t0) / 1e6, "bytes" -> l.bytes, "files" -> l.files,
          "log_files" -> l.logFiles)
      },
      "spans" -> spans.sortBy(_.startNs).map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
          "call" -> s.call, "start_ms" -> (s.startNs - t0) / 1e6, "dur_ms" -> s.durNs / 1e6,
          "self_ms" -> self(s.id) / 1e6)
      })
    Files.createDirectories(dir)
    val file = dir.resolve(s"${w.name}-seed$seed.json")
    Files.writeString(file, Json.render(doc))
    System.err.println(s"trace: $file")
    System.err.println(f"roll-up by layer (self time of ${total}%.0f ms traced):")
    rollup.toSeq.sortBy(-_._2("self_ms").asInstanceOf[Double]).foreach { case (l, m) =>
      System.err.println(f"  $l%-8s ${m("self_ms").asInstanceOf[Double]}%10.1f ms  ${100 * m("share").asInstanceOf[Double]}%5.1f%%  ${m("spans")} spans")
    }
    val (pct, resolved) = Metrics.overhead(run)
    System.err.println(f"tracing overhead: $pct%.1f%% " +
      (if (resolved) "(resolved)" else "(unresolved: within the probe's own spread)"))
    System.err.println("wall time by call: driver vs Spark jobs")
    byKind.foreach { m =>
      System.err.println(f"  ${m("phase")}%-8s ${m("kind")}%-12s ${m("calls")}%4s calls  wall ${m("wall_ms").asInstanceOf[Double]}%9.1f ms  driver ${m("driver_ms").asInstanceOf[Double]}%9.1f ms  jobs ${m("job_ms").asInstanceOf[Double]}%9.1f ms (${m("jobs")} jobs)")
    }
  }
}
