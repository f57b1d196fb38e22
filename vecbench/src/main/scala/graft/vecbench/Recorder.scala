package graft.vecbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Row}

/** Times every facade call the benchmark makes. With tracing on it also
  * keeps spans, tags each call's Spark jobs with a job group, and feeds
  * the [[Ledger]] listener; with tracing off it records only the calls'
  * start and end. */
final class Recorder(sc: SparkContext) {
  import Recorder._

  val calls = mutable.ArrayBuffer[Call]()
  val spans = mutable.ArrayBuffer[Span]()
  val ledger = new Ledger
  /** Store listings taken while tracing: (phase, instant, listing). */
  val listings = mutable.ArrayBuffer[(String, Long, Store.Listing)]()

  /** The phase new calls belong to (set-up, warm-up, measured, ...). */
  var phase: String = "setup"
  private var tracingOn = false
  private var nextId = 0L
  private var open: List[Long] = Nil
  private var currentCall = -1L

  def tracing: Boolean = tracingOn

  /** Turn tracing on or off between calls. */
  def setTracing(on: Boolean): Unit = if (on != tracingOn) {
    if (on) sc.addSparkListener(ledger)
    else {
      org.apache.spark.vecbench.BusDrain.drain(sc)
      sc.removeSparkListener(ledger)
    }
    tracingOn = on
  }

  /** A span around `body` when tracing; just `body` otherwise. Spans
    * inside a facade call carry its id. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!tracingOn) body
    else {
      val id = nextId; nextId += 1
      val parent = open.headOption.getOrElse(-1L)
      open = id :: open
      val s = System.nanoTime()
      try body
      finally {
        open = open.tail
        spans += Span(id, parent, name, layer, s, System.nanoTime(), currentCall)
      }
    }

  /** One facade call of `kind`. A call that throws is recorded as failed
    * and rethrows. */
  def call[T](kind: String, layer: String = "api")(body: => T): T = {
    val id = nextId; nextId += 1
    if (tracingOn) sc.setJobGroup(Ledger.groupOf(id), s"vecbench $kind", interruptOnCancel = false)
    val ms = System.currentTimeMillis()
    val s = System.nanoTime()
    var ok = false
    currentCall = id
    try {
      val r = span(kind, layer)(body)
      ok = true
      r
    } finally {
      val e = System.nanoTime()
      currentCall = -1L
      if (tracingOn) sc.clearJobGroup()
      calls += Call(id, kind, phase, s, e, lastPlanNs, ms, System.currentTimeMillis(), ok, tracingOn)
      lastPlanNs = -1L
    }
  }

  private var lastPlanNs = -1L

  /** One `searchAll`-style call: `plan` builds the lazy result (any jobs
    * the facade runs while building it count as plan time), `collect()`
    * is the action. */
  def search(kind: String)(plan: => DataFrame): Array[Row] = call(kind) {
    val s = System.nanoTime()
    val df = span("plan", "api")(plan)
    lastPlanNs = System.nanoTime() - s
    span("exec", "api")(df.collect())
  }

  /** List the store root, when tracing. */
  def list(root: java.nio.file.Path, what: String): Unit =
    if (tracingOn) listings += ((what, System.nanoTime(), Store.list(root)))
}

object Recorder {
  /** One facade call. `planNs` is the plan part of a search, −1 otherwise. */
  final case class Call(id: Long, kind: String, phase: String, startNs: Long, endNs: Long,
                        planNs: Long, startMs: Long, endMs: Long, ok: Boolean, traced: Boolean) {
    def ms: Double = (endNs - startNs) / 1e6
    def planMs: Double = planNs / 1e6
    def execMs: Double = ms - planMs
  }
}
