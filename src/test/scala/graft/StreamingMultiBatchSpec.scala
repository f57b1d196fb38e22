package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.streaming.Streams

/** Multi-micro-batch streaming semantics: the events arrive in TWO
  * time-ordered batches, so the watermark actually advances between
  * micro-batches (round 1's single-file source never advanced it — append
  * mode emitted nothing and state carry-over was never exercised). */
case class Ev(event_id: Long, user_id: Long, event_type: String, value: Double, ms: Long)

class StreamingMultiBatchSpec extends GraftSuite {
  import spark.implicits._

  private def orderedEvents(): (Seq[Ev], Seq[Ev]) = {
    val ev = Tables.events(spark, sf)
      .selectExpr("event_id", "user_id", "event_type", "value", "ts div 1000000 AS ms")
      .as[Ev].collect().sortBy(e => (e.ms, e.event_id)).toSeq
    ev.splitAt(ev.length / 2)
  }

  test("append-mode windowed agg emits once the watermark advances; emitted windows match batch") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (b1, b2) = orderedEvents()
    val stream = MemoryStream[Ev]
    val agg = Streams.tumblingAgg(
      stream.toDF().withColumn("ts_us", timestamp_micros($"ms" * 1000)))
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("graft_mb_windows").start()
    try {
      stream.addData(b1)
      q.processAllAvailable()
      val afterB1 = spark.table("graft_mb_windows").count()
      stream.addData(b2)
      q.processAllAvailable()
      val afterB2 = spark.table("graft_mb_windows").count()
      assert(afterB2 > afterB1,
        s"second micro-batch emitted nothing ($afterB1 -> $afterB2) — watermark did not advance")

      val emitted = spark.table("graft_mb_windows")
        .select("hour_bucket", "event_type", "n")
        .as[(Long, String, Long)].collect().toSet
      val batch = run("e1_tumbling_window")
        .select("hour_bucket", "event_type", "n")
        .as[(Long, String, Long)].collect().toSet
      // append emits only finalized windows — but every emitted one must be
      // bit-identical to the batch answer
      assert(emitted.subsetOf(batch), s"emitted windows disagree with batch: ${(emitted -- batch).take(3)}")
      // and every window strictly below the batch-1 watermark MUST have been
      // finalized and emitted by batch 2
      val wm1 = b1.map(_.ms).max - 2L * 3600 * 1000
      val mustEmit = batch.filter { case (hb, _, _) => (hb + 1) * 3600000L < wm1 }
      assert(mustEmit.subsetOf(emitted),
        s"windows below the watermark were not emitted: ${(mustEmit -- emitted).take(3)}")
      assert(mustEmit.nonEmpty, "test is vacuous — no window closed below the first watermark")
    } finally q.stop()
  }

  test("late rows are dropped BY THE WATERMARK, visibly: numRowsDroppedByWatermark > 0") {
    // observability contract: when the watermark drops a late event, the
    // operator must SAY so in its progress metrics — silent late-data loss
    // is undebuggable at 100 TB. Feed time-ordered data, advance the
    // watermark past hour H, then deliver a straggler inside H.
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (b1, b2) = orderedEvents()
    val stream = MemoryStream[Ev]
    val agg = Streams.tumblingAgg(
      stream.toDF().withColumn("ts_us", timestamp_micros($"ms" * 1000)))
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("graft_mb_late").start()
    try {
      stream.addData(b1); q.processAllAvailable()
      stream.addData(b2); q.processAllAvailable()
      // a straggler 12 hours before the max event time — far below the
      // 2-hour watermark delay, in a window long since finalized
      val lateMs = (b1 ++ b2).map(_.ms).max - 12L * 3600 * 1000
      stream.addData(Seq(Ev(999999L, 1L, "view", 1.0, lateMs)))
      q.processAllAvailable()
      val dropped = q.recentProgress.flatMap(_.stateOperators)
        .map(_.numRowsDroppedByWatermark).sum
      assert(dropped > 0L, "the watermark silently swallowed a late row with no metric")
      // and the finalized results never saw it: the straggler's window was
      // emitted before the straggler arrived, with the on-time count
      val lateBucket = lateMs / 3600000L
      val emitted = spark.table("graft_mb_late")
        .filter($"hour_bucket" === lateBucket && $"event_type" === "view")
        .select("n").as[Long].collect()
      val onTime = (b1 ++ b2).count(e => e.ms / 3600000L == lateBucket && e.event_type == "view")
      emitted.foreach(n => assert(n === onTime.toLong, "late row leaked into a finalized window"))
    } finally q.stop()
  }

  test("streaming exact dedup drops cross-batch duplicates (watermark-bounded state)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // key stream: (event-time ms, dedup key); batch 2 repeats half of
    // batch 1's keys — the duplicates span the micro-batch boundary, so
    // dropping them requires state to survive between batches
    val keys = (0L until 200L).map(i => (i, s"k${i % 120}"))
    val (b1, b2) = keys.splitAt(100)
    val stream = MemoryStream[(Long, String)]
    val deduped = Streams.dedupStream(
      stream.toDF().toDF("ms", "h").withColumn("ts_us", timestamp_micros($"ms" * 1000)))
    val q = deduped.writeStream.outputMode("append").format("memory")
      .queryName("graft_mb_dedup").start()
    try {
      stream.addData(b1)
      q.processAllAvailable()
      stream.addData(b2)
      q.processAllAvailable()
      val out = spark.table("graft_mb_dedup").select("h").as[String].collect()
      assert(out.length === out.distinct.length, "a duplicate key was emitted twice")
      assert(out.toSet === keys.map(_._2).toSet.filter(_ => true),
        "some key never made it through")
      assert(out.length === 120)
    } finally q.stop()
  }

  test("stream-stream interval join across batch boundary == batch join") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ev = Tables.events(spark, sf)
      .selectExpr("event_id", "user_id", "event_type", "ts div 1000000 AS ms")
      .as[(Long, Long, String, Long)].collect().sortBy(_._4)
    val mid = ev(ev.length / 2)._4
    def feed(kind: String) = ev.filter(_._3 == kind).map(e => (e._1, e._2, e._4))
    val (p1, p2) = feed("purchase").partition(_._3 < mid)
    val (c1, c2) = feed("click").partition(_._3 < mid)

    val pStream = MemoryStream[(Long, Long, Long)]
    val cStream = MemoryStream[(Long, Long, Long)]
    def shape(df: org.apache.spark.sql.DataFrame, pfx: String) = df
      .toDF(s"${pfx}_id", s"${pfx}_user", "ms")
      .withColumn(s"${pfx}_ts", timestamp_micros($"ms" * 1000)).drop("ms")
    val joined = Streams.intervalJoinStream(
      shape(pStream.toDF(), "p"), shape(cStream.toDF(), "c"))
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("graft_mb_ssjoin").start()
    try {
      pStream.addData(p1); cStream.addData(c1)
      q.processAllAvailable()
      pStream.addData(p2); cStream.addData(c2)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("graft_mb_ssjoin").as[(Long, Long)].collect().toSet

    val e = Tables.events(spark, sf).selectExpr("event_id", "user_id", "event_type", "ts div 1000000 AS ms")
    val want = e.filter($"event_type" === "purchase").select($"event_id".as("p_id"), $"user_id".as("u"), $"ms".as("pms"))
      .join(e.filter($"event_type" === "click").select($"event_id".as("c_id"), $"user_id".as("cu"), $"ms".as("cms")),
        $"u" === $"cu" && $"cms" >= $"pms" - 21600000L && $"cms" <= $"pms")
      .select($"p_id", $"c_id").as[(Long, Long)].collect().toSet
    assert(want.nonEmpty, "batch join found no pairs — vacuous")
    assert(got === want, s"stream join diverged: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("streaming LSH ingestion: foreachBatch-appended index search == fresh build") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val table = "graft_idx_lsh_stream"
    operators.Persist.dropIndexTable(spark, table)
    operators.Persist.dropIndexTable(spark, table + "_commits")
    val embDf = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
    val all = embDf.as[(Long, Array[Float])].collect().toSeq
    val (b1, b2) = all.partition(_._1 < 250) // delta arrives in batch 2
    val stream = MemoryStream[(Long, Array[Float])]
    val q = Streams.lshIngestStream(
      stream.toDF().toDF("vec_id", "embedding"), table, 4, 12, 5000)
    try {
      stream.addData(b1)
      q.processAllAvailable()
      stream.addData(b2)
      q.processAllAvailable()
    } finally q.stop()
    val queries = embDf.filter($"vec_id" < 8)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val got = operators.Lsh.searchIndex(
      spark.table(table), embDf, queries, 4, 12, 5000, 10).collect().toSeq
    val want = operators.Lsh.searchIndex(
      operators.Lsh.keyRows(embDf, 4, 12, 5000), embDf, queries, 4, 12, 5000, 10)
      .collect().toSeq
    assert(got.nonEmpty && got === want,
      "stream-ingested index diverged from fresh build")

    // Replay idempotency: a fresh run of the same source restarts batchIds
    // at 0 — the commit-log guard must recognize them as already committed
    // and skip the append, leaving the index bit-identical.
    val rowsBefore = spark.table(table).count()
    val replay = MemoryStream[(Long, Array[Float])]
    val q2 = Streams.lshIngestStream(
      replay.toDF().toDF("vec_id", "embedding"), table, 4, 12, 5000)
    try {
      replay.addData(b1)
      q2.processAllAvailable()
    } finally q2.stop()
    assert(spark.table(table).count() === rowsBefore,
      "replayed micro-batch double-appended despite the batchId commit log")
  }

  test("s21 streaming binary ingest: appended sign words search == fresh pack; replay is a no-op") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val table = "graft_idx_binary_stream"
    operators.Persist.dropIndexTable(spark, table)
    operators.Persist.dropIndexTable(spark, table + "_commits")
    val embDf = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
    val all = embDf.as[(Long, Array[Float])].collect().toSeq
    val (b1, b2) = all.partition(_._1 < 250)
    val stream = MemoryStream[(Long, Array[Float])]
    val q = Streams.binaryIngestStream(stream.toDF().toDF("vec_id", "embedding"), table)
    try {
      stream.addData(b1); q.processAllAvailable()
      stream.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val queries = embDf.filter($"vec_id" < 8)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val got = Streams.binarySearchPacked(spark.table(table), embDf, queries).collect().toSeq
    val freshPacked = embDf.select($"vec_id",
      operators.Knn.signWordExpr("embedding", 0).as("w0"),
      operators.Knn.signWordExpr("embedding", 1).as("w1"))
    val want = Streams.binarySearchPacked(freshPacked, embDf, queries).collect().toSeq
    assert(got.nonEmpty && got === want, "stream-ingested binary index diverged from fresh pack")

    // replay: fresh source restarts batchIds at 0 — commit log must skip
    val rowsBefore = spark.table(table).count()
    val replay = MemoryStream[(Long, Array[Float])]
    val q2 = Streams.binaryIngestStream(replay.toDF().toDF("vec_id", "embedding"), table)
    try { replay.addData(b1); q2.processAllAvailable() } finally q2.stop()
    assert(spark.table(table).count() === rowsBefore,
      "replayed micro-batch double-appended despite the batchId commit log")
  }

  test("streaming IVF ingestion: trained-quantizer appends; pruned search == fresh trained build") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val table = "graft_idx_ivf_stream"
    operators.Persist.dropIndexTable(spark, table)
    // the size sidecar belongs to the lists artifact — rebuilding the
    // lists from scratch must reset it too, or increments from prior
    // sessions double-count (the warehouse persists across JVM runs)
    operators.Persist.dropIndexTable(spark, table + "_sizes")
    val embDf = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
    val all = embDf.as[(Long, Array[Float])].collect().toSeq
    val (b1, b2) = all.partition(_._1 < 250) // second segment arrives later
    val stream = MemoryStream[(Long, Array[Float])]
    val q = Streams.ivfIngestStream(stream.toDF().toDF("vec_id", "embedding"), sf, table)
    try {
      stream.addData(b1)
      q.processAllAvailable()
      stream.addData(b2)
      q.processAllAvailable()
    } finally q.stop()

    // serve the STREAMED lists through the identical pruned plan and
    // compare against the batch-built trained round-trip (same registry
    // quantizer, same corpus -> must be bit-identical)
    val path = spark.conf.get("spark.sql.warehouse.dir") + "/" + table
    val mat = operators.Ivf.trainedCentroidsFor(spark, sf, 5)
    val got = operators.Persist.probedListsSearch(spark, embDf, path, mat).collect().toSet
    val want = operators.Persist.trainedIvfPersistSearch(spark, sf).collect().toSet
    assert(got.nonEmpty && got === want,
      "stream-ingested IVF lists diverged from the fresh trained build")

    // the streamed directories prune on probe exactly like batch-built ones
    val probed = spark.read.parquet(path).filter($"cluster_id".isin(1L, 3L))
    probed.collect()
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cluster_id"),
      s"streamed IVF lists do not partition-prune:\n${plan.take(600)}")

    // replay idempotency: a restarted source re-delivers batch 0 — the
    // batch-keyed overwrite rewrites batch_id=0 row-identically instead
    // of appending a second copy (directory presence IS the commit)
    val rowsBefore = spark.read.parquet(path).count()
    val replay = MemoryStream[(Long, Array[Float])]
    val q2 = Streams.ivfIngestStream(replay.toDF().toDF("vec_id", "embedding"), sf, table)
    try {
      replay.addData(b1)
      q2.processAllAvailable()
    } finally q2.stop()
    assert(spark.read.parquet(path).count() === rowsBefore,
      "replayed micro-batch double-appended despite the batch-keyed overwrite")

    // size-sidecar maintenance: the SUM-fold of the per-batch increments
    // equals a fresh groupBy count over the streamed lists bit-for-bit —
    // including across the replay (skipped batches append no increments),
    // so v53-style probe budgeting can read sizes without touching lists
    val sizeState = Streams.ivfSizeState(spark, table)
    val gotSizes = sizeState.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wantSizes = spark.read.parquet(path)
      .groupBy($"cluster_id".cast("long").as("cluster_id"))
      .agg(count(lit(1)).as("csize"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotSizes === wantSizes, "streamed size sidecar diverges from the lists")
    // and the fold itself never scans the lists — metadata stays metadata
    val sizeRoots = PlanScans.roots(sizeState).map(_.stripSuffix("/"))
    assert(sizeRoots.nonEmpty && sizeRoots.forall(_.endsWith(s"/${table}_sizes")),
      s"size fold scans the lists: $sizeRoots")

    // crash-window repair: kill the store exactly BETWEEN batch 1's list
    // write and its sidecar write (the window the old commit-log protocol
    // could only document) by deleting the sidecar's batch_id=1 directory,
    // then replay both batches — the batch-keyed overwrite rewrites each
    // batch's own directories row-identically, restoring sidecar ≡ lists
    // without double-appending a single list row
    val whDir = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    def rmTree(p: java.nio.file.Path): Unit = {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
      finally s.close()
    }
    rmTree(java.nio.file.Paths.get(whDir, table + "_sizes", "batch_id=1"))
    assert(Streams.ivfSizeState(spark, table).agg(sum($"csize")).head.getLong(0)
      < rowsBefore, "crash simulation did not lose the sidecar increment")
    val repair = MemoryStream[(Long, Array[Float])]
    val q3 = Streams.ivfIngestStream(repair.toDF().toDF("vec_id", "embedding"), sf, table)
    try {
      repair.addData(b1); q3.processAllAvailable()
      repair.addData(b2); q3.processAllAvailable()
    } finally q3.stop()
    assert(spark.read.parquet(path).count() === rowsBefore,
      "crash-repair replay double-appended list rows")
    val repairedSizes = Streams.ivfSizeState(spark, table)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(repairedSizes === wantSizes,
      "replay did not restore sidecar ≡ lists after a between-writes crash")

    // compaction: new generation has identical content (pruned search
    // bit-equal) in fewer files per cluster directory
    def parquetFiles(p: String): Long = {
      val root = java.nio.file.Paths.get(p.stripPrefix("file:"))
      val s = java.nio.file.Files.walk(root)
      try s.filter(f => f.toString.endsWith(".parquet")).count()
      finally s.close()
    }
    Streams.compactIvfLists(spark, table, table + "_gen2")
    val path2 = spark.conf.get("spark.sql.warehouse.dir") + "/" + table + "_gen2"
    val gotCompacted = operators.Persist.probedListsSearch(spark, embDf, path2, mat).collect().toSet
    assert(gotCompacted === want, "compacted generation diverged from the raw appends")
    assert(parquetFiles(path2) < parquetFiles(path),
      s"compaction did not reduce file count (${parquetFiles(path2)} vs ${parquetFiles(path)})")
  }

  test("ivf ingest guards: legacy flat layout refused with migration guidance; swap leaves no residue; checkpoint accepted") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val whDir = spark.conf.get("spark.sql.warehouse.dir")
    val small = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().take(20).toSeq

    // 1. legacy layout: flat cluster_id= dirs at the table root (the
    // retired append+commit-log protocol) — the FIRST batch must refuse
    // loudly instead of writing a mixed-depth tree that fails every read
    val legacy = "graft_idx_ivf_legacyguard"
    operators.Persist.dropIndexTable(spark, legacy)
    operators.Persist.dropIndexTable(spark, legacy + "_sizes")
    Seq((1L, Array(0.1f, 0.2f), 3L)).toDF("vec_id", "embedding", "cluster_id")
      .write.partitionBy("cluster_id").parquet(s"$whDir/$legacy")
    val ls = MemoryStream[(Long, Array[Float])]
    val lq = Streams.ivfIngestStream(ls.toDF().toDF("vec_id", "embedding"), sf, legacy)
    ls.addData(small)
    val err = intercept[Throwable] { lq.processAllAvailable() }
    lq.stop()
    def causes(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(causes(err).exists(c => c.isInstanceOf[IllegalStateException] &&
      c.getMessage.contains("retired flat cluster_id= layout")),
      s"legacy layout not refused with guidance: $err")
    // nothing was interleaved into the legacy tree
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
      s"$whDir/$legacy/batch_id=0".stripPrefix("file:"))),
      "refused batch still wrote into the legacy tree")

    // 2. clean table + explicit checkpoint: ingests, and the staged swap
    // leaves neither staging batch dirs nor hidden asides behind
    val table = "graft_idx_ivf_ckpt"
    operators.Persist.dropIndexTable(spark, table)
    operators.Persist.dropIndexTable(spark, table + "_sizes")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val cs = MemoryStream[(Long, Array[Float])]
    val cq = Streams.ivfIngestStream(cs.toDF().toDF("vec_id", "embedding"), sf, table,
      checkpoint = Some(ckpt))
    try {
      cs.addData(small)
      cq.processAllAvailable()
    } finally cq.stop()
    assert(spark.read.parquet(s"$whDir/$table").count() === small.length.toLong)
    val ckptFiles = java.nio.file.Files.list(java.nio.file.Paths.get(ckpt))
    try assert(ckptFiles.iterator().hasNext, "checkpoint location unused")
    finally ckptFiles.close()
    def residue(root: String, pred: String => Boolean): Seq[String] = {
      val p = java.nio.file.Paths.get(root.stripPrefix("file:"))
      if (!java.nio.file.Files.exists(p)) Seq.empty
      else {
        val s = java.nio.file.Files.walk(p)
        try {
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          s.forEach(f => if (pred(f.getFileName.toString)) out += f.toString)
          out.toSeq
        } finally s.close()
      }
    }
    assert(residue(s"$whDir/${table}_staging", _.startsWith("batch_id=")).isEmpty,
      "staged batch directory left behind after the swap")
    assert(residue(s"$whDir/$table", _.endsWith("_replaced")).isEmpty &&
      residue(s"$whDir/${table}_sizes", _.endsWith("_replaced")).isEmpty,
      "hidden aside directory left behind after the swap")
  }

  test("checkpointed ivf ingest: a RESTARTED query continues the batch numbering — no replays, prior batches byte-identical, sidecar ≡ lists") {
    // the r15 durability precondition made executable: the batch-keyed
    // overwrite protocol is exactly-once across REAL restarts only when
    // the query resumes from the same checkpoint over a replayable
    // source — a file source + explicit checkpointLocation is that
    // contract; MemoryStream (the other ivf tests) can only exercise
    // same-process replays
    val table = "graft_idx_ivf_restart"
    operators.Persist.dropIndexTable(spark, table)
    operators.Persist.dropIndexTable(spark, table + "_sizes")
    val whDir = spark.conf.get("spark.sql.warehouse.dir")
    import spark.implicits._
    val all = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().toSeq
    val srcDir = java.nio.file.Files.createTempDirectory("graft_restart_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_restart_ckpt").toString
    def land(n: Int, rows: Seq[(Long, Array[Float])]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_onefile").toString
      rows.toDF("vec_id", "embedding").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(srcDir, f"f$n%02d.parquet"))
    }
    val sch = new org.apache.spark.sql.types.StructType()
      .add("vec_id", org.apache.spark.sql.types.LongType)
      .add("embedding", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType))
    def startQ() = Streams.ivfIngestStream(
      spark.readStream.schema(sch).option("maxFilesPerTrigger", "1").parquet(srcDir),
      sf, table, checkpoint = Some(ckpt))
    def stamps(p: String): Map[String, Long] = {
      val d = new java.io.File(p.stripPrefix("file:"))
      if (!d.exists()) Map.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    def batchDirs(): Seq[String] = {
      val d = new java.io.File(s"$whDir/$table".stripPrefix("file:"))
      if (!d.exists()) Seq.empty
      else d.listFiles().map(_.getName).filter(_.startsWith("batch_id=")).sorted.toSeq
    }

    // epoch 1: one file → batch 0
    land(0, all.take(200))
    val q1 = startQ()
    try q1.processAllAvailable() finally q1.stop()
    assert(batchDirs() === Seq("batch_id=0"), s"epoch 1 layout: ${batchDirs()}")
    val b0After1 = stamps(s"$whDir/$table/batch_id=0")

    // epoch 2: the PROCESS restarts (new query, same checkpoint), a new
    // file lands → batch numbering CONTINUES at 1; batch 0 is neither
    // replayed nor rewritten (byte-identical on disk)
    land(1, all.slice(200, 350))
    Thread.sleep(1100) // mtime granularity
    val q2 = startQ()
    try q2.processAllAvailable() finally q2.stop()
    assert(batchDirs() === Seq("batch_id=0", "batch_id=1"), s"epoch 2 layout: ${batchDirs()}")
    assert(stamps(s"$whDir/$table/batch_id=0") === b0After1,
      "restart replayed/rewrote an already-committed batch")

    // epoch 3: restart with NO new data — the checkpoint knows everything
    // was delivered: no new directories, nothing touched
    val b1After2 = stamps(s"$whDir/$table/batch_id=1")
    Thread.sleep(1100)
    val q3 = startQ()
    try q3.processAllAvailable() finally q3.stop()
    assert(batchDirs() === Seq("batch_id=0", "batch_id=1"))
    assert(stamps(s"$whDir/$table/batch_id=0") === b0After1 &&
      stamps(s"$whDir/$table/batch_id=1") === b1After2,
      "an idle restart touched committed batches")

    // the serving invariant across all three epochs: sidecar ≡ lists
    val gotSizes = Streams.ivfSizeState(spark, table)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wantSizes = spark.read.parquet(s"$whDir/$table")
      .groupBy($"cluster_id".cast("long").as("cluster_id"))
      .agg(count(lit(1)).as("csize"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotSizes === wantSizes && gotSizes.values.sum === 350L,
      s"sidecar diverged from the lists after restarts: $gotSizes vs $wantSizes")
  }

  test("streaming Bloom sidecar: OR-folded increments == batch build bit-for-bit; replay harmless; lookups never miss") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val table = "graft_skip_stream"
    operators.Persist.dropIndexTable(spark, table + "_bloom")
    // the SAME (shard, fp) rows p20 derives from the corpus
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val w = docs.agg(expr("(max(doc_id) + 16) div 16")).head.getLong(0)
    val fpCol = operators.Dedup.h60(concat_ws(":", lit("skip"), $"text"))
    val rows = docs.select(expr(s"doc_id div $w").as("shard"), fpCol.as("fp"))
      .as[(Long, Long)].collect().toSeq
    val (b1, b2) = rows.partition(_._1 < 8L) // second half of shards later
    val stream = MemoryStream[(Long, Long)]
    val q = Streams.bloomSidecarStream(stream.toDF().toDF("shard", "fp"), table)
    try {
      stream.addData(b1); q.processAllAvailable()
      stream.addData(b2); q.processAllAvailable()
    } finally q.stop()

    def stateMap(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      df.collect().map(r => r.getLong(0) -> (1 to 16).map(r.getLong).toSeq).toMap
    val streamed = stateMap(Streams.bloomSidecarState(spark, table))
    val batchSide = stateMap(operators.Persist.bloomWordRows(
      spark.createDataFrame(rows).toDF("shard", "fp")))
    assert(streamed === batchSide, "streamed sidecar != batch-built sidecar")

    // replay: a restarted source re-delivers batch 0 WITHOUT any commit
    // log — OR idempotence makes the duplicate a no-op, bit-for-bit
    val replay = MemoryStream[(Long, Long)]
    val q2 = Streams.bloomSidecarStream(replay.toDF().toDF("shard", "fp"), table)
    try { replay.addData(b1); q2.processAllAvailable() } finally q2.stop()
    assert(stateMap(Streams.bloomSidecarState(spark, table)) === batchSide,
      "replayed batch corrupted the OR-fold")

    // a true home is never missed: every probed fingerprint's bits were
    // OR'd in by SOME batch and OR never clears
    val probes = docs.filter($"doc_id".isin(7L, 123L, 456L))
      .select(expr(s"doc_id div $w").as("home"), fpCol.as("fp")).collect()
    probes.foreach { r =>
      assert(operators.Persist.bloomMightContain(
        streamed(r.getLong(0)).toArray, r.getLong(1)),
        s"true home shard ${r.getLong(0)} bloom-missed")
    }
    // and it still PRUNES: an absent fingerprint hits a strict subset
    val absent = Streams.h60jvm("skip:absent-probe")
    val cand = streamed.collect { case (s, ws) if
      operators.Persist.bloomMightContain(ws.toArray, absent) => s }
    assert(cand.size < streamed.size, "sidecar admits every shard (no pruning)")
  }

  test("streaming stats artifact: SUM-folded increments == batch frequency profile; replay and a mid-write crash both leave the fold exact") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val table = "graft_stats_stream"
    operators.Persist.dropIndexTable(spark, table + "_freq")
    val rows = Tables.documents(spark, sf).select($"doc_id", $"lang", $"source")
      .as[(Long, String, String)].collect().toSeq
    val (b1, b2) = rows.partition(_._1 % 2 == 0) // interleaved halves
    val stream = MemoryStream[(Long, String, String)]
    val q = Streams.statsFreqStream(
      stream.toDF().toDF("doc_id", "lang", "source"), table, Seq("lang", "source"))
    try {
      stream.addData(b1); q.processAllAvailable()
      stream.addData(b2); q.processAllAvailable()
    } finally q.stop()

    def freqMap(df: org.apache.spark.sql.DataFrame): Map[(String, String), Long] =
      df.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val streamed = freqMap(Streams.statsFreqState(spark, table))
    // batch twin: the SAME artifact v51's decision reads, over the same rows
    val want = freqMap(
      Tables.documents(spark, sf)
        .groupBy(lit("lang").as("cname"), $"lang".as("v")).agg(count(lit(1)).as("cnt"))
        .unionByName(Tables.documents(spark, sf)
          .groupBy(lit("source").as("cname"), $"source".as("v"))
          .agg(count(lit(1)).as("cnt"))))
    assert(streamed === want, "streamed frequency state != batch profile")

    // SIMULATED CRASH mid-write: batch 0's directory is left holding only
    // a partial slice of its increments (as if the writer died midway) —
    // the fold visibly undercounts...
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val b1df = spark.createDataFrame(b1).toDF("doc_id", "lang", "source")
    b1df.filter($"doc_id" % 4 === 0)
      .select(explode(array(
        struct(lit("lang").as("cname"), $"lang".as("v")),
        struct(lit("source").as("cname"), $"source".as("v")))).as("u"))
      .groupBy($"u.cname".as("cname"), $"u.v".as("v")).agg(count(lit(1)).as("cnt"))
      .write.mode("overwrite").parquet(s"$wh/${table}_freq/batch_id=0")
    assert(freqMap(Streams.statsFreqState(spark, table)) !== want,
      "crash simulation did not perturb the fold — the test proves nothing")
    // ...and the REPLAY (a restarted source re-delivers batch 0) REWRITES
    // the batch directory in place: count increments double-count under
    // blind append, but the batch-keyed overwrite makes the replay
    // idempotent — the fold is bit-identical again, with no commit log
    // and hence no append-vs-commit crash window
    val replay = MemoryStream[(Long, String, String)]
    val q2 = Streams.statsFreqStream(
      replay.toDF().toDF("doc_id", "lang", "source"), table, Seq("lang", "source"))
    try { replay.addData(b1); q2.processAllAvailable() } finally q2.stop()
    assert(freqMap(Streams.statsFreqState(spark, table)) === want,
      "replayed micro-batch failed to repair the crashed batch directory")
  }

  test("streaming upsert -> live index: CDC-maintained index search == fresh build over the u1-merged corpus") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val table = "graft_idx_upsert_stream"
    operators.Persist.dropIndexTable(spark, table)
    operators.Persist.dropIndexTable(spark, table + "_commits")
    val embDf = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
    val all = embDf.as[(Long, Array[Float])].collect().toSeq

    // u1's changelog: batch 1 = the base corpus at version 1; batch 2 =
    // ids [0, 10) receive the vectors of ids [100, 110) at version 2
    val byId = all.toMap
    val b1 = all.map { case (id, v) => (id, v, 1L) }
    val b2 = (0L until 10L).map(i => (i, byId(i + 100), 2L))
    val stream = MemoryStream[(Long, Array[Float], Long)]
    val q = Streams.upsertIngestStream(
      stream.toDF().toDF("vec_id", "embedding", "version"), table, 4, 12, 5000)
    try {
      stream.addData(b1)
      q.processAllAvailable()
      stream.addData(b2)
      q.processAllAvailable()
    } finally q.stop()

    // the merged corpus u1 searches (latest-wins per vec_id)
    val merged = all.map { case (id, v) =>
      (id, if (id < 10) byId(id + 100) else v)
    }.toDF("vec_id", "embedding")
    val queries = merged.filter($"vec_id" < 4)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))

    val live = Streams.latestIndexState(spark.table(table))
    val got = operators.Lsh.searchIndex(live, merged, queries, 4, 12, 5000, 10)
      .collect().toSeq
    val want = operators.Lsh.searchIndex(
      operators.Lsh.keyRows(merged, 4, 12, 5000), merged, queries, 4, 12, 5000, 10)
      .collect().toSeq
    assert(got.nonEmpty && got === want,
      "CDC-maintained index search diverged from a fresh build over the merged corpus")

    // merge-on-read really suppressed stale rows: the raw table keeps the
    // replaced vectors' version-1 keys, the live view must not
    val rawRows = spark.table(table).count()
    val liveRows = live.count()
    assert(rawRows === liveRows + 10 * 4,
      s"expected ${10 * 4} stale key rows suppressed, raw=$rawRows live=$liveRows")

    // compaction folds the latest-wins filter into a new generation table:
    // same row set as the live view, search unchanged, no window at read
    val compacted = Streams.compactIndex(spark, table, table + "_gen2")
    assert(compacted.count() === liveRows, "compaction changed the live row set")
    val gotCompacted = operators.Lsh.searchIndex(compacted, merged, queries, 4, 12, 5000, 10)
      .collect().toSeq
    assert(gotCompacted === want, "search over the compacted generation diverged")
  }

  test("streaming CDC upsert: latest-wins state survives out-of-order micro-batches == batch c1") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // split by event_id PARITY, not time: batch 2 carries events both older
    // and newer than batch 1's, so for many keys the winning event arrives
    // in batch 1 and batch 2 tries to regress it — latest-wins must hold
    // across the boundary (a time-ordered split would make state vacuous:
    // batch 2 alone would contain every winner)
    val ev = Tables.events(spark, sf)
      .selectExpr("event_id", "user_id", "event_type", "value", "ts div 1000000 AS ms")
      .as[Ev].collect().toSeq
    val (b1, b2) = ev.partition(_.event_id % 2 == 0)
    val stream = MemoryStream[Streams.UpsertEvent]
    val streamed = Streams.upsertLatestStateful(spark, stream.toDS())
    val q = streamed.writeStream.outputMode("update").format("memory")
      .queryName("graft_mb_upsert").start()
    try {
      stream.addData(b1.map(e => Streams.UpsertEvent(e.user_id, e.event_type, e.event_id, e.value, e.ms)))
      q.processAllAvailable()
      stream.addData(b2.map(e => Streams.UpsertEvent(e.user_id, e.event_type, e.event_id, e.value, e.ms)))
      q.processAllAvailable()

      // each key's FINAL emission = the one with max n_seen (cumulative)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id", $"event_type").orderBy($"n_seen".desc)
      val streamedFinal = spark.table("graft_mb_upsert")
        .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .select("user_id", "event_type", "last_event_id", "last_value")
        .as[(Long, String, Long, Double)].collect().toSet
      val batch = run("c1_upsert_latest_wins")
        .select("user_id", "event_type", "last_event_id", "last_value")
        .as[(Long, String, Long, Double)].collect().toSet
      assert(batch.nonEmpty, "batch c1 empty — vacuous")
      assert(streamedFinal === batch,
        s"CDC state diverged from batch: missing=${(batch -- streamedFinal).take(3)} extra=${(streamedFinal -- batch).take(3)}")
    } finally q.stop()
  }

  test("stateful sessionization carries state across micro-batches == batch e2") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (b1, b2) = orderedEvents()
    val stream = MemoryStream[Streams.SessionEvent]
    val streamed = Streams.sessionizeStatefulFrom(spark, stream.toDS())
    val q = streamed.writeStream.outputMode("append").format("memory")
      .queryName("graft_mb_sessions").start()
    try {
      stream.addData(b1.map(e => Streams.SessionEvent(e.event_id, e.user_id, e.ms)))
      q.processAllAvailable()
      stream.addData(b2.map(e => Streams.SessionEvent(e.event_id, e.user_id, e.ms)))
      q.processAllAvailable()

      // per batch the operator emits (cumulative sessions, events-in-batch):
      // max(sessions) = final session count, sum(n) = total events
      val streamedFinal = spark.table("graft_mb_sessions")
        .groupBy("user_id")
        .agg(max("n_sessions").as("n_sessions"), sum("n_events").as("n_events"))
        .select("user_id", "n_sessions", "n_events")
        .as[(Long, Long, Long)].collect().toSet
      val batch = run("e2_sessionize")
        .groupBy("user_id")
        .agg(max("session_idx").as("n_sessions"), count(lit(1)).as("n_events"))
        .select("user_id", "n_sessions", "n_events")
        .as[(Long, Long, Long)].collect().toSet
      assert(streamedFinal === batch)
    } finally q.stop()
  }

  test("s20 native session_window sessionization: SHUFFLED micro-batches == batch e2") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (b1o, b2o) = orderedEvents()
    // fully shuffled feed in three unordered micro-batches: the stateful
    // sessionizer (s2) cannot survive this — session_window's native state
    // merging can, as long as the watermark delay exceeds the disorder
    val shuffled = new scala.util.Random(42).shuffle((b1o ++ b2o).toVector)
    val stream = MemoryStream[Ev]
    val agg = Streams.sessionWindowAgg(
      stream.toDF().withColumn("ts_us", timestamp_micros($"ms" * 1000)), "35 days")
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("graft_mb_swin").start()
    try {
      shuffled.grouped(shuffled.size / 3 + 1).foreach { b =>
        stream.addData(b); q.processAllAvailable()
      }
      // flush sentinel: watermark -> maxMs + 5 days, past every session end
      val maxMs = shuffled.map(_.ms).max
      stream.addData(Ev(-1L, -1L, "flush", 0.0, maxMs + 40L * 86400000L))
      q.processAllAvailable()
      val streamedFinal = spark.table("graft_mb_swin")
        .filter($"user_id" >= 0)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
        .select("user_id", "n_sessions", "n_events")
        .as[(Long, Long, Long)].collect().toSet
      val batch = run("e2_sessionize")
        .groupBy("user_id")
        .agg(max("session_idx").as("n_sessions"), count(lit(1)).as("n_events"))
        .select("user_id", "n_sessions", "n_events")
        .as[(Long, Long, Long)].collect().toSet
      assert(streamedFinal === batch,
        "session_window sessions diverge from batch e2 under shuffled arrival")
    } finally q.stop()
  }

  test("s15 streaming per-user top-k: SHUFFLED micro-batches == batch e3 (order-invariant merge)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val evs = Tables.events(spark, sf)
      .selectExpr("user_id", "event_id", "value")
      .as[Streams.TopkEvent].collect()
      // deterministic shuffle: arrival order decorrelated from both time
      // and id — the monoid merge must not care
      .sortBy(e => (e.event_id * 1103515245L + 12345L) & 0x7fffffffL)
    val third = evs.length / 3
    val batches = Seq(evs.take(third), evs.slice(third, 2 * third), evs.drop(2 * third))
    val stream = MemoryStream[Streams.TopkEvent]
    val q = Streams.topkStateful(spark, stream.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_mb_topk").start()
    try {
      batches.foreach { b => stream.addData(b.toSeq); q.processAllAvailable() }
      val emitted = spark.table("graft_mb_topk")
        .select("user_id", "n_seen", "rank", "event_id", "value")
        .as[(Long, Long, Long, Long, Double)].collect()
      // final emission per user = the one at max n_seen
      val lastSeen = emitted.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      val streamedFinal = emitted.collect {
        case (u, seen, rank, id, v) if seen == lastSeen(u) => (u, rank, id, v)
      }.toSet
      val batch = run("e3_topk_per_group")
        .select("user_id", "rank", "event_id", "value")
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(streamedFinal === batch)
      assert(streamedFinal.nonEmpty)
    } finally q.stop()
  }

  test("s18 streaming deletes: search after each batch == fresh build minus deletions so far") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    operators.Persist.dropIndexTable(spark, "graft_mb_tombs")
    operators.Persist.dropIndexTable(spark, "graft_mb_tombs_commits")
    val emb = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
    val slice = emb.select($"vec_id")
      .filter(operators.Dedup.h60(concat(lit("del:"), $"vec_id".cast("string"))) % 7L === 0L)
      .as[Long].collect().sorted
    assert(slice.length >= 2)
    val batches = Seq(slice.take(slice.length / 2), slice.drop(slice.length / 2))
    val stream = MemoryStream[Long]
    val q = Streams.tombstoneIngestStream(stream.toDS().toDF("vec_id"), "graft_mb_tombs")
    try {
      batches.foreach { b =>
        stream.addData(b.toSeq); q.processAllAvailable()
        val tombs = spark.table("graft_mb_tombs")
        val deleted = tombs.as[Long].collect().toSet
        // merge-on-read over the UNCHANGED index vs a fresh build on the
        // surviving corpus — must be bit-identical after every batch
        val idx = operators.Lsh.keyRows(emb, 4, 12, 5000)
          .join(broadcast(tombs), Seq("vec_id"), "left_anti")
        val queries = emb.filter($"vec_id" < 8)
          .join(broadcast(tombs), Seq("vec_id"), "left_anti")
          .select($"vec_id".as("qid"), $"embedding".as("qvec"))
        val got = operators.Lsh.searchIndex(idx, emb, queries, 4, 12, 5000, 10).collect().toSeq
        val live = emb.filter(!$"vec_id".isInCollection(deleted))
        val fresh = operators.Lsh.searchIndex(
          operators.Lsh.keyRows(live, 4, 12, 5000), live,
          live.filter($"vec_id" < 8).select($"vec_id".as("qid"), $"embedding".as("qvec")),
          4, 12, 5000, 10).collect().toSeq
        assert(got === fresh, s"diverged after deleting ${deleted.size} ids")
      }
    } finally q.stop()
    // replaying batch 0 under its original id must not grow the log
    val before = spark.table("graft_mb_tombs").count()
    import spark.implicits._
    Streams.tombstoneWriteBatch(batches.head.toSeq.toDF("vec_id"), 0L, "graft_mb_tombs")
    assert(spark.table("graft_mb_tombs").count() === before, "replayed delete batch re-appended")
  }

  test("s17 streaming transitions: summed per-batch deltas == batch e10 counts (boundary pairs kept)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val evs = Tables.events(spark, sf)
      .selectExpr("user_id", "event_type", "ts div 1000000 AS ms", "event_id")
      .as[Streams.TransEvent].collect().sortBy(e => (e.ms, e.event_id))
    val third = evs.length / 3
    val batches = Seq(evs.take(third), evs.slice(third, 2 * third), evs.drop(2 * third))
    val stream = MemoryStream[Streams.TransEvent]
    val q = Streams.transitionStateful(spark, stream.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_mb_trans").start()
    try {
      batches.foreach { b => stream.addData(b.toSeq); q.processAllAvailable() }
    } finally q.stop()
    val streamed = spark.table("graft_mb_trans")
      .groupBy("from_type", "to_type").agg(sum("n").as("n"))
      .select("from_type", "to_type", "n")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = run("e10_transition_matrix")
      .select("from_type", "to_type", "n")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("s16 streaming MV maintenance: merged partials == batch q16; replayed batch is a no-op") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    graft.operators.Persist.dropIndexTable(spark, "graft_mb_mv")
    graft.operators.Persist.dropIndexTable(spark, "graft_mb_mv_commits")
    val evs = Tables.events(spark, sf)
      .selectExpr("event_type", "ts div 1000000 AS ms", "value")
      .as[Streams.MvEvent].collect()
    val third = evs.length / 3
    val batches = Seq(evs.take(third), evs.slice(third, 2 * third), evs.drop(2 * third))
    val stream = MemoryStream[Streams.MvEvent]
    val q = Streams.mvIngestStream(stream.toDS().toDF(), "graft_mb_mv")
    try {
      batches.foreach { b => stream.addData(b.toSeq); q.processAllAvailable() }
    } finally q.stop()
    val batchFull = run("q16_incremental_agg")
      .select("hour_bucket", "event_type", "n", "sum_cents")
      .as[(Long, String, Long, Long)].collect().toSeq
    def state() = Streams.mvState(spark, "graft_mb_mv")
      .select("hour_bucket", "event_type", "n", "sum_cents")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(state() === batchFull)
    // replay: re-deliver batch 0 under its original batchId — the commit
    // log must make it a no-op, not a double count
    import spark.implicits._
    Streams.mvWriteBatch(batches.head.toSeq.toDF("event_type", "ms", "value"), 0L, "graft_mb_mv")
    assert(state() === batchFull, "replayed batch double-counted into the MV")
  }

  test("streaming funnel state machine: final per-user stages == batch e6 under in-order arrival") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val evs = Tables.events(spark, sf)
      .withColumn("ms", expr("ts div 1000000"))
      .select($"user_id", $"event_type", $"ms")
      .as[Streams.FunnelEvent].collect().sortBy(_.ms)
    // three time-ordered micro-batches (in-order arrival, the documented contract)
    val cut1 = evs.length / 3
    val cut2 = 2 * evs.length / 3
    val stream = MemoryStream[Streams.FunnelEvent]
    val out = Streams.funnelStateful(spark, stream.toDS())
    val q = out.writeStream.format("memory").queryName("funnel_states")
      .outputMode("update").start()
    try {
      Seq(evs.slice(0, cut1), evs.slice(cut1, cut2), evs.slice(cut2, evs.length)).foreach { b =>
        stream.addData(b.toSeq); q.processAllAvailable()
      }
      // stages are monotone across batches → the final state is the max emitted
      val streamed = spark.table("funnel_states")
        .groupBy($"user_id").agg(max($"funnel_stage").as("funnel_stage"))
        .groupBy($"funnel_stage").agg(count(lit(1)).as("n_users"))
        .as[(Long, Long)].collect().toSet
      val batch = operators.Events.funnelStages(spark, sf)
        .as[(Long, Long)].collect().toSet
      assert(streamed === batch,
        s"streaming funnel diverged: streamed=$streamed batch=$batch")
    } finally q.stop()
  }

  test("s12 out-of-order streaming funnel: SHUFFLED micro-batches == batch e6, one row per user") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val W = 86400000L
    val evs = Tables.events(spark, sf)
      .withColumn("ms", expr("ts div 1000000"))
      .select($"user_id", $"event_type", $"ms")
      .as[Streams.FunnelEvent].collect()
    // deterministic SCRAMBLE of time order, within and across micro-batches
    val shuffled = evs.sortBy(e =>
      scala.util.hashing.MurmurHash3.productHash((e.user_id, e.ms, e.event_type)))
    val msMin = evs.map(_.ms).min
    val msMax = evs.map(_.ms).max
    // watermark delay spans the corpus so the scramble drops nothing
    val delaySec = (msMax - msMin) / 1000 + 1
    val cut1 = shuffled.length / 3
    val cut2 = 2 * shuffled.length / 3
    val stream = MemoryStream[Streams.FunnelEvent]
    val out = Streams.funnelOoo(spark, stream.toDS(), W, s"$delaySec seconds")
    val q = out.writeStream.format("memory").queryName("funnel_ooo")
      .outputMode("append").start()
    try {
      Seq(shuffled.slice(0, cut1), shuffled.slice(cut1, cut2),
        shuffled.slice(cut2, shuffled.length)).foreach { b =>
        stream.addData(b.toSeq); q.processAllAvailable()
      }
      // two sentinel events push the watermark past every user's
      // lastMs + 2W finalization horizon (watermark advances at batch
      // end; timeouts fire in the batch AFTER it advances)
      val sentinelMs = msMax + 2 * W + delaySec * 1000L + 3600000L
      stream.addData(Seq(Streams.FunnelEvent(-1L, "view", sentinelMs)))
      q.processAllAvailable()
      stream.addData(Seq(Streams.FunnelEvent(-2L, "view", sentinelMs + 1)))
      q.processAllAvailable()

      val emitted = spark.table("funnel_ooo").filter($"user_id" >= 0)
      // exactly one final row per user — append-mode, finalized once
      assert(emitted.groupBy($"user_id").count().filter($"count" > 1).isEmpty,
        "a user was finalized more than once")
      val streamed = emitted
        .groupBy($"funnel_stage").agg(count(lit(1)).as("n_users"))
        .as[(Long, Long)].collect().toSet
      val batch = operators.Events.funnelStages(spark, sf)
        .as[(Long, Long)].collect().toSet
      assert(streamed === batch,
        s"out-of-order streaming funnel diverged: streamed=$streamed batch=$batch")
    } finally q.stop()
  }

  test("s14 streaming snapshot diff: a batch window's emissions == batch c10 between its bounds") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t1 = 1705363200000L
    val t2 = 1705708800000L
    val evs = Tables.events(spark, sf)
      .withColumn("ms", expr("ts div 1000000"))
      .select($"user_id", $"event_type", $"event_id", $"value", $"ms")
      .as[Streams.DiffEvent].collect()
    val stream = MemoryStream[Streams.DiffEvent]
    val out = Streams.snapshotDiffStream(spark, stream.toDS())
    val q = out.writeStream.format("memory").queryName("snapdiff_stream")
      .outputMode("append").start()
    def rowsNow(): Set[Seq[Any]] = spark.table("snapdiff_stream").collect()
      .map(_.toSeq).toSet
    try {
      // batch 1 = the T1 snapshot's events; batch 2 = exactly (T1, T2]
      stream.addData(evs.filter(_.ms <= t1).toSeq); q.processAllAvailable()
      val afterT1 = rowsNow()
      stream.addData(evs.filter(e => e.ms > t1 && e.ms <= t2).toSeq)
      q.processAllAvailable()
      val batch2Emissions = rowsNow() -- afterT1
      val c10 = operators.Crud.snapshotDiff(spark, sf, t1, t2).collect()
        .map(_.toSeq).toSet
      assert(batch2Emissions === c10,
        s"streamed window deltas diverged from batch c10 " +
          s"(${batch2Emissions.size} vs ${c10.size})")
      // replaying older events regresses nothing and emits nothing
      stream.addData(evs.filter(_.ms <= t1).toSeq); q.processAllAvailable()
      assert(rowsNow() === afterT1 ++ batch2Emissions, "replay emitted spurious deltas")
    } finally q.stop()
  }

  test("s13 streaming Bloom decontamination: stateless screened stream == batch d10") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val words = operators.Dedup.bloomBitset(spark, sf)
    // the ingest side of the screen: only non-benchmark docs arrive
    val docs = Tables.documents(spark, sf).filter($"doc_id" % 37 =!= 0)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val stream = MemoryStream[(Long, String)]
    val out = Streams.decontaminateStream(
      stream.toDS().toDF("doc_id", "text"), words.toSeq)
    val q = out.writeStream.format("memory").queryName("bloom_stream")
      .outputMode("append").start()
    try {
      docs.grouped(math.max(1, (docs.length + 2) / 3)).foreach { b =>
        stream.addData(b.toSeq); q.processAllAvailable()
      }
      val streamed = spark.table("bloom_stream").filter($"n_grams" > 0)
        .select("doc_id", "n_grams", "n_hit").as[(Long, Long, Long)].collect().toSet
      val batch = run("d10_bloom_decontaminate")
        .select("doc_id", "n_grams", "n_hit").as[(Long, Long, Long)].collect().toSet
      assert(streamed === batch,
        "the stateless in-row streaming screen diverged from batch d10")
      // and the plan really is stateless: no state store operator at all
      val plan = out.queryExecution.analyzed.toString
      assert(!plan.contains("FlatMapGroupsWithState") && !plan.contains("Aggregate"),
        s"streaming screen should be pure map work:\n${plan.take(600)}")
    } finally q.stop()
  }

  test("streaming KMV cardinality: merged micro-batch sketch == one-shot batch sketch, replay-idempotent") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val table = "graft_kmv_stream_state"
    val k = 64
    operators.Persist.dropIndexTable(spark, table)
    // distinct-shingle hashes of the corpus, sliced into 3 arbitrary batches
    val hashes = operators.Dedup.corpusShingles(spark, sf)._2
      .select($"h").as[Long].collect().toSeq
    val batches = Seq(
      hashes.filter(_ % 3 == 0), hashes.filter(_ % 3 == 1), hashes.filter(_ % 3 == 2))
    val stream = MemoryStream[Long]
    val q = Streams.kmvIngestStream(stream.toDF().toDF("h"), table, k)
    try {
      batches.foreach { b => stream.addData(b); q.processAllAvailable() }
    } finally q.stop()

    val streamed = spark.table(table).as[Long].collect().toSeq.sorted
    val oneShot = hashes.toDF("h")
      .agg(call_function("graft_kmv", $"h", lit(k)))
      .collect().head.getSeq[Long](0)
    assert(streamed === oneShot,
      "streamed sketch state diverged from the one-shot batch sketch")

    // min-union is idempotent: re-merging an already-seen batch must leave
    // the state bit-identical (why this stream needs no batchId commit log)
    Streams.mergeKmvState(spark, batches.head.toDF("h"), table, k)
    assert(spark.table(table).as[Long].collect().toSeq.sorted === streamed,
      "replayed batch changed the sketch state")

    // the estimate row off the streamed state matches t12's shape and bound
    val est = Streams.kmvEstimate(spark, table, k).collect().head
    val exact = hashes.distinct.size.toDouble
    val relErr = math.abs(est.getAs[Double]("est_distinct") - exact) / exact
    assert(relErr < 2.0 / math.sqrt(k.toDouble), s"rel err $relErr")
  }

  test("s19 facade changelog tail: parity-split batches == GraftDb.chunks() merge-on-read") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // drive the REAL facade through a lifecycle with regressions to mask:
    // updates, chunk deletes, a doc cascade, and a post-cascade re-add
    val db = new graft.api.GraftDb(spark,
      java.nio.file.Files.createTempDirectory("graftdb-s19").toString)
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding").limit(12)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    db.createLibrary(1L, "lib", emb(0L).length, "flat")
    (0L to 11L).foreach(id => db.addChunk(1L, id / 4, id, s"c$id", emb(id)))
    (0L to 5L).foreach(id => db.updateChunk(1L, id / 4, id, s"c$id'", emb(id)))
    db.deleteChunk(1L, 0L, 2L)
    db.deleteDocument(1L, 1L) // masks chunks 4..7
    db.addChunk(1L, 1L, 5L, "revived", emb(5L)) // survives the cascade
    db.deleteChunk(1L, 2L, 100L) // tombstone for a chunk that never existed

    val log = spark.read.parquet(s"${db.root}/chunks_log")
      .select("seq", "op", "library_id", "doc_id", "chunk_id")
      .as[Streams.ChunkLogOp].collect().toSeq
    // parity split: batch 2 carries seqs both older and newer than batch
    // 1's, so state must resist regressions across the boundary
    val (b1, b2) = log.partition(_.seq % 2 == 0)
    val stream = MemoryStream[Streams.ChunkLogOp]
    val q = Streams.facadeLogStateful(spark, stream.toDS())
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_mb_facade").start()
    try {
      Seq(b1, b2).foreach { b => stream.addData(b); q.processAllAvailable() }
      val streamed = spark.table("graft_mb_facade")
        .withColumn("mx", max($"n_ops").over(
          org.apache.spark.sql.expressions.Window.partitionBy($"library_id", $"doc_id")))
        .filter($"n_ops" === $"mx" && $"chunk_id" >= 0L)
        .select("library_id", "doc_id", "chunk_id")
        .as[(Long, Long, Long)].collect().toSet
      val batch = db.chunks().select("library_id", "doc_id", "chunk_id")
        .as[(Long, Long, Long)].collect().toSet
      assert(batch.nonEmpty, "facade snapshot empty — vacuous")
      assert(streamed === batch,
        s"facade tail diverged: missing=${(batch -- streamed).take(5)} extra=${(streamed -- batch).take(5)}")
    } finally q.stop()
  }

  test("s23 token-quota admission: multi-batch stream == FCFS replica, flips cross batch boundaries") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // deterministic offers: 3 sources x 10 offers, varied token sizes
    val offers = for (src <- 0 until 3; seq <- 1 to 10) yield
      Streams.QuotaOffer(seq.toLong, s"src$src", src * 100L + seq,
        ((seq * 7 + src) % 13 + 1).toLong)
    val quota = 30L
    // FCFS replica: admit while admitted-so-far < quota (soft cap)
    val replica = offers.groupBy(_.source).flatMap { case (_, os) =>
      var cum = 0L; var n = 0L
      os.sortBy(_.seq).map { o =>
        n += 1
        val admit = cum < quota
        if (admit) cum += o.n_tok
        Streams.QuotaDecision(o.source, o.doc_id, o.seq, admit, cum, n)
      }
    }.toSet
    assert(replica.exists(_.admitted) && replica.exists(!_.admitted),
      "quota must split the feed — scenario vacuous")
    // every source admits early and rejects late, and at least one
    // source's first reject lands in batch 2+ (state must carry)
    val firstRejects = replica.filter(!_.admitted).groupBy(_.source)
      .map { case (s, ds) => s -> ds.map(_.seq).min }
    assert(firstRejects.size === 3 && firstRejects.values.exists(_ >= 5),
      s"tune quota: first rejects at $firstRejects")

    val stream = MemoryStream[Streams.QuotaOffer]
    val q = Streams.quotaStateful(spark, stream.toDS(), quota)
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_mb_quota").start()
    try {
      // in-seq-order batches per source (the ingestion-queue contract)
      Seq(1 to 4, 5 to 7, 8 to 10).foreach { r =>
        stream.addData(offers.filter(o => r.contains(o.seq.toInt)))
        q.processAllAvailable()
      }
      val streamed = spark.table("graft_mb_quota")
        .as[Streams.QuotaDecision].collect().toSet
      assert(streamed === replica,
        s"quota gate diverged: missing=${(replica -- streamed).take(5)} extra=${(streamed -- replica).take(5)}")
    } finally q.stop()
  }

  test("s24 growth classes: multi-batch stream == e16 lag-rule replica, state crosses batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // deterministic histories exercising all three classes, with gaps and
    // same-day duplicates: user 0 daily (retained chain), user 1 every
    // 3rd day (resurrections), user 2 one burst then a long gap
    val pairs: Seq[Streams.ActivityDay] =
      ((1 to 9).map(d => Streams.ActivityDay(0L, d.toLong)) ++
        Seq(1, 4, 7).map(d => Streams.ActivityDay(1L, d.toLong)) ++
        Seq(2, 3, 9).map(d => Streams.ActivityDay(2L, d.toLong)) ++
        Seq(Streams.ActivityDay(0L, 5L), Streams.ActivityDay(1L, 4L))) // dups
    // e16's lag rule, replayed per user over the de-duplicated history
    val replica = pairs.map(p => (p.user_id, p.day)).distinct
      .groupBy(_._1).flatMap { case (u, ps) =>
        val days = ps.map(_._2).sorted
        days.zip(Long.MinValue +: days.dropRight(1)).map { case (d, prev) =>
          val cls = if (prev == Long.MinValue) "new"
                    else if (d == prev + 1L) "retained" else "resurrected"
          val gap = if (prev == Long.MinValue) 0L else d - prev
          Streams.GrowthClassRow(u, d, cls, gap)
        }
      }.toSet
    assert(Set("new", "retained", "resurrected").subsetOf(replica.map(_.cls)),
      "scenario must exercise all three classes")

    val stream = MemoryStream[Streams.ActivityDay]
    val q = Streams.growthStateful(spark, stream.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_mb_growth").start()
    try {
      // per-user in-day-order batches (the ingestion-queue contract);
      // the split at day 4/5 puts retained AND resurrected classifications
      // in batch 2+ — the state must carry across batches
      Seq(1 to 4, 5 to 7, 8 to 9).foreach { r =>
        stream.addData(pairs.filter(p => r.contains(p.day.toInt)))
        q.processAllAvailable()
      }
      val streamed = spark.table("graft_mb_growth")
        .as[Streams.GrowthClassRow].collect().toSet
      assert(streamed === replica,
        s"growth classes diverged: missing=${(replica -- streamed).take(5)} " +
          s"extra=${(streamed -- replica).take(5)}")
      // non-vacuous boundary: user 0 day 5 is retained and arrives in batch 2
      assert(streamed.contains(Streams.GrowthClassRow(0L, 5L, "retained", 1L)))
      assert(streamed.contains(Streams.GrowthClassRow(1L, 7L, "resurrected", 3L)))
    } finally q.stop()
  }

  test("s27 streaks: multi-batch stream == e21 island-rule replica, runs cross batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // deterministic histories: user 0 one unbroken 9-day run (the run
    // must EXTEND across all three batches), user 1 two runs split by a
    // gap (best must remember run 1 after the reset), user 2 isolated
    // days (every run length 1), plus same-day duplicates
    val pairs: Seq[Streams.ActivityDay] =
      ((1 to 9).map(d => Streams.ActivityDay(0L, d.toLong)) ++
        Seq(1, 2, 3, 7, 8).map(d => Streams.ActivityDay(1L, d.toLong)) ++
        Seq(2, 5, 9).map(d => Streams.ActivityDay(2L, d.toLong)) ++
        Seq(Streams.ActivityDay(0L, 6L), Streams.ActivityDay(1L, 2L))) // dups
    // e21's island rule replayed incrementally per user
    val replica = pairs.map(p => (p.user_id, p.day)).distinct
      .groupBy(_._1).flatMap { case (u, ps) =>
        val days = ps.map(_._2).sorted
        var last = Long.MinValue; var cur = 0L; var best = 0L
        days.map { d =>
          cur = if (d == last + 1L) cur + 1L else 1L
          best = math.max(best, cur); last = d
          Streams.StreakRow(u, d, cur, best)
        }
      }.toSet

    val stream = MemoryStream[Streams.ActivityDay]
    val q = Streams.streakStateful(spark, stream.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_mb_streaks").start()
    try {
      // batch split at 4/5 and 7/8: user 0's run must extend across both
      // boundaries, user 1's second run must start in batch 3 with best
      // carried from batch 1
      Seq(1 to 4, 5 to 7, 8 to 9).foreach { r =>
        stream.addData(pairs.filter(p => r.contains(p.day.toInt)))
        q.processAllAvailable()
      }
      val streamed = spark.table("graft_mb_streaks")
        .as[Streams.StreakRow].collect().toSet
      assert(streamed === replica,
        s"streaks diverged: missing=${(replica -- streamed).take(5)} " +
          s"extra=${(streamed -- replica).take(5)}")
      // non-vacuous boundaries: user 0's day-9 run is 9 (grown across all
      // batches); user 1's day-8 run is 2 with best 3 from the first run
      assert(streamed.contains(Streams.StreakRow(0L, 9L, 9L, 9L)))
      assert(streamed.contains(Streams.StreakRow(1L, 8L, 2L, 3L)))
      assert(streamed.contains(Streams.StreakRow(2L, 9L, 1L, 1L)))
    } finally q.stop()
  }

  test("s25 dedup admission: first arrival wins across batches, bitset state carries") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // 2 shards, 10 distinct contents, duplicates planted within batch 1
    // (seq 3 dups seq 1) and ACROSS batches (seq 8/9 dup batch-1 admits)
    val contents = (0 until 10).map(i => s"doc body ${i % 5} shard ${i / 5}")
    val offers = Seq(
      Streams.DedupOffer(1L, 0L, contents(0)), Streams.DedupOffer(2L, 0L, contents(1)),
      Streams.DedupOffer(3L, 0L, contents(0)), // within-batch dup
      Streams.DedupOffer(4L, 0L, contents(2)),
      Streams.DedupOffer(1L, 1L, contents(5)), Streams.DedupOffer(2L, 1L, contents(6)),
      // batch 2+
      Streams.DedupOffer(5L, 0L, contents(3)),
      Streams.DedupOffer(8L, 0L, contents(1)), // cross-batch dup
      Streams.DedupOffer(3L, 1L, contents(5)), // cross-batch dup
      Streams.DedupOffer(4L, 1L, contents(7)),
      Streams.DedupOffer(9L, 0L, contents(2)), // batch 3 dup of batch 1
      Streams.DedupOffer(10L, 0L, contents(4)))
    // sequential replica with the same Bloom fold (exact at this scale)
    val replica = offers.groupBy(_.shard).flatMap { case (sh, os) =>
      val seen = scala.collection.mutable.Set.empty[String]
      var n = 0L
      os.sortBy(_.seq).map { o =>
        n += 1
        val dup = !seen.add(o.content)
        Streams.DedupDecision(sh, o.seq, Streams.h60jvm(o.content), !dup, n)
      }
    }.toSet
    val stream = MemoryStream[Streams.DedupOffer]
    val q = Streams.dedupStateful(spark, stream.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_mb_dedup").start()
    try {
      Seq(1 to 4, 5 to 8, 9 to 10).foreach { r =>
        stream.addData(offers.filter(o => r.contains(o.seq.toInt)))
        q.processAllAvailable()
      }
      val streamed = spark.table("graft_mb_dedup")
        .as[Streams.DedupDecision].collect().toSet
      assert(streamed === replica,
        s"dedup gate diverged: missing=${(replica -- streamed).take(5)} " +
          s"extra=${(streamed -- replica).take(5)}")
      // the cross-batch duplicates were rejected in a LATER batch than
      // their first occurrence — the bitset state must have carried
      assert(!streamed.find(d => d.shard == 0L && d.seq == 8L).get.admitted)
      assert(!streamed.find(d => d.shard == 1L && d.seq == 3L).get.admitted)
      // every distinct content admitted exactly once (no FP at this scale)
      assert(streamed.count(_.admitted) === offers.map(_.content).distinct.size)
    } finally q.stop()
  }

  test("s26 streaming HLL DAU: shuffled batches converge to the exact batch registers") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val m = 256
    // 2 days, overlapping user sets, heavy duplication; delivery SHUFFLED
    // (the max-merge fold is order-robust — no arrival contract to honor)
    val pairs = (for (u <- 0 until 120; d <- Seq(10L, 11L) if (u + d) % 3 != 0)
      yield Streams.ActivityDay(u.toLong, d)) ++
      (0 until 60).map(u => Streams.ActivityDay(u.toLong, 10L)) // replays
    val shuffled = new scala.util.Random(7).shuffle(pairs)
    // sequential driver replica of the register fold
    def replica(ps: Seq[Streams.ActivityDay]): Map[Long, (Long, Long, Long)] =
      ps.groupBy(_.day).map { case (day, as) =>
        val regs = Array.fill(m)(0)
        as.foreach { a =>
          val h = Streams.h60jvm(s"sdau:${a.user_id}")
          val b = (h % m).toInt
          val r = h / m
          val rho = if (r == 0L) 53 else 53 - (64 - java.lang.Long.numberOfLeadingZeros(r))
          if (rho > regs(b)) regs(b) = rho
        }
        val present = regs.zipWithIndex.filter(_._1 > 0)
        val intsum = present.map { case (reg, _) => 1L << (53 - reg) }.sum +
          (m - present.length).toLong * (1L << 53)
        day -> (present.length.toLong, intsum,
          present.map { case (reg, b) => reg.toLong * (b + 1L) }.sum)
      }
    val expect = replica(pairs)

    val stream = MemoryStream[Streams.ActivityDay]
    val q = Streams.dauHllStateful(spark, stream.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_mb_hlldau").start()
    try {
      shuffled.grouped(100).foreach { b => stream.addData(b); q.processAllAvailable() }
      val rows = spark.table("graft_mb_hlldau")
        .as[Streams.HllDayStat].collect()
      // latest emission per day is the live readout
      val last = rows.groupBy(_.day).map { case (d, rs) => d -> rs.maxBy(_.n_seen) }
      assert(last.keySet === expect.keySet)
      last.foreach { case (d, s) =>
        val (np, is, ck) = expect(d)
        assert((s.n_present, s.intsum, s.register_checksum) === ((np, is, ck)),
          s"day $d sketch diverges from the sequential register fold")
      }
      // per-day n_seen is monotone across emissions (state accumulated)
      rows.groupBy(_.day).foreach { case (d, rs) =>
        assert(rs.map(_.n_seen).distinct.length === rs.length,
          s"day $d re-emitted the same counter — state not advancing")
      }
    } finally q.stop()
  }

  test("s22 document changelog tail: shuffled patch batches == GraftDb.documents() fold") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // drive the REAL facade's document entity through the order-sensitive
    // lifecycle: create, partial patches (title-only / metadata-only),
    // delete, revive-after-delete, patch-after-revive
    val db = new graft.api.GraftDb(spark,
      java.nio.file.Files.createTempDirectory("graftdb-s22").toString)
    db.createLibrary(1L, "lib", 4, "flat")
    db.createDocument(1L, 0L, "zero", Map("a" -> "1", "b" -> "2"))
    db.createDocument(1L, 1L, "one")
    db.createDocument(1L, 2L, "two", Map("x" -> "old"))
    db.updateDocument(1L, 0L, title = Some("zero2"))
    db.updateDocument(1L, 0L, metadata = Some(Map("b" -> "3", "c" -> "4")))
    db.updateDocument(1L, 2L, metadata = Some(Map("x" -> "new")))
    db.deleteDocument(1L, 1L)
    db.createDocument(1L, 1L, "one reborn", Map("r" -> "1")) // revive
    db.updateDocument(1L, 1L, title = Some("one reborn 2"))
    db.deleteDocument(1L, 2L) // stays dead

    val log = spark.read.parquet(s"${db.root}/documents_log")
      .as[Streams.DocLogOp].collect().toSeq
    // parity split: later batch carries seqs OLDER than already-folded
    // ones — the op-set state must re-fold, not just append
    val (b1, b2) = log.partition(_.seq % 2 == 0)
    val stream = MemoryStream[Streams.DocLogOp]
    val q = Streams.docLogStateful(spark, stream.toDS())
      .writeStream.outputMode("update").format("memory")
      .queryName("graft_mb_docs").start()
    try {
      Seq(b2, b1).foreach { b => stream.addData(b); q.processAllAvailable() }
      val streamed = spark.table("graft_mb_docs")
        .withColumn("mx", max($"n_ops").over(
          org.apache.spark.sql.expressions.Window.partitionBy($"library_id", $"doc_id")))
        .filter($"n_ops" === $"mx" && $"live")
        .select("library_id", "doc_id", "title", "meta")
        .as[(Long, Long, String, String)].collect().toSet
      val batch = db.listDocuments(1L).collect().map { r =>
        val meta = r.getAs[Map[String, String]]("metadata")
          .toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(",")
        (r.getLong(0), r.getLong(1), r.getString(2), meta)
      }.toSet
      assert(batch.nonEmpty, "document snapshot empty — vacuous")
      assert(batch.exists(_._4.contains("b=3")), "patch merge missing — scenario vacuous")
      assert(streamed === batch,
        s"doc tail diverged: missing=${(batch -- streamed).take(5)} extra=${(streamed -- batch).take(5)}")
    } finally q.stop()
  }
}
