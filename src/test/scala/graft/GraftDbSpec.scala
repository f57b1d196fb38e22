package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.api.GraftDb
import graft.sources.Tables

/** End-to-end lifecycle of the [[graft.api.GraftDb]] facade — the
  * reference service's e2e test shape (tests-mongo: CRUD + search per
  * index type + persistence/rebuild) driven against the batch facade:
  * every mutation is a changelog append, every read a merge-on-read
  * snapshot, search routed per library index_type. */
class GraftDbSpec extends GraftSuite {

  private def freshDb(): GraftDb =
    new GraftDb(spark, Files.createTempDirectory("graftdb").toString)

  /** Test vectors from the shared corpus (id, text, embedding). */
  private lazy val corpus: Array[(Long, String, Array[Float])] = {
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    Tables.embeddings(spark, sf).select("vec_id", "embedding").limit(60).collect()
      .map(r => (r.getLong(0), texts.getOrElse(r.getLong(0), s"chunk ${r.getLong(0)}"),
        r.getSeq[Float](1).toArray))
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    val (dot, na, nb) = a.zip(b).foldLeft((0.0, 0.0, 0.0)) { case ((d, x, y), (u, v)) =>
      (d + u.toDouble * v.toDouble, x + u.toDouble * u.toDouble, y + v.toDouble * v.toDouble)
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  test("library CRUD: create, update latest-wins, delete hides, recreate revives") {
    val db = freshDb()
    db.createLibrary(1L, "alpha", 8, "flat")
    db.createLibrary(2L, "beta", 8, "lsh")
    db.updateLibrary(1L, name = Some("alpha2"))
    val libs = db.listLibraries().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(libs === Map(1L -> "alpha2", 2L -> "beta"))
    db.deleteLibrary(2L)
    assert(db.listLibraries().count() === 1)
    db.createLibrary(2L, "beta2", 8, "lsh")
    assert(db.listLibraries().count() === 2)
  }

  test("library metadata dict + PARTIAL update_library (models.py:26-30, vector_db.py:125-135)") {
    val db = freshDb()
    db.createLibrary(1L, "alpha", 8, "flat", Map("owner" -> "a", "tier" -> "gold"))
    // patch only the name: dims/index_type/metadata untouched
    db.updateLibrary(1L, name = Some("alpha2"))
    // patch with a metadata dict: REPLACES the stored dict wholesale
    // (reference $set semantics — keys absent from the patch disappear)
    db.updateLibrary(1L, metadata = Some(Map("tier" -> "silver", "region" -> "eu")))
    val r = db.listLibraries().collect().head
    assert(r.getString(1) === "alpha2")
    assert(r.getInt(2) === 8)
    assert(r.getString(3) === "flat")
    assert(r.getAs[Map[String, String]]("metadata") ===
      Map("tier" -> "silver", "region" -> "eu"),
      "a supplied metadata dict must replace, not merge")
    // an empty supplied dict CLEARS; None leaves the dict untouched
    db.updateLibrary(1L, metadata = Some(Map.empty))
    assert(db.listLibraries().collect().head
      .getAs[Map[String, String]]("metadata") === Map.empty)
    db.updateLibrary(1L, name = Some("alpha2b")) // metadata = None
    assert(db.listLibraries().collect().head
      .getAs[Map[String, String]]("metadata") === Map.empty)
    // a full upsert REPLACES the metadata dict (create == reference PUT)
    db.createLibrary(1L, "alpha3", 8, "flat", Map("fresh" -> "1"))
    assert(db.listLibraries().collect().head.getAs[Map[String, String]]("metadata") ===
      Map("fresh" -> "1"))
    // patch on a deleted library is a no-op (reference 404s)
    db.deleteLibrary(1L)
    db.updateLibrary(1L, name = Some("ghost"))
    assert(db.listLibraries().count() === 0)
  }

  test("legacy-store compat: logs written WITHOUT a metadata column still open") {
    // a pre-round-9 store: lib + doc logs carry no metadata column at all —
    // the compat read path synthesizes it (empty dict on upserts, NULL =
    // untouched on patches) instead of failing on an unresolved column
    val root = Files.createTempDirectory("graftdb-legacy").toString
    import spark.implicits._
    Seq((0L, "upsert", 1L, Option("oldlib"), Option(8), Option("flat")),
        (1L, "patch", 1L, Option("oldlib2"), Option.empty[Int], Option.empty[String]))
      .toDF("seq", "op", "library_id", "name", "dims", "index_type")
      .write.parquet(s"$root/libraries_log")
    Seq((2L, "upsert", 1L, 5L, Option("t")), (3L, "patch", 1L, 5L, Option("t2")))
      .toDF("seq", "op", "library_id", "doc_id", "title")
      .write.parquet(s"$root/documents_log")
    val db = new GraftDb(spark, root)
    val lib = db.listLibraries().collect().head
    assert(lib.getString(1) === "oldlib2" && lib.getInt(2) === 8)
    assert(lib.getAs[Map[String, String]]("metadata") === Map.empty)
    val doc = db.listDocuments(1L).collect().head
    assert(doc.getString(2) === "t2")
    assert(doc.getAs[Map[String, String]]("metadata") === Map.empty)
    // new-code mutations append fine next to the legacy rows
    db.updateLibrary(1L, metadata = Some(Map("migrated" -> "yes")))
    assert(db.listLibraries().collect().head
      .getAs[Map[String, String]]("metadata") === Map("migrated" -> "yes"))
    // compaction rewrites the store at the new schema
    db.compact()
    assert(db.listLibraries().collect().head.getString(1) === "oldlib2")
  }

  test("document entity CRUD: create/list, partial update merges, delete cascades, lib-delete masks") {
    val db = freshDb()
    db.createLibrary(1L, "lib", corpus.head._3.length, "flat")
    db.createDocument(1L, 10L, "intro", Map("lang" -> "en"))
    db.createDocument(1L, 11L, "chapter one")
    db.upsertChunks(corpus.take(4).map { case (id, text, emb) => (1L, 10L, id, text, emb) })
    assert(db.listDocuments(1L).collect().map(_.getLong(1)).toSeq === Seq(10L, 11L))

    // partial update: title only (metadata untouched), then metadata only
    // (title untouched, dict replaced)
    db.updateDocument(1L, 10L, title = Some("introduction"))
    db.updateDocument(1L, 10L, metadata = Some(Map("lang" -> "de", "status" -> "ok")))
    val d = db.getDocument(1L, 10L).collect().head
    assert(d.getString(2) === "introduction")
    assert(d.getAs[Map[String, String]]("metadata") === Map("lang" -> "de", "status" -> "ok"))

    // delete removes the entity AND cascades to its chunks in one mutation
    db.deleteDocument(1L, 10L)
    assert(db.getDocument(1L, 10L).count() === 0)
    assert(db.listChunks(1L).count() === 0, "document delete must cascade to chunks")
    // re-create revives the entity fresh (tombstone masks only older rows)
    db.createDocument(1L, 10L, "reborn")
    assert(db.getDocument(1L, 10L).collect().head.getString(2) === "reborn")

    // library delete masks every document, even after the lib is re-created
    db.deleteLibrary(1L)
    db.createLibrary(1L, "lib2", corpus.head._3.length, "flat")
    assert(db.listDocuments(1L).count() === 0,
      "documents from before the library tombstone must stay dead")
  }

  test("dims validation: wrong-length query and wrong-length chunk both raise") {
    val db = freshDb()
    db.createLibrary(1L, "lib", corpus.head._3.length, "flat")
    db.addChunk(1L, 0L, 1L, "one", corpus(1)._3)
    val short = corpus(1)._3.take(3)
    val e1 = intercept[IllegalArgumentException](db.search(1L, short))
    assert(e1.getMessage.contains("dims"))
    val e2 = intercept[IllegalArgumentException](db.addChunk(1L, 0L, 2L, "bad", short))
    assert(e2.getMessage.contains("dims"))
    // the EMPTY vector is addChunkText's derived-marker — an explicit
    // empty embedding must be rejected, not silently served as a stub
    val e3 = intercept[IllegalArgumentException](
      db.addChunk(1L, 0L, 3L, "forged", Array.empty[Float]))
    assert(e3.getMessage.contains("empty"))
  }

  test("searchAll: one batched plan == looped single searches, per index family") {
    val db = freshDb()
    val dims = corpus.head._3.length
    db.createLibrary(1L, "flat", dims, "flat")
    db.createLibrary(2L, "lsh", dims, "lsh")
    db.createLibrary(3L, "ivf", dims, "ivf")
    Seq(1L, 2L, 3L).foreach { lib =>
      db.upsertChunks(corpus.take(30).map { case (id, text, emb) => (lib, id / 10, id, text, emb) })
    }
    db.trainIndex(3L, kCentroids = 4, iters = 2)
    val qids = Seq(2, 7, 21)
    import spark.implicits._
    val workload = qids.map(i => (i.toLong, corpus(i)._3)).toDF("qid", "qvec")
    Seq(1L, 2L, 3L).foreach { lib =>
      val batched = db.searchAll(lib, workload, k = 5).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      val looped = qids.flatMap { i =>
        db.search(lib, corpus(i)._3, k = 5).collect()
          .map(r => (i.toLong, r.getLong(0), r.getLong(1)))
      }.sorted
      assert(batched === looped, s"searchAll diverges from looped search on library $lib")
      assert(batched.nonEmpty)
    }
  }

  test("searchText: embed-then-search equals searching the stub embedding directly") {
    val db = freshDb()
    val dim = graft.operators.SearchText.Dim
    db.createLibrary(1L, "txt", dim, "flat")
    // chunks embedded with the same stub the query side uses, so the
    // self-text query must surface its own chunk at rank 1 with score ~1
    import spark.implicits._
    val texts = (0 until 12).map(i => s"chunk text number $i with words")
    val embs = texts.zipWithIndex.map { case (t, i) =>
      val e = Seq(t).toDF("t")
        .select(graft.operators.SearchText.stubEmbed(col("t")).cast("array<float>").as("e"))
        .head().getSeq[Float](0).toArray
      (1L, i.toLong / 4, i.toLong, t, e)
    }
    db.upsertChunks(embs)
    val hits = db.searchText(1L, texts(5), k = 3).collect()
    assert(hits.head.getLong(1) === 5L, "self-text must rank first")
    assert(math.abs(hits.head.getDouble(2) - 1.0) < 1e-6)
    // dims gate: a non-Dim library refuses text search instead of
    // silently scoring garbage
    db.createLibrary(2L, "small", 4, "flat")
    val e = intercept[IllegalArgumentException](db.searchText(2L, "hello"))
    assert(e.getMessage.contains("dim"))
  }

  test("compact crash-safety: post-marker crash completes on open, pre-marker crash discards") {
    val root = Files.createTempDirectory("graftdb").toString
    val db = new GraftDb(spark, root)
    db.createLibrary(1L, "lib", corpus.head._3.length, "flat")
    db.createDocument(1L, 0L, "doc zero")
    db.upsertChunks(corpus.take(10).map { case (id, text, emb) => (1L, id / 10, id, text, emb) })
    db.deleteChunk(1L, 0L, corpus(5)._1)
    val q = corpus(3)._3
    val want = db.search(1L, q, k = 5).collect().map(_.getLong(1)).toSeq

    // crash AFTER the commit marker: temps + marker on disk, live logs stale
    db.writeCompactSnapshots()
    assert(Files.exists(java.nio.file.Paths.get(s"$root/_compact_commit")))
    val db2 = new GraftDb(spark, root) // recovery completes the swap
    assert(!Files.exists(java.nio.file.Paths.get(s"$root/_compact_commit")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$root/chunks_log_compacting")))
    assert(db2.search(1L, q, k = 5).collect().map(_.getLong(1)).toSeq === want,
      "recovered compaction changed search results")
    assert(spark.read.parquet(s"$root/chunks_log").count() === db2.chunks().count())
    assert(db2.listDocuments(1L).count() === 1, "document log lost in recovery")

    // crash BEFORE the marker: a stray temp with garbage must be discarded
    val strayDir = java.nio.file.Paths.get(s"$root/chunks_log_compacting")
    Files.createDirectory(strayDir)
    Files.writeString(strayDir.resolve("garbage"), "not parquet")
    val db3 = new GraftDb(spark, root)
    assert(!Files.exists(strayDir), "uncommitted compaction temp not discarded")
    assert(db3.search(1L, q, k = 5).collect().map(_.getLong(1)).toSeq === want)
  }

  test("facade plans never hint-broadcast an SF-proportional relation (BroadcastAudit)") {
    // the r8 finding was IN the facade (search includeChunk broadcast the
    // snapshot); run the same structural gate ContractSpec applies to the
    // query surface over every facade read/search plan per index family
    val db = freshDb()
    val dims = corpus.head._3.length
    db.createLibrary(1L, "flat", dims, "flat")
    db.createLibrary(2L, "lsh", dims, "lsh")
    db.createLibrary(3L, "ivf", dims, "ivf")
    Seq(1L, 2L, 3L).foreach { lib =>
      db.upsertChunks(corpus.take(20).map { case (id, t, e) => (lib, id / 10, id, t, e) })
    }
    db.createDocument(1L, 0L, "d")
    db.trainIndex(3L, kCentroids = 4, iters = 1)
    val plans = Seq(
      "chunks" -> db.chunks(),
      "listLibraries" -> db.listLibraries(),
      "listDocuments" -> db.listDocuments(1L),
      "search flat+chunk" -> db.search(1L, corpus(2)._3, includeChunk = true),
      "search lsh+chunk" -> db.search(2L, corpus(2)._3, includeChunk = true),
      "search ivf+chunk" -> db.search(3L, corpus(2)._3, includeChunk = true))
    val bad = plans.flatMap { case (name, df) =>
      val vs = tools.BroadcastAudit.violations(df)
      if (vs.nonEmpty) Some(s"$name:\n${vs.mkString("\n")}") else None
    }
    assert(bad.isEmpty, s"facade hints an unbounded broadcast:\n${bad.mkString("\n\n")}")
  }

  test("purgeDocument: physical erasure from all logs; other docs bit-identical; audit zero") {
    val db = freshDb()
    val dims = corpus.head._3.length
    db.createLibrary(1L, "lib", dims, "flat")
    db.createDocument(1L, 0L, "keep me")
    db.createDocument(1L, 1L, "purge me", Map("pii" -> "yes"))
    db.upsertChunks(corpus.take(20).map { case (id, t, e) => (1L, id / 10, id, t, e) })
    val q = corpus(3)._3
    // ranked id sequence of the SURVIVORS (ranks renumber once the purged
    // doc's chunks vacate their slots, so compare order, not rank values)
    val beforeOther = db.search(1L, q, k = 20).collect()
      .map(_.getLong(1)).filterNot(_ / 10 == 1L).toSeq

    val audit = db.purgeDocument(1L, 1L).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(audit === Map("chunks_log" -> 0L, "documents_log" -> 0L,
      "archive:chunks_log" -> 0L, "archive:documents_log" -> 0L,
      "ivf_index" -> 0L, "lsh_index" -> 0L,
      "ivf_index_archive" -> 0L, "lsh_index_archive" -> 0L, "flat_index_archive" -> 0L))
    // storage-level proof: the raw parquet files carry no trace of doc 1
    assert(spark.read.parquet(s"${db.root}/chunks_log")
      .filter(col("doc_id") === 1L).count() === 0L)
    assert(spark.read.parquet(s"${db.root}/documents_log")
      .filter(col("doc_id") === 1L).count() === 0L)
    // no stray temp state from the swap
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"${db.root}/_compact_commit")))
    // the surviving corpus is untouched: same ranked results for other docs
    val afterOther = db.search(1L, q, k = 20).collect()
      .map(_.getLong(1)).filterNot(_ / 10 == 1L).toSeq
    // survivors keep their relative order; freed slots admit new tail ids
    assert(afterOther.take(beforeOther.length) === beforeOther,
      "purge disturbed surviving documents")
    assert(db.getDocument(1L, 0L).count() === 1L)
    assert(db.listChunks(1L).filter(col("doc_id") === 1L).count() === 0L)
  }

  test("asOf: pinned reads == prefix replay across compactions, reopens, and purges") {
    val root = Files.createTempDirectory("graftdb").toString
    val db = new GraftDb(spark, root)
    val dims = corpus.head._3.length
    def snap(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, String, Seq[Float])] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getSeq[Float](4))).toSet
    // record the TRUE prefix states as history happens: the live snapshot
    // after op s IS the replay of the prefix ≤ s
    val want = scala.collection.mutable.Map.empty[Long, Set[(Long, Long, Long, String, Seq[Float])]]
    db.createLibrary(1L, "lib", dims, "flat") // seq 0
    db.upsertChunks(corpus.take(6).map { case (id, t, e) => (1L, id, id, t, e) }) // 1..6
    want(6L) = snap(db.chunks())
    db.deleteChunk(1L, corpus(2)._1, corpus(2)._1) // seq 7
    want(7L) = snap(db.chunks())

    db.compact() // archives the op-level epoch as gen=8
    assert(db.archivedWatermarks === Seq(8L), "first compaction archived no generation")
    assert(snap(db.asOf(6L)) === want(6L), "pre-compaction pin diverged (archive route)")
    assert(snap(db.asOf(7L)) === want(7L), "pre-compaction pin diverged (archive route)")

    db.upsertChunks(corpus.slice(6, 8).map { case (id, t, e) => (1L, id, id, t, e) }) // 8..9
    want(9L) = snap(db.chunks())
    db.upsertChunks(Seq((1L, corpus(1)._1, corpus(1)._1, "rewritten text", corpus(1)._3))) // 10
    want(10L) = snap(db.chunks())
    assert(snap(db.asOf(9L)) === want(9L), "live-epoch pin diverged (base seq = watermark-1)")

    db.compact() // second generation: gen=11
    assert(db.archivedWatermarks === Seq(8L, 11L))
    want.foreach { case (s, w) =>
      assert(snap(db.asOf(s)) === w, s"pin $s diverged after the second compaction")
    }

    // a reopened store continues the GLOBAL sequence (no reuse of archived
    // seqs) and serves every retained pin identically
    val db2 = new GraftDb(spark, root)
    db2.upsertChunks(Seq((1L, corpus(8)._1, corpus(8)._1, "post-reopen", corpus(8)._3))) // 11
    want.foreach { case (s, w) =>
      assert(snap(db2.asOf(s)) === w, s"pin $s diverged after reopen + append")
    }
    assert(snap(db2.asOf(Long.MaxValue)) === snap(db2.chunks()),
      "an unbounded pin must equal the live snapshot")

    // right-to-be-forgotten outranks time travel: the purged document
    // vanishes from EVERY pin; everyone else's history is untouched
    val purgedDoc = corpus(3)._1 // doc 3: lives in every pin
    val audit = db2.purgeDocument(1L, purgedDoc).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(audit.values.forall(_ === 0L), s"purge left rows behind: $audit")
    want.foreach { case (s, w) =>
      assert(snap(db2.asOf(s)) === w.filterNot(_._2 == purgedDoc),
        s"pin $s retains purged-document history")
    }
  }

  test("persisted ivf serving: pruned standing lists + delta == the in-memory route; fresh upserts visible; purge chases the index") {
    val db = freshDb()
    val dims = corpus.head._3.length
    db.createLibrary(3L, "ivf", dims, "ivf")
    db.upsertChunks(corpus.take(40).map { case (id, t, e) => (3L, id / 10, id, t, e) })
    db.trainIndex(3L, kCentroids = 4, iters = 2)
    import spark.implicits._
    val workload = Seq(2, 7, 21).map(i => (i.toLong, corpus(i)._3)).toDF("qid", "qvec")
    def res(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val before = res(db.searchAll(3L, workload, k = 5)) // in-memory route

    db.compact() // builds the standing index for the trained ivf library
    val idx = s"${db.root}/ivf_index/lib=3"
    assert(Files.exists(java.nio.file.Paths.get(s"$idx/meta")), "no standing index after compact")
    // the v53 size sidecar ≡ the lists, by construction
    val sizes = spark.read.parquet(s"$idx/sizes").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fromLists = spark.read.parquet(s"$idx/lists")
      .groupBy(col("cluster_id").cast("long").as("cluster_id"))
      .agg(count(lit(1)).as("csize")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes === fromLists, "size sidecar diverges from the lists")

    // the route upgrade is invisible to results...
    val served = db.searchAll(3L, workload, k = 5)
    assert(res(served) === before, "persisted route diverged from the in-memory route")
    // ...and the executed plan prunes list DIRECTORIES to the probed
    // clusters (PartitionFilters over the index path)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("ivf_index"), s"serving does not scan the index:\n${plan.take(600)}")
    assert(plan.contains("PartitionFilters") && plan.contains("cluster_id"),
      s"serving does not partition-prune the lists:\n${plan.take(900)}")

    // DELTA visibility with no rebuild: a fresh upsert is findable by the
    // very next search; a deleted base chunk and a tombstoned document
    // vacate the results
    val fresh = corpus(45)
    db.addChunk(3L, 99L, 990L, fresh._2, fresh._3)
    val freshQ = Seq((0L, fresh._3)).toDF("qid", "qvec")
    assert(db.searchAll(3L, freshQ, k = 1).collect().head.getLong(2) === 990L,
      "post-index upsert invisible before the next rebuild")
    val victim = before.head._3 // some served base chunk
    db.deleteChunk(3L, victim / 10, victim)
    db.deleteDocument(3L, 3L) // tombstones chunks 30..39
    val merged = res(db.searchAll(3L, workload, k = 5))
    assert(!merged.exists(_._3 == victim), "deleted base chunk still served")
    assert(!merged.exists(h => h._3 / 10 == 3L && h._3 != 990L),
      "tombstoned document's chunks still served")
    // base+delta ≡ the in-memory route over the SAME merged state: drop
    // the (derived, rebuildable) index and re-ask
    val hadIndex = res(db.searchAll(3L, workload, k = 5))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idx))
    assert(res(db.searchAll(3L, workload, k = 5)) === hadIndex,
      "persisted base+delta diverged from the in-memory route on the merged state")

    // purge chases the standing lists: rebuild + storage-level audit
    db.compact() // rebuild the index (it was deleted above)
    val audit = db.purgeDocument(3L, 0L).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(audit("ivf_index") === 0L, s"purged rows survive in the index lists: $audit")
    assert(spark.read.parquet(s"$idx/lists").filter(col("doc_id") === 0L).count() === 0L)
  }

  test("persisted lsh serving: standing key table + delta == the in-memory route; param mismatch falls back") {
    val db = freshDb()
    val dims = corpus.head._3.length
    db.createLibrary(2L, "lsh", dims, "lsh")
    db.upsertChunks(corpus.take(30).map { case (id, t, e) => (2L, id / 10, id, t, e) })
    import spark.implicits._
    val workload = Seq(2, 7, 21).map(i => (i.toLong, corpus(i)._3)).toDF("qid", "qvec")
    def res(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val before = res(db.searchAll(2L, workload, k = 5)) // in-memory keying

    db.compact() // builds the standing key table
    assert(Files.exists(java.nio.file.Paths.get(s"${db.root}/lsh_index/lib=2/meta")),
      "no standing lsh index after compact")
    val served = db.searchAll(2L, workload, k = 5)
    assert(res(served) === before, "persisted lsh route diverged from the in-memory route")
    assert(served.queryExecution.executedPlan.toString.contains("lsh_index"),
      "post-compact lsh search does not scan the standing key table")

    // delta visibility + masking, then equivalence on the merged state
    val fresh = corpus(45)
    db.addChunk(2L, 99L, 990L, fresh._2, fresh._3)
    val freshQ = Seq((0L, fresh._3)).toDF("qid", "qvec")
    assert(db.searchAll(2L, freshQ, k = 1).collect().head.getLong(2) === 990L,
      "post-index lsh upsert invisible")
    db.deleteChunk(2L, before.head._3 / 10, before.head._3)
    val hybrid = res(db.searchAll(2L, workload, k = 5))
    assert(!hybrid.exists(_._3 == before.head._3), "deleted base chunk still served")
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"${db.root}/lsh_index/lib=2"))
    assert(res(db.searchAll(2L, workload, k = 5)) === hybrid,
      "persisted lsh base+delta diverged from the in-memory route on the merged state")

    // a call with different LSH parameters must NOT use the standing
    // table (wrong buckets) — it falls back to in-memory keying
    db.compact() // rebuild the standing table (deleted above)
    val custom = res(db.searchAll(2L, workload, k = 5, nBits = 12, seed = 7L))
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"${db.root}/lsh_index/lib=2"))
    assert(res(db.searchAll(2L, workload, k = 5, nBits = 12, seed = 7L)) === custom,
      "mismatched-parameter search did not fall back to in-memory keying")
  }

  test("adaptive filtered search: a selective filter skips the lists, a broad one probes them") {
    val db = freshDb()
    val dims = corpus.head._3.length
    db.createLibrary(4L, "ivf", dims, "ivf")
    // 60 chunks: lang=xx on exactly one id (1/60 < the 2% switch
    // threshold), lang=en everywhere else
    def lang(id: Long) = if (id == 4L) "xx" else "en"
    db.upsertChunksMeta(corpus.take(60).map { case (id, t, e) =>
      (4L, id / 10, id, t, e, Map("lang" -> lang(id))) })
    db.trainIndex(4L, kCentroids = 4, iters = 2)
    db.compact() // standing index + the filterstats artifact beside it
    val idx = s"${db.root}/ivf_index/lib=4"
    assert(Files.exists(java.nio.file.Paths.get(s"$idx/filterstats")),
      "no filterstats artifact beside the standing index")

    import spark.implicits._
    val workload = Seq(2, 7).map(i => (i.toLong, corpus(i)._3)).toDF("qid", "qvec")

    // the decision receipt: 1/60 routes prefilter_exact, 59/60 the probe
    val rare = db.filterDecision(4L, Seq("lang" -> "xx")).collect()
    assert(rare.head.getLong(2) === 1L && rare.head.getLong(3) === 60L &&
      rare.forall(_.getString(4) == "prefilter_exact"), rare.mkString(","))
    val broadDec = db.filterDecision(4L, Seq("lang" -> "en")).collect()
    assert(broadDec.forall(_.getString(4) == "postfilter_probe"), broadDec.mkString(","))

    // selective: results == exact brute force over the survivor set, and
    // the executed plan never touches the standing lists
    val sel = db.searchAll(4L, workload, k = 2, metadataEq = Seq("lang" -> "xx"))
    val got = sel.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val want = Seq(2L, 7L).flatMap { qi =>
      corpus.take(60).filter(c => lang(c._1) == "xx")
        .map { case (id, _, e) => (id, cosine(e, corpus(qi.toInt)._3)) }
        .sortBy { case (id, sc) => (-sc, id) }.take(2).zipWithIndex
        .map { case ((id, _), rk) => (qi, rk.toLong + 1L, id) }
    }.sorted
    assert(got === want, s"selective route != exact scan over survivors: $got vs $want")
    assert(!sel.queryExecution.executedPlan.toString.contains("ivf_index"),
      "selective filter still scanned the standing lists")

    // broad: the probe route with post-filtering — the plan scans the
    // pruned standing lists and no non-matching candidate leaks
    val brd = db.searchAll(4L, workload, k = 5, metadataEq = Seq("lang" -> "en"))
    val brdPlan = brd.queryExecution.executedPlan.toString
    assert(brdPlan.contains("ivf_index") && brdPlan.contains("PartitionFilters"),
      s"broad filter abandoned the standing index:\n${brdPlan.take(600)}")
    assert(brd.collect().forall(r => lang(r.getLong(2)) == "en"),
      "broad filter leaked a non-matching candidate")

    // the selective branch needs NO staleness reconciliation: a rare
    // chunk added AFTER the index build (absent from the artifact's
    // counts) is served by the very next selective search — the branch
    // scans the live filtered snapshot; only the DECISION reads
    // build-time counts
    val fresh = corpus(45)
    db.upsertChunksMeta(Seq((4L, 99L, 990L, fresh._2, fresh._3, Map("lang" -> "xx"))))
    val freshQ = Seq((0L, fresh._3)).toDF("qid", "qvec")
    assert(db.searchAll(4L, freshQ, k = 1, metadataEq = Seq("lang" -> "xx"))
      .collect().head.getLong(2) === 990L,
      "post-build rare chunk invisible to the selective branch")
  }

  test("adaptive filtered search, lsh family: selective == exact over survivors, skipping the key table") {
    val db = freshDb()
    val dims = corpus.head._3.length
    db.createLibrary(5L, "lsh", dims, "lsh")
    def lang(id: Long) = if (id == 9L) "xx" else "en"
    db.upsertChunksMeta(corpus.take(60).map { case (id, t, e) =>
      (5L, id / 10, id, t, e, Map("lang" -> lang(id))) })
    db.compact() // standing key table + filterstats + n_total receipt
    assert(Files.exists(java.nio.file.Paths.get(
      s"${db.root}/lsh_index/lib=5/filterstats")), "no lsh filterstats artifact")

    import spark.implicits._
    val workload = Seq(2, 7).map(i => (i.toLong, corpus(i)._3)).toDF("qid", "qvec")
    val rare = db.filterDecision(5L, Seq("lang" -> "xx")).collect()
    assert(rare.head.getLong(2) === 1L && rare.head.getLong(3) === 60L &&
      rare.forall(_.getString(4) == "prefilter_exact"), rare.mkString(","))

    // selective: the lone survivor is ALWAYS found (rank 1 per query),
    // even though a bucket probe could miss a survivor sharing no bucket
    // with the query — and the plan never opens the standing key table
    val sel = db.searchAll(5L, workload, k = 3, metadataEq = Seq("lang" -> "xx"))
    val got = sel.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(got === Seq((2L, 1L, 9L), (7L, 1L, 9L)),
      s"selective lsh route != exact scan over the survivor: $got")
    assert(!sel.queryExecution.executedPlan.toString.contains("lsh_index"),
      "selective filter still scanned the standing key table")

    // broad: stays on the standing key table, nothing leaks
    val brd = db.searchAll(5L, workload, k = 5, metadataEq = Seq("lang" -> "en"))
    assert(brd.queryExecution.executedPlan.toString.contains("lsh_index"),
      "broad filter abandoned the standing key table")
    assert(brd.collect().forall(r => lang(r.getLong(2)) == "en"),
      "broad filter leaked a non-matching candidate")
  }

  test("adaptive filter receipt is uniform: flat libraries get artifact-sourced counts and a truthful route") {
    val db = freshDb()
    val dims = corpus.head._3.length
    db.createLibrary(6L, "flat", dims, "flat")
    def lang(id: Long) = if (id == 4L) "xx" else "en"
    db.upsertChunksMeta(corpus.take(60).map { case (id, t, e) =>
      (6L, id / 10, id, t, e, Map("lang" -> lang(id))) })
    db.compact() // writes the flat filterstats artifact + receipt
    assert(Files.exists(java.nio.file.Paths.get(
      s"${db.root}/flat_index/lib=6/filterstats")), "no flat filterstats artifact")

    // selective pair: artifact-sourced counts, route prefilter_exact
    val rare = db.filterDecision(6L, Seq("lang" -> "xx")).collect()
    assert(rare.head.getLong(2) === 1L && rare.head.getLong(3) === 60L &&
      rare.forall(_.getString(4) == "prefilter_exact"), rare.mkString(","))
    // broad pair: flat IS the exact pre-filtered scan regardless of
    // selectivity, so the route stays prefilter_exact — truthful, where
    // the old receipt reported a probe route flat serving never takes
    val broad = db.filterDecision(6L, Seq("lang" -> "en")).collect()
    assert(broad.head.getLong(2) === 59L &&
      broad.forall(_.getString(4) == "prefilter_exact"), broad.mkString(","))
    // and the serve agrees: exact results over the survivor set
    import spark.implicits._
    val workload = Seq(2, 7).map(i => (i.toLong, corpus(i)._3)).toDF("qid", "qvec")
    val got = db.searchAll(6L, workload, k = 3, metadataEq = Seq("lang" -> "xx"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(got === Seq((2L, 1L, 4L), (7L, 1L, 4L)),
      s"flat filtered serve diverged from the exact survivor scan: $got")
    // format_version rides the new receipt (the explicit marker the
    // column-sniff era lacked)
    val meta = spark.read.parquet(s"${db.root}/flat_index/lib=6/meta").collect().head
    assert(meta.getAs[Int]("format_version") === GraftDb.IndexMetaV)
  }

  test("filterDecision receipt == the route searchAll takes, including the lsh param-mismatch fallback") {
    val db = freshDb()
    val dims = corpus.head._3.length
    db.createLibrary(7L, "lsh", dims, "lsh")
    def lang(id: Long) = if (id == 9L) "xx" else "en"
    db.upsertChunksMeta(corpus.take(60).map { case (id, t, e) =>
      (7L, id / 10, id, t, e, Map("lang" -> lang(id))) })
    db.compact() // standing key table with the default (4, 10, 1000) params

    // matched params: receipt and serve agree on the adaptive switch
    val dec = db.filterDecision(7L, Seq("lang" -> "xx")).collect()
    assert(dec.forall(_.getString(4) == "prefilter_exact"), dec.mkString(","))
    // MISMATCHED params: searchAll bypasses the adaptive switch and
    // re-keys in memory — the receipt, taking the same param arguments,
    // must say so instead of reporting a route the serve never takes
    // (the r14 advisory's route-mismatch)
    val mm = db.filterDecision(7L, Seq("lang" -> "xx"), nTables = 8).collect()
    assert(mm.forall(_.getString(4) == "inmemory_rekey"), mm.mkString(","))
    assert(mm.head.getLong(2) === 1L,
      "mismatched params must not blank the artifact counts — only the route changes")
    import spark.implicits._
    val workload = Seq(2).map(i => (i.toLong, corpus(i)._3)).toDF("qid", "qvec")
    val mmServe = db.searchAll(7L, workload, k = 3, nTables = 8,
      metadataEq = Seq("lang" -> "xx"))
    assert(!mmServe.queryExecution.executedPlan.toString.contains("lsh_index"),
      "param-mismatched serve still read the standing key table")
    // the in-memory route is bucket-probed over the FILTERED snapshot:
    // any hit must be the survivor (a probe may legitimately miss —
    // which is exactly why the matched-params selective branch exists)
    assert(mmServe.collect().map(_.getLong(2)).forall(_ == 9L))
  }

  test("thrDen is a workload knob: a larger threshold flips the broad filter to the exact branch on both receipt and serve") {
    val db = freshDb()
    val dims = corpus.head._3.length
    db.createLibrary(8L, "ivf", dims, "ivf")
    def lang(id: Long) = if (id == 4L) "xx" else "en"
    db.upsertChunksMeta(corpus.take(60).map { case (id, t, e) =>
      (8L, id / 10, id, t, e, Map("lang" -> lang(id))) })
    db.trainIndex(8L, kCentroids = 4, iters = 2)
    db.compact()
    // default 2% threshold: lang=en (59/60) is broad → probe route
    assert(db.filterDecision(8L, Seq("lang" -> "en")).collect()
      .forall(_.getString(4) == "postfilter_probe"))
    // thrDen=1 (accept any filter): 1·59 ≤ 60 → the same pair routes
    // prefilter_exact, and the serve takes the same branch (no standing
    // lists in the plan) — receipt and serve share one knob
    assert(db.filterDecision(8L, Seq("lang" -> "en"), thrDen = 1L).collect()
      .forall(_.getString(4) == "prefilter_exact"))
    import spark.implicits._
    val workload = Seq(2).map(i => (i.toLong, corpus(i)._3)).toDF("qid", "qvec")
    val sel = db.searchAll(8L, workload, k = 3, metadataEq = Seq("lang" -> "en"),
      thrDen = 1L)
    assert(!sel.queryExecution.executedPlan.toString.contains("ivf_index"),
      "thrDen=1 serve still probed the standing lists")
    assert(sel.collect().nonEmpty)
  }

  test("index meta format_version: new receipts carry v2; a v1 (column-sniffed) lsh receipt still opens and serves") {
    val db = freshDb()
    val dims = corpus.head._3.length
    db.createLibrary(9L, "lsh", dims, "lsh")
    db.upsertChunksMeta(corpus.take(30).map { case (id, t, e) =>
      (9L, id / 10, id, t, e, Map("lang" -> "en")) })
    db.compact()
    val metaPath = s"${db.root}/lsh_index/lib=9/meta"
    val v2 = spark.read.parquet(metaPath).collect().head
    assert(v2.getAs[Int]("format_version") === GraftDb.IndexMetaV,
      "new lsh receipt missing the explicit format marker")
    // rewrite the receipt as a v1-era one: no format_version, no n_total
    // (the shape the column-sniff readers were built for)
    import spark.implicits._
    val v1 = Seq((v2.getAs[Long]("index_seq"), v2.getAs[Int]("n_tables"),
      v2.getAs[Int]("n_bits"), v2.getAs[Long]("seed")))
      .toDF("index_seq", "n_tables", "n_bits", "seed")
    val tmp = s"${db.root}/lsh_index/lib=9/meta_v1tmp"
    v1.coalesce(1).write.mode("overwrite").parquet(tmp)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(metaPath), true)
    fs.rename(new org.apache.hadoop.fs.Path(tmp), new org.apache.hadoop.fs.Path(metaPath))
    // a fresh session over the same root opens the legacy receipt: the
    // standing key table still serves (params match), and the adaptive
    // decision degrades safely to the probe route (no n_total)
    val db2 = new GraftDb(spark, db.root)
    val workload = Seq(2).map(i => (i.toLong, corpus(i)._3)).toDF("qid", "qvec")
    val hits = db2.searchAll(9L, workload, k = 3)
    assert(hits.queryExecution.executedPlan.toString.contains("lsh_index"),
      "legacy v1 receipt lost the standing key table")
    assert(hits.collect().nonEmpty)
    val dec = db2.filterDecision(9L, Seq("lang" -> "en")).collect()
    assert(dec.forall(_.getString(4) == "postfilter_probe"),
      s"v1 receipt without n_total must keep the probe route: ${dec.mkString(",")}")
  }

  test("index meta format_version: a FUTURE (v3) receipt reads as ABSENT — the route degrades, never misreads") {
    val db = freshDb()
    val dims = corpus.head._3.length
    db.createLibrary(17L, "future", dims, "lsh")
    db.upsertChunksMeta(corpus.take(20).map { case (id, t, e) =>
      (17L, id / 10, id, t, e, Map("lang" -> "en")) })
    db.compact()
    val metaPath = s"${db.root}/lsh_index/lib=17/meta"
    val v2 = spark.read.parquet(metaPath).collect().head
    import spark.implicits._
    // a v3 writer's receipt: same columns as far as v2 knows, plus a
    // hypothetical layout change v2 accessors would MISREAD — the
    // format_version contract says: don't try
    val v3 = Seq((v2.getAs[Long]("index_seq"), v2.getAs[Int]("n_tables"),
      v2.getAs[Int]("n_bits"), v2.getAs[Long]("seed"),
      v2.getAs[Long]("n_total"), GraftDb.IndexMetaV + 1))
      .toDF("index_seq", "n_tables", "n_bits", "seed", "n_total",
        "format_version")
    val tmp = s"${db.root}/lsh_index/lib=17/meta_v3tmp"
    v3.coalesce(1).write.mode("overwrite").parquet(tmp)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(metaPath), true)
    fs.rename(new org.apache.hadoop.fs.Path(tmp),
      new org.apache.hadoop.fs.Path(metaPath))
    val db2 = new GraftDb(spark, db.root)
    val workload = Seq(2).map(i => (i.toLong, corpus(i)._3)).toDF("qid", "qvec")
    val hits = db2.searchAll(17L, workload, k = 3)
    // the standing key table is NOT served (the receipt is unreadable by
    // contract): the in-memory rekey route answers, correct, unaccelerated
    assert(!hits.queryExecution.executedPlan.toString.contains("lsh_index"),
      "a future-version receipt was served through v2 accessors")
    assert(hits.collect().nonEmpty)
    assert(db2.filterDecision(17L, Seq("lang" -> "en")).collect()
      .forall(_.getString(4) == "inmemory_rekey"),
      "future-version receipt did not degrade the decision route")
  }

  test("out-of-band meta REPLACEMENT invalidates the cached route (mtime revalidation, not just existence)") {
    val db = freshDb()
    val dims = corpus.head._3.length
    db.createLibrary(18L, "oob", dims, "lsh")
    db.upsertChunks(corpus.take(20).map { case (id, t, e) =>
      (18L, id / 10, id, t, e) })
    db.buildLshIndex(18L, nTables = 4, nBits = 10, seed = 1000L)
    import spark.implicits._
    val workload = Seq(2).map(i => (i.toLong, corpus(i)._3)).toDF("qid", "qvec")
    // prime the meta cache on the standing-index route
    val before = db.searchAll(18L, workload, k = 3)
    assert(before.queryExecution.executedPlan.toString.contains("lsh_index"))
    assert(before.collect().nonEmpty)
    // an EXTERNAL actor replaces the receipt at the same path (an
    // out-of-band rebuild/restore with different params) — the r15
    // advisory's unhandled half: bare-existence revalidation kept
    // serving the stale cached row for the life of the instance
    Thread.sleep(20) // mtime granularity
    val metaPath = s"${db.root}/lsh_index/lib=18/meta"
    val swapped = Seq((99L, 8, 12, 4242L, 20L, GraftDb.IndexMetaV))
      .toDF("index_seq", "n_tables", "n_bits", "seed", "n_total",
        "format_version")
    swapped.coalesce(1).write.mode("overwrite").parquet(metaPath)
    // the SAME instance notices on the very next call: the recorded
    // params no longer match the call's, so the route drops to the
    // in-memory rekey instead of probing with a stale receipt
    val after = db.searchAll(18L, workload, k = 3)
    assert(!after.queryExecution.executedPlan.toString.contains("lsh_index/"),
      "replaced receipt still served through the stale cached row")
    assert(db.filterDecision(18L, Seq("lang" -> "en")).collect()
      .forall(_.getString(4) == "inmemory_rekey"),
      "replaced receipt did not flip the decision route")
  }

  test("lazy flat filterstats: a never-compacted flat library's first filtered call earns an artifact-sourced receipt") {
    val db = freshDb()
    val dims = corpus.head._3.length
    db.createLibrary(19L, "flatlazy", dims, "flat")
    db.upsertChunksMeta(corpus.take(20).map { case (id, t, e) =>
      (19L, id / 10, id, t, e,
        Map("lang" -> (if (id % 2 == 0) "en" else "de"))) })
    // NO compact() ever — before r16 this library could never report an
    // artifact-sourced receipt (buildFlatStats ran only at compact)
    import spark.implicits._
    val workload = Seq(2).map(i => (i.toLong, corpus(i)._3)).toDF("qid", "qvec")
    val hits = db.searchAll(19L, workload, k = 3, metadataEq = Seq("lang" -> "en"))
    assert(hits.collect().nonEmpty)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"${db.root}/flat_index/lib=19/meta")),
      "first filtered call did not materialize the flat stats artifact")
    val dec = db.filterDecision(19L, Seq("lang" -> "en")).collect()
    assert(dec.length === 1)
    assert(dec.head.getString(4) === "prefilter_exact")
    assert(dec.head.getLong(2) === 10L,
      s"receipt count not artifact-sourced: ${dec.head}")
    assert(dec.head.getLong(3) === 20L, s"receipt population wrong: ${dec.head}")
  }

  test("index maintenance loop: keep on an unchanged corpus, retrain on a reseeded one, receipt exposed") {
    val db = freshDb()
    val dims = corpus.head._3.length
    db.createLibrary(5L, "ivf", dims, "ivf")
    // high chunk ids: the seed population (2 lowest ids) is 100, 101
    db.upsertChunks((0 until 24).map(i =>
      (5L, 100L + i / 8, 100L + i, corpus(i)._2, corpus(i)._3)))
    db.trainIndex(5L, kCentroids = 2, iters = 2)
    val q = corpus(5)._3
    val before = db.search(5L, q, k = 5).collect().map(_.getLong(1)).toSeq

    // KEEP: the candidate re-runs the recorded recipe on the unchanged
    // corpus — deterministic training makes it bit-identical, drift is
    // exactly zero, and compaction stays invisible to results
    db.compact()
    val a1 = db.indexAudit(5L).collect()
    assert(a1.length === 1)
    assert(a1.head.getAs[String]("decision") === "keep", s"unchanged corpus retrained: ${a1.head}")
    assert(a1.head.getAs[Long]("off_diag") === 0L)
    assert(a1.head.getAs[Long]("n_total") === 24L)
    assert(db.search(5L, q, k = 5).collect().map(_.getLong(1)).toSeq === before,
      "keep-branch compaction changed results")

    // LAZY KEEP (r15): with a standing index and an unchanged corpus,
    // the next refresh decides keep at stage 1 — ZERO k-means
    // invocations (the counter is the gate, not timings), receipt and
    // results unchanged
    val trainsBefore = graft.operators.Ivf.trainInvocations.get()
    db.compact()
    assert(graft.operators.Ivf.trainInvocations.get() === trainsBefore,
      "keep path on an unchanged corpus trained a candidate")
    val a1b = db.indexAudit(5L).collect().head
    assert(a1b.getAs[String]("decision") === "keep" &&
      a1b.getAs[Long]("off_diag") === 0L && a1b.getAs[Long]("n_total") === 24L, s"$a1b")
    assert(db.search(5L, q, k = 5).collect().map(_.getLong(1)).toSeq === before,
      "lazy keep-path refresh changed results")

    // RETRAIN: new chunks BELOW the old seed ids change the candidate's
    // seed population — every vector relabels (full drift by
    // construction: the seeding corpus changing IS drift) — and the
    // decision rebuilds with the refreshed model
    db.upsertChunks((0 until 12).map(i =>
      (5L, 1L, 1L + i, corpus(30 + i)._2, corpus(30 + i)._3)))
    db.compact()
    val a2 = db.indexAudit(5L).collect().head
    assert(a2.getAs[String]("decision") === "retrain", s"reseeded corpus kept: $a2")
    assert(a2.getAs[Long]("n_total") === 36L)
    assert(a2.getAs[Long]("off_diag") === 36L, "relabel drift must be total")
    // the retrained index serves correctly: self-hits at rank 1 for an
    // old and a new chunk (nProbes=2 covers both clusters — exhaustive)
    assert(db.search(5L, corpus(31)._3, k = 1).collect().head.getLong(1) === 2L)
    assert(db.search(5L, corpus(5)._3, k = 1).collect().head.getLong(1) === 105L)
  }

  test("time-travel search: a pinned workload == exact search over the prefix-replayed corpus, across compactions") {
    val root = Files.createTempDirectory("graftdb").toString
    val db = new GraftDb(spark, root)
    val dims = corpus.head._3.length
    db.createLibrary(1L, "ivf", dims, "ivf") // seq 0; pinned serving is exact for ANY index_type
    db.upsertChunks(corpus.take(10).map { case (id, t, e) => (1L, id, id, t, e) }) // 1..10
    val pin = 10L
    import spark.implicits._
    val workload = Seq(2, 7).map(i => (i.toLong, corpus(i)._3)).toDF("qid", "qvec")
    def res(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    // live == prefix ≤ 10 right now, and the untrained-ivf route is exact
    // flat — so today's results ARE the pinned contract's expected value
    val wantAtPin = res(db.searchAll(1L, workload, k = 5))

    // history moves on: a vector rewrite, a delete, new chunks
    db.upsertChunks(Seq((1L, corpus(2)._1, corpus(2)._1, "rewritten", corpus(30)._3))) // 11
    db.deleteChunk(1L, corpus(7)._1, corpus(7)._1) // 12
    db.upsertChunks(corpus.slice(10, 14).map { case (id, t, e) => (1L, id, id, t, e) }) // 13..16
    assert(res(db.searchAll(1L, workload, k = 5, asOfSeq = Some(pin))) === wantAtPin,
      "pinned search diverged (live epoch)")
    assert(res(db.searchAll(1L, workload, k = 5)) !== wantAtPin,
      "the live corpus did not actually move — the pin proves nothing")

    db.compact() // the pin now routes to the archived generation
    assert(res(db.searchAll(1L, workload, k = 5, asOfSeq = Some(pin))) === wantAtPin,
      "pinned search diverged after compaction (archive route)")

    // trained-model and standing-index epochs do not leak into the pin
    db.trainIndex(1L, kCentroids = 4, iters = 2)
    db.compact()
    assert(res(db.searchAll(1L, workload, k = 5, asOfSeq = Some(pin))) === wantAtPin,
      "pinned search diverged after index build")

    // includeChunk payload comes from the PINNED snapshot: chunk 2's
    // original text, not the later rewrite
    val payload = db.searchAll(1L, workload, k = 10, includeChunk = true,
        asOfSeq = Some(pin))
      .filter(col("chunk_id") === corpus(2)._1)
      .select(col("text")).distinct().collect().map(_.getString(0)).toSeq
    assert(payload === Seq(corpus(2)._2), s"pinned payload leaked a later epoch: $payload")

    // a library that did not exist at the pin refuses loudly
    db.createLibrary(9L, "late", dims, "flat")
    val e = intercept[IllegalArgumentException](
      db.searchAll(9L, workload, asOfSeq = Some(pin)))
    assert(e.getMessage.contains("as of"))
  }

  test("pinned APPROXIMATE search: the archived model generation reproduces the live ivf ranking at the pin; purge drops stale models") {
    val db = freshDb()
    val dims = corpus.head._3.length
    db.createLibrary(11L, "ttidx", dims, "ivf") // seq 0
    db.upsertChunks((0 until 24).map(i =>
      (11L, 100L + i / 8, 100L + i, corpus(i)._2, corpus(i)._3))) // seq 1..24
    db.trainIndex(11L, kCentroids = 4, iters = 2)
    db.buildIndex(11L) // archives generation 24 (= the meta's index_seq)
    val pin = 24L
    import spark.implicits._
    val workload = Seq(2, 7).map(i => (i.toLong, corpus(i)._3)).toDF("qid", "qvec")
    def res(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    // nProbes=1 of 4 clusters: the approximate route genuinely prunes
    val livePin = res(db.searchAll(11L, workload, k = 5, nProbes = 1))

    // history moves on: a reseeding delta + compact retrains and
    // archives a second generation; live results change
    db.upsertChunks((0 until 12).map(i =>
      (11L, 1L, 1L + i, corpus(30 + i)._2, corpus(30 + i)._3)))
    db.compact()
    assert(res(db.searchAll(11L, workload, k = 5, nProbes = 1)) !== livePin,
      "the live ranking did not move — the pin proves nothing")

    // the approximate pin replays the RANKING the live route served at
    // the pin — bit-for-bit, from the archived matrix + the pinned fold
    // (no lists archived: assignment is a pure function of both)
    val approxPin = res(db.searchAll(11L, workload, k = 5, nProbes = 1,
      asOfSeq = Some(pin), pinIndexed = true))
    assert(approxPin === livePin,
      s"archived-generation pin diverged from the ranking served at the pin")
    // and it IS the approximate route, not exact-at-pin relabeled
    val exactPin = res(db.searchAll(11L, workload, k = 5, asOfSeq = Some(pin)))
    assert(approxPin !== exactPin,
      "probe-pruned pin equals exact — the test corpus does not exercise the route")

    // a pin BEFORE any archived generation falls back to the exact contract
    val earlyPin = 10L
    assert(res(db.searchAll(11L, workload, k = 5, asOfSeq = Some(earlyPin),
      pinIndexed = true)) ===
      res(db.searchAll(11L, workload, k = 5, asOfSeq = Some(earlyPin))),
      "pre-index pin did not fall back to exact")

    // purge outranks reproducibility: stale archived models drop (audit
    // row), and the approximate pin falls back to exact afterwards
    val audit = db.purgeDocument(11L, 100L).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(audit("ivf_index_archive") === 0L,
      s"pre-purge model generations survive the purge: $audit")
    assert(res(db.searchAll(11L, workload, k = 5, nProbes = 1,
      asOfSeq = Some(pin), pinIndexed = true)) ===
      res(db.searchAll(11L, workload, k = 5, asOfSeq = Some(pin))),
      "approximate pin still served a purged generation's model")
  }

  test("pinned APPROXIMATE lsh search: the archived receipt reproduces the live bucket-route ranking at the pin; purge drops stale models") {
    val db = freshDb()
    val dims = corpus.head._3.length
    db.createLibrary(12L, "ttlsh", dims, "lsh") // seq 0
    db.upsertChunks((0 until 24).map(i =>
      (12L, 100L + i / 8, 100L + i, corpus(i)._2, corpus(i)._3))) // seq 1..24
    // selective buckets (high nBits): the bucket route genuinely prunes,
    // so the replayed ranking is distinguishable from exact-at-pin
    db.buildLshIndex(12L, nTables = 2, nBits = 14, seed = 7L) // archives gen 24
    val pin = 24L
    import spark.implicits._
    val workload = Seq(2, 7).map(i => (i.toLong, corpus(i)._3)).toDF("qid", "qvec")
    def res(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val livePin = res(db.searchAll(12L, workload, k = 5,
      nTables = 2, nBits = 14, seed = 7L))

    // history moves on: new chunks, then a rebuild with DIFFERENT params
    // — a second archived generation; the live ranking changes
    db.upsertChunks((0 until 12).map(i =>
      (12L, 1L, 1L + i, corpus(30 + i)._2, corpus(30 + i)._3)))
    db.buildLshIndex(12L, nTables = 2, nBits = 6, seed = 7L)
    assert(res(db.searchAll(12L, workload, k = 5,
      nTables = 2, nBits = 6, seed = 7L)) !== livePin,
      "the live ranking did not move — the pin proves nothing")

    // the approximate pin replays the bucket-route ranking the standing
    // key table served at the pin, with the ARCHIVED receipt's params
    // (never the call's — the call passes the CURRENT ones)
    val approxPin = res(db.searchAll(12L, workload, k = 5,
      nTables = 2, nBits = 6, seed = 7L, asOfSeq = Some(pin), pinIndexed = true))
    assert(approxPin === livePin,
      "archived-receipt pin diverged from the ranking served at the pin")
    // and it IS the bucket route, not exact-at-pin relabeled
    val exactPin = res(db.searchAll(12L, workload, k = 5, asOfSeq = Some(pin)))
    assert(approxPin !== exactPin,
      "bucket-pruned pin equals exact — the test corpus does not exercise the route")

    // a pin BEFORE any archived generation falls back to the exact contract
    val earlyPin = 10L
    assert(res(db.searchAll(12L, workload, k = 5, asOfSeq = Some(earlyPin),
      pinIndexed = true)) ===
      res(db.searchAll(12L, workload, k = 5, asOfSeq = Some(earlyPin))),
      "pre-index pin did not fall back to exact")

    // purge outranks reproducibility — same contract as the ivf archive:
    // stale lsh models drop (audit row), the approximate pin falls back
    val audit = db.purgeDocument(12L, 100L).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(audit("lsh_index_archive") === 0L,
      s"pre-purge lsh model generations survive the purge: $audit")
    assert(res(db.searchAll(12L, workload, k = 5,
      asOfSeq = Some(pin), pinIndexed = true)) ===
      res(db.searchAll(12L, workload, k = 5, asOfSeq = Some(pin))),
      "approximate pin still served a purged generation's receipt")
  }

  test("pinned search on a LIVE-DELETED library degrades to exact — never errors (the library existed at the pin)") {
    val db = freshDb()
    val dims = corpus.head._3.length
    db.createLibrary(20L, "gone", dims, "ivf")
    db.upsertChunks((0 until 16).map(i =>
      (20L, 100L + i / 8, 100L + i, corpus(i)._2, corpus(i)._3)))
    db.trainIndex(20L, kCentroids = 2, iters = 2)
    db.buildIndex(20L)
    val pin = 16L
    import spark.implicits._
    val workload = Seq(2).map(i => (i.toLong, corpus(i)._3)).toDF("qid", "qvec")
    def res(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val exactPin = res(db.searchAll(20L, workload, k = 5, asOfSeq = Some(pin)))
    // the library is deleted LIVE; the pin predates the tombstone, so
    // the pinned read must still serve — r16 fixed the approximate
    // dispatch consulting the live record through the throwing lookup
    db.deleteLibrary(20L)
    assert(res(db.searchAll(20L, workload, k = 5, asOfSeq = Some(pin),
      pinIndexed = true)) === exactPin,
      "live-deleted library's approximate pin neither served nor degraded")
  }

  test("pinned approximate search replays the ROUTE DECISION too: a historically-selective filter serves the exact branch at the pin") {
    val db = freshDb()
    val dims = corpus.head._3.length
    db.createLibrary(21L, "routepin", dims, "lsh")
    // one RARE metadata value on a single chunk; the rest common
    db.upsertChunksMeta((0 until 24).map { i =>
      (21L, 100L + i / 8, 100L + i, corpus(i)._2, corpus(i)._3,
        Map("lang" -> (if (i == 10) "rare" else "en")))
    })
    // selective buckets: a survivor sharing no bucket with the query is
    // invisible to the probe route — exactly the case the live route's
    // pre-filter branch exists for
    db.buildLshIndex(21L, nTables = 2, nBits = 14, seed = 7L)
    val pin = 24L
    import spark.implicits._
    val workload = Seq(2).map(i => (i.toLong, corpus(i)._3)).toDF("qid", "qvec")
    def res(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    // thrDen=10: cnt(rare)=1 of n=24 → selective (exact branch);
    // cnt(en)=23 → broad (bucket route) — both recorded live at the pin
    val liveSel = res(db.searchAll(21L, workload, k = 5, nTables = 2,
      nBits = 14, seed = 7L, metadataEq = Seq("lang" -> "rare"), thrDen = 10L))
    assert(liveSel.nonEmpty, "selective live serve returned nothing — fixture broken")
    val liveBroad = res(db.searchAll(21L, workload, k = 5, nTables = 2,
      nBits = 14, seed = 7L, metadataEq = Seq("lang" -> "en"), thrDen = 10L))
    // history moves on: delta + rebuild under different params
    db.upsertChunks((0 until 6).map(i =>
      (21L, 1L, 1L + i, corpus(30 + i)._2, corpus(30 + i)._3)))
    db.buildLshIndex(21L, nTables = 2, nBits = 6, seed = 7L)
    // the pinned replay reruns the SAME BigInt decision on the ARCHIVED
    // generation's filterstats: selective → the exact branch history
    // served (the old replay pushed it through the bucket route, losing
    // survivors that share no bucket); broad → the bucket route
    assert(res(db.searchAll(21L, workload, k = 5, asOfSeq = Some(pin),
      pinIndexed = true, metadataEq = Seq("lang" -> "rare"), thrDen = 10L)) === liveSel,
      "historically-selective filter did not replay the exact branch")
    assert(res(db.searchAll(21L, workload, k = 5, asOfSeq = Some(pin),
      pinIndexed = true, metadataEq = Seq("lang" -> "en"), thrDen = 10L)) === liveBroad,
      "historically-broad filter did not replay the bucket route")
  }

  test("archive chain gap: a generation missing from the archive (crash between swap and archive) pins to EXACT, never the previous model") {
    val db = freshDb()
    val dims = corpus.head._3.length
    db.createLibrary(15L, "chain", dims, "ivf")
    db.upsertChunks((0 until 24).map(i =>
      (15L, 100L + i / 8, 100L + i, corpus(i)._2, corpus(i)._3))) // seq 1..24
    db.trainIndex(15L, kCentroids = 4, iters = 2)
    db.buildIndex(15L) // gen A = 24
    db.upsertChunks((0 until 6).map(i =>
      (15L, 1L, 1L + i, corpus(30 + i)._2, corpus(30 + i)._3))) // 25..30
    db.buildIndex(15L) // gen B = 30
    db.upsertChunks((6 until 12).map(i =>
      (15L, 2L, 50L + i, corpus(30 + i)._2, corpus(30 + i)._3))) // 31..36
    db.buildIndex(15L) // gen C = 36
    val archRoot = s"${db.root}/ivf_index_archive/lib=15"
    val gens = new java.io.File(archRoot).listFiles().map(_.getName).sorted.toSeq
    assert(gens === Seq("gen=24", "gen=30", "gen=36"), s"unexpected archive layout: $gens")
    // the chain links: each gen's receipt names its predecessor
    assert(spark.read.parquet(s"$archRoot/gen=36/meta").head.getAs[Long]("prev_gen") === 30L)
    assert(spark.read.parquet(s"$archRoot/gen=30/meta").head.getAs[Long]("prev_gen") === 24L)
    import spark.implicits._
    val workload = Seq(2).map(i => (i.toLong, corpus(i)._3)).toDF("qid", "qvec")
    def res(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq

    // a pin during gen 24's reign, recorded BEFORE any damage — the
    // control for the gap-after-pin check below
    val pinAt26 = 26L
    val approx26Before = res(db.searchAll(15L, workload, k = 5, nProbes = 1,
      asOfSeq = Some(pinAt26), pinIndexed = true))

    // simulate the crash class the r15 advisory flagged: build B's swap
    // landed but its archive write never did — gen 30 vanishes
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$archRoot/gen=30"))
    val db2 = new GraftDb(spark, db.root) // fresh session, no caches
    // a pin DURING gen 30's reign must NOT silently replay gen 24's model
    // (gen 36's receipt names 30, not 24 — the chain detects the gap):
    // the pin falls back to the exact contract
    val pinInGap = 32L
    assert(res(db2.searchAll(15L, workload, k = 5, nProbes = 1,
      asOfSeq = Some(pinInGap), pinIndexed = true)) ===
      res(db2.searchAll(15L, workload, k = 5, asOfSeq = Some(pinInGap))),
      "chain-gap pin replayed the WRONG (previous) generation's model")
    // a gap AFTER the pin must not poison pins the missing build never
    // covered: gen 24 genuinely stood at seq 26 whether or not gen 30's
    // archive survives (gen 36's prev_gen = 30 > 26 proves the missing
    // build began after the pin) — the r16 review's false-reject fix
    assert(res(db2.searchAll(15L, workload, k = 5, nProbes = 1,
      asOfSeq = Some(pinAt26), pinIndexed = true)) === approx26Before,
      "a post-pin archive gap changed a pre-gap pin's replay")
    // validated replay RESUMES past the gap: a pin covering gen 36 (the
    // live index's own generation, witnessed by the live meta) serves
    // the approximate route — and with the pin at/after every mutation,
    // the pinned fold IS the live corpus, so the replay must equal the
    // live standing-index route bit-for-bit (the v56 identity)
    val pinAt36 = 36L
    val approx36 = res(db2.searchAll(15L, workload, k = 5, nProbes = 1,
      asOfSeq = Some(pinAt36), pinIndexed = true))
    assert(approx36 === res(db2.searchAll(15L, workload, k = 5, nProbes = 1)),
      "validated post-gap generation did not replay the live route")
  }

  test("a FUTURE-version archived receipt degrades its pin to exact — never crashes, never misreads") {
    val db = freshDb()
    val dims = corpus.head._3.length
    db.createLibrary(22L, "futuregen", dims, "lsh")
    db.upsertChunks((0 until 16).map(i =>
      (22L, 100L + i / 8, 100L + i, corpus(i)._2, corpus(i)._3)))
    db.buildLshIndex(22L, nTables = 2, nBits = 10, seed = 7L) // gen 16
    val pin = 16L
    import spark.implicits._
    val workload = Seq(2).map(i => (i.toLong, corpus(i)._3)).toDF("qid", "qvec")
    def res(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    // a v3 writer re-archives the generation's receipt: this reader must
    // treat it as absent at the ARCHIVE path too (the live-meta
    // enforcement test covers the index path) — the covering gen is
    // found by directory listing, so the receipt read is where the
    // contract bites
    val metaPath = s"${db.root}/lsh_index_archive/lib=22/gen=16/meta"
    val v3 = Seq((16L, 2, 10, 7L, 16L, GraftDb.IndexMetaV + 1, -1L))
      .toDF("index_seq", "n_tables", "n_bits", "seed", "n_total",
        "format_version", "prev_gen")
    v3.coalesce(1).write.mode("overwrite").parquet(metaPath)
    val db2 = new GraftDb(spark, db.root)
    assert(res(db2.searchAll(22L, workload, k = 5, asOfSeq = Some(pin),
      pinIndexed = true)) ===
      res(db2.searchAll(22L, workload, k = 5, asOfSeq = Some(pin))),
      "future-version archived receipt did not degrade the pin to exact")
  }

  test("index maintenance: delete-heavy churn reaches the train/decide path (drift counts deletions)") {
    val db = freshDb()
    val dims = corpus.head._3.length
    db.createLibrary(16L, "deldrift", dims, "ivf")
    db.upsertChunks((0 until 24).map(i =>
      (16L, 100L + i / 8, 100L + i, corpus(i)._2, corpus(i)._3)))
    db.trainIndex(16L, kCentroids = 2, iters = 2)
    db.buildIndex(16L) // standing lists: 24 rows
    // delete HALF the corpus, sparing the seed ids (100, 101) and the
    // occupancy balance: before r16 the drift signal left-joined the
    // CURRENT corpus against the lists, so rows present only on the
    // lists side (deletions) were invisible — this stayed on the lazy
    // keep path forever with zero training
    db.deleteChunksBatch(16L, (110L to 121L))
    val trainsBefore = graft.operators.Ivf.trainInvocations.get()
    db.buildIndex(16L)
    assert(graft.operators.Ivf.trainInvocations.get() > trainsBefore,
      "delete-only churn never reached the stage-2 train/decide path")
    // and the rebuilt lists hold only survivors
    val listed = spark.read.parquet(s"${db.root}/ivf_index/lib=16/lists")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(listed === ((100L to 109L) ++ (122L to 123L)).toSet,
      s"lists diverge from the shrunk corpus: $listed")
  }

  test("crash repair: scrub leftovers complete or restore on open; a damaged archived generation fails loudly") {
    val root = Files.createTempDirectory("graftdb").toString
    val db = new GraftDb(spark, root)
    val dims = corpus.head._3.length
    def snap(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, String)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    db.createLibrary(1L, "lib", dims, "flat") // seq 0
    db.upsertChunks(corpus.take(6).map { case (id, t, e) => (1L, id, id, t, e) }) // 1..6
    db.compact() // archives gen=7 with its manifest
    val gen = s"$root/archive/gen=7"
    assert(Files.exists(java.nio.file.Paths.get(s"$gen/_manifest")), "no archive manifest")
    val want = snap(db.asOf(6L))

    import java.nio.file.{Files => JF, Paths => JP}
    // crash BETWEEN the scrub's two renames: live log renamed aside, the
    // scrubbed copy complete — open must finish the swap
    JF.move(JP.get(s"$gen/chunks_log"), JP.get(s"$gen/chunks_log_scrubold"))
    spark.read.parquet(s"$gen/chunks_log_scrubold")
      .write.parquet(s"$gen/chunks_log_scrubbing")
    val db2 = new GraftDb(spark, root)
    assert(JF.exists(JP.get(s"$gen/chunks_log")), "swap not completed on open")
    assert(!JF.exists(JP.get(s"$gen/chunks_log_scrubold")) &&
      !JF.exists(JP.get(s"$gen/chunks_log_scrubbing")), "scrub temps left behind")
    assert(snap(db2.asOf(6L)) === want, "completed scrub swap lost history")

    // orphaned aside with the copy gone: the un-scrubbed original is
    // restored — an older archive beats a lost one
    JF.move(JP.get(s"$gen/chunks_log"), JP.get(s"$gen/chunks_log_scrubold"))
    val db3 = new GraftDb(spark, root)
    assert(JF.exists(JP.get(s"$gen/chunks_log")), "aside not restored on open")
    assert(snap(db3.asOf(6L)) === want, "restored archive lost history")

    // a stale incomplete index build is discarded on open
    val bld = JP.get(s"$root/ivf_index/lib=9_building")
    JF.createDirectories(bld)
    JF.writeString(bld.resolve("garbage"), "not an index")
    val db4 = new GraftDb(spark, root)
    assert(!JF.exists(bld), "incomplete index build not discarded")

    // DAMAGED generation (manifest lists a log the directory lacks — e.g.
    // a retention job deleted one log of the pair): asOf fails loudly
    // instead of silently folding an empty history
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$gen/chunks_log"))
    val db5 = new GraftDb(spark, root)
    val e = intercept[IllegalArgumentException](db5.asOf(6L))
    assert(e.getMessage.contains("damaged"))
  }

  test("delta re-embedding: compaction reuses unchanged texts' vectors bit-identically; only changes pay the encoder") {
    val dim = graft.operators.SearchText.Dim
    val db = freshDb()
    db.createLibrary(1L, "txt", dim, "flat")
    (0L until 8L).foreach(i => db.addChunkText(1L, i, i, s"document number $i"))
    // pre-compaction delta serves via encode-on-read: vectors present,
    // searchable, dim-correct
    assert(db.chunks().collect().forall(_.getSeq[Float](4).length === dim))
    val preHit = db.searchText(1L, "document number 3", k = 1).collect().head
    assert(preHit.getLong(1) === 3L, "encode-on-read delta did not find the self-hit")

    db.compact() // first store build: everyone encodes
    val a1 = db.embedAudit().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a1 === Map("recomputed" -> 8L))
    val storeBefore = spark.read.parquet(s"${db.root}/embed_store")
      .collect().map(r => r.getAs[Long]("chunk_id") -> r.getSeq[Float](3)).toMap

    // epoch 2: two texts change, one re-adds IDENTICAL text, one chunk
    // deleted, four untouched
    db.addChunkText(1L, 0L, 0L, "document number 0 EDITED")
    db.addChunkText(1L, 1L, 1L, "document number 1 EDITED")
    db.addChunkText(1L, 2L, 2L, "document number 2") // same text re-added
    db.deleteChunk(1L, 7L, 7L)
    db.compact()
    val a2 = db.embedAudit().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // 7 live derived chunks: ONLY the two text changes paid the encoder —
    // the same-text re-add and the four untouched chunks all reused
    assert(a2 === Map("recomputed" -> 2L, "reused" -> 5L), s"encoder receipt wrong: $a2")
    // reused vectors are BIT-IDENTICAL to the previous store generation
    val storeAfter = spark.read.parquet(s"${db.root}/embed_store").collect()
      .map(r => r.getAs[Long]("chunk_id") ->
        (r.getSeq[Float](3), r.getAs[String]("status"))).toMap
    (2L to 6L).foreach { c =>
      assert(storeAfter(c)._2 === "reused" && storeAfter(c)._1 === storeBefore(c),
        s"chunk $c reuse is not bit-identical")
    }

    // post-compact search ≡ a from-scratch FULL re-embed build over the
    // same final texts (reuse is a cost optimization, never a semantic)
    val db2 = freshDb()
    db2.createLibrary(1L, "txt", dim, "flat")
    db2.addChunkText(1L, 0L, 0L, "document number 0 EDITED")
    db2.addChunkText(1L, 1L, 1L, "document number 1 EDITED")
    (2L until 7L).foreach(i => db2.addChunkText(1L, i, i, s"document number $i"))
    db2.compact()
    def hits(d: GraftDb) = d.searchText(1L, "document number 4", k = 7).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(hits(db) === hits(db2),
      "delta-refreshed store diverged from a full re-embed build")
  }

  test("snapshot memo: same derived frame between mutations, fresh one after") {
    val db = freshDb()
    db.createLibrary(1L, "lib", corpus.head._3.length, "flat")
    db.addChunk(1L, 0L, 1L, "one", corpus(1)._3)
    assert(db.chunks() eq db.chunks(), "snapshot re-derived with no intervening mutation")
    assert(db.listLibraries() eq db.listLibraries())
    val before = db.chunks()
    db.addChunk(1L, 0L, 2L, "two", corpus(2)._3)
    assert(!(db.chunks() eq before), "stale snapshot served after a mutation")
    assert(db.chunks().count() === 2)
  }

  test("chunk lifecycle: upsert visible to search, update wins, deletes cascade, re-add survives") {
    val db = freshDb()
    db.createLibrary(1L, "lib", corpus.head._3.length, "flat")
    db.upsertChunks(corpus.take(20).map { case (id, text, emb) => (1L, id / 10, id, text, emb) })
    assert(db.stats(1L).head().getAs[Long]("n_chunks") === 20L)

    // flat search == driver-side exact kNN over the same snapshot
    val q = corpus(3)._3
    val got = db.search(1L, q, k = 5).collect().map(_.getLong(1))
    val want = corpus.take(20).map { case (id, _, emb) => id -> cosine(emb, q) }
      .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1)
    assert(got.toSeq === want.toSeq, "flat search diverges from driver kNN")
    assert(got.head === corpus(3)._1, "self-hit must rank first")

    // upsert with a new embedding → next search sees it (u1, no rebuild)
    val moved = corpus(30)._3 // a vector far from q's neighborhood
    db.updateChunk(1L, corpus(3)._1 / 10, corpus(3)._1, "moved", moved)
    val after = db.search(1L, moved, k = 1).collect()
    assert(after.head.getLong(1) === corpus(3)._1, "updated embedding not searchable")

    // chunk delete
    db.deleteChunk(1L, corpus(5)._1 / 10, corpus(5)._1)
    assert(db.getChunk(1L, corpus(5)._1).count() === 0)
    assert(db.stats(1L).head().getAs[Long]("n_chunks") === 19L)

    // document cascade: doc 0 holds ids 0..9 → minus already-deleted 5
    db.deleteDocument(1L, 0L)
    assert(db.listChunks(1L).filter(col("doc_id") === 0L).count() === 0)
    // re-add after the cascade survives (tombstone masks only older rows)
    db.addChunk(1L, 0L, 7L, corpus(7)._2, corpus(7)._3)
    assert(db.getChunk(1L, 7L).count() === 1)

    // library cascade
    db.deleteLibrary(1L)
    assert(db.chunks().count() === 0)
  }

  test("ivf route: trained search finds the self-hit and compaction preserves results") {
    val db = freshDb()
    db.createLibrary(3L, "ivf-lib", corpus.head._3.length, "ivf")
    db.upsertChunks(corpus.take(40).map { case (id, text, emb) => (3L, id / 10, id, text, emb) })

    // untrained ivf serves exact flat results (reference _ensure_index)
    val q = corpus(11)._3
    val flat = db.search(3L, q, k = 5).collect().map(_.getLong(1))
    assert(flat.head === corpus(11)._1)

    db.trainIndex(3L, kCentroids = 4, iters = 2)
    val trained = db.search(3L, q, k = 5, nProbes = 2).collect().map(_.getLong(1))
    assert(trained.head === corpus(11)._1, "trained ivf must find the self-hit")
    // probes cover at least half the flat top-5 on this tiny corpus
    assert(trained.toSet.intersect(flat.toSet).size >= 3,
      s"ivf recall too low: flat=${flat.toSeq} trained=${trained.toSeq}")

    // delete + update, then compact: results identical, log strictly smaller
    db.deleteChunk(3L, corpus(12)._1 / 10, corpus(12)._1)
    db.updateChunk(3L, corpus(13)._1 / 10, corpus(13)._1, "upd", corpus(13)._3)
    val before = db.search(3L, q, k = 5, includeChunk = true)
      .collect().map(r => (r.getLong(1), r.getLong(0)))
    val logBefore = spark.read.parquet(s"${db.root}/chunks_log").count()
    db.compact()
    val afterC = db.search(3L, q, k = 5, includeChunk = true)
      .collect().map(r => (r.getLong(1), r.getLong(0)))
    val logAfter = spark.read.parquet(s"${db.root}/chunks_log").count()
    assert(afterC.toSeq === before.toSeq, "compaction changed search results")
    assert(logAfter < logBefore, s"compaction did not shrink the log ($logBefore -> $logAfter)")
    assert(logAfter === db.chunks().count(), "compacted log is not exactly the snapshot")
  }

  test("lsh route: bucket search returns the self-hit first with payload") {
    val db = freshDb()
    db.createLibrary(4L, "lsh-lib", corpus.head._3.length, "lsh")
    db.upsertChunks(corpus.take(30).map { case (id, text, emb) => (4L, id / 10, id, text, emb) })
    val q = corpus(21)
    val hits = db.search(4L, q._3, k = 5, includeChunk = true).collect()
    assert(hits.nonEmpty)
    assert(hits.head.getLong(1) === q._1, "lsh self-hit must rank first")
    assert(hits.head.getString(4) === q._2, "include_chunk payload mismatch")
  }

  test("metadata filter prunes candidates before scoring (metadata_filters semantics)") {
    val db = freshDb()
    db.createLibrary(5L, "filt", corpus.head._3.length, "flat")
    db.upsertChunks(corpus.take(20).map { case (id, text, emb) => (5L, id / 10, id, text, emb) })
    val q = corpus(2)._3
    // doc_id is the promoted metadata key here: restrict to document 1
    val hits = db.search(5L, q, k = 20, includeChunk = true,
      metadataFilter = Some(col("doc_id") === 1L)).collect()
    assert(hits.nonEmpty)
    assert(hits.forall(_.getLong(3) === 1L), "a filtered-out candidate surfaced")
    // filter-then-search == search-the-subset: exact same hit set
    val want = corpus.take(20).filter(_._1 / 10 == 1L)
      .map { case (id, _, emb) => id -> cosine(emb, q) }
      .sortBy { case (id, s) => (-s, id) }.map(_._1)
    assert(hits.map(_.getLong(1)).toSeq === want.toSeq)
  }

  test("a new session over the same root continues the sequence (rebuild-on-startup)") {
    val root = Files.createTempDirectory("graftdb").toString
    val db1 = new GraftDb(spark, root)
    db1.createLibrary(1L, "lib", corpus.head._3.length, "flat")
    db1.addChunk(1L, 0L, 1L, "one", corpus(1)._3)
    val db2 = new GraftDb(spark, root) // fresh facade, same storage
    db2.deleteChunk(1L, 0L, 1L) // must sequence AFTER db1's upsert
    assert(db2.chunks().count() === 0, "restored sequence did not order after prior writes")
  }

  test("chunk metadata dict: filtered searchAll per index family (models.py:16/:48)") {
    val db = freshDb()
    val dims = corpus.head._3.length
    db.createLibrary(1L, "flat", dims, "flat")
    db.createLibrary(2L, "lsh", dims, "lsh")
    db.createLibrary(3L, "ivf", dims, "ivf")
    def src(id: Long) = if (id % 2 == 0) "web" else "books"
    Seq(1L, 2L, 3L).foreach { lib =>
      db.upsertChunksMeta(corpus.take(24).map { case (id, t, e) =>
        (lib, id / 10, id, t, e, Map("source" -> src(id), "crawl" -> "2026-01")) })
    }
    db.trainIndex(3L, kCentroids = 4, iters = 1)
    // the snapshot exposes the dict
    val metas = db.listChunks(1L).select(col("chunk_id"), col("metadata")("source"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(metas.forall { case (id, v) => v === src(id) })
    // query an IN-FILTER (even-id / web) vector: the LSH arm finds
    // candidates by bucket collision, and the self-bucket guarantees a
    // non-vacuous hit set only if the query itself survives the filter
    val q = corpus(2)._3
    assert(corpus(2)._1 % 2 == 0, "test premise: corpus(2) must be an even id")
    val filt = Some(col("metadata")("source") === "web")
    // flat arm: filtered search == brute-force kNN over the web-only subset
    val flatHits = db.search(1L, q, k = 5, metadataFilter = filt).collect()
    assert(flatHits.nonEmpty && flatHits.forall(_.getLong(1) % 2 == 0),
      "a filtered-out (books) candidate surfaced")
    val want = corpus.take(24).filter(_._1 % 2 == 0)
      .map { case (id, _, e) => id -> cosine(e, q) }
      .sortBy { case (id, sc) => (-sc, id) }.take(5).map(_._1)
    assert(flatHits.map(_.getLong(1)).toSeq === want.toSeq)
    // lsh + ivf arms: filter restricts candidates BEFORE scoring — no
    // books id can appear no matter how it scores
    Seq(2L, 3L).foreach { lib =>
      val hits = db.search(lib, q, k = 5, metadataFilter = filt).collect()
      assert(hits.nonEmpty && hits.forall(_.getLong(1) % 2 == 0),
        s"library $lib leaked a filtered-out candidate")
    }
    // includeChunk carries the dict in the payload
    val withChunk = db.search(1L, q, k = 3, includeChunk = true, metadataFilter = filt)
    assert(withChunk.columns.contains("metadata"))
    assert(withChunk.collect().forall(_.getAs[Map[String, String]]("metadata")("source") === "web"))
  }

  test("pre-metadata chunk log opens and searches; new appends carry the dict (compat)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graftdb").toString
    val dims = corpus.head._3.length
    // a store written before ChunkOp had `metadata`: old-schema rows direct
    Seq((0L, "upsert", 1L, 0L, corpus(0)._1, corpus(0)._2, corpus(0)._3),
        (1L, "upsert", 1L, 0L, corpus(1)._1, corpus(1)._2, corpus(1)._3))
      .toDF("seq", "op", "library_id", "doc_id", "chunk_id", "text", "embedding")
      .write.parquet(s"$root/chunks_log")
    Seq((2L, "upsert", 1L, Some("lib"), Some(dims), Some("flat")))
      .toDF("seq", "op", "library_id", "name", "dims", "index_type")
      .write.parquet(s"$root/libraries_log")
    val db = new GraftDb(spark, root)
    // legacy rows read as the empty dict, and the snapshot/search work
    assert(db.listChunks(1L).collect()
      .forall(_.getAs[Map[String, String]]("metadata").isEmpty))
    assert(db.search(1L, corpus(0)._3, k = 1).head().getLong(1) === corpus(0)._1)
    // a new-code append lands NEXT TO the legacy files and keeps its dict
    db.addChunk(1L, 0L, 999L, "tagged", corpus(2)._3, Map("source" -> "web"))
    val m = db.getChunk(1L, 999L).head().getAs[Map[String, String]]("metadata")
    assert(m === Map("source" -> "web"))
    // filtered search over the mixed log: only the tagged chunk matches
    val hits = db.search(1L, corpus(2)._3, k = 5,
      metadataFilter = Some(col("metadata")("source") === "web")).collect()
    assert(hits.map(_.getLong(1)).toSeq === Seq(999L))
  }

  test("metadataEq search: compaction promotes the observed hot key to PushedFilters; delta stays correct") {
    import spark.implicits._
    val db = freshDb()
    val dims = corpus.head._3.length
    db.createLibrary(1L, "lib", dims, "flat")
    // chunks with a lang/source dict — lang on every row (promotable),
    // source on every row too; the WORKLOAD below makes lang the hot key
    db.upsertChunksMeta(corpus.take(30).map { case (id, t, e) =>
      (1L, id / 10, id, t, e,
        Map("lang" -> (if (id % 2 == 0) "en" else "de"), "source" -> s"s${id % 3}"))
    })
    val qdf = Seq((0L, corpus(0)._3)).toDF("qid", "qvec")
    // observed workload: lang filtered repeatedly, source once — the
    // promotion budget (evidence-based) must land on lang
    (1 to 3).foreach(_ => db.searchAll(1L, qdf, k = 3,
      metadataEq = Seq("lang" -> "en")).collect())
    db.searchAll(1L, qdf, k = 3, metadataEq = Seq("source" -> "s0")).collect()
    db.compact()
    // pushed path == the arbitrary-Column path over the folded snapshot
    val eqRows = db.searchAll(1L, qdf, k = 5, metadataEq = Seq("lang" -> "en"))
    val viaMap = db.searchAll(1L, qdf, k = 5,
      metadataFilter = Some(col("metadata")("lang") === "en"))
    assert(eqRows.collect().toSeq === viaMap.collect().toSeq,
      "pushdown-path results diverge from the folded-snapshot path")
    // the promoted key reaches PushedFilters on the compacted-log scan
    val plan = eqRows.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pushedLines = plan.linesIterator.filter(_.contains("PushedFilters")).toSeq
    assert(pushedLines.exists(_.contains("mk_lang")),
      s"promoted key not pushed to the compacted-log scan:\n${pushedLines.mkString("\n")}")
    // post-compaction DELTA: a new matching chunk appears, a deleted base
    // chunk disappears, a tombstoned doc's base chunks vanish — the
    // base+delta split must track all three without re-compacting
    db.addChunk(1L, 99L, 999L, "fresh", corpus(0)._3, Map("lang" -> "en", "source" -> "s9"))
    val liveEvenIds = corpus.take(30).map(_._1).filter(_ % 2 == 0)
    val dropped = liveEvenIds.head
    db.deleteChunk(1L, dropped / 10, dropped) // base row masked by delta delete
    db.deleteDocument(1L, 2L)                 // doc tombstone masks its base chunks
    val got = db.chunksEqFiltered(1L, Seq("lang" -> "en")).collect()
      .map(_.getAs[Long]("chunk_id")).toSet
    val want = (liveEvenIds.toSet - dropped)
      .filterNot(id => id / 10 == 2L) + 999L
    assert(got === want, s"base+delta serving wrong: got=$got want=$want")
  }

  test("NULL-log_v metadata patches: empty dict untouched, non-empty REPLACES (era dispatch)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graftdb").toString
    // Two pre-versioning writers shipped the SAME file shape (metadata
    // column, no log_v): the merge-era writer (untouched = empty dict)
    // and the later $set-era writer (replace; untouched = NULL). The
    // fold's NULL-log_v rule must (a) not clear the dict on a merge-era
    // untouched patch and (b) not resurrect keys a $set-era replace
    // dropped. Both shapes in one log:
    Seq((0L, "upsert", 1L, Some("lib"), Some(8), Some("flat"),
          Some(Map("a" -> "1", "b" -> "1"))),
        // merge-era untouched patch: EMPTY dict, must be a no-op
        (1L, "patch", 1L, Some("lib2"), None: Option[Int], None: Option[String],
          Some(Map.empty[String, String])),
        // $set-era (round-10 shape) replace patch: non-empty, no log_v —
        // the writer meant wholesale replace; "a"/"b" must NOT survive
        (2L, "patch", 1L, None: Option[String], None: Option[Int], None: Option[String],
          Some(Map("c" -> "2"))),
        // $set-era untouched patch: NULL dict
        (3L, "patch", 1L, Some("lib3"), None: Option[Int], None: Option[String],
          None: Option[Map[String, String]]))
      .toDF("seq", "op", "library_id", "name", "dims", "index_type", "metadata")
      .write.parquet(s"$root/libraries_log")
    val db = new GraftDb(spark, root)
    val lib = db.listLibraries().head()
    assert(lib.getAs[String]("name") === "lib3")
    val folded = lib.getAs[Map[String, String]]("metadata")
    assert(folded === Map("c" -> "2"),
      s"NULL-log_v replace patch resurrected or lost keys: $folded")
    // a CURRENT-generation patch $set-replaces wholesale
    db.updateLibrary(1L, metadata = Some(Map("z" -> "9")))
    assert(db.listLibraries().head().getAs[Map[String, String]]("metadata")
      === Map("z" -> "9"))
    // and compaction persists the folded state stamped with the current
    // log_v — re-open reads it back unchanged, ambiguity retired
    db.compact()
    val db2 = new GraftDb(spark, root)
    assert(db2.listLibraries().head().getAs[Map[String, String]]("metadata")
      === Map("z" -> "9"))
  }

  test("stats reports the library + index state beside the counts (operations.py:53)") {
    val db = freshDb()
    val dims = corpus.head._3.length
    db.createLibrary(1L, "prod", dims, "ivf")
    db.upsertChunks(corpus.take(12).map { case (id, t, e) => (1L, id / 10, id, t, e) })
    val before = db.stats(1L).head()
    assert(before.getAs[String]("name") === "prod")
    assert(before.getAs[Int]("dims") === dims)
    assert(before.getAs[String]("index_type") === "ivf")
    assert(!before.getAs[Boolean]("trained"), "untrained library reports trained")
    assert(before.getAs[Long]("n_chunks") === 12L)
    assert(before.getAs[Long]("n_docs") === corpus.take(12).map(_._1 / 10).distinct.length.toLong)
    db.trainIndex(1L, kCentroids = 4, iters = 1)
    assert(db.stats(1L).head().getAs[Boolean]("trained"),
      "trainIndex artifact not reflected in stats")
    // an empty library still answers with zero counts, not nulls
    db.createLibrary(2L, "empty", dims, "flat")
    val empty = db.stats(2L).head()
    assert(empty.getAs[Long]("n_chunks") === 0L && empty.getAs[Long]("n_chars") === 0L)
  }

  test("chunk PATCH applies only supplied fields; metadata $set-replaces (chunks.py:98)") {
    val db = freshDb()
    db.createLibrary(1L, "lib", 4, "flat")
    db.createDocument(1L, 10L, "doc")
    db.addChunk(1L, 10L, 100L, "original", Array(1f, 0f, 0f, 0f),
      Map("k" -> "v", "keep" -> "me"))
    // text-only patch: embedding and metadata untouched
    db.patchChunk(1L, 100L, text = Some("patched"))
    var r = db.getChunk(1L, 100L).head()
    assert(r.getAs[String]("text") === "patched")
    assert(r.getAs[scala.collection.Seq[Float]]("embedding") === Seq(1f, 0f, 0f, 0f))
    assert(r.getAs[Map[String, String]]("metadata") === Map("k" -> "v", "keep" -> "me"))
    // metadata-only patch REPLACES the dict wholesale; text untouched
    db.patchChunk(1L, 100L, metadata = Some(Map("k" -> "v2")))
    r = db.getChunk(1L, 100L).head()
    assert(r.getAs[String]("text") === "patched")
    assert(r.getAs[Map[String, String]]("metadata") === Map("k" -> "v2"),
      "a supplied metadata dict must replace, not merge")
    // embedding-only patch; dims still validated at the door
    db.patchChunk(1L, 100L, embedding = Some(Array(0f, 1f, 0f, 0f)))
    assert(db.getChunk(1L, 100L).head()
      .getAs[scala.collection.Seq[Float]]("embedding") === Seq(0f, 1f, 0f, 0f))
    intercept[IllegalArgumentException] {
      db.patchChunk(1L, 100L, embedding = Some(Array(1f))) // wrong dims
    }
    intercept[IllegalArgumentException] {
      db.patchChunk(1L, 999L, text = Some("x")) // 404 → require
    }
  }

  test("embedTexts: the /embed route's validation + stub-embedder parity (embed.py)") {
    val db = freshDb()
    intercept[IllegalArgumentException] { db.embedTexts(Seq.empty) }
    intercept[IllegalArgumentException] { db.embedTexts(Seq.fill(129)("x")) }
    val out = db.embedTexts(Seq("hello world", "hello world", "other")).collect()
    assert(out.length === 3)
    val vecs = out.map(_.getAs[scala.collection.Seq[Float]]("embedding"))
    assert(vecs.forall(_.length === graft.operators.SearchText.Dim))
    assert(vecs(0) === vecs(1), "same text must embed identically (deterministic)")
    assert(vecs(0) !== vecs(2), "different texts collide — stub degenerate")
    // parity with the search path's embedder: searchText(text) self-scores 1.0
    db.createLibrary(1L, "lib", graft.operators.SearchText.Dim, "flat")
    db.createDocument(1L, 1L, "d")
    db.addChunk(1L, 1L, 1L, "hello world", vecs(0).toArray)
    val top = db.searchText(1L, "hello world", k = 1).collect().head
    assert(top.getAs[Long]("chunk_id") === 1L)
  }

  test("batch chunk delete validates all ids first — one unknown id deletes nothing (chunks.py:135)") {
    val db = freshDb()
    db.createLibrary(1L, "lib", 4, "flat")
    db.createDocument(1L, 10L, "doc")
    (100L to 104L).foreach(c => db.addChunk(1L, 10L, c, s"c$c", Array(1f, 0f, 0f, 0f)))
    intercept[IllegalArgumentException] {
      db.deleteChunksBatch(1L, Seq(100L, 101L, 999L))
    }
    assert(db.listChunks(1L).count() === 5L,
      "a failed batch delete must delete NOTHING (validate-all-first)")
    db.deleteChunksBatch(1L, Seq(100L, 102L, 104L))
    assert(db.listChunks(1L).collect().map(_.getAs[Long]("chunk_id")).sorted
      === Array(101L, 103L))
  }

  test("transitive archive chain: two consecutive crashed archive writes cannot shadow an older gap (ancestors lineage)") {
    val db = freshDb()
    val dims = corpus.head._3.length
    db.createLibrary(23L, "chain2", dims, "ivf")
    db.upsertChunks((0 until 24).map(i =>
      (23L, 100L + i / 8, 100L + i, corpus(i)._2, corpus(i)._3))) // seq 1..24
    db.trainIndex(23L, kCentroids = 4, iters = 2)
    db.buildIndex(23L) // gen 24
    db.upsertChunks((0 until 6).map(i =>
      (23L, 1L, 1L + i, corpus(30 + i)._2, corpus(30 + i)._3))) // 25..30
    db.buildIndex(23L) // gen 30
    db.upsertChunks((6 until 12).map(i =>
      (23L, 2L, 50L + i, corpus(30 + i)._2, corpus(30 + i)._3))) // 31..36
    db.buildIndex(23L) // gen 36
    db.upsertChunks((12 until 18).map(i =>
      (23L, 3L, 70L + i, corpus(30 + i)._2, corpus(30 + i)._3))) // 37..42
    db.buildIndex(23L) // gen 42
    val archRoot = s"${db.root}/ivf_index_archive/lib=23"
    // every receipt carries its FULL lineage — built from the LIVE meta,
    // so it names crashed-archive generations too
    val g42 = spark.read.parquet(s"$archRoot/gen=42/meta").collect().head
    assert(g42.getSeq[Long](g42.fieldIndex("ancestors")) === Seq(24L, 30L, 36L))
    import spark.implicits._
    val workload = Seq(2).map(i => (i.toLong, corpus(i)._3)).toDF("qid", "qvec")
    def res(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    // pre-damage control: a pin during gen 24's reign
    val pinAt26 = 26L
    val approx26 = res(db.searchAll(23L, workload, k = 5, nProbes = 1,
      asOfSeq = Some(pinAt26), pinIndexed = true))
    // TWO CONSECUTIVE builds crash between swap and archive write: gens
    // 30 AND 36 both vanish — gen 42's single `prev_gen` link (36 > s)
    // would have ACCEPTED gen 24 for a pin during gen 30's reign, the
    // exact shadow the r16 advisory named; the lineage names 30
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$archRoot/gen=30"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$archRoot/gen=36"))
    val db2 = new GraftDb(spark, db.root)
    val pinShadow = 32L
    assert(res(db2.searchAll(23L, workload, k = 5, nProbes = 1,
      asOfSeq = Some(pinShadow), pinIndexed = true)) ===
      res(db2.searchAll(23L, workload, k = 5, asOfSeq = Some(pinShadow))),
      "double-crash shadow replayed the wrong (older) generation's model")
    // a pin the missing builds never covered still replays: no ancestor
    // in (24, 26] — the gap-after-pin acceptance survives the upgrade
    assert(res(db2.searchAll(23L, workload, k = 5, nProbes = 1,
      asOfSeq = Some(pinAt26), pinIndexed = true)) === approx26,
      "a post-pin double gap changed a pre-gap pin's replay")
  }

  test("flat filterstats archive: a pinned filter receipt survives a post-pin rebuild; a chain gap degrades to no-artifact exact") {
    val db = freshDb()
    val dims = corpus.head._3.length
    db.createLibrary(24L, "flatpin", dims, "flat")
    db.upsertChunksMeta((0 until 24).map(i =>
      (24L, 100L + i / 8, 100L + i, corpus(i)._2, corpus(i)._3,
        Map("lang" -> (if (i == 10) "rare" else "en"))))) // seq 1..24
    // lazy ensure lands the artifact AND its archived generation (gen 24)
    val live0 = db.filterDecision(24L, Seq("lang" -> "rare")).collect().head
    assert(live0.getLong(2) === 1L && live0.getLong(3) === 24L)
    val pin = 24L
    // history moves on: "rare" becomes common, stats rebuilt (gen 34)
    db.upsertChunksMeta((0 until 10).map(i =>
      (24L, 1L, 1L + i, corpus(30 + i)._2, corpus(30 + i)._3,
        Map("lang" -> "rare")))) // 25..34
    db.buildFlatStats(24L)
    val live1 = db.filterDecision(24L, Seq("lang" -> "rare")).collect().head
    assert(live1.getLong(2) === 11L && live1.getLong(3) === 34L,
      s"live receipt not refreshed: $live1")
    // the pinned receipt replays the ARCHIVED generation's counts — not
    // the live artifact the rebuild just replaced (before the flat
    // archive, this receipt silently changed under the pin)
    val pinned = db.filterDecision(24L, Seq("lang" -> "rare"), asOfSeq = Some(pin))
      .collect().head
    assert(pinned.getLong(2) === 1L && pinned.getLong(3) === 24L,
      s"pinned receipt read post-pin counts: $pinned")
    assert(pinned.getString(4) === "prefilter_exact")
    // third generation, then gen 34's archive vanishes (crash between
    // swap and archive): a pin during 34's reign must degrade to the
    // no-artifact exact receipt, never count-smuggle — while the
    // gen-24 pin (which the missing build never covered) still replays
    db.upsertChunksMeta((0 until 10).map(i =>
      (24L, 2L, 200L + i, corpus(40 + i)._2, corpus(40 + i)._3,
        Map("lang" -> "en")))) // 35..44
    db.buildFlatStats(24L) // gen 44, ancestors [24, 34]
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"${db.root}/flat_index_archive/lib=24/gen=34"))
    val db2 = new GraftDb(spark, db.root)
    val gap = db2.filterDecision(24L, Seq("lang" -> "rare"), asOfSeq = Some(40L))
      .collect().head
    assert(gap.getLong(2) === -1L && gap.getLong(3) === 0L,
      s"chain-gap pin smuggled a count into a historical receipt: $gap")
    assert(gap.getString(4) === "prefilter_exact")
    val pinned2 = db2.filterDecision(24L, Seq("lang" -> "rare"), asOfSeq = Some(pin))
      .collect().head
    assert(pinned2.getLong(2) === 1L && pinned2.getLong(3) === 24L,
      s"post-pin gap poisoned an earlier pin's receipt: $pinned2")
  }

  test("lazy flat filterstats RETRY: an empty library's no-op build does not pin the non-artifact receipt for the session") {
    val db = freshDb()
    db.createLibrary(25L, "flatempty", corpus.head._3.length, "flat")
    // first filtered receipt on the EMPTY library: nothing to build
    val before = db.filterDecision(25L, Seq("lang" -> "en")).collect().head
    assert(before.getLong(2) === -1L)
    // chunks arrive WITHOUT a compact: the lazy build must retry on the
    // next call (the r16 advisory: marking the no-op "ensured" served a
    // non-artifact receipt for the life of the instance)
    db.upsertChunksMeta((0 until 8).map(i =>
      (25L, 1L, 100L + i, corpus(i)._2, corpus(i)._3, Map("lang" -> "en"))))
    val after = db.filterDecision(25L, Seq("lang" -> "en")).collect().head
    assert(after.getLong(2) === 8L && after.getLong(3) === 8L,
      s"lazy flat-stats build never retried after content arrived: $after")
  }

  test("archive retention: pruneArchives keeps the newest K generations — kept pins replay bit-identically, older pins fall to exact") {
    val db = freshDb()
    val dims = corpus.head._3.length
    db.createLibrary(29L, "retain", dims, "ivf")
    db.upsertChunks((0 until 24).map(i =>
      (29L, 100L + i / 8, 100L + i, corpus(i)._2, corpus(i)._3))) // seq 1..24
    db.trainIndex(29L, kCentroids = 4, iters = 2)
    db.buildIndex(29L) // gen 24
    db.upsertChunks((0 until 6).map(i =>
      (29L, 1L, 1L + i, corpus(30 + i)._2, corpus(30 + i)._3))) // 25..30
    db.buildIndex(29L) // gen 30
    db.upsertChunks((6 until 12).map(i =>
      (29L, 2L, 50L + i, corpus(30 + i)._2, corpus(30 + i)._3))) // 31..36
    db.buildIndex(29L) // gen 36
    import spark.implicits._
    val workload = Seq(2).map(i => (i.toLong, corpus(i)._3)).toDF("qid", "qvec")
    def res(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val keptPinBefore = res(db.searchAll(29L, workload, k = 5, nProbes = 1,
      asOfSeq = Some(32L), pinIndexed = true))
    // the retention job: keep 2 of {24, 30, 36} → exactly gen 24 drops
    val receipt = db.pruneArchives(keepGens = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(receipt === Seq((29L, "ivf", 24L)), s"unexpected retention receipt: $receipt")
    assert(!new java.io.File(s"${db.root}/ivf_index_archive/lib=29/gen=24").exists())
    // a pin covered by a KEPT generation replays bit-identically —
    // pruning removes a chain PREFIX, so validation between kept gens
    // is untouched
    assert(res(db.searchAll(29L, workload, k = 5, nProbes = 1,
      asOfSeq = Some(32L), pinIndexed = true)) === keptPinBefore,
      "retention changed a kept generation's pinned replay")
    // a pin OLDER than the oldest kept generation loses its covering
    // gen: reach narrows to the exact contract, never a wrong replay
    assert(res(db.searchAll(29L, workload, k = 5, nProbes = 1,
      asOfSeq = Some(26L), pinIndexed = true)) ===
      res(db.searchAll(29L, workload, k = 5, asOfSeq = Some(26L))),
      "a pruned-away pin did not fall back to exact")
  }

  test("library bundle: export → import round-trips chunks/docs/record atomically; validation refuses bad bundles") {
    val db = freshDb()
    val dims = corpus.head._3.length
    db.createLibrary(27L, "exp", dims, "flat", Map("tier" -> "gold"))
    db.createDocument(27L, 5L, "doc five", Map("k" -> "v"))
    db.createDocument(27L, 6L, "doc six")
    db.upsertChunksMeta((0 until 12).map(i =>
      (27L, 5L + i % 2, 100L + i, corpus(i)._2, corpus(i)._3,
        Map("lang" -> (if (i % 3 == 0) "de" else "en")))))
    db.deleteChunksBatch(27L, Seq(100L)) // bundle = the FOLDED state, not the log
    val bundle = s"${Files.createTempDirectory("bundle")}/lib27"
    val rec = db.exportLibrary(27L, bundle).collect().head
    assert((rec.getLong(1), rec.getLong(2)) === ((2L, 11L)))
    assert(new java.io.File(s"$bundle/_complete").exists())
    // import into the SAME store under a fresh id
    val imp = db.importLibrary(bundle, 28L).collect().head
    assert((imp.getLong(1), imp.getLong(2)) === ((2L, 11L)))
    val impSeq = imp.getLong(3)
    def slim(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, String, Seq[Float], Map[String, String])] =
      df.collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id"),
        r.getAs[String]("text"), r.getSeq[Float](r.fieldIndex("embedding")),
        r.getAs[Map[String, String]]("metadata"))).toSet
    assert(slim(db.listChunks(28L)) === slim(db.listChunks(27L)),
      "imported corpus differs from the exported snapshot")
    assert(db.listDocuments(28L).collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[String]("title"))).sorted.toSeq ===
      Seq((5L, "doc five"), (6L, "doc six")))
    val libs = db.listLibraries().collect()
      .map(r => r.getAs[Long]("library_id") ->
        ((r.getAs[String]("name"), r.getAs[Int]("dims"), r.getAs[String]("index_type"),
          r.getAs[Map[String, String]]("metadata")))).toMap
    assert(libs(28L) === libs(27L) , "imported library record differs")
    // ATOMIC: the whole chunk batch lands under ONE seq — the pin just
    // before holds none of it, the pin at it all of it
    assert(db.asOf(impSeq - 1).filter(col("library_id") === 28L).count() === 0L)
    assert(db.asOf(impSeq).filter(col("library_id") === 28L).count() === 11L)
    import spark.implicits._
    val workload = Seq(2).map(i => (i.toLong, corpus(i)._3)).toDF("qid", "qvec")
    assert(db.searchAll(28L, workload, k = 3).collect().nonEmpty)
    // cross-STORE import (the actual hand-off): a fresh root
    val db2 = freshDb()
    val imp2 = db2.importLibrary(bundle, 1L).collect().head
    assert((imp2.getLong(1), imp2.getLong(2)) === ((2L, 11L)))
    assert(slim(db2.listChunks(1L)) === slim(db.listChunks(27L)))
    // refusals: occupied id; incomplete bundle; future format
    intercept[IllegalArgumentException] { db.importLibrary(bundle, 27L) }
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sessionState.newHadoopConf())
    Seq((GraftDb.BundleV + 1, 11L, 2L, dims))
      .toDF("bundle_version", "n_chunks", "n_docs", "dims")
      .coalesce(1).write.mode("overwrite").parquet(s"$bundle/manifest")
    intercept[IllegalArgumentException] { db2.importLibrary(bundle, 2L) }
    fs.delete(new org.apache.hadoop.fs.Path(s"$bundle/_complete"), false)
    intercept[IllegalArgumentException] { db2.importLibrary(bundle, 3L) }
  }

  test("format_version widened to LONG reads numeric-agnostically: current value serves, future value degrades — never a cast crash") {
    val db = freshDb()
    val dims = corpus.head._3.length
    db.createLibrary(26L, "widefv", dims, "lsh")
    db.upsertChunksMeta(corpus.take(20).map { case (id, t, e) =>
      (26L, id / 10, id, t, e, Map("lang" -> "en")) })
    db.buildLshIndex(26L, nTables = 4, nBits = 10, seed = 1000L)
    val metaPath = s"${db.root}/lsh_index/lib=26/meta"
    val m = spark.read.parquet(metaPath).collect().head
    import spark.implicits._
    def rewrite(fv: Long): Unit = { // a future writer widened the column
      val tmp = s"${metaPath}_widetmp"
      Seq((m.getAs[Long]("index_seq"), m.getAs[Int]("n_tables"),
        m.getAs[Int]("n_bits"), m.getAs[Long]("seed"),
        m.getAs[Long]("n_total"), fv))
        .toDF("index_seq", "n_tables", "n_bits", "seed", "n_total",
          "format_version")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(metaPath), true)
      fs.rename(new org.apache.hadoop.fs.Path(tmp),
        new org.apache.hadoop.fs.Path(metaPath))
    }
    val workload = Seq(2).map(i => (i.toLong, corpus(i)._3)).toDF("qid", "qvec")
    // widened column, CURRENT version value: the receipt must serve
    // (the Int accessor threw ClassCastException here — defeating the
    // very degradation contract the filter enforces)
    rewrite(GraftDb.IndexMetaV.toLong)
    val db2 = new GraftDb(spark, db.root)
    val hits = db2.searchAll(26L, workload, k = 3)
    assert(hits.queryExecution.executedPlan.toString.contains("lsh_index"),
      "a current-version receipt with a widened column was not served")
    assert(hits.collect().nonEmpty)
    // widened AND future: treated as absent, the route degrades
    rewrite(GraftDb.IndexMetaV.toLong + 1)
    val db3 = new GraftDb(spark, db.root)
    assert(db3.filterDecision(26L, Seq("lang" -> "en")).collect()
      .forall(_.getString(4) == "inmemory_rekey"),
      "a future long-typed receipt did not degrade the route")
  }

  test("bundle admission rejects a NULL chunk id (pinned: countDistinct ignores NULLs, so a null-id row reads as a duplicate — never silently admitted)") {
    val db = freshDb()
    val dims = corpus.head._3.length
    db.createLibrary(31L, "nullid", dims, "flat")
    db.upsertChunks(Seq(
      (31L, 1L, 100L, corpus(0)._2, corpus(0)._3),
      (31L, 1L, 101L, corpus(1)._2, corpus(1)._3)))
    val bundle = s"${Files.createTempDirectory("bundle")}/libnull"
    db.exportLibrary(31L, bundle)
    // corrupt exactly one chunk_id to NULL, keeping the row count the
    // manifest certifies (so the count check passes and the distinctness
    // check is what must catch it)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sessionState.newHadoopConf())
    spark.read.parquet(s"$bundle/chunks")
      .withColumn("chunk_id",
        when(col("chunk_id") === 100L, lit(null).cast("long")).otherwise(col("chunk_id")))
      .write.mode("overwrite").parquet(s"$bundle/chunks_nulled")
    fs.delete(new org.apache.hadoop.fs.Path(s"$bundle/chunks"), true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$bundle/chunks_nulled"),
      new org.apache.hadoop.fs.Path(s"$bundle/chunks"))
    val e = intercept[IllegalArgumentException] { db.importLibrary(bundle, 32L) }
    assert(e.getMessage.contains("not distinct"),
      s"null chunk_id must fail the distinctness admission check, got: ${e.getMessage}")
    // and the failed import wrote NOTHING
    assert(db.listLibraries().filter(col("library_id") === 32L).count() === 0L)
  }

  test("purgeDocument drops a FLAT library's archived generations: no archived filterstats row keeps the purged document's metadata value") {
    val db = freshDb()
    val dims = corpus.head._3.length
    db.createLibrary(33L, "flatpurge", dims, "flat")
    db.upsertChunksMeta((0 until 8).map(i =>
      (33L, if (i < 3) 1L else 2L, 100L + i, corpus(i)._2, corpus(i)._3,
        Map("owner" -> (if (i < 3) "purge-me-unique" else "keep")))))
    db.compact() // archives a flat generation whose filterstats count the value
    // one more op, so the purge's rebuild archives under a NEW gen id
    // instead of overwriting the pre-purge one
    db.upsertChunksMeta(Seq((33L, 2L, 120L, corpus(9)._2, corpus(9)._3, Map("owner" -> "keep"))))
    val arch = new java.io.File(s"${db.root}/flat_index_archive/lib=33")
    def archivedRows(): Long = Option(arch.listFiles()).toSeq.flatten.map { g =>
      spark.read.parquet(s"$g/filterstats").filter(col("mval") === "purge-me-unique").count()
    }.sum
    assert(archivedRows() > 0L, "precondition: no archived filterstats held the value")
    val audit = db.purgeDocument(33L, 1L).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(archivedRows() === 0L,
      "an archived flat filterstats row still holds the purged document's metadata value")
    assert(audit("flat_index_archive") === 0L, s"stale flat generations survive the purge: $audit")
  }

  test("crash states of the generation protocol repair on open for every family (ivf, lsh, flat)") {
    import spark.implicits._
    import java.nio.file.{Files => JF, Path => JPath, Paths => JP}
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("graftdb").toString
    val keep = Files.createTempDirectory("graftdb-gen1")
    val db = new GraftDb(spark, root)
    val dims = corpus.head._3.length
    val fams = Seq("ivf" -> 1L, "lsh" -> 2L, "flat" -> 3L)
    def rows(lib: Long, ids: Range) = ids.map(i =>
      (lib, i.toLong / 4, i.toLong, corpus(i)._2, corpus(i)._3, Map("lang" -> "en")))
    fams.foreach { case (t, lib) => db.createLibrary(lib, t, dims, t) }
    fams.foreach { case (_, lib) => db.upsertChunksMeta(rows(lib, 0 until 12)) }
    db.trainIndex(1L, kCentroids = 3, iters = 1)
    db.compact() // generation 1 of every family: n_total 12
    def live(t: String, lib: Long): JPath = JP.get(s"$root/${t}_index/lib=$lib")
    def sib(p: JPath, suffix: String): JPath = p.resolveSibling(s"${p.getFileName}$suffix")
    def copyTree(src: JPath, dst: JPath): Unit =
      org.apache.commons.io.FileUtils.copyDirectory(src.toFile, dst.toFile)
    fams.foreach { case (t, lib) => copyTree(live(t, lib), keep.resolve(t)) }
    fams.foreach { case (_, lib) => db.upsertChunksMeta(rows(lib, 12 until 18)) }
    db.compact() // generation 2: n_total 18 — the one every repair must serve
    val gen2 = db.indexAudit(1L).collect().head.getLong(1)
    def archived(t: String, lib: Long): JPath =
      JP.get(s"$root/${t}_index_archive/lib=$lib/gen=$gen2")
    val workload = Seq((0L, corpus(5)._3), (1L, corpus(16)._3)).toDF("qid", "qvec")
    def hits(d: GraftDb, lib: Long): Set[(Long, Long)] =
      d.searchAll(lib, workload, k = 5).collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val before = fams.map { case (_, lib) => lib -> hits(db, lib) }.toMap

    // (state, fabricate it for one family's artifact, archived gen 2 kept?)
    val states: Seq[(String, (String, Long) => Unit, Boolean)] = Seq(
      ("incomplete stage beside the live artifact", (t, lib) => {
        copyTree(keep.resolve(t), sib(live(t, lib), "_building"))
        JF.delete(sib(live(t, lib), "_building").resolve("_complete"))
      }, true),
      ("complete stage, live renamed aside", (t, lib) => {
        JF.move(live(t, lib), sib(live(t, lib), "_building"))
        copyTree(keep.resolve(t), sib(live(t, lib), "_old"))
      }, true),
      ("live artifact plus a stale aside", (t, lib) =>
        copyTree(keep.resolve(t), sib(live(t, lib), "_old")), true),
      ("aside alone", (t, lib) => JF.move(live(t, lib), sib(live(t, lib), "_old")), true),
      ("complete archived stage", (t, lib) =>
        JF.move(archived(t, lib), sib(archived(t, lib), "_building")), true),
      ("incomplete archived stage", (t, lib) => {
        JF.move(archived(t, lib), sib(archived(t, lib), "_building"))
        JF.delete(sib(archived(t, lib), "_building").resolve("_complete"))
      }, false))

    states.foreach { case (state, crash, archiveKept) =>
      fams.foreach { case (t, lib) => crash(t, lib) }
      val reopened = new GraftDb(spark, root)
      fams.foreach { case (t, lib) =>
        assert(JF.exists(live(t, lib)), s"$state: the $t artifact was lost on open")
        val residue = Seq(s"${t}_index", s"${t}_index_archive").flatMap { a =>
          val p = JP.get(s"$root/$a")
          if (!JF.exists(p)) Seq.empty
          else {
            val w = JF.walk(p)
            try w.iterator().asScala.map(_.getFileName.toString)
              .filter(n => n.endsWith("_building") || n.endsWith("_old")).toList
            finally w.close()
          }
        }
        assert(residue.isEmpty, s"$state: $t residue left after open: $residue")
        assert(JF.exists(archived(t, lib)) === archiveKept,
          s"$state: $t archived gen=$gen2 present=${JF.exists(archived(t, lib))}")
        val served = reopened.filterDecision(lib, Seq("lang" -> "en")).collect().head.getLong(3)
        assert(served === 18L, s"$state: $t serves n_total $served, not generation 2's 18")
        assert(hits(reopened, lib) === before(lib), s"$state: $t searchAll diverged after repair")
      }
      assert(reopened.indexAudit(1L).collect().head.getLong(1) === gen2,
        s"$state: ivf serves another generation than $gen2")
    }
  }
}
