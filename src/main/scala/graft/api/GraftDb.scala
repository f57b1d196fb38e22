package graft.api

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Graft
import graft.operators.{Ivf, Knn, Lsh}

/** Programmatic facade mirroring the reference service's `VectorDB`
  * method surface (reference: app/core/vector_db.py:105-327 —
  * create/list/update/delete for libraries, documents and chunks;
  * `search` with `include_chunk`; `train_index`; per-library stats),
  * re-expressed as batch plans over APPEND-ONLY parquet changelogs.
  *
  * State model: where the reference mutates Mongo under an AsyncRWLock,
  * every mutation here appends an immutable row to a changelog and every
  * read derives the current state MERGE-ON-READ — latest-wins per chunk
  * (the c1 `max(struct(seq, …))` partial aggregate), document and library
  * state folded per-id from the op sequence (upsert replaces, PATCH
  * coalesces non-null fields and REPLACES the metadata dict when one is
  * supplied — the reference's partial `update_library`/`update_document`
  * `$set`s the whole dict, vector_db.py:125-135 / mongo_storage's
  * `if body.metadata is not None` — delete tombstones), cascades as
  * seq-aware
  * joins (c2/c8). Writers never block readers and any past state is
  * reconstructible — the lakehouse answer to the reference's lock
  * discipline.
  *
  * Documents are a first-class entity with `title` + metadata dict and
  * their own changelog (reference: app/core/models.py:26-38 — Library
  * and Document both carry metadata; app/api/routes/documents.py:24-86),
  * not just implicit chunk `doc_id`s.
  *
  * Search dispatches on the library's declared `index_type` exactly like
  * the reference's index factory (app/core/indexing.py): `flat` = exact
  * scan + TopK partial agg; `ivf` = map-only nearest-centroid assignment
  * against the trained matrix ([[trainIndex]], app/core/vector_db.py:294)
  * with probe-and-rerank; `lsh` = SimHash bucket union + exact rerank.
  * All three serve the SAME merge-on-read snapshot, so an upsert is
  * visible to the next search with no rebuild step (u1 semantics).
  * [[searchAll]] serves a whole workload table through one plan (the
  * v26–v39 external-workload convention applied to the facade);
  * [[search]] is its single-query special case.
  *
  * Scale notes: the changelogs are the only growing artifacts; [[compact]]
  * folds them to the live snapshot (the reference's rebuild-from-storage
  * analog, app/core/vector_db.py:272-292 — here it shrinks the log
  * instead of rebuilding RAM state) via temp-dirs + a commit marker +
  * renames, so a crash at any point leaves either the old logs or the
  * new ones, never a half-swap (recovery completes or discards the
  * pending swap on the next open). Snapshot derivation is memoized per
  * log-sequence number (bounded: one entry), so repeated reads between
  * mutations reuse one cached snapshot instead of re-folding the log.
  * Paths are plain Hadoop-FS URIs; only the existence probes assume a
  * local path (tests).
  */
object GraftDb {
  /** Changelog generation written by THIS release. Rows carry it so a
    * fold can tell which patch semantics the writer intended: rows
    * stamped ≥ 2 mean wholesale `$set` replace (the reference's
    * semantics). Rows WITHOUT the column (surfaced as NULL by the
    * mergeSchema read) are ambiguous — TWO pre-versioning writers shipped
    * that shape, one with merge-patch semantics and a later one with
    * $set-replace — so NULL rows dispatch on the dict itself (empty →
    * untouched, non-empty → replace; rationale at [[GraftDb#metaPatch]]).
    * Compaction stamps every surviving row with the current generation,
    * permanently retiring the ambiguity for that store. */
  val LogV = 2

  /** Index-meta format written by THIS release — an EXPLICIT version
    * marker in every standing index's one-row meta (ivf, lsh, and the
    * flat filterstats receipt), so capability dispatch reads one column
    * instead of sniffing for the columns a feature happened to add
    * (the `n_total`-probe pattern [[GraftDb#nTotalOf]] had to use
    * for the v1 era). Version history: 1 (implicit — receipts WITHOUT
    * the column; capabilities still inferred by column presence, which
    * the readers retain for exactly those legacy receipts), 2 (carries
    * `format_version`; everything v1 carried plus — for lsh — the
    * guaranteed `n_total`). A reader seeing a version NEWER than it
    * knows treats the index as absent (serve the in-memory route)
    * rather than misread it — ENFORCED in [[GraftDb#readMetaCached]],
    * the single choke point every meta reader goes through, so a
    * future-version receipt never leaks into v2 column accessors. */
  val IndexMetaV = 2

  /** Library-bundle format written by [[GraftDb#exportLibrary]] — same
    * forward-compat contract as the index metas, but a bundle is a
    * hand-off artifact between stores/clusters, so an import seeing a
    * NEWER version REFUSES LOUDLY (a half-understood import would write
    * wrong rows into the target's logs — unlike serving, there is no
    * safe degraded route). */
  val BundleV = 1

  /** What one family contributes to a standing-artifact generation: its
    * receipt columns (between the shared leading `index_seq` and the
    * trailing `format_version`, `ancestors`, `prev_gen`), its artifact
    * writers (each handed the staging dir), the members its archived
    * generation copies besides the receipt, and a hook run right after
    * the swap. */
  private final case class Generation(metaCols: Seq[Column],
                                      writes: Seq[String => Unit],
                                      archived: Seq[String],
                                      afterSwap: () => Unit = () => ())

  /** One chunk-changelog record. `op` ∈ upsert | delete_chunk |
    * delete_doc (doc-level rows carry chunk_id = -1). Chunks carry an
    * arbitrary metadata dict (reference: app/core/models.py:16) — chunk
    * ops are whole-record upserts (no patch), so no per-row versioning
    * is needed: a NULL dict (pre-metadata files) reads as empty. */
  final case class ChunkOp(seq: Long, op: String, library_id: Long, doc_id: Long,
                           chunk_id: Long, text: String, embedding: Array[Float],
                           metadata: Map[String, String])

  /** One library-changelog record. `op` ∈ upsert | patch | delete; patch
    * rows carry None for untouched fields — including metadata, where
    * None means "dict untouched" and Some(m) means "dict replaced by m"
    * (the reference's `$set` semantics; NULL-[[LogV]] rows dispatch on
    * the dict — see [[GraftDb#metaPatch]]). */
  final case class LibOp(seq: Long, op: String, library_id: Long,
                         name: Option[String], dims: Option[Int],
                         index_type: Option[String], metadata: Option[Map[String, String]],
                         log_v: Int = LogV)

  /** One document-changelog record. `op` ∈ upsert | patch | delete. */
  final case class DocOp(seq: Long, op: String, library_id: Long, doc_id: Long,
                         title: Option[String], metadata: Option[Map[String, String]],
                         log_v: Int = LogV)
}

final class GraftDb(spark: SparkSession, val root: String) {
  import GraftDb._
  import spark.implicits._

  Graft.init(spark)

  private val libPath = s"$root/libraries_log"
  private val chunkPath = s"$root/chunks_log"
  private val docPath = s"$root/documents_log"
  private val compactMarker = s"$root/_compact_commit"
  private val embedStorePath = s"$root/embed_store"
  private def centroidPath(libId: Long) = s"$root/centroids/lib=$libId"

  recoverPendingCompact()

  /** Label every Spark job a facade entry point issues (guide §1.5) —
    * the lifecycle queries run dozens of tiny driver jobs and the UI/
    * JobProf view is unreadable without attribution. Descriptions are
    * thread-local AND inherited by threads created in scope, so
    * broadcast-subquery jobs and [[parallelWrites]] workers carry the
    * label too. Restores the previous label (never clears another's). */
  private def labeled[T](desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"graftdb:$desc")
    try body finally sc.setJobDescription(prev)
  }

  /** Run independent artifact writes CONCURRENTLY (guide §2.6 —
    * thread-pooled actions): a standing-index build issues 5-6 small
    * write jobs whose inputs are all derived from the one cached
    * snapshot; serially each pays full scheduling latency, overlapped
    * they back-fill each other's tails. */
  private def parallelWrites(writes: Seq[() => Unit]): Unit = graft.Par.run(writes)

  /** One-time flag for [[withMetaCompat]]'s legacy-patch audit probe. */
  private var warnedLegacyPatch = false

  /** Max seq in one log file set; -1 for a missing path or an EXISTING
    * but empty log (a compacted store that held no rows of this entity
    * aggregates max(seq) to NULL, not to no-row — hence the coalesce). */
  private def maxSeqOf(path: String): Long =
    if (!Files.exists(Paths.get(path))) -1L
    else spark.read.parquet(path)
      .agg(coalesce(max(col("seq")), lit(-1L))).head().getLong(0)

  /** One monotonic sequence shared by ALL logs, restored from storage so
    * a new session continues where the last stopped (the reference's
    * rebuild-on-startup, minus the rebuild). GLOBALLY monotonic across
    * compactions and reopens: compacted base rows carry seq =
    * watermark−1, so a reopened store never reissues a sequence an
    * archived generation already used — [[asOf]]'s prefix order stays
    * total over the whole history. */
  private var seq: Long =
    Seq(libPath, chunkPath, docPath).map(maxSeqOf).max + 1
  private def nextSeq(): Long = { val s = seq; seq += 1; s }

  // Appends write ONE file per batch (r17): a LocalRelation's write
  // otherwise fans out to min(rows, defaultParallelism) tasks — a 120-row
  // RPC-sized batch on local[32] wrote 32 four-row files, and every
  // merge-on-read fold then paid 32 footer reads (mergeSchema reads ALL
  // footers) per batch forever after. One mutation batch is driver-sized
  // by the facade's API contract, so one task/file is the right shape at
  // every scale; rows and fold results are unchanged.
  private def appendLib(rows: Seq[LibOp]): Unit = {
    val df = rows.toDF()
    df.coalesce(1).write.mode("append").parquet(libPath)
    noteAppendedSchema(libPath, df.schema)
    libRecordCache.clear() // lib ops can change any record (rare path)
    invalidateSnapshots()
  }
  private def appendChunks(rows: Seq[ChunkOp]): Unit = {
    val df = rows.toDF()
    df.coalesce(1).write.mode("append").parquet(chunkPath)
    noteAppendedSchema(chunkPath, df.schema)
    invalidateSnapshots()
  }
  private def appendDocs(rows: Seq[DocOp]): Unit = {
    val df = rows.toDF()
    df.coalesce(1).write.mode("append").parquet(docPath)
    noteAppendedSchema(docPath, df.schema)
    invalidateSnapshots()
  }

  // ---- merged-schema memo (r17) --------------------------------------------
  // `mergeSchema=true` fires a DISTRIBUTED footer-merge job on every read,
  // and the facade reads each log dozens of times per lifecycle (15 such
  // jobs in one f13 pass, measured via graft.tools.JobProf). The merged
  // schema is a function of the FILESET, so it is memoized per (path,
  // fileset signature): any out-of-band change — compaction swap, purge,
  // recovery, a second writer — changes the signature and forces a fresh
  // merge, PROVIDED the writer creates new file names (Spark's UUID part
  // names always do; a hypothetical writer replacing a file in place with
  // identical name+size inside one mtime granule would be invisible —
  // unreachable for Spark-written dirs, stated for honesty); an in-JVM
  // append refreshes the entry itself (the appended batch's columns are
  // unioned in), so the steady-state mutation loop never pays the merge
  // job again. Signature = sorted (name, len, mtime) of the dir's files —
  // same local-path probe discipline as the facade's existence checks.
  private val logSchemaCache =
    scala.collection.mutable.Map[String, (String, org.apache.spark.sql.types.StructType)]()

  private def dirSig(path: String): String = {
    val p = Paths.get(path)
    if (!Files.exists(p)) "absent"
    else {
      val s = Files.list(p)
      try s.iterator().asScala.map { f =>
        s"${f.getFileName}:${Files.size(f)}:${Files.getLastModifiedTime(f).toMillis}"
      }.toSeq.sorted.mkString("|")
      finally s.close()
    }
  }

  private def mergedSchemaOf(path: String): org.apache.spark.sql.types.StructType = {
    val sig = dirSig(path)
    logSchemaCache.get(path) match {
      case Some((s, sch)) if s == sig => sch
      case _ =>
        // one data file ⇒ its footer IS the merged schema, readable
        // driver-side without the distributed merge job (a fresh store's
        // logs sit in this state until their second append). r18: read it
        // from the footer's OWN Spark-schema marker — the exact StructType
        // the writer recorded — with no Spark job at all (spark.read's
        // schema inference launched one); any miss (foreign writer, no
        // marker) falls back to the ordinary inference read.
        val one: Option[java.nio.file.Path] = {
          val s = Files.list(Paths.get(path))
          try {
            val pq = s.iterator().asScala
              .filter(_.getFileName.toString.endsWith(".parquet")).take(2).toList
            if (pq.length == 1) Some(pq.head) else None
          } finally s.close()
        }
        val sch = one.flatMap(f => footerSparkSchema(f.toString))
          .getOrElse {
            if (one.isDefined) spark.read.parquet(path).schema
            else spark.read.option("mergeSchema", true).parquet(path).schema
          }
        logSchemaCache(path) = (sig, sch)
        sch
    }
  }

  /** The Spark StructType recorded in one parquet file's footer metadata
    * (`org.apache.spark.sql.parquet.row.metadata` — written by every
    * Spark parquet write), read driver-side: no job, no type-mapping
    * ambiguity (it IS the writer's schema, not a reconstruction from the
    * parquet message type). None when the marker is absent or unreadable
    * — callers fall back to the ordinary inference read. */
  private def footerSparkSchema(file: String): Option[org.apache.spark.sql.types.StructType] =
    try {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new Path(file), spark.sessionState.newHadoopConf())
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      val json = try r.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata")
      finally r.close()
      Option(json).map(org.apache.spark.sql.types.DataType.fromJson(_)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Union `extra`'s fields into `path`'s cached schema after an in-JVM
    * append (no-op when the cache is cold — the next read merges from
    * footers and caches the result). A name collision with a DIFFERENT
    * type drops the entry instead (r18, the r17 advisory): mergeSchema
    * would fail loudly on the conflicting footers, and the pinned-schema
    * read must never paper over what the real merge would reject. */
  private def noteAppendedSchema(path: String,
                                 extra: org.apache.spark.sql.types.StructType): Unit =
    logSchemaCache.get(path).foreach { case (_, sch) =>
      val byName = sch.fields.map(f => f.name -> f.dataType).toMap
      if (extra.fields.exists(f => byName.get(f.name).exists(_ != f.dataType)))
        logSchemaCache.remove(path) // force a real footer merge next read
      else {
        val merged = org.apache.spark.sql.types.StructType(
          sch.fields ++ extra.fields.filterNot(f => sch.fieldNames.contains(f.name)))
        logSchemaCache(path) = (dirSig(path), merged)
      }
    }

  private def logOrEmpty[T <: Product : org.apache.spark.sql.Encoder](
      path: String, mergeSchema: Boolean = false): DataFrame =
    if (Files.exists(Paths.get(path))) {
      if (mergeSchema) spark.read.schema(mergedSchemaOf(path)).parquet(path)
      else spark.read.parquet(path)
    } else Seq.empty[T].toDF()

  /** Compat read for stores written by earlier generations: the log is
    * footer-MERGED on read (new-code appends land next to legacy files,
    * and without mergeSchema parquet would resolve to whichever file's
    * schema it sampled — silently dropping columns), then normalized: a
    * NULL dict on an upsert (pre-metadata row) becomes the empty dict, a
    * NULL on a patch stays NULL (= untouched), and rows from files
    * without `log_v` keep it NULL — the fold's signal to DISPATCH that
    * patch on the dict itself (empty → untouched, non-empty → wholesale
    * `$set` replace; rationale at [[metaPatch]]). Compaction then
    * persists the current schema, retiring the NULL branch for the
    * store. */
  private def withMetaCompat(df: DataFrame): DataFrame = {
    val withMeta =
      if (df.columns.contains("metadata")) df
      else df.withColumn("metadata", lit(null).cast("map<string,string>"))
    val withV =
      if (withMeta.columns.contains("log_v")) withMeta
      else withMeta.withColumn("log_v", lit(null).cast("int"))
    // one-time audit for operators of pre-versioning stores: a NULL-log_v
    // NON-EMPTY patch dict now replays as $set replace (it was a merge in
    // the merge-era release) — surface that the reinterpretation applies
    // to this store rather than changing folded metadata silently. The
    // probe runs at most once per session and ONLY when the log's files
    // actually lack `log_v` (current-generation stores skip it for free).
    if (!withMeta.columns.contains("log_v") && !warnedLegacyPatch) {
      warnedLegacyPatch = true
      val hasLegacyPatch = !withV
        .filter(col("op") === "patch" && col("metadata").isNotNull &&
          size(col("metadata")) > 0)
        .limit(1).isEmpty
      if (hasLegacyPatch)
        org.slf4j.LoggerFactory.getLogger(classOf[GraftDb]).warn(
          s"store $root contains pre-versioning (log_v-less) non-empty " +
            "metadata patches; they replay under $set-replace semantics " +
            "(keys absent from the patch are dropped, not merged) — " +
            "compact() stamps the store and retires this branch")
    }
    withV.withColumn("metadata",
      when(col("op") === "upsert",
        coalesce(col("metadata"), map().cast("map<string,string>")))
        .otherwise(col("metadata")))
  }

  /** Chunk-log compat: pre-metadata files surface a NULL dict → empty on
    * the surviving upserts (delete rows never reach the snapshot). */
  private def withChunkMetaCompat(df: DataFrame): DataFrame = {
    val withMeta =
      if (df.columns.contains("metadata")) df
      else df.withColumn("metadata", lit(null).cast("map<string,string>"))
    withMeta.withColumn("metadata",
      coalesce(col("metadata"), map().cast("map<string,string>")))
  }

  private def libLog: DataFrame = withMetaCompat(logOrEmpty[LibOp](libPath, mergeSchema = true))
  private def chunkLog: DataFrame =
    withChunkMetaCompat(logOrEmpty[ChunkOp](chunkPath, mergeSchema = true))
  private def docLog: DataFrame = withMetaCompat(logOrEmpty[DocOp](docPath, mergeSchema = true))

  // ---- snapshot memo -------------------------------------------------------

  /** Derived snapshots, keyed by the log sequence that produced them —
    * ONE generation cached; any append or compact invalidates. The cache
    * holds the (lazily) cached DataFrame, so a read-heavy session folds
    * each log once per mutation epoch instead of once per read. */
  private var snapSeq: Long = -1L
  private var snapCache: Map[String, DataFrame] = Map.empty

  /** Monotone counter of store mutations in THIS JVM — bumped by every
    * [[invalidateSnapshots]] (appends, compaction swaps, purges,
    * imports): the freshness key for [[trainEpoch]]'s
    * provably-unchanged-corpus shortcut. */
  private var mutationEpoch: Long = 0L

  private def invalidateSnapshots(): Unit = {
    mutationEpoch += 1
    // null check: recoverPendingCompact() runs from the constructor
    // BEFORE these field initializers (it must — `seq` reads the
    // recovered logs)
    if (snapCache != null) snapCache.values.foreach(_.unpersist())
    snapCache = Map.empty
    snapSeq = -1L
  }

  private def memoSnapshot(key: String)(derive: => DataFrame): DataFrame = {
    if (snapSeq != seq) invalidateSnapshots()
    snapCache.get(key) match {
      case Some(df) => df
      case None =>
        val df = derive.cache()
        snapSeq = seq
        snapCache += key -> df
        df
    }
  }

  // ---- merge-on-read folds -------------------------------------------------

  private def bySeq(l: Column, r: Column): Column =
    when(l.getField("seq") < r.getField("seq"), lit(-1))
      .when(l.getField("seq") > r.getField("seq"), lit(1))
      .otherwise(lit(0))

  /** Patch-row metadata fold. NULL dict = untouched in every generation;
    * a [[GraftDb.LogV]]-stamped dict REPLACES wholesale (the reference's
    * `$set`). Rows WITHOUT `log_v` are ambiguous — two pre-versioning
    * writers shipped the same file shape: the merge-era writer (patch
    * dict merged, untouched = EMPTY dict, never NULL) and the later
    * $set-era writer (replace, untouched = NULL). The dispatch resolves
    * the overlap by the only decidable rule:
    *   - empty dict → untouched. Exactly the merge-era writer's intent
    *     (and a no-op under its merge rule anyway); the $set-era writer
    *     never produced Some(empty) through this facade's API.
    *   - non-empty dict → REPLACE, the most recent pre-versioning
    *     semantics and the reference's. Merge-era non-empty patches —
    *     written under the semantics bug the $set generation fixed —
    *     replay under the corrected rule rather than resurrecting a
    *     behavior no current writer has; the alternative (merge) silently
    *     resurrects keys a $set-era replace intentionally dropped.
    * Compaction stamps every surviving row with the current [[GraftDb.LogV]],
    * so a compacted store never re-enters the ambiguous branch. */
  private def metaPatch(acc: Column, patch: Column, v: Column): Column =
    when(patch.isNull, acc)
      .when(v.isNull && size(patch) === 0, acc)
      .otherwise(patch)

  // ---- library CRUD (vector_db.py:105-151, models.py:26-30) ---------------

  def createLibrary(libId: Long, name: String, dims: Int, indexType: String,
                    metadata: Map[String, String] = Map.empty): Unit = {
    require(Seq("flat", "ivf", "lsh").contains(indexType), s"unknown index_type $indexType")
    appendLib(Seq(LibOp(nextSeq(), "upsert", libId,
      Some(name), Some(dims), Some(indexType), Some(metadata))))
  }

  /** PARTIAL update (the reference's `update_library`,
    * vector_db.py:125-135): only the supplied fields change; a supplied
    * `metadata` REPLACES the stored dict wholesale (the reference `$set`s
    * the whole dict), None leaves it untouched. `dims` is deliberately
    * NOT patchable — the reference's storage layer strips it ("Dims
    * change not supported"), and patching dims under live chunks would
    * desynchronize stored embedding lengths from the declared dims. A
    * patch on a deleted library is a no-op (the reference 404s). */
  def updateLibrary(libId: Long, name: Option[String] = None,
                    indexType: Option[String] = None,
                    metadata: Option[Map[String, String]] = None): Unit = {
    indexType.foreach(t =>
      require(Seq("flat", "ivf", "lsh").contains(t), s"unknown index_type $t"))
    appendLib(Seq(LibOp(nextSeq(), "patch", libId, name, None, indexType, metadata)))
  }

  def deleteLibrary(libId: Long): Unit =
    appendLib(Seq(LibOp(nextSeq(), "delete", libId, None, None, None, None)))

  /** Live libraries: per-id op fold in seq order — upsert replaces the
    * whole record, patch merges, delete kills (a later upsert revives).
    * The fold is a Catalyst `aggregate` over the per-id sorted op array:
    * one partial agg + a map-only fold, no window, no driver loop. */
  def listLibraries(): DataFrame = memoSnapshot("libs") { foldLibLog(libLog) }

  /** The library-log fold over an ARBITRARY slice — the whole log for
    * [[listLibraries]], a seq-prefix of an archived generation for
    * [[asOf]] (sound on a prefix: the fold replays ops in seq order, so
    * truncating the tail yields exactly the earlier state). */
  private def foldLibLog(log: DataFrame): DataFrame = {
    val init = struct(
      lit(false).as("live"), lit(null).cast("string").as("name"),
      lit(null).cast("int").as("dims"), lit(null).cast("string").as("index_type"),
      map().cast("map<string,string>").as("metadata"))
    log
      .groupBy(col("library_id"))
      .agg(array_sort(
        collect_list(struct(col("seq"), col("op"), col("name"), col("dims"),
          col("index_type"), col("metadata"), col("log_v"))), bySeq _).as("ops"))
      .select(col("library_id"), aggregate(col("ops"), init, (acc, o) =>
        when(o.getField("op") === "delete",
          struct(lit(false).as("live"), acc.getField("name").as("name"),
            acc.getField("dims").as("dims"), acc.getField("index_type").as("index_type"),
            acc.getField("metadata").as("metadata")))
        .when(o.getField("op") === "upsert",
          struct(lit(true).as("live"), o.getField("name").as("name"),
            o.getField("dims").as("dims"), o.getField("index_type").as("index_type"),
            o.getField("metadata").as("metadata")))
        .otherwise(when(acc.getField("live"),
          struct(lit(true).as("live"),
            coalesce(o.getField("name"), acc.getField("name")).as("name"),
            coalesce(o.getField("dims"), acc.getField("dims")).as("dims"),
            coalesce(o.getField("index_type"), acc.getField("index_type")).as("index_type"),
            metaPatch(acc.getField("metadata"), o.getField("metadata"),
              o.getField("log_v")).as("metadata")))
          .otherwise(acc))).as("s"))
      .filter(col("s.live"))
      .select(col("library_id"), col("s.name").as("name"), col("s.dims").as("dims"),
        col("s.index_type").as("index_type"), col("s.metadata").as("metadata"))
      .orderBy("library_id")
  }

  private def libRecord(libId: Long): org.apache.spark.sql.Row =
    libRecordOpt(libId).getOrElse(
      throw new IllegalArgumentException(s"no such library $libId"))

  /** Per-id memo of the folded library record (r17): every chunk upsert
    * validates dims against it, so the facade's mutation loop re-folded
    * the LIBRARY log once per batch — 2-4 Spark jobs each for metadata
    * that only library ops can change. Invalidation: [[appendLib]] clears
    * the whole memo (library ops are the rare path); compaction leaves
    * the folded record invariant (spec-proven), so the swap keeps it.
    * Same single-writer-per-root contract as the snapshot memo. */
  private val libRecordCache =
    scala.collection.mutable.Map[Long, Option[org.apache.spark.sql.Row]]()

  /** The live library record, or None when the library no longer exists
    * — for paths that must DEGRADE on a gone library instead of failing
    * (a pinned read's subject may be long deleted live). */
  private def libRecordOpt(libId: Long): Option[org.apache.spark.sql.Row] =
    libRecordCache.getOrElseUpdate(libId,
      listLibraries().filter(col("library_id") === libId).collect().headOption)

  // ---- document CRUD (models.py:31-38, routes/documents.py:24-86) ---------

  def createDocument(libId: Long, docId: Long, title: String,
                     metadata: Map[String, String] = Map.empty): Unit =
    appendDocs(Seq(DocOp(nextSeq(), "upsert", libId, docId, Some(title), Some(metadata))))

  /** PARTIAL document update: same patch semantics as [[updateLibrary]] —
    * a supplied metadata dict replaces the stored one, None = untouched. */
  def updateDocument(libId: Long, docId: Long, title: Option[String] = None,
                     metadata: Option[Map[String, String]] = None): Unit =
    appendDocs(Seq(DocOp(nextSeq(), "patch", libId, docId, title, metadata)))

  /** Deletes the document ENTITY and cascades to its chunks in the same
    * mutation (reference: routes/documents.py DELETE → delete_document →
    * chunk cascade). */
  def deleteDocument(libId: Long, docId: Long): Unit = {
    val s = nextSeq()
    appendDocs(Seq(DocOp(s, "delete", libId, docId, None, None)))
    appendChunks(Seq(ChunkOp(nextSeq(), "delete_doc", libId, docId, -1L, "",
      Array.empty, Map.empty)))
  }

  /** Live documents: library tombstones mask every doc-log row OLDER than
    * the tombstone (delete-library then re-create ⇒ old docs stay dead,
    * the c8 cascade applied one level up), then the same per-id fold as
    * [[listLibraries]]. */
  def listDocuments(libId: Long): DataFrame =
    documents().filter(col("library_id") === libId).orderBy("doc_id")

  def getDocument(libId: Long, docId: Long): DataFrame =
    documents().filter(col("library_id") === libId && col("doc_id") === docId)

  private def documents(): DataFrame = memoSnapshot("docs") {
    val libTombs = libLog.filter(col("op") === "delete")
      .groupBy(col("library_id")).agg(max(col("seq")).as("lib_tomb"))
    val init = struct(lit(false).as("live"), lit(null).cast("string").as("title"),
      map().cast("map<string,string>").as("metadata"))
    docLog
      // tombstone aggregates are delta-sized between compactions but
      // corpus-KEYED, so they carry no broadcast hint — AQE converts the
      // small side at runtime, and a store with a pathological delete
      // backlog degrades to a shuffled join instead of a driver OOM
      .join(libTombs, Seq("library_id"), "left")
      .filter(col("lib_tomb").isNull || col("seq") > col("lib_tomb"))
      .groupBy(col("library_id"), col("doc_id"))
      .agg(array_sort(
        collect_list(struct(col("seq"), col("op"), col("title"), col("metadata"),
          col("log_v"))), bySeq _).as("ops"))
      .select(col("library_id"), col("doc_id"), aggregate(col("ops"), init, (acc, o) =>
        when(o.getField("op") === "delete",
          struct(lit(false).as("live"), acc.getField("title").as("title"),
            acc.getField("metadata").as("metadata")))
        .when(o.getField("op") === "upsert",
          struct(lit(true).as("live"), o.getField("title").as("title"),
            o.getField("metadata").as("metadata")))
        .otherwise(when(acc.getField("live"),
          struct(lit(true).as("live"),
            coalesce(o.getField("title"), acc.getField("title")).as("title"),
            metaPatch(acc.getField("metadata"), o.getField("metadata"),
              o.getField("log_v")).as("metadata")))
          .otherwise(acc))).as("s"))
      .filter(col("s.live"))
      .select(col("library_id"), col("doc_id"), col("s.title").as("title"),
        col("s.metadata").as("metadata"))
  }

  // ---- chunk CRUD (vector_db.py:153-247) ----------------------------------

  def upsertChunks(rows: Seq[(Long, Long, Long, String, Array[Float])]): Unit =
    upsertChunksMeta(rows.map { case (lib, doc, chunk, text, emb) =>
      (lib, doc, chunk, text, emb, Map.empty[String, String]) })

  /** Chunk upsert WITH the per-chunk metadata dict (reference:
    * app/core/models.py:16 — `Chunk.metadata` is an arbitrary dict, and
    * `SearchQuery.metadata_filters` filters on it, models.py:48 /
    * vector_db.py:249). An upsert replaces the whole chunk record
    * including its dict — chunks have no patch op. */
  def upsertChunksMeta(
      rows: Seq[(Long, Long, Long, String, Array[Float], Map[String, String])]): Unit = labeled("upsert-chunks") {
    // dim validation at the door (reference: vector_db.py:258 raises on a
    // mismatched vector) — one snapshot lookup per library in the batch
    rows.groupBy(_._1).foreach { case (libId, libRows) =>
      val dims = libRecord(libId).getAs[Int]("dims")
      libRows.foreach { case (_, _, chunkId, _, emb, _) =>
        // the EMPTY vector is reserved as [[addChunkText]]'s derived-marker
        // — an explicitly empty embedding through this path would forge it
        // (and serve a stub vector regardless of the declared dims)
        require(emb.nonEmpty,
          s"chunk $chunkId has an empty embedding; use addChunkText for derived vectors")
        require(emb.length == dims,
          s"chunk $chunkId embedding has ${emb.length} dims, library $libId declares $dims")
      }
    }
    appendChunks(rows.map { case (lib, doc, chunk, text, emb, meta) =>
      ChunkOp(nextSeq(), "upsert", lib, doc, chunk, text, emb, meta)
    })
  }
  /** TEXT-ONLY chunk add — the embedding is DERIVED by the facade's own
    * encoder (the deterministic stub standing in for the provider call,
    * exactly as [[searchText]]/[[embedTexts]] document) instead of
    * caller-supplied: the log row carries an EMPTY vector as the
    * derived-marker, serving fills it from the persisted
    * derived-embedding store (or encodes on read for the
    * not-yet-compacted delta — bounded by the maintenance window), and
    * [[compact]] maintains the store under v54's DELTA discipline: only
    * text-CHANGED chunks pay the encoder, everyone else's vector is
    * reused bit-identically ([[embedAudit]] is the receipt). Requires
    * the library's declared dims to match the encoder's output dim. */
  def addChunkText(libId: Long, docId: Long, chunkId: Long, text: String,
                   metadata: Map[String, String] = Map.empty): Unit = {
    val dims = libRecord(libId).getAs[Int]("dims")
    require(dims == graft.operators.SearchText.Dim,
      s"addChunkText serves ${graft.operators.SearchText.Dim}-dim libraries; " +
        s"library $libId declares $dims")
    appendChunks(Seq(ChunkOp(nextSeq(), "upsert", libId, docId, chunkId, text,
      Array.empty, metadata)))
  }

  def addChunk(libId: Long, docId: Long, chunkId: Long, text: String,
               embedding: Array[Float],
               metadata: Map[String, String] = Map.empty): Unit =
    upsertChunksMeta(Seq((libId, docId, chunkId, text, embedding, metadata)))
  def updateChunk(libId: Long, docId: Long, chunkId: Long, text: String,
                  embedding: Array[Float],
                  metadata: Map[String, String] = Map.empty): Unit =
    upsertChunksMeta(Seq((libId, docId, chunkId, text, embedding, metadata)))
  def deleteChunk(libId: Long, docId: Long, chunkId: Long): Unit =
    appendChunks(Seq(ChunkOp(nextSeq(), "delete_chunk", libId, docId, chunkId, "",
      Array.empty, Map.empty)))

  /** PARTIAL chunk update (reference: app/api/routes/chunks.py:98 —
    * PATCH applies only the SUPPLIED fields; a supplied metadata dict
    * REPLACES the stored one, the `$set` rule, r10's document-patch
    * alignment). The chunk must exist in this library (404 there,
    * require here). The log stays upsert-only: the patch reads the live
    * record, merges, and appends one full upsert — exactly the
    * reference's read-merge-store (`svc.update_chunk` folds updates into
    * the stored model), so the streaming tail (s19) and every snapshot
    * rule are untouched. */
  def patchChunk(libId: Long, chunkId: Long,
                 text: Option[String] = None,
                 embedding: Option[Array[Float]] = None,
                 metadata: Option[Map[String, String]] = None): Unit = {
    val cur = getChunk(libId, chunkId).collect()
    require(cur.nonEmpty, s"chunk $chunkId not found in library $libId")
    val r = cur.head
    upsertChunksMeta(Seq((
      libId,
      r.getAs[Long]("doc_id"),
      chunkId,
      text.getOrElse(r.getAs[String]("text")),
      embedding.getOrElse(r.getAs[scala.collection.Seq[Float]]("embedding").toArray),
      metadata.getOrElse(r.getAs[Map[String, String]]("metadata")))))
  }

  /** BATCH chunk delete with validate-all-first atomic semantics
    * (reference: app/api/routes/chunks.py:135 — every id is checked
    * before the first delete, so one unknown id fails the whole request
    * and NOTHING is deleted). One snapshot read validates the batch;
    * one log append deletes it. */
  def deleteChunksBatch(libId: Long, chunkIds: Seq[Long]): Unit = labeled(s"delete-chunks-batch lib=$libId") {
    // collect only the BATCH's rows, not the library's whole live set —
    // the isin filter prunes before the driver sees anything, so driver
    // memory is bounded by the request size, not the corpus
    val live = listChunks(libId)
      .filter(col("chunk_id").isin(chunkIds: _*))
      .select(col("chunk_id"), col("doc_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    chunkIds.foreach(cid =>
      require(live.contains(cid), s"chunk $cid not found in library $libId"))
    appendChunks(chunkIds.map(cid =>
      ChunkOp(nextSeq(), "delete_chunk", libId, live(cid), cid, "",
        Array.empty, Map.empty)))
  }

  /** The live chunk snapshot, MERGE-ON-READ:
    * 1. latest op per (library, chunk) — one partial agg, survivors must
    *    be upserts (delete_chunk wins by seq and then drops out);
    * 2. a document tombstone masks chunks whose latest upsert is OLDER
    *    than it (delete_doc then re-add ⇒ the re-add survives, matching
    *    the reference's sequential semantics);
    * 3. a library tombstone does the same two levels up (c8 cascade), and
    *    the library must currently exist. */
  def chunks(): DataFrame = memoSnapshot("chunks") { fillDerived(foldChunkLog(chunkLog)) }

  /** Fill DERIVED embeddings (empty vector = [[addChunkText]]'s marker)
    * on a folded chunk frame: reuse the persisted derived-embedding
    * store's vector when the (library, chunk, text-fingerprint) key
    * matches — the store invariant is vector ≡ stub(text) bit-for-bit,
    * so a hit can never serve a stale text's vector — and encode on
    * read for misses (the not-yet-compacted delta, or a historical
    * [[asOf]] text version the store no longer carries). Provided
    * embeddings pass through untouched. */
  private def fillDerived(df: DataFrame,
                          store: Option[DataFrame] = None): DataFrame = {
    val stub = graft.operators.SearchText.stubEmbed(col("text")).cast("array<float>")
    val src = store.orElse(
      if (Files.exists(Paths.get(embedStorePath)))
        Some(spark.read.parquet(embedStorePath))
      else None)
    src match {
      case None =>
        df.withColumn("embedding",
          when(size(col("embedding")) === 0, stub).otherwise(col("embedding")))
      case Some(st) =>
        df.withColumn("__th", graft.operators.Dedup.h60(col("text")))
          .join(st.select(col("library_id"), col("chunk_id"),
            col("text_h").as("__th"), col("embedding").as("__store_emb")),
            Seq("library_id", "chunk_id", "__th"), "left")
          .withColumn("embedding",
            when(size(col("embedding")) === 0, coalesce(col("__store_emb"), stub))
              .otherwise(col("embedding")))
          // the using-join moves its keys first — restore the fold's
          // column order (positional readers depend on it)
          .select(col("library_id"), col("doc_id"), col("chunk_id"),
            col("text"), col("embedding"), col("metadata"))
    }
  }

  /** The chunk-log fold over an ARBITRARY slice of the log — the whole
    * log for [[chunks]], the post-compaction delta for
    * [[chunksEqFiltered]]'s base+delta split (sound on a slice because
    * chunk ops are WHOLE records: any key's latest row in the slice is
    * its current state, no older row needed). */
  private def foldChunkLog(log: DataFrame): DataFrame =
    foldChunkLogWith(log, libLog, listLibraries())

  /** [[foldChunkLog]] with the LIBRARY log slice and its folded live set
    * as parameters — the live log + the memoized [[listLibraries]] for
    * current reads, the matching generation's seq-prefix + its own fold
    * for [[asOf]] (a pinned read must see the tombstones and library
    * set of ITS OWN epoch, not today's). */
  private def foldChunkLogWith(log: DataFrame, libs: DataFrame,
                               liveLibs: DataFrame): DataFrame = {
    // max_by on the (globally unique) seq, not max(struct(…)): the struct
    // now carries the metadata MAP, which is not an orderable type — the
    // ordering key must stay scalar
    val latest = log.filter(col("op").isin("upsert", "delete_chunk"))
      .groupBy(col("library_id"), col("chunk_id"))
      .agg(
        max_by(struct(col("op"), col("doc_id"), col("text"), col("embedding"),
          col("metadata")), col("seq")).as("s"),
        max(col("seq")).as("seq"))
      .select(col("library_id"), col("chunk_id"), col("seq"),
        col("s.op").as("op"), col("s.doc_id").as("doc_id"),
        col("s.text").as("text"), col("s.embedding").as("embedding"),
        col("s.metadata").as("metadata"))
      .filter(col("op") === "upsert").drop("op")
    val docTombs = log.filter(col("op") === "delete_doc")
      .groupBy(col("library_id"), col("doc_id")).agg(max(col("seq")).as("doc_tomb"))
    val libTombs = libs.filter(col("op") === "delete")
      .groupBy(col("library_id")).agg(max(col("seq")).as("lib_tomb"))
    latest
      // unhinted for the same reason as [[documents]]'s tombstone join:
      // delta-sized by the compaction contract, corpus-keyed by shape
      .join(docTombs, Seq("library_id", "doc_id"), "left")
      .filter(col("doc_tomb").isNull || col("seq") > col("doc_tomb"))
      .join(libTombs, Seq("library_id"), "left")
      .filter(col("lib_tomb").isNull || col("seq") > col("lib_tomb"))
      .join(liveLibs.select(col("library_id")), Seq("library_id"))
      .select(col("library_id"), col("doc_id"), col("chunk_id"), col("text"),
        col("embedding"), col("metadata"))
  }

  def listChunks(libId: Long): DataFrame =
    chunks().filter(col("library_id") === libId).orderBy("chunk_id")
  def getChunk(libId: Long, chunkId: Long): DataFrame =
    chunks().filter(col("library_id") === libId && col("chunk_id") === chunkId)

  // ---- metadata-filtered serving at pushdown quality -----------------------

  /** Observed metadata-filter workload (bounded) — feeds compaction's
    * hot-key promotion, so the store optimizes for the filters users
    * actually run (the v16d evidence-not-hand-pick rule applied to the
    * facade's own traffic). */
  private val observedFilterKeys = scala.collection.mutable.ArrayBuffer.empty[String]
  private def recordFilterWorkload(keys: Seq[String]): Unit =
    if (observedFilterKeys.size < 4096) observedFilterKeys ++= keys

  /** The live chunks of `libId` matching key=value metadata equalities
    * (the reference's `metadata_filters` dict, app/core/models.py:48 →
    * vector_db.py:249 filter-then-score) — served BASE+DELTA so the
    * filter reaches the parquet reader on the dominant slice:
    *   - BASE: the compacted snapshot rows (marked `compacted_base` and
    *     tombstone-free by construction). A key compaction PROMOTED to a
    *     typed `mk_<key>` column filters as a plain column equality —
    *     row-group stats → PushedFilters — while cold keys filter the
    *     map post-scan. Base rows masked by any post-compaction activity
    *     (a chunk re-write, a doc tombstone, a library tombstone — all
    *     delta seqs exceed the base's seq 0) leave via broadcast-sized
    *     anti-joins.
    *   - DELTA: post-compaction appends fold under the ordinary rule
    *     (sound on the slice: chunk ops are whole records) and filter on
    *     the map — the delta is maintenance-window-bounded, never the
    *     corpus.
    * A store never compacted by this generation has no base marker and
    * serves entirely through the general fold — correct, just unpushed
    * until its first compaction. At 100 TB this split is the difference
    * between scanning lang-matching row groups of the compacted store
    * and scanning (then folding) every byte of it. Caller must have
    * validated the library exists ([[searchAll]]'s libRecord does). */
  private[graft] def chunksEqFiltered(libId: Long, eq: Seq[(String, String)]): DataFrame = {
    val outCols = Seq("library_id", "doc_id", "chunk_id", "text", "embedding", "metadata")
    def mapFilter(df: DataFrame): DataFrame = eq.foldLeft(df) { case (d, (k, v)) =>
      d.filter(element_at(col("metadata"), lit(k)) === v)
    }
    val log = chunkLog
    if (!log.columns.contains("compacted_base"))
      return mapFilter(chunks().filter(col("library_id") === libId))
        .select(outCols.map(col): _*)
    val promoted = log.columns.collect {
      case c if c.startsWith("mk_") => c.stripPrefix("mk_")
    }.toSet
    val base = eq.foldLeft(
      log.filter(col("compacted_base") === true && col("library_id") === libId)) {
      case (df, (key, v)) =>
        if (promoted.contains(key)) df.filter(col(s"mk_$key") === v) // pushed
        else df.filter(element_at(col("metadata"), lit(key)) === v) // post-scan
    }
    val delta = log.filter(col("compacted_base").isNull && col("library_id") === libId)
    val deltaChunkKeys = delta.filter(col("op").isin("upsert", "delete_chunk"))
      .select(col("library_id"), col("chunk_id")).distinct()
    val deltaDocTombs = delta.filter(col("op") === "delete_doc")
      .select(col("library_id"), col("doc_id")).distinct()
    val libTombs = libLog.filter(col("op") === "delete")
      .select(col("library_id")).distinct()
    val baseLive = fillDerived(base
      .join(deltaChunkKeys, Seq("library_id", "chunk_id"), "left_anti")
      .join(deltaDocTombs, Seq("library_id", "doc_id"), "left_anti")
      .join(libTombs, Seq("library_id"), "left_anti")
      .select(outCols.map(col): _*))
    val deltaLive = mapFilter(fillDerived(foldChunkLog(delta))
      .filter(col("library_id") === libId))
      .select(outCols.map(col): _*)
    baseLive.unionByName(deltaLive)
  }

  // ---- index training / maintenance (vector_db.py:272-326) ----------------

  /** train_index: k-means over the library's live vectors (the v8 recipe —
    * deterministic init from the K lowest chunk ids, quantized partial
    * sums), centroid matrix persisted as the library's index artifact.
    * The artifact also records the TRAINING RECIPE (k, iters) so
    * [[buildIndex]]'s retrain-or-keep candidate can re-run the SAME
    * recipe on the refreshed corpus — on an unchanged corpus the
    * candidate is then bit-identical to the standing model (training is
    * deterministic) and the drift signal is exactly zero. */
  def trainIndex(libId: Long, kCentroids: Int = 8, iters: Int = 3): Unit = labeled(s"train-index lib=$libId") {
    val emb = listChunks(libId)
      .select(col("chunk_id").as("vec_id"), col("embedding"))
    val init = emb.orderBy("vec_id").limit(kCentroids).collect().map { r =>
      (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray)
    }
    require(init.length == kCentroids, s"library $libId has < $kCentroids vectors")
    val mat = Ivf.trainCentroids(spark, emb, iters, Some(init))
    writeCentroidArtifact(libId, mat, iters)
  }

  /** In-JVM freshness marker for the trained model (r17): training is
    * deterministic, so while NOTHING has mutated the store since the
    * artifact was written — no append, no compaction swap, no purge; all
    * of them pass through [[invalidateSnapshots]], which bumps
    * [[mutationEpoch]] — a candidate trained with the same recipe is
    * bit-identical to the standing model, and [[buildIndex]]'s stage 2
    * reuses the standing matrix instead of re-running k-means for an
    * identical result (the f13 lifecycle's train→build ran the same
    * training twice). Deliberately in-memory, not in the artifact: a
    * reopened session can't prove corpus identity cheaply and simply
    * trains — conservative. */
  private val trainEpoch = scala.collection.mutable.Map[Long, Long]()

  private def writeCentroidArtifact(libId: Long, mat: Array[(Long, Array[Double])],
                                    iters: Int): Unit = {
    mat.toSeq.map { case (cid, v) => (cid, v, mat.length, iters) }
      .toDF("cid", "centroid", "k", "iters")
      .coalesce(1).write.mode("overwrite").parquet(centroidPath(libId))
    trainEpoch(libId) = mutationEpoch
  }

  /** Centroid-artifact memo (r17): one lifecycle reads the K-row model
    * file up to six times (train→build→serve: oldMat, two recipe reads,
    * serving matrix…), each a parquet job + collect. Key = the file set's
    * (name, len, mtime) signature — [[writeCentroidArtifact]] replaces
    * the files, so a rewrite (in-JVM or out-of-band) changes the key and
    * forces a fresh read; rows are K-sized driver state, same bound as
    * the callers already held. Holds the RAW collected rows so both
    * [[trainedMat]] and [[trainParams]] serve from one read. */
  private val centroidCache = scala.collection.mutable.Map[
    Long, (String, Array[org.apache.spark.sql.Row], Boolean)]()

  private def centroidRows(libId: Long): Option[(Array[org.apache.spark.sql.Row], Boolean)] = {
    val path = centroidPath(libId)
    if (!Files.exists(Paths.get(path))) { centroidCache.remove(libId); None }
    else {
      val sig = dirSig(path)
      centroidCache.get(libId) match {
        case Some((s, rows, hasRecipe)) if s == sig => Some((rows, hasRecipe))
        case _ =>
          val df = spark.read.parquet(path)
          val hasRecipe = df.columns.contains("k")
          val rows = (if (hasRecipe)
            df.select(col("cid"), col("centroid"), col("k"), col("iters"))
          else df.select(col("cid"), col("centroid"))).collect()
          centroidCache(libId) = (sig, rows, hasRecipe)
          Some((rows, hasRecipe))
      }
    }
  }

  private def trainedMat(libId: Long): Option[Array[(Long, Array[Double])]] =
    centroidRows(libId).map { case (rows, _) =>
      rows.map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    }

  /** The recorded training recipe, None for a pre-recipe (legacy)
    * artifact — whose maintenance then degrades to keep-only (no
    * candidate can be trained the same way the standing model was). */
  private def trainParams(libId: Long): Option[(Int, Int)] =
    centroidRows(libId).flatMap { case (rows, hasRecipe) =>
      if (!hasRecipe || rows.isEmpty) None
      else Some((rows.head.getInt(2), rows.head.getInt(3)))
    }


  /** Top-`nProbes` centroids per query under the facade's probe rule
    * (DOUBLE centroid frame — the registry's `Ivf.probesFor` precision
    * rule, so the facade is oracle-exact where the registry is — + the
    * codegen'd cosine + TopK partial agg): ONE implementation shared by
    * the in-memory ivf route and the persisted-lists route, so the two
    * are candidate-identical by construction. Emits `(qid,
    * cluster_id)`. */
  private def probeAssignments(qs: DataFrame, mat: Array[(Long, Array[Double])],
                               nProbes: Int): DataFrame = {
    val centroids = mat.toSeq.map { case (cid, v) => (cid, v) }
      .toDF("cluster_id", "cvec")
    Knn.topkPerQuery(
      qs.crossJoin(broadcast(centroids))
        .withColumn("score", Graft.cosine(col("cvec"), col("qvec")))
        .select(col("qid"), col("cluster_id").as("vec_id"), col("score")),
      "cosine", nProbes).select(col("qid"), col("vec_id").as("cluster_id"))
  }

  // ---- compaction (crash-safe fold of all three logs) ---------------------

  /** Fold ALL changelogs to their live snapshots — the maintenance
    * analog of the reference's rebuild-from-storage: search results are
    * identical before and after (spec-proven); only the logs shrink.
    * Tombstones vanish because everything they masked does too — which is
    * also why the logs must fold together (a surviving library tombstone
    * would re-mask compacted rows rebased to seq 0).
    *
    * CRASH SAFETY: all snapshots are first written to `*_compacting` temp
    * dirs, then a commit marker is created, then each live log is swapped
    * via archive-rename+rename, then the marker is removed. A crash before
    * the marker leaves the old logs intact (stray temps are discarded on
    * the next open); a crash after it is completed by
    * [[recoverPendingCompact]] on the next open — readers never observe
    * one folded log with the others unfolded. Fully distributed:
    * snapshot → temp dir → rename, no driver collect; single-writer
    * maintenance window, like the reference's startup rebuild.
    *
    * COPY-ON-WRITE TIME TRAVEL (p19's recipe): the pre-compaction logs
    * are not deleted — they are RENAMED (no bytes copied) into
    * `archive/gen=<watermark>/`, one generation per compaction, and
    * [[asOf]] serves any historical sequence by routing to the one
    * generation whose logs cover it. Old generations cost exactly the
    * log bytes they always held; a retention job may delete the oldest
    * directories to bound history, which only narrows how far back
    * [[asOf]] reaches. */
  def compact(): Unit = labeled("compact") {
    writeCompactSnapshots()
    completeCompactSwap()
    // maintain the persisted serving indexes at the same boundary: every
    // trained live ivf library runs [[buildIndex]]'s monitor→decide→build
    // loop against the freshly folded snapshot (stale indexes drop) —
    // the reference's rebuild-on-startup, made measured and gated
    refreshIndexes()
  }

  /** Who paid the encoder at the last [[compact]]: per-status row counts
    * of the persisted derived-embedding store (`recomputed` = the text
    * was new or changed since the previous store generation; `reused` =
    * the vector was carried over bit-identically — the v54 receipt that
    * recompute cost ∝ changed bytes, which at 100 TB is the difference
    * between GPU-hours and GPU-months per refresh). Empty before a
    * text-only store's first compaction. */
  def embedAudit(): DataFrame =
    if (!Files.exists(Paths.get(embedStorePath)))
      Seq.empty[(String, Long)].toDF("status", "n_chunks")
    else spark.read.parquet(embedStorePath)
      .groupBy(col("status")).agg(count(lit(1)).as("n_chunks"))
      .orderBy("status")

  private def fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  /** Phase 1: temp snapshots for all three logs + the commit marker.
    * `keep` additionally filters the folded chunk/document state — the
    * purge path's exclusion predicate; plain compaction keeps all. */
  private[graft] def writeCompactSnapshots(keep: Column = lit(true)): Unit = {
    // hot-key promotion from the OBSERVED filter workload: promoted map
    // keys become typed `mk_<key>` columns in the compacted snapshot
    // (parquet row-group stats → PushedFilters for the next serving
    // epoch, [[chunksEqFiltered]]); `compacted_base` marks the rows as
    // the tombstone-free base so serving can split base from delta. The
    // fold and every existing reader select named columns, so the extra
    // columns are invisible outside the pushdown path.
    val promoted: Seq[String] =
      if (observedFilterKeys.isEmpty) Seq.empty
      else graft.operators.Persist.promoteHotKeys(chunks(), observedFilterKeys.toSeq)
    val mkCols = promoted.map(k => element_at(col("metadata"), lit(k)).as(s"mk_$k"))
    // ---- v54 delta re-embedding: refresh the derived-embedding store —
    // live DERIVED chunks (empty-vector marker) whose (library, chunk,
    // text-fingerprint) key already exists in the previous store REUSE
    // that vector bit-identically; only new/changed texts run the
    // encoder. `status` persists who paid ([[embedAudit]]'s receipt);
    // deleted/purged chunks simply drop out of the live set, so the
    // store never retains a vector the snapshot no longer serves (the
    // p12 chase-derived-artifacts discipline).
    val rawLive = foldChunkLog(chunkLog).filter(keep)
    val stub = graft.operators.SearchText.stubEmbed(col("text")).cast("array<float>")
    val oldStore =
      if (Files.exists(Paths.get(embedStorePath)))
        spark.read.parquet(embedStorePath)
          .select(col("library_id"), col("chunk_id"), col("text_h"),
            col("embedding").as("__prev"))
      else Seq.empty[(Long, Long, Long, Array[Float])]
        .toDF("library_id", "chunk_id", "text_h", "__prev")
    rawLive.filter(size(col("embedding")) === 0)
      .select(col("library_id"), col("chunk_id"), col("text"),
        graft.operators.Dedup.h60(col("text")).as("text_h"))
      .join(oldStore, Seq("library_id", "chunk_id", "text_h"), "left")
      .select(col("library_id"), col("chunk_id"), col("text_h"),
        coalesce(col("__prev"), stub).as("embedding"),
        when(col("__prev").isNotNull, lit("reused"))
          .otherwise(lit("recomputed")).as("status"))
      .write.mode("overwrite").parquet(s"${embedStorePath}_compacting")
    // base rows carry seq = watermark−1 ("the state as of the last folded
    // op"), NOT 0: [[asOf]]'s prefix filter then admits a base exactly
    // when its generation routing does, and a reopened store's restored
    // counter continues PAST every archived sequence instead of reissuing
    // one (fold order within the live epoch is unchanged — every delta
    // seq still exceeds the base's). Derived chunks keep their
    // EMPTY-vector marker through compaction — the refreshed store stays
    // the ONE home of their vectors (text log and vector store split, as
    // a real pipeline splits them) and serving fills on read, so every
    // future refresh sees the full derived population and its reuse
    // accounting stays complete.
    val baseSeq = seq - 1
    rawLive
      .select(Seq(lit(baseSeq).as("seq"), lit("upsert").as("op"), col("library_id"),
        col("doc_id"), col("chunk_id"), col("text"), col("embedding"), col("metadata"),
        lit(true).as("compacted_base")) ++ mkCols: _*)
      .write.mode("overwrite").parquet(s"${chunkPath}_compacting")
    // compacted rows are whole-record upserts under the CURRENT
    // generation's schema — future appends merge against log_v = LogV
    listLibraries().select(lit(baseSeq).as("seq"), lit("upsert").as("op"), col("library_id"),
        col("name"), col("dims"), col("index_type"), col("metadata"),
        lit(LogV).as("log_v"))
      .write.mode("overwrite").parquet(s"${libPath}_compacting")
    documents().filter(keep)
      .select(lit(baseSeq).as("seq"), lit("upsert").as("op"), col("library_id"),
        col("doc_id"), col("title"), col("metadata"), lit(LogV).as("log_v"))
      .write.mode("overwrite").parquet(s"${docPath}_compacting")
    fs.create(new Path(compactMarker), true).close()
  }

  /** PHYSICAL right-to-be-forgotten for one document — the p11/p12
    * storage-level purge surfaced in the client API. [[deleteDocument]]
    * is a tombstone (merge-on-read mask; bytes remain on disk until a
    * compaction); this REWRITES all three logs without any row of the
    * (library, document) — its chunks, its entity record, and the
    * tombstones that referenced it — through the same crash-safe
    * temp-snapshot + commit-marker + rename swap as [[compact]], then
    * SCRUBS every archived time-travel generation of the same rows
    * (right-to-be-forgotten outranks [[asOf]]; every other document's
    * history survives the scrub untouched). Returns an audit computed by
    * RE-READING the rewritten files: rows still mentioning the document
    * per live log AND summed across the archives, zero on success —
    * deletion evidenced from storage, not from the query path. A crash
    * between the swap and the scrub can leave archive rows behind; the
    * audit exposes them and RE-RUNNING the purge is idempotent and
    * completes the scrub. Every other document's state is bit-identical
    * before and after (compaction invariance, spec-proven). */
  def purgeDocument(libId: Long, docId: Long): DataFrame = labeled(s"purge-document doc=$docId") {
    val target = col("library_id") === libId && col("doc_id") === docId
    writeCompactSnapshots(keep = !target)
    completeCompactSwap()
    scrubArchives(target)
    // chase the DERIVED serving artifacts (the p12 discipline): a standing
    // index still carries the purged chunks' text + vectors in its lists —
    // rebuild every index from the post-purge snapshot (stale ones drop).
    // The library's ARCHIVED generations drop first, EVERY family: ivf
    // centroids are trained on (and a seed id literally names) the purged
    // data, an lsh receipt reproduces rankings OVER it, and archived
    // filterstats (flat included) count the purged chunks' metadata
    // values — purge outranks time-travel reproducibility (the
    // scrubArchives rule applied to models) — approximate pins fall back
    // to exact; the refresh below re-archives one clean post-purge
    // generation.
    families.foreach(f => fs.delete(new Path(f.archive(libId)), true))
    refreshIndexes()
    val liveAudits = Seq("chunks_log" -> chunkLog, "documents_log" -> docLog).map {
      case (name, log) =>
        log.filter(target)
          .agg(count(lit(1)).as("n_remaining"))
          .select(lit(name).as("log"), col("n_remaining"))
    }
    val archAudits = Seq("chunks_log", "documents_log").map { name =>
      val remaining = archivedWatermarks.map { w =>
        val p = s"$root/archive/gen=$w/$name"
        if (!Files.exists(Paths.get(p))) 0L
        else spark.read.option("mergeSchema", "true").parquet(p)
          .filter(target).count()
      }.sum
      spark.range(1).select(lit(s"archive:$name").as("log"),
        lit(remaining).as("n_remaining"))
    }
    // the derived serving indexes, re-read from the rewritten files like
    // every other audit row (deletion evidenced from storage)
    def derivedAudit(name: String, path: String): DataFrame = {
      val remaining =
        if (!Files.exists(Paths.get(path))) 0L
        else spark.read.parquet(path).filter(col("doc_id") === docId).count()
      spark.range(1).select(lit(name).as("log"), lit(remaining).as("n_remaining"))
    }
    val idxAudits = Seq(
      derivedAudit(ivfFam.name, s"${ivfFam.live(libId)}/lists"),
      derivedAudit(lshFam.name, s"${lshFam.live(libId)}/keys"))
    // stale archived generations remaining, EVERY family (anything but
    // the live artifact's own generation covers pre-purge data): 0 on
    // success
    val modelAudits = families.map { f =>
      val stale = archivedGens(f.archive(libId)).filterNot(f.gen(libId).contains).length
      spark.range(1).select(lit(s"${f.name}_archive").as("log"),
        lit(stale.toLong).as("n_remaining"))
    }
    (liveAudits ++ archAudits ++ idxAudits ++ modelAudits)
      .reduce(_ unionAll _).orderBy("log")
  }

  /** Rewrite every archived generation's chunk/document logs WITHOUT the
    * target rows (seqs of all surviving rows preserved — history shifts
    * for no one else). Per-generation cost is that generation's log
    * bytes; at 100 TB a purge pays for the history it erases, which is
    * the GDPR deal. Crash-safe swap per log: the scrubbed copy is
    * written to `*_scrubbing` (complete before any rename), the original
    * is renamed ASIDE to `*_scrubold` — never deleted first — then the
    * copy renames into place and the aside drops. A crash at any point
    * leaves a repairable state: [[repairScrubLeftovers]] (run on every
    * open) completes a swap that lost the live dir (aside + complete
    * copy both present) and discards stray temps, so no generation's
    * archive is ever lost to a half-finished scrub. */
  private def scrubArchives(target: Column): Unit =
    archivedWatermarks.foreach { w =>
      Seq("chunks_log", "documents_log").foreach { name =>
        val p = s"$root/archive/gen=$w/$name"
        if (Files.exists(Paths.get(p))) {
          val src = spark.read.option("mergeSchema", "true").parquet(p)
          // probe before rewriting: generations the target never touched
          // keep their original files byte-for-byte (and the probe is a
          // pushed point predicate, row-group-stat cheap)
          if (!src.filter(target).isEmpty) {
            val live = new Path(p)
            val tmp = new Path(p + "_scrubbing")
            val old = new Path(p + "_scrubold")
            src.filter(!target)
              .write.mode("overwrite").parquet(tmp.toString)
            fs.rename(live, old)
            fs.rename(tmp, live)
            fs.delete(old, true)
          }
        }
      }
    }

  /** Complete or discard scrub leftovers from a crashed [[scrubArchives]]
    * (run on every open, after the compaction recovery):
    *   - live log present → any `*_scrubold` / `*_scrubbing` siblings are
    *     stale (the swap finished, or never started) — discard them;
    *   - live log MISSING with `*_scrubold` present → the crash hit
    *     between the two renames; the `*_scrubbing` copy is complete by
    *     the write-before-rename order, so finish the swap (rename copy
    *     in, drop the aside) — or, if the copy is somehow gone too,
    *     restore the aside (the un-scrubbed original beats a lost
    *     archive; the next purge re-runs the scrub idempotently). */
  private def repairScrubLeftovers(): Unit =
    archivedWatermarks.foreach { w =>
      Seq("chunks_log", "documents_log").foreach { name =>
        val live = new Path(s"$root/archive/gen=$w/$name")
        val tmp = new Path(s"$root/archive/gen=$w/${name}_scrubbing")
        val old = new Path(s"$root/archive/gen=$w/${name}_scrubold")
        if (fs.exists(live)) {
          if (fs.exists(old)) fs.delete(old, true)
          if (fs.exists(tmp)) fs.delete(tmp, true)
        } else if (fs.exists(old)) {
          if (fs.exists(tmp)) { fs.rename(tmp, live); fs.delete(old, true) }
          else fs.rename(old, live)
        } else if (fs.exists(tmp)) fs.delete(tmp, true)
      }
    }

  /** Phase 2: swap every log for its temp snapshot, drop the marker.
    *
    * COPY-ON-WRITE ARCHIVE (p19's generation recipe): the pre-swap live
    * logs — including a purge's (a purge archives the pre-purge logs
    * into a fresh generation like any compaction, then
    * [[scrubArchives]] erases the target's rows from EVERY generation,
    * that one included; the purged rows are thus briefly retained until
    * the scrub, never after) — are RENAMED —
    * never copied — into `archive/gen=<watermark>/`, where the watermark
    * is the next-unused sequence derived from the live logs themselves
    * (so a crash-recovery replay computes the same value the session
    * would have). [[asOf]] routes a pinned read to the one generation
    * whose logs cover it. A re-compaction with NO intervening ops would
    * reproduce an existing watermark — it archives nothing (the existing
    * generation already covers that history; the redundant once-folded
    * copy would otherwise SHADOW the op-level log and break prefix
    * reads). */
  private[graft] def completeCompactSwap(): Unit = {
    // watermark = next-unused sequence, derived from the logs themselves
    // so a crash-recovery replay computes the SAME value the session
    // would have (base rows carry watermark−1, so the computation is
    // idempotent across a partially completed swap)
    val watermark = Seq(libPath, chunkPath, docPath).map(maxSeqOf).max + 1
    val genDir = new Path(s"$root/archive/gen=$watermark")
    Seq(chunkPath, libPath, docPath).foreach { live =>
      val tmp = new Path(s"${live}_compacting")
      if (fs.exists(tmp)) {
        val livePath = new Path(live)
        if (fs.exists(livePath)) {
          val dest = new Path(genDir, livePath.getName)
          // archive per LOG, not per generation: a crash between two
          // renames must not flip the surviving logs to delete — only a
          // log this generation ALREADY archived (a re-compaction with no
          // intervening ops, whose once-folded copy would shadow the
          // op-level history) is dropped instead of archived
          if (watermark > 0 && !fs.exists(dest)) {
            fs.mkdirs(genDir)
            fs.rename(livePath, dest)
          } else fs.delete(livePath, true)
        }
        fs.rename(tmp, livePath)
      }
    }
    // manifest of the generation's archived logs, rewritten from the
    // directory itself (idempotent across a crash-recovery re-run): asOf
    // reads it to distinguish "this generation never had that log" (a
    // legitimate empty fold) from "the log was damaged or partially deleted"
    // (a loud failure) — see [[asOf]]'s routing assert
    if (fs.exists(genDir)) {
      val names = fs.listStatus(genDir).map(_.getPath.getName)
        .filter(Seq("chunks_log", "libraries_log", "documents_log").contains)
      val out = fs.create(new Path(genDir, "_manifest"), true)
      out.write(names.sorted.mkString("\n").getBytes("UTF-8"))
      out.close()
    }
    // the derived-embedding store swaps inside the same marker window but
    // is REPLACED, never archived: it is a derived artifact whose history
    // is reconstructible from the archived text logs (fillDerived's
    // encode-on-read covers any asOf miss)
    val storeTmp = new Path(s"${embedStorePath}_compacting")
    if (fs.exists(storeTmp)) {
      val storeLive = new Path(embedStorePath)
      if (fs.exists(storeLive)) fs.delete(storeLive, true)
      fs.rename(storeTmp, storeLive)
    }
    fs.delete(new Path(compactMarker), false)
    invalidateSnapshots()
  }

  /** On open: finish a committed-but-unswapped compaction (marker
    * present — every temp snapshot is complete by the marker's
    * contract), or discard stray temps from one that died mid-write. */
  private def recoverPendingCompact(): Unit = {
    if (fs.exists(new Path(compactMarker))) completeCompactSwap()
    else Seq(chunkPath, libPath, docPath, embedStorePath).foreach { live =>
      val tmp = new Path(s"${live}_compacting")
      if (fs.exists(tmp)) fs.delete(tmp, true)
    }
    repairScrubLeftovers()
    repairIndexSwaps()
  }

  // ---- time travel (p19's COW generations on the facade) -------------------

  /** The archived generation watermarks, ascending — one directory
    * listing, generation-count-sized driver state (the facade's manifest:
    * the directory NAME is the watermark, so the manifest can never
    * disagree with the layout). */
  private[graft] def archivedWatermarks: Seq[Long] = {
    val dir = new Path(s"$root/archive")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("gen=") => n.stripPrefix("gen=").toLong }
      .sorted
  }

  /** TIME-TRAVEL READ: the chunk snapshot as of sequence `s` (inclusive)
    * — p19's manifest-pinned copy-on-write read on the facade. Routing:
    * the one generation whose logs COVER `s` is the smallest archived
    * watermark > s (that archive holds the op-level rows of its epoch
    * plus its predecessor's base), else the live logs. The pinned read
    * is the ordinary merge-on-read fold over that slice filtered to
    * `seq ≤ s`, with the library tombstones and library set OF THE SAME
    * EPOCH — so it equals replaying the op-log prefix ≤ s from scratch
    * (spec-gated, before and after compactions), and stays readable
    * after any number of later compactions because archived bytes are
    * renamed, never rewritten. Base rows carry seq = watermark−1, so
    * the prefix filter admits a base exactly when the routing does.
    * History destroyed by [[purgeDocument]] is destroyed here too —
    * right-to-be-forgotten outranks time travel (the scrub keeps every
    * OTHER document's history intact). Reference anchor: the startup
    * rebuild-from-storage (vector_db.py:272-292) generalized from
    * "latest state" to "state at any retained sequence". */
  def asOf(s: Long): DataFrame = {
    val (chunkSrc, libSrc) = pinnedLogSlices(s)
    val libSlice = libSrc.filter(col("seq") <= s)
    fillDerived(
      foldChunkLogWith(chunkSrc.filter(col("seq") <= s), libSlice, foldLibLog(libSlice)))
      .orderBy("library_id", "doc_id", "chunk_id")
  }

  /** The UN-truncated chunk/library log sources covering sequence `s` —
    * the routed archived generation, or the live logs. Routing to an
    * archive VALIDATES it against the generation's `_manifest` (written
    * at archive time): a log the manifest lists but the directory lacks
    * means the generation was damaged (e.g. a retention job deleted one
    * log of the pair) — that fails LOUDLY here instead of silently
    * folding an empty history. A log absent from BOTH is a generation
    * that legitimately never had it (empty fold is the true state);
    * manifest-less generations (pre-manifest stores) stay lenient. */
  private def pinnedLogSlices(s: Long): (DataFrame, DataFrame) =
    archivedWatermarks.find(_ > s) match {
      case Some(w) =>
        val gen = s"$root/archive/gen=$w"
        val manifest = new Path(s"$gen/_manifest")
        if (fs.exists(manifest)) {
          val in = fs.open(manifest)
          val names = try scala.io.Source.fromInputStream(in, "UTF-8")
            .getLines().filter(_.nonEmpty).toList
          finally in.close()
          names.filter(Seq("chunks_log", "libraries_log").contains).foreach { n =>
            require(Files.exists(Paths.get(s"$gen/$n")),
              s"archived generation $w is damaged: its manifest lists $n but the " +
                "directory is missing — asOf refuses to serve a partial history " +
                "(retention must delete whole gen= directories, never single logs)")
          }
        }
        (withChunkMetaCompat(logOrEmpty[ChunkOp](s"$gen/chunks_log", mergeSchema = true)),
          withMetaCompat(logOrEmpty[LibOp](s"$gen/libraries_log", mergeSchema = true)))
      case None => (chunkLog, libLog)
    }

  // ---- standing artifacts: one family table, one generation protocol -----

  /** One standing-artifact family — what a library's `index_type` keeps
    * beside the logs: [[buildIndex]]'s ivf lists, [[buildLshIndex]]'s key
    * table, [[buildFlatStats]]'s filterstats. A family's live generation
    * sits at `<index_type>_index/lib=<id>` and its archived generations
    * at `<index_type>_index_archive/lib=<id>/gen=<index_seq>`; every
    * per-family site reads this table instead of naming paths. */
  private final class Family(val indexType: String) {
    val name = s"${indexType}_index"
    val area = s"$root/$name"
    val archiveArea = s"${area}_archive"
    def live(libId: Long): String = s"$area/lib=$libId"
    def archive(libId: Long): String = s"$archiveArea/lib=$libId"
    /** The live generation's one-row receipt (index_seq + the family's
      * columns), None when the library has no standing artifact — the
      * serving dispatch bit. */
    def meta(libId: Long): Option[org.apache.spark.sql.Row] =
      readMetaCached(s"${live(libId)}/meta").headOption
    def gen(libId: Long): Option[Long] = meta(libId).map(_.getAs[Long]("index_seq"))
  }

  // lazy: [[repairIndexSwaps]] reads the table from the CONSTRUCTOR
  // (recoverPendingCompact), before plain vals this far down initialize
  private lazy val ivfFam = new Family("ivf")
  private lazy val lshFam = new Family("lsh")
  private lazy val flatFam = new Family("flat")
  private lazy val families = Seq(ivfFam, lshFam, flatFam)
  private def familyOf(indexType: String): Option[Family] =
    families.find(_.indexType == indexType)

  /** Driver cache of the one-row index metas (ivf/lsh/flat), keyed by
    * path: the serving dispatch reads these on EVERY call, and the
    * facade is single-writer by contract, so a meta changes only
    * through this instance's own build/refresh entries — each of which
    * calls [[invalidateIndexMeta]]. Bounded: one entry per standing
    * artifact. Rows are collected once per generation; a missing path
    * caches as empty (the dominant flat/untrained case). */
  // lazy: [[repairIndexSwaps]] invalidates it from the CONSTRUCTOR
  // (recoverPendingCompact), before plain vals this far down initialize
  private lazy val indexMetaCache = scala.collection.mutable.HashMap
    .empty[String, (Option[Long], Seq[org.apache.spark.sql.Row])]

  /** The cheap revalidation signal for a cached meta (None = absent).
    * Every index write here lands through a directory rename or a
    * mode-overwrite rewrite, both of which produce a fresh mtime — so
    * an OUT-OF-BAND drop *and* an out-of-band in-place REPLACEMENT (an
    * external rebuild/restore writing a new generation at the same
    * path — the r15 advisory's unhandled half of the threat class)
    * both flip the dispatch on the very next call. Only the expensive
    * read+collect is amortized, never the liveness check. r16 advisory
    * hardening: the signal goes through the HADOOP FileSystem — the
    * same interface every write goes through, correct for any
    * supported fs, not just a local root — and folds in each child
    * file's (name, length, mtime), so a same-millisecond in-place
    * replacement still flips the signature unless it also reproduces
    * every part file's exact name and byte length (the residual
    * blind spot shrinks from "same ms" to "same ms AND bit-compatible
    * layout"; the single-writer contract makes that a non-event). */
  private def metaSignature(p: String): Option[Long] = {
    val path = new Path(p)
    if (!fs.exists(path)) None
    else {
      val self = fs.getFileStatus(path)
      val kids =
        if (!self.isDirectory) Seq.empty
        else fs.listStatus(path).toSeq
          .map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
          .sortBy(_._1)
      Some((self.getModificationTime, kids).hashCode().toLong)
    }
  }

  private def readMetaCached(p: String): Seq[org.apache.spark.sql.Row] = {
    val sig = metaSignature(p)
    indexMetaCache.get(p) match {
      case Some((cachedSig, rows)) if cachedSig == sig => rows
      case _ =>
        val raw =
          if (sig.isEmpty) Seq.empty[org.apache.spark.sql.Row]
          else spark.read.parquet(p).collect().toSeq
        // forward-compat enforcement (the IndexMetaV contract): a receipt
        // carrying a format_version NEWER than this reader knows is
        // treated as ABSENT — the dispatch serves the in-memory route
        // instead of misreading a future layout through v2 accessors.
        // Read TYPE-AGNOSTICALLY (r16 advisory): a future writer that
        // widens the column to long — or a mixed-type receipt — must
        // DEGRADE to treat-as-absent, not throw ClassCastException and
        // defeat the very contract this filter enforces; a non-numeric
        // value is just as unreadable as a future version.
        val rows = raw.filter { r =>
          val i = r.schema.fieldNames.indexOf("format_version")
          i < 0 || (r.get(i) match {
            case n: java.lang.Number => n.longValue <= GraftDb.IndexMetaV
            case _ => false
          })
        }
        indexMetaCache(p) = (sig, rows)
        rows
    }
  }

  private def invalidateIndexMeta(): Unit = indexMetaCache.clear()

  /** A receipt's build population — None for an lsh receipt written
    * before `n_total` existed (the format_version-1 era sniff; the
    * adaptive filter decision then stays on the probe route:
    * legacy-safe). */
  private def nTotalOf(m: org.apache.spark.sql.Row): Option[Long] =
    if (m.schema.fieldNames.contains("n_total")) Some(m.getAs[Long]("n_total")) else None

  /** The centroid matrix the standing index was BUILT with — stored
    * inside the index directory so the swap is atomic for everything
    * serving needs (probing with one generation's centroids against
    * another generation's list layout would route wrongly). Cached per
    * fileset signature (r18, the [[readMetaCached]]/[[centroidRows]]
    * discipline): every persisted-route search re-read and re-collected
    * the K-row matrix — 2 driver jobs per call for rows only a build
    * swap can change, and a swap changes the signature. */
  private val indexCentroidCache = scala.collection.mutable.Map[
    Long, (Option[Long], Array[(Long, Array[Double])])]()

  private def indexCentroids(libId: Long): Array[(Long, Array[Double])] = {
    val p = s"${ivfFam.live(libId)}/centroids"
    val sig = metaSignature(p)
    indexCentroidCache.get(libId) match {
      case Some((s, m)) if sig.isDefined && s == sig => m
      case _ =>
        val m = spark.read.parquet(p).collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
        indexCentroidCache(libId) = (sig, m)
        m
    }
  }

  /** BUILD/REFRESH the library's persisted serving index — the standing
    * structure the reference queries repeatedly (ivf.py:91-123) instead
    * of re-assigning the corpus per search, with v55's retrain-or-keep
    * decision folded into every refresh:
    *
    *   1. MONITOR, STAGED LAZILY (r15): the common keep path pays ONE
    *      assignment pass and ZERO k-means iterations. Stage 1 assigns
    *      every live vector under the STANDING model only (the same
    *      pass the build itself needs) and reads three cheap signals:
    *      occupancy (K-bounded sizes off that pass), seed-population
    *      change (the candidate's init is the k lowest live chunk ids;
    *      the standing matrix's cids ARE its init population, so a
    *      k-row compare detects relabel-drift without training), and
    *      drift-under-the-old-matrix (current assignment vs the
    *      standing lists' recorded assignment — one join, no k-means).
    *      Only when a signal trips (or no standing lists exist yet)
    *      does stage 2 train the candidate with the recorded recipe
    *      (same k/iters/init rule — [[trainIndex]]'s determinism makes
    *      an unchanged corpus produce a bit-identical candidate) and
    *      build the K²-bounded migration matrix as the retrain report;
    *      the untripped keep path records a diagonal report from the
    *      stage-1 sizes with `off_diag` = the measured under-threshold
    *      drift.
    *   2. DECIDE (three longs off the report, exact BigInt compares —
    *      no float/wrap can flip the branch): retrain iff
    *      off_diag·driftDen ≥ n_total (assignment churn ≥ 1/driftDen) or
    *      max_list·k ≥ occFactor·n_total (largest list ≥ occFactor× the
    *      average — v55's occupancy rule generalized k-relative: for
    *      k=16, occFactor=4 is exactly v55's occDen=4). A candidate
    *      whose SEED population changed relabels clusters and reads as
    *      full drift — aggressive by construction: the seeding corpus
    *      changing IS drift (and exactly why the stage-1 seed compare
    *      is a sound training trigger).
    *   3. BUILD the winner's artifacts through the shared generation
    *      protocol ([[publishGeneration]]: stage, `_complete`, aside
    *      swap, archive): cluster-partitioned lists carrying the full
    *      chunk payload (so metadata filters and includeChunk serve off
    *      the pruned scan), the v53 K-row size sidecar, the winning
    *      centroid matrix, and a one-row meta (index_seq = the last
    *      folded op + the decision receipt, [[indexAudit]]). On retrain
    *      the library's trained model artifact is refreshed to the
    *      winner, so the in-memory fallback and the index always agree.
    *
    * [[compact]] calls this for every trained live ivf library (the
    * measured replacement for the reference's unconditional
    * rebuild-on-startup, vector_db.py:272-292); it is also a public
    * maintenance entry for on-demand rebuilds. [[searchAll]] serves the
    * index base+delta: post-build appends stay visible (scored through
    * the same assignment) without any rebuild. A library whose live set
    * shrank to empty drops its index instead (serving falls back). */
  def buildIndex(libId: Long, driftDen: Long = 60L, occFactor: Long = 4L): Unit = labeled(s"build-index lib=$libId") {
    requireIndexType(libId, "ivf")
    val oldMat = trainedMat(libId).getOrElse(
      throw new IllegalArgumentException(
        s"library $libId has no trained model — call trainIndex first"))
    val snap = listChunks(libId)
      .select(col("chunk_id").as("vec_id"), col("embedding"), col("doc_id"),
        col("text"), col("metadata"))
    val emb = snap.select(col("vec_id"), col("embedding"))
    def cvecs(m: Array[(Long, Array[Double])]): Column =
      typedLit(m.map(_._2.toSeq).toSeq)
    def cids(m: Array[(Long, Array[Double])]): Column = typedLit(m.map(_._1).toSeq)
    // STAGE 1: assignment under the STANDING model — the same map-only
    // frame the build itself writes (the keep path's monitoring costs
    // the K-bounded sizes collect plus one lists join beyond the build
    // it was going to do anyway; no k-means). The emptiness probe rides
    // this same collect (r18): zero size rows ⟺ nothing live — the
    // separate limit(1) job bought no information this one lacks.
    val assignedOld = Ivf.assignToMat(snap, oldMat, keep = Seq("doc_id", "text", "metadata"))
      .select(col("vec_id"), col("embedding"), col("doc_id"), col("text"),
        col("metadata"), col("cluster_id"))
    val sizeRows = assignedOld.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n")).collect() // K rows: bounded
    // nothing live (zero size rows) drops the standing index
    publishGeneration(ivfFam, libId, empty = sizeRows.isEmpty) {
      val total = sizeRows.map(_.getAs[Long]("n")).sum
      val maxList = sizeRows.map(_.getAs[Long]("n")).max
      val occTrips =
        BigInt(maxList) * BigInt(oldMat.length) >= BigInt(occFactor) * BigInt(total)
      // seed-population compare: k rows of driver state (trainedMat sorts
      // by cid, and the matrix's cids are its init chunk ids). The collect
      // carries the VECTORS too (k rows — same driver bound): it doubles as
      // stage 2's candidate init, which used to be a second identical job.
      val params = trainParams(libId)
      val seedRows: Option[Array[(Long, Array[Double])]] = params.map { case (kc, _) =>
        emb.orderBy("vec_id").limit(kc).collect().map { r =>
          (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray)
        }
      }
      val seedChanged = seedRows.exists(_.map(_._1).toSeq != oldMat.map(_._1).toSeq)
      // drift under the OLD matrix: how much of the corpus no longer sits
      // where the standing lists recorded it — one FULL OUTER join against
      // the lists, zero k-means. All three change kinds count: ADDED
      // (no lists row), MOVED (clusters differ), and DELETED (a lists row
      // with no live twin — the r15 advisory's blind spot: a corpus shrunk
      // heavily by deletions must be able to reach the stage-2
      // train/decide path, exactly as the pre-lazy protocol's candidate
      // comparison could). No standing lists (first build) reads as full
      // drift.
      val standingLists = new Path(s"${ivfFam.live(libId)}/lists")
      val preOff =
        if (!fs.exists(standingLists)) total
        else assignedOld.select(col("vec_id"), col("cluster_id"))
          .join(spark.read.parquet(standingLists.toString)
            .select(col("vec_id"), col("cluster_id").cast("long").as("prev_cluster")),
            Seq("vec_id"), "full_outer")
          .filter(col("prev_cluster").isNull || col("cluster_id").isNull ||
            col("prev_cluster") =!= col("cluster_id"))
          .count()
      val preDriftTrips = BigInt(preOff) * BigInt(driftDen) >= BigInt(total)
      val diagReport: Seq[(Long, Long, Long)] =
        sizeRows.toSeq.map(r => (r.getLong(0), r.getLong(0), r.getAs[Long]("n")))
      val (retrain, winner, offDiag, assigned, reportRows) =
        if (!(occTrips || seedChanged || preDriftTrips)) {
          // KEEP, decided at stage 1: zero training iterations, one
          // assignment pass total. Diagonal retrain report from the
          // stage-1 sizes (candidate ≡ standing by the untripped signals);
          // off_diag records the measured under-threshold drift.
          (false, oldMat, preOff, assignedOld, diagReport)
        } else {
          // STAGE 2: a signal tripped — train the candidate with the
          // recorded recipe (None → keep-only for legacy artifacts or a
          // corpus smaller than its own k) and build the full old→candidate
          // migration matrix; `from` rides the stage-1 assignment, so this
          // pass evaluates only the candidate side.
          val cand: Option[Array[(Long, Array[Double])]] = params.flatMap {
            case (kc, it) =>
              // corpus provably unchanged since the standing model trained
              // (no mutation of ANY kind has bumped the in-JVM epoch) ⇒ the
              // candidate is bit-identical to the standing model by training
              // determinism — reuse it instead of re-running k-means for an
              // identical matrix (the migration matrix and every decision
              // below are unchanged by construction; the first build right
              // after trainIndex lands here via the no-standing-lists
              // full-drift trip). Any append/compact/purge bumps the epoch
              // and restores the real candidate training.
              if (trainEpoch.get(libId).contains(mutationEpoch)) Some(oldMat)
              else {
                val init = seedRows.get // the stage-1 seed collect, reused
                if (init.length < kc) None
                else Some(Ivf.trainCentroids(spark, emb, it, Some(init)))
              }
          }
          val candMat = cand.getOrElse(oldMat)
          // old→candidate migration matrix, K²-bounded. When the candidate
          // IS the standing matrix (the epoch skip, or the keep-only
          // fallback's getOrElse), the matrix is diagonal BY CONSTRUCTION —
          // both sides are the same deterministic nearest-centroid function
          // of the same rows — so it comes from the stage-1 sizes with zero
          // extra corpus passes (r18; the old shape re-assigned the corpus
          // to compute a provably-zero off-diagonal). Otherwise one grouped
          // pass, COLLECTED (≤K² rows): the report file writes from the
          // collected rows and off_diag sums on the driver, dropping the
          // read-back job the off_diag aggregate used to pay.
          val report: Seq[(Long, Long, Long)] =
            if (candMat eq oldMat) diagReport
            else assignedOld
              .withColumn("ncn", Graft.nearestCentroid(col("embedding"), cvecs(candMat)))
              .select(col("cluster_id").as("from_cid"),
                element_at(cids(candMat), col("ncn.idx") + 1).as("to_cid"))
              .groupBy(col("from_cid"), col("to_cid"))
              .agg(count(lit(1)).as("n_vecs"))
              .collect().toSeq
              .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("n_vecs")))
          val off = report.collect { case (f, t, n) if f != t => n }.sum
          val re = cand.isDefined &&
            (BigInt(off) * BigInt(driftDen) >= BigInt(total) || occTrips)
          val w = if (re) candMat else oldMat
          val a =
            if (re) Ivf.assignToMat(snap, w, keep = Seq("doc_id", "text", "metadata"))
              .select(col("vec_id"), col("embedding"), col("doc_id"), col("text"),
                col("metadata"), col("cluster_id"))
            else assignedOld
          (re, w, off, a, report)
        }
      // 3. BUILD: map-only assignment carrying the payload, partitioned by
      // the trained cluster ids; sizes from the same assigned frame (≡ the
      // lists by construction — r17 dropped the lists read-back); the
      // shared filterstats ([[filterStatsWriter]]); the migration report
      // and the winning centroid matrix. The receipt is
      // (index_seq, decision, off_diag, max_list, n_total) — the
      // [[indexAudit]] row. The archived generation keeps the MODEL (K+1
      // rows — centroids + receipt) plus filterstats for time-travel
      // serving: [[pinnedSearchAll]] with pinIndexed=true reproduces the
      // approximate ranking the live route served while this generation
      // stood. The lists are NOT archived (corpus-sized); assignment is a
      // pure function of (corpus, matrix), so matrix+meta suffice — the
      // v56 identity; filterstats let the pin replay the SAME pre/post-
      // filter route decision the live route took.
      Generation(
        metaCols = Seq(lit(if (retrain) "retrain" else "keep").as("decision"),
          lit(offDiag).as("off_diag"), lit(maxList).as("max_list"), lit(total).as("n_total")),
        writes = Seq(
          stage => graft.sources.Sinks.writePartitioned(assigned, s"$stage/lists", "cluster_id"),
          stage => assigned
            .groupBy(col("cluster_id").cast("long").as("cluster_id"))
            .agg(count(lit(1)).as("csize"))
            .coalesce(1).write.mode("overwrite").parquet(s"$stage/sizes"),
          filterStatsWriter(snap),
          stage => reportRows.toDF("from_cid", "to_cid", "n_vecs")
            .coalesce(1).write.mode("overwrite").parquet(s"$stage/retrain_report"),
          stage => winner.toSeq.map { case (cid, v) => (cid, v) }.toDF("cid", "centroid")
            .coalesce(1).write.mode("overwrite").parquet(s"$stage/centroids")),
        archived = Seq("centroids", "filterstats"),
        // the trained-model artifact follows the winner (idempotent; a
        // crash leaving it stale only makes the next candidate comparison
        // see the same old model again — the index itself stays
        // self-consistent)
        afterSwap = () => if (retrain)
          writeCentroidArtifact(libId, winner, trainParams(libId).map(_._2).getOrElse(0)))
    }
  }

  /** THE generation protocol of every standing artifact — one copy for
    * [[buildIndex]], [[buildLshIndex]] and [[buildFlatStats]]:
    *   1. an empty library drops its artifact (serving falls back);
    *   2. the generation stages under `*_building`;
    *   3. the family's artifacts and the receipt write CONCURRENTLY
    *      ([[parallelWrites]], guide §2.6 — independent derivations of
    *      the one cached snapshot, which serially paid one full
    *      job-scheduling latency each);
    *   4. a `_complete` marker seals the stage;
    *   5. swap: aside → in → drop — [[repairIndexSwaps]] finishes or
    *      discards every intermediate state on open, and serving
    *      meanwhile falls back to the in-memory route, never a
    *      half-index;
    *   6. the generation archives by BYTE COPY of the listed members plus
    *      the receipt ([[writeArchivedGen]]) — no read-back re-encode;
    *   7. the cached metas drop.
    * The receipt carries the chain [[coveringArchivedGen]] validates:
    * `prev_gen` (the generation standing before this one) and
    * `ancestors` (its lineage plus itself — every build that ever stood,
    * archived or not, so a build whose archive write crashed still
    * appears in every successor's list), both captured from the LIVE
    * meta before the swap replaces it. A crash BETWEEN the swap and the
    * archive write leaves a chain gap the pin detects (it then serves
    * exact instead of replaying the previous generation's model). */
  private def publishGeneration(f: Family, libId: Long, empty: Boolean)
                               (build: => Generation): Unit = {
    val live = new Path(f.live(libId))
    if (empty) { fs.delete(live, true); invalidateIndexMeta(); return }
    val g = build
    val idxSeq = seq - 1
    val prev = f.meta(libId)
    val prevGen = prev.fold(-1L)(_.getAs[Long]("index_seq"))
    val lineage: Seq[Long] = prev.toSeq.flatMap { m =>
      val i = m.schema.fieldNames.indexOf("ancestors")
      (if (i < 0) Seq.empty else Option(m.getSeq[Long](i)).getOrElse(Seq.empty)) :+ prevGen
    }
    val stage = s"${live}_building"
    fs.delete(new Path(stage), true)
    val receipt = spark.range(1).select(
      (lit(idxSeq).as("index_seq") +: g.metaCols) ++ Seq(
        lit(GraftDb.IndexMetaV).as("format_version"), typedLit(lineage).as("ancestors"),
        lit(prevGen).as("prev_gen")): _*)
    parallelWrites(g.writes.map(w => () => w(stage)) :+
      (() => receipt.coalesce(1).write.mode("overwrite").parquet(s"$stage/meta")))
    fs.create(new Path(stage, "_complete"), true).close()
    val aside = new Path(s"${live}_old")
    if (fs.exists(live)) fs.rename(live, aside)
    fs.rename(new Path(stage), live)
    if (fs.exists(aside)) fs.delete(aside, true)
    g.afterSwap()
    writeArchivedGen(s"${f.archive(libId)}/gen=$idxSeq") { b =>
      (g.archived :+ "meta").foreach(m => archiveCopyDir(s"$live/$m", s"$b/$m"))
    }
    invalidateIndexMeta()
  }

  /** The per-(key, value) frequency table over a generation's snapshot
    * metadata — v51's decision input, maintained WITH every standing
    * artifact (p15/p16's ANALYZE family at the facade), so the adaptive
    * pre/post-filter route ([[filterDecision]]) reads K-ish rows at query
    * time instead of rescanning the corpus. Metadata-DOMAIN-sized, so it
    * rides every archived generation too. */
  private def filterStatsWriter(snap: DataFrame): String => Unit = stage =>
    snap.select(explode(col("metadata")).as(Seq("mkey", "mval")))
      .groupBy(col("mkey"), col("mval"))
      .agg(count(lit(1)).as("cnt"))
      .coalesce(1).write.mode("overwrite").parquet(s"$stage/filterstats")

  /** Byte-level copy of one just-written artifact dir into the archive
    * stage (r18) — the archive's provenance guarantee made literal:
    * archived ≡ live BY THE COPY, not by a re-read re-encode. The r17
    * shape ran `spark.read.parquet(live).write.parquet(archive)` per
    * member — one distributed job each (2 per ivf build, measured
    * ~200 ms/build) for content the filesystem can move without the
    * cluster. Markers (`_SUCCESS`, checksums) are skipped — parquet
    * readers ignore them and [[writeArchivedGen]] writes the stage's own
    * `_complete`. */
  private def archiveCopyDir(src: String, dst: String): Unit = {
    fs.mkdirs(new Path(dst))
    val conf = spark.sessionState.newHadoopConf()
    fs.listStatus(new Path(src)).foreach { st =>
      val n = st.getPath.getName
      if (st.isFile && !n.startsWith("_") && !n.startsWith("."))
        org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs, new Path(dst, n),
          false, conf)
    }
  }

  /** Stage-then-rename write of one archived model generation — the
    * index swap's `*_building`/`_complete` discipline applied to the
    * archive (the r15 advisory: a plain post-swap overwrite could leave
    * a half-written `gen=` dir that fails every later pin). A crash
    * mid-write leaves an incomplete `_building` dir that readers never
    * see and [[repairIndexSwaps]] discards; rebuilding the same gen id
    * (an idempotent re-run) replaces the old dir atomically. */
  private def writeArchivedGen(genDir: String)(write: String => Unit): Unit = {
    val bld = new Path(s"${genDir}_building")
    fs.delete(bld, true)
    write(bld.toString)
    fs.create(new Path(bld, "_complete"), true).close()
    val live = new Path(genDir)
    fs.delete(live, true)
    fs.rename(bld, live)
    archivedStatsCache.remove(genDir) // idempotent same-gen rebuild: fresh stats
  }

  /** The archived model generations under one archive root, by the
    * index_seq each covered from — directory-listing-sized driver
    * state. In-flight `_building` stages are invisible. */
  private def archivedGens(rootDir: String): Seq[Long] = {
    val p = new Path(rootDir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("gen=") && !n.endsWith("_building") =>
        n.stripPrefix("gen=").toLong }
  }

  /** The archived generation COVERING pin `s` under `rootDir`, validated
    * against the archive CHAIN: every gen's receipt names its
    * predecessor (`prev_gen`), so a build that crashed between its index
    * swap and its archive write — leaving its generation permanently
    * unarchived — is DETECTED instead of silently replaying the previous
    * generation's model (the model standing at the pin was the crashed
    * build's, which no archive holds):
    *   - a later archived gen exists → its predecessor must be `g`
    *     (no gap at all), OR a gen LATER than the pin (`prev_gen > s`
    *     — the missing build began after `s`, so `g` genuinely stood
    *     at the pin and only later pins lose their replay);
    *   - a later receipt READ AS ABSENT (future format_version — the
    *     [[readMetaCached]] filter) rejects conservatively: a chain
    *     that can't be checked must not be presumed intact. A
    *     PHYSICALLY corrupt receipt (torn parquet) instead fails
    *     LOUDLY from the read itself — the op-log archive's
    *     damaged-generation contract: storage rot surfaces, it is
    *     never silently papered over with a fallback;
    *   - no later archived gen → the LIVE index meta is the only
    *     witness: its index_seq must be `g` itself (a live build newer
    *     than the pin with no archived gen after the pin means the
    *     covering build's archive is missing — conservative exact).
    * Receipts predating `prev_gen` (r15-era archives) validate
    * vacuously — they carry no chain to check.
    *
    * r17 (the r16 advisory): validation is TRANSITIVE. Each receipt now
    * carries its FULL lineage (`ancestors` — every generation that ever
    * stood, archived or not: the list is appended from the LIVE meta at
    * build time, so a build whose archive write crashed still appears
    * in every successor's list). `g` covers the pin iff the next
    * receipt's lineage names NO generation in `(g, s]` — with the full
    * list, two CONSECUTIVE crashed-archive builds can no longer shadow
    * an older gap (the single `prev_gen` link's documented limit: its
    * `p > s` acceptance presumed the missing build's own predecessor
    * was `g`, which a second crash silently falsified). r16-era
    * receipts without `ancestors` keep the single-link rule — exact
    * for one missing build; the stronger guarantee applies from the
    * first post-upgrade build. */
  private def coveringArchivedGen(rootDir: String, s: Long,
                                  liveGen: Option[Long]): Option[Long] = {
    val gens = archivedGens(rootDir)
    gens.filter(_ <= s).maxOption.filter { g =>
      gens.filter(_ > s).minOption match {
        case Some(next) =>
          readMetaCached(s"$rootDir/gen=$next/meta").headOption.exists { m =>
            val fields = m.schema.fieldNames
            if (fields.contains("ancestors"))
              !Option(m.getSeq[Long](m.fieldIndex("ancestors")))
                .getOrElse(Seq.empty).exists(a => a > g && a <= s)
            else if (fields.contains("prev_gen")) {
              val p = m.getAs[Long]("prev_gen")
              p == g || p > s
            } else true
          }
        case None => liveGen.contains(g)
      }
    }
  }

  // ---- persisted LSH index (standing key rows, same discipline) -----------

  /** The standing LSH key table's recorded (nTables, nBits, seed), None
    * when the library has no persisted key table. Serving uses the
    * standing index ONLY when the call's parameters match the recorded
    * ones — a mismatched call falls back to in-memory keying (correct,
    * unaccelerated) instead of probing wrong buckets. */
  private def lshParams(libId: Long): Option[(Int, Int, Long)] =
    lshFam.meta(libId).map(m =>
      (m.getAs[Int]("n_tables"), m.getAs[Int]("n_bits"), m.getAs[Long]("seed")))

  private def requireIndexType(libId: Long, t: String): Unit = {
    val have = libRecord(libId).getAs[String]("index_type")
    require(have == t, s"library $libId is $have, not $t")
  }

  /** BUILD/REFRESH the library's standing LSH key table — the lsh twin
    * of [[buildIndex]]: SimHash keys are a PER-VECTOR function, so the
    * reference's build-at-construction index (lsh_simhash.py) becomes a
    * persisted `(vec_id, doc_id, table_id, key)` table the bucket-union
    * search joins directly, instead of re-keying the whole snapshot on
    * every call (nTables passes over every live vector, per search).
    * Same generation protocol as the ivf build ([[publishGeneration]]);
    * [[compact]] refreshes it with the parameters the standing index
    * recorded. Serving is BASE+DELTA ([[persistedLshHits]]), so
    * post-build upserts stay visible with no rebuild. An empty library
    * drops its index. The receipt is (index_seq, n_tables, n_bits, seed,
    * n_total); the archived generation keeps it plus filterstats — for
    * lsh the receipt IS the model: keys are a pure per-vector function of
    * (corpus, params), so the receipt + the pinned fold reproduce the
    * bucket-route ranking the live route served while this generation
    * stood ([[pinnedSearchAll]] with pinIndexed=true). */
  def buildLshIndex(libId: Long, nTables: Int = 4, nBits: Int = 10,
                    seed: Long = 1000L): Unit = labeled(s"build-lsh-index lib=$libId") {
    requireIndexType(libId, "lsh")
    val snap = listChunks(libId)
      .select(col("chunk_id").as("vec_id"), col("embedding"), col("doc_id"),
        col("metadata"))
    // the meta's n_total count doubles as the emptiness probe (r18): the
    // separate limit(1) job told us nothing this count doesn't
    val nTotal = snap.count()
    // keys carry doc_id THROUGH the key explode (the r17 shape re-joined
    // the snapshot on vec_id for it: one broadcast per build); for lsh
    // the filterstats' pre-filter branch is not just cheaper but
    // better-recall: a survivor that shares no bucket with the query is
    // invisible to the probe route, while the exact scan of a tiny
    // survivor set can never miss it
    publishGeneration(lshFam, libId, empty = nTotal == 0L)(Generation(
      metaCols = Seq(lit(nTables).as("n_tables"), lit(nBits).as("n_bits"),
        lit(seed).as("seed"), lit(nTotal).as("n_total")),
      writes = Seq(
        stage => Lsh.keyRows(snap.select(col("vec_id"), col("embedding"), col("doc_id")),
            nTables, nBits, seed, keep = Seq("doc_id"))
          .write.mode("overwrite").parquet(s"$stage/keys"),
        filterStatsWriter(snap)),
      archived = Seq("filterstats")))
  }

  // ---- flat filterstats (the ANALYZE artifact without an index) -----------

  /** BUILD/REFRESH a flat library's filterstats artifact — the
    * index-less member of the standing-artifact family: no lists, no
    * key table, just the per-(key, value) metadata frequency table +
    * the one-row receipt (index_seq, n_total), under the same
    * generation protocol as [[buildIndex]]/[[buildLshIndex]]
    * ([[publishGeneration]]). Behavior of a flat search never changes —
    * flat IS the exact pre-filtered scan — but [[filterDecision]]'s
    * receipt gets real counts and a truthful route for every
    * index_type, and the archived generation (filterstats + receipt)
    * keeps the historical receipt honest ([[pinnedFilterDecision]]).
    * One metadata unpivot of the folded snapshot per [[compact]] — or
    * LAZILY on the first filtered call ([[ensureFlatStats]]): a store
    * that never compacts still earns the artifact. */
  def buildFlatStats(libId: Long): Unit = labeled(s"build-flat-stats lib=$libId") {
    requireIndexType(libId, "flat")
    val snap = listChunks(libId).select(col("chunk_id").as("vec_id"), col("metadata"))
    // n_total count doubles as the emptiness probe (r18, the lsh twin)
    val nTotal = snap.count()
    publishGeneration(flatFam, libId, empty = nTotal == 0L)(Generation(
      metaCols = Seq(lit(nTotal).as("n_total")),
      writes = Seq(filterStatsWriter(snap)),
      archived = Seq("filterstats")))
  }

  /** Once-per-session lib ids whose flat filterstats build LANDED an
    * artifact — amortizes the lazy-ensure to a set probe on the hot
    * path. An EMPTY library's build is deliberately NOT recorded (r16
    * advisory): its build is a no-op, and marking it would pin the
    * non-artifact receipt for the life of the instance even after
    * chunks arrive without a compact — the retry costs one log-fold
    * `limit(1)` probe per filtered call only until the library gains
    * content, then lands the artifact and joins the set. */
  private val flatStatsEnsured = scala.collection.mutable.HashSet.empty[Long]

  /** LAZY flat-stats materialization (r15 verdict item 7): a flat
    * library built before the [[compact]]-time artifact existed — or one
    * that simply never compacts — gets its filterstats on the FIRST
    * filtered call instead of never. One unpivot of the snapshot, same
    * aside-swap; subsequent calls are a cached one-row meta probe. */
  private def ensureFlatStats(libId: Long): Unit =
    if (!flatStatsEnsured.contains(libId) &&
        libRecord(libId).getAs[String]("index_type") == "flat" &&
        flatFam.meta(libId).isEmpty) {
      buildFlatStats(libId)
      if (flatFam.meta(libId).nonEmpty) flatStatsEnsured += libId
    }

  /** Serve an lsh workload off the standing key table, BASE+DELTA: the
    * persisted key rows masked by post-index activity (the same
    * delta-sized anti-joins as [[persistedIvfHits]]), union the delta
    * chunks keyed on the fly — keys are per-vector, so base∪delta keys
    * ≡ keying the merged live snapshot, and results equal the in-memory
    * route BIT-FOR-BIT (spec-gated). Candidate ids join the (filtered)
    * live snapshot for the exact rerank, so metadata filters compose
    * exactly as in the in-memory route. */
  private def persistedLshHits(libId: Long, qs: DataFrame, emb: DataFrame, k: Int,
                               nTables: Int, nBits: Int, seed: Long,
                               idxSeq: Long): DataFrame = {
    val baseDead = !libLog.filter(col("op") === "delete" &&
      col("library_id") === libId && col("seq") > idxSeq).isEmpty
    val deltaLog = chunkLog.filter(col("seq") > idxSeq && col("library_id") === libId)
    val deltaKeys = deltaLog.filter(col("op").isin("upsert", "delete_chunk"))
      .select(col("chunk_id").as("vec_id")).distinct()
    val deltaDocTombs = deltaLog.filter(col("op") === "delete_doc")
      .select(col("doc_id")).distinct()
    val keysRead = spark.read.parquet(s"${lshFam.live(libId)}/keys")
    val baseKeyed =
      if (baseDead) keysRead.limit(0)
      else keysRead
        .join(deltaKeys, Seq("vec_id"), "left_anti")
        .join(deltaDocTombs, Seq("doc_id"), "left_anti")
    val deltaLive = fillDerived(foldChunkLog(deltaLog)).filter(col("library_id") === libId)
      .select(col("chunk_id").as("vec_id"), col("embedding"))
    val index = baseKeyed.select(col("vec_id"), col("table_id"), col("key"))
      .unionByName(Lsh.keyRows(deltaLive, nTables, nBits, seed))
    Lsh.searchIndex(index, emb, qs, nTables, nBits, seed, k)
  }

  /** The standing index's maintenance receipt — which branch the last
    * [[buildIndex]] took and the three decision inputs, plus the
    * sequence the index covers (the [[embedAudit]] pattern applied to
    * index maintenance). Empty when the library has no persisted index. */
  def indexAudit(libId: Long): DataFrame =
    ivfFam.meta(libId) match {
      case None => Seq.empty[(Long, Long, String, Long, Long, Long)]
        .toDF("library_id", "index_seq", "decision", "off_diag", "max_list", "n_total")
      case Some(m) => Seq((libId, m.getAs[Long]("index_seq"), m.getAs[String]("decision"),
        m.getAs[Long]("off_diag"), m.getAs[Long]("max_list"), m.getAs[Long]("n_total")))
        .toDF("library_id", "index_seq", "decision", "off_diag", "max_list", "n_total")
    }

  /** The lib ids holding a live index directory under `area`. */
  private def existingIndexLibs(area: String): Set[Long] = {
    val p = new Path(area)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName).collect {
      case n if n.startsWith("lib=") && !n.endsWith("_building") && !n.endsWith("_old") =>
        n.stripPrefix("lib=").toLong
    }.toSet
  }

  /** ARCHIVE RETENTION — the retention job the archive docs have always
    * assumed ("a retention job may delete old `gen=` dirs"), as a
    * governed facade method instead of an out-of-band `rm`: keep the
    * newest `keepGens` archived model generations per library and
    * family, delete older ones WHOLE (`gen=` directories — never a
    * single file inside one; the damaged-generation contract fails
    * loudly on partial deletes precisely so retention has one safe
    * shape). Pruning removes a PREFIX of each chain, so chain
    * validation composes exactly: between two KEPT generations no
    * ancestor appears or disappears (real generations are never
    * created by pruning), so pins covered by kept generations replay
    * bit-identically — while pins older than the oldest kept
    * generation lose their covering gen and serve the EXACT contract
    * ([[pinnedSearchAll]]'s fallback; [[pinnedFilterDecision]] reports
    * the no-artifact receipt). Reach narrows; correctness never
    * changes. At 100 TB the archives are metadata-sized (K+1-row
    * models, receipts, filterstats) — retention here is about bounding
    * generation COUNT over years of maintenance, and the work is a
    * directory listing + O(dropped) deletes, no corpus I/O. Returns
    * the receipt: one row per dropped generation. */
  def pruneArchives(keepGens: Int): DataFrame = {
    require(keepGens >= 0, s"keepGens must be >= 0, got $keepGens")
    val dropped: Seq[(Long, String, Long)] = families.flatMap { f =>
      existingIndexLibs(f.archiveArea).toSeq.sorted.flatMap { libId =>
        archivedGens(f.archive(libId)).sorted.dropRight(keepGens).map { g =>
          fs.delete(new Path(s"${f.archive(libId)}/gen=$g"), true)
          (libId, f.indexType, g)
        }
      }
    }
    // dropped gens' cached stats are stale by definition; cheap full clear
    archivedStatsCache.clear()
    invalidateIndexMeta()
    dropped.toDF("library_id", "family", "gen")
  }

  // ---- library bundles (export / import across stores) --------------------

  /** EXPORT a library's LIVE state as a self-contained parquet bundle —
    * the cross-store/cross-cluster hand-off the reference has no analog
    * for (its store is one process's memory): the folded chunk corpus
    * (full payload, DISTRIBUTED write — at 100 TB this is a parallel
    * parquet copy, no driver collect), the document entities, the
    * library record, and a one-row manifest (counts + dims +
    * `bundle_version`) the import validates against. Written under the
    * `*_building` + `_complete` + rename staging every artifact here
    * uses: a crashed export leaves an inert `_building` dir, never a
    * half-bundle at the destination name; an EXISTING destination is
    * refused (export copies, it never clobbers). Standing indexes are
    * DERIVED artifacts and deliberately not bundled — the record
    * carries `index_type`, and the importing store rebuilds via its own
    * `trainIndex`/`buildIndex`/`compact` lifecycle (bundling sealed
    * lists would pin the target to the source's generation layout).
    * Returns the receipt: (library_id, n_docs, n_chunks). */
  def exportLibrary(libId: Long, destDir: String): DataFrame = labeled(s"export-library lib=$libId") {
    val lib = libRecord(libId)
    require(!fs.exists(new Path(destDir)),
      s"export destination $destDir already exists — export never overwrites")
    val bld = s"${destDir}_building"
    fs.delete(new Path(bld), true)
    // three independent bundle members from the cached snapshots /
    // driver state → concurrent writes (§2.6, r18)
    parallelWrites(Seq(
      () => listChunks(libId)
        .select(col("doc_id"), col("chunk_id"), col("text"), col("embedding"),
          col("metadata"))
        .write.mode("overwrite").parquet(s"$bld/chunks"),
      () => listDocuments(libId).select(col("doc_id"), col("title"), col("metadata"))
        .write.mode("overwrite").parquet(s"$bld/docs"),
      () => Seq((libId, lib.getAs[String]("name"), lib.getAs[Int]("dims"),
          lib.getAs[String]("index_type"),
          Option(lib.getAs[Map[String, String]]("metadata")).getOrElse(Map.empty[String, String])))
        .toDF("library_id", "name", "dims", "index_type", "metadata")
        .coalesce(1).write.mode("overwrite").parquet(s"$bld/library")))
    // counts read back from the bundle's own files (not the source
    // snapshot): the manifest certifies what the bundle HOLDS, so a
    // write that lost rows is caught at export time, not import time
    val nChunks = spark.read.parquet(s"$bld/chunks").count()
    val nDocs = spark.read.parquet(s"$bld/docs").count()
    Seq((GraftDb.BundleV, nChunks, nDocs, lib.getAs[Int]("dims")))
      .toDF("bundle_version", "n_chunks", "n_docs", "dims")
      .coalesce(1).write.mode("overwrite").parquet(s"$bld/manifest")
    fs.create(new Path(s"$bld/_complete"), true).close()
    fs.rename(new Path(bld), new Path(destDir))
    Seq((libId, nDocs, nChunks)).toDF("library_id", "n_docs", "n_chunks")
  }

  /** IMPORT a bundle as a NEW library in THIS store. Validation first,
    * append after — a failed import writes NOTHING: the bundle must be
    * `_complete`, its `bundle_version` known ([[GraftDb.BundleV]] —
    * refuse-loudly, no degraded route for a hand-off artifact), the
    * target id free, the chunk count ≡ the manifest's, every embedding
    * exactly the declared dims (non-empty by implication — the
    * derived-marker can't be forged through a bundle), and chunk ids
    * DISTINCT — because the whole chunk batch lands under ONE sequence
    * number: an import is one atomic operation (`asOf(s-1)` sees none
    * of it, `asOf(s)` all of it), the chunk fold's max-seq rule only
    * needs per-chunk uniqueness within a seq, and the append stays a
    * DISTRIBUTED parquet write of the bundle (no driver-side
    * per-row log materialization — the corpus never visits the
    * driver). Document entities append as ordinary log rows
    * (entity-sized, not corpus-sized). Standing indexes rebuild here
    * ([[exportLibrary]]'s contract). Returns (library_id, n_docs,
    * n_chunks, seq). */
  def importLibrary(srcDir: String, newLibId: Long): DataFrame = labeled(s"import-library lib=$newLibId") {
    require(fs.exists(new Path(s"$srcDir/_complete")),
      s"$srcDir is not a complete bundle (missing _complete marker)")
    val man = spark.read.parquet(s"$srcDir/manifest").collect().head
    val bv = man.getAs[Int]("bundle_version")
    require(bv <= GraftDb.BundleV,
      s"bundle at $srcDir is format v$bv; this reader knows v${GraftDb.BundleV} — refusing")
    require(libRecordOpt(newLibId).isEmpty, s"library $newLibId already exists")
    val libRow = spark.read.parquet(s"$srcDir/library").collect().head
    val dims = libRow.getAs[Int]("dims")
    val chunks = spark.read.parquet(s"$srcDir/chunks")
    // the three admission checks (row count vs manifest, every embedding
    // exactly `dims`, chunk ids distinct) fused into ONE aggregation pass
    // (r17) — they scanned the bundle three times for one atomic decision;
    // the checks and their failure order are unchanged
    val v = chunks.agg(
      count(lit(1)).as("n"),
      count(when(size(col("embedding")) =!= dims, lit(1))).as("bad_dims"),
      countDistinct(col("chunk_id")).as("n_ids")).head()
    val nChunks = v.getAs[Long]("n")
    require(nChunks == man.getAs[Long]("n_chunks"),
      s"bundle damaged: $nChunks chunk rows vs manifest ${man.getAs[Long]("n_chunks")}")
    require(v.getAs[Long]("bad_dims") == 0L,
      s"bundle chunk embedding dims differ from the declared $dims")
    require(v.getAs[Long]("n_ids") == nChunks,
      "bundle chunk ids are not distinct — refusing the atomic single-seq append")
    createLibrary(newLibId, libRow.getAs[String]("name"), dims,
      libRow.getAs[String]("index_type"), libRow.getAs[Map[String, String]]("metadata"))
    val docs = spark.read.parquet(s"$srcDir/docs").collect()
    if (docs.nonEmpty) appendDocs(docs.toSeq.map(r =>
      DocOp(nextSeq(), "upsert", newLibId, r.getAs[Long]("doc_id"),
        Option(r.getAs[String]("title")),
        Some(Option(r.getAs[Map[String, String]]("metadata")).getOrElse(Map.empty)))))
    val s = nextSeq()
    chunks.select(lit(s).as("seq"), lit("upsert").as("op"),
      lit(newLibId).as("library_id"), col("doc_id"), col("chunk_id"),
      col("text"), col("embedding"), col("metadata"))
      .write.mode("append").parquet(chunkPath)
    invalidateSnapshots()
    Seq((newLibId, docs.length.toLong, nChunks, s))
      .toDF("library_id", "n_docs", "n_chunks", "seq")
  }

  /** Maintain every persisted index at a maintenance boundary: stale
    * directories (library gone, or index_type changed) drop; every
    * trained live ivf library rebuilds through [[buildIndex]]'s
    * monitor→decide→build loop; every live lsh library refreshes its
    * standing key table with the parameters it recorded (defaults on
    * first build). */
  private def refreshIndexes(): Unit = {
    val libs = listLibraries().select(col("library_id"), col("index_type"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    // the libraries each family keeps an artifact for: every live library
    // of its index_type — ivf only once trained
    val keep = families.map { f =>
      f -> libs.collect {
        case (id, t) if t == f.indexType && (f != ivfFam || trainedMat(id).isDefined) => id
      }.toSet
    }.toMap
    // stale live artifacts drop; archived generations follow their
    // library's lifecycle: a deleted or re-typed library keeps no
    // time-travel models
    families.foreach { f =>
      (existingIndexLibs(f.area) -- keep(f)).foreach(id => fs.delete(new Path(f.live(id)), true))
      (existingIndexLibs(f.archiveArea) -- keep(f))
        .foreach(id => fs.delete(new Path(f.archive(id)), true))
    }
    keep(ivfFam).foreach(buildIndex(_))
    keep(lshFam).foreach { id =>
      lshParams(id) match {
        case Some((t, b, s)) => buildLshIndex(id, t, b, s)
        case None => buildLshIndex(id)
      }
    }
    keep(flatFam).foreach(buildFlatStats)
    filterStatsCache.clear() // new index generations: cached decisions stale
    flatStatsEnsured.clear() // fresh artifacts: lazy-ensure may run again
    // a purge+rebuild can RE-CREATE a gen dir at the same path (same seq,
    // post-purge stats) — the immutability that keys this cache holds
    // only between maintenance boundaries
    archivedStatsCache.clear()
    invalidateIndexMeta()
  }

  /** Complete or discard generation-swap leftovers on open (the
    * [[repairScrubLeftovers]] discipline for every family's area): a
    * live index wins over any sibling; a `_complete`-marked building
    * dir finishes its swap; an incomplete one is discarded; an orphaned
    * aside is restored (an older valid index beats none). */
  private def repairIndexSwaps(): Unit = {
    invalidateIndexMeta()
    families.map(_.area).foreach { a =>
      val area = new Path(a)
      if (fs.exists(area)) {
        val names = fs.listStatus(area).toSeq.map(_.getPath.getName)
        val bases = names.map(_.stripSuffix("_building").stripSuffix("_old")).distinct
        bases.foreach { b =>
          val live = new Path(area, b)
          val bld = new Path(area, s"${b}_building")
          val aside = new Path(area, s"${b}_old")
          if (fs.exists(live)) {
            if (fs.exists(bld)) fs.delete(bld, true)
            if (fs.exists(aside)) fs.delete(aside, true)
          } else if (fs.exists(bld) && fs.exists(new Path(bld, "_complete"))) {
            fs.rename(bld, live)
            if (fs.exists(aside)) fs.delete(aside, true)
          } else {
            if (fs.exists(bld)) fs.delete(bld, true)
            if (fs.exists(aside)) fs.rename(aside, live)
          }
        }
      }
    }
    // archive areas: a `gen=N_building` stage left by a crash either
    // finishes its rename (complete, no live twin) or is discarded —
    // readers ([[archivedGens]]) never see `_building` entries either way
    families.map(_.archiveArea).foreach { a =>
      val area = new Path(a)
      if (fs.exists(area)) fs.listStatus(area).foreach { lib =>
        if (lib.isDirectory)
          fs.listStatus(lib.getPath).foreach { gd =>
            val n = gd.getPath.getName
            if (n.endsWith("_building")) {
              val live = new Path(lib.getPath, n.stripSuffix("_building"))
              if (!fs.exists(live) && fs.exists(new Path(gd.getPath, "_complete")))
                fs.rename(gd.getPath, live)
              else fs.delete(gd.getPath, true)
            }
          }
      }
    }
  }

  // ---- search (vector_db.py:249-270) --------------------------------------

  /** Serve a whole WORKLOAD of queries `(qid, qvec)` against one library
    * in a single plan, routed by its `index_type` — the v26–v39
    * external-workload convention applied to the facade: one Spark job
    * for Q queries, not Q jobs. `includeChunk` joins the hit payload
    * back with the hit set as the broadcast build side (never the
    * snapshot — the v15 rule); `metadataFilter` is applied BEFORE
    * scoring (the v16 discipline). An `ivf` library that was never
    * trained serves exact flat results — the reference's `_ensure_index`
    * builds on first use; here "untrained" degrades to
    * correct-but-unaccelerated, never to an error. A trained ivf library
    * WITH a persisted index ([[buildIndex]]) serves BASE+DELTA off the
    * standing artifact instead of re-assigning the snapshot per call —
    * and when `metadataEq` estimates HIGHLY SELECTIVE against the
    * index's filterstats artifact, the route switches to an exact scan
    * of the survivors instead of probing (v51's adaptive pre/post-filter
    * switch at the facade; [[filterDecision]] is the receipt);
    * `asOfSeq` pins the search to a historical snapshot ([[asOf]]) and
    * serves it EXACT by default — see [[pinnedSearchAll]]; `pinIndexed =
    * true` instead replays the APPROXIMATE ranking the ivf route served
    * at that seq, from the archived model generation. */
  def searchAll(libId: Long, queries: DataFrame, k: Int = 10,
                includeChunk: Boolean = false, nProbes: Int = 2,
                nTables: Int = 4, nBits: Int = 10, seed: Long = 1000L,
                metadataFilter: Option[Column] = None,
                metadataEq: Seq[(String, String)] = Seq.empty,
                asOfSeq: Option[Long] = None,
                thrDen: Long = 50L,
                pinIndexed: Boolean = false): DataFrame = labeled(s"search-all lib=$libId") {
    // arbitrary-Column and key=value metadata filters, applied uniformly
    // to any candidate slice carrying the (vec_id, embedding, doc_id,
    // text, metadata) shape — snapshot, persisted lists, delta, or a
    // pinned read
    def candFilters(df: DataFrame): DataFrame = {
      val eqd = metadataEq.foldLeft(df) { case (d, (kk, vv)) =>
        d.filter(element_at(col("metadata"), lit(kk)) === vv)
      }
      metadataFilter.fold(eqd)(eqd.filter)
    }
    asOfSeq match {
      case Some(s) =>
        return pinnedSearchAll(libId, queries, k, includeChunk, candFilters, s,
          nProbes, pinIndexed, metadataEq, thrDen)
      case None =>
    }
    val lib = libRecord(libId)
    val indexType = lib.getAs[String]("index_type")
    // `metadata` rides the candidate slice so the filters can reference
    // the chunk dict (reference: SearchQuery.metadata_filters,
    // models.py:48 → vector_db.py:249 filter-then-score). `metadataEq`
    // is the reference's dict shape — key=value equalities — and routes
    // through [[chunksEqFiltered]]'s base+delta pushdown; `metadataFilter`
    // accepts an arbitrary Column (e.g. col("metadata")("source") ===
    // "web") over the folded snapshot — correct for anything, unpushed.
    recordFilterWorkload(metadataEq.map(_._1))
    // a filtered call on a flat library earns the filterstats artifact
    // lazily — the decision it feeds is flat's trivially-true
    // prefilter_exact, but the RECEIPT must be artifact-sourced
    if (indexType == "flat" && metadataEq.nonEmpty) ensureFlatStats(libId)
    val base0 =
      if (metadataEq.isEmpty) listChunks(libId)
      else chunksEqFiltered(libId, metadataEq)
    val base = base0
      .select(col("chunk_id").as("vec_id"), col("embedding"), col("doc_id"),
        col("text"), col("metadata"))
    val snap = metadataFilter.fold(base)(base.filter)
    val emb = snap.select(col("vec_id"), col("embedding"))
    val qs = queries.select(col("qid"), col("qvec"))
    val hits = (indexType, trainedMat(libId)) match {
      case ("lsh", _)
          if lshParams(libId).contains((nTables, nBits, seed)) =>
        if (metadataEq.nonEmpty && selectiveEqFilter(libId, metadataEq, thrDen))
          // PRE-FILTER: for lsh this branch is not just cheaper — it is
          // BETTER-RECALL: a survivor sharing no bucket with the query
          // is invisible to the probe route, while the exact scan of a
          // tiny survivor set can never miss it (the quality cliff every
          // bucket index has under highly selective filters).
          Knn.topkPerQuery(Knn.scoreAll(emb, qs, "cosine"), "cosine", k)
        else persistedLshHits(libId, qs, emb, k, nTables, nBits, seed,
          lshFam.gen(libId).get)
      case ("lsh", _) =>
        // in-memory route: no standing key table (or the call's LSH
        // parameters differ from the recorded ones) — re-key per call
        Lsh.searchIndex(Lsh.keyRows(emb, nTables, nBits, seed), emb, qs,
          nTables, nBits, seed, k)
      case ("ivf", _) if ivfFam.meta(libId).isDefined =>
        if (metadataEq.nonEmpty && selectiveEqFilter(libId, metadataEq, thrDen))
          // PRE-FILTER: the estimated survivor set is so small that an
          // exact scan of it beats probing the index and filtering after
          // — v51's selectivity switch served at the facade, decided from
          // the filterstats artifact the index build wrote (never the
          // corpus). `emb` IS the filtered current snapshot (base+delta),
          // so the branch is exact over survivors and needs no staleness
          // reconciliation. The reference's filter-then-score
          // (vector_db.py:249) is this branch's single-node special case.
          Knn.topkPerQuery(Knn.scoreAll(emb, qs, "cosine"), "cosine", k)
        else persistedIvfHits(libId, qs, k, nProbes, candFilters)
      case ("ivf", Some(mat)) =>
        // in-memory route (no standing index yet): per-call assignment of
        // the filtered snapshot — correct, but the whole corpus pays the
        // assignment on every call; compact()/buildIndex() upgrades the
        // library to the persisted route above
        val probes = probeAssignments(qs, mat, nProbes)
        val assigned = Ivf.assignToMat(emb, mat).select(col("vec_id"), col("cluster_id"))
        val scored = assigned.join(broadcast(probes), Seq("cluster_id"))
          .select(col("qid"), col("vec_id"))
          .join(emb, Seq("vec_id"))
          .join(broadcast(qs), Seq("qid"))
          .withColumn("score", Graft.cosine(col("embedding"), col("qvec")))
          .select(col("qid"), col("vec_id"), col("score"))
        Knn.topkPerQuery(scored, "cosine", k)
      case _ => // flat, or ivf before training
        Knn.topkPerQuery(Knn.scoreAll(emb, qs, "cosine"), "cosine", k)
    }
    finishHits(snap, hits, includeChunk)
  }

  /** The shared result tail: bare hits, or the payload join with the
    * hit set (≤ Q·k rows) as the broadcast build side streaming over
    * the snapshot — the snapshot is the SF-proportional relation and
    * must never be a broadcast; inner ≡ left because every hit id
    * comes from the snapshot itself (the v15 rule). */
  private def finishHits(snap: DataFrame, hits: DataFrame,
                         includeChunk: Boolean): DataFrame =
    if (!includeChunk)
      hits.select(col("qid"), col("rank"), col("vec_id").as("chunk_id"), col("score"))
    else
      snap.select(col("vec_id"), col("doc_id"), col("text"), col("metadata"))
        .join(broadcast(hits), Seq("vec_id"))
        .select(col("qid"), col("rank"), col("vec_id").as("chunk_id"), col("score"),
          col("doc_id"), col("text"), col("metadata"))
        .orderBy("qid", "rank")

  /** Driver-side cache of a standing artifact's decision inputs, keyed
    * (libId, index_seq): the receipt's build population plus the
    * frequencies of every (key, value) pair REQUESTED so far —
    * request-bounded state, populated lazily by targeted reads of only
    * the missing pairs. A repeat filtered call (the hot path the r14
    * advisory flagged: two driver parquet reads + collects per call)
    * costs zero reads; a rebuilt index carries a NEW index_seq, so a
    * stale hit is impossible, and [[refreshIndexes]] clears the map so
    * retired generations don't accumulate. */
  private val filterStatsCache = scala.collection.mutable.HashMap
    .empty[(Long, Long), (Option[Long], scala.collection.mutable.HashMap[(String, String), Long])]

  /** The (artifact root, index generation, build population) triple the
    * adaptive filter decision reads for this library's index family —
    * None for a library without a standing artifact (no index built
    * yet, or one predating filterstats/n_total — the format_version-1
    * era, sniffed by column presence: legacy-safe, keeps the probe
    * route). Covers all three index_types: ivf and lsh write the
    * artifact beside their index; flat writes it alone
    * ([[buildFlatStats]]). */
  private def filterStatsSource(libId: Long): Option[(String, Long, Option[Long])] =
    familyOf(libRecord(libId).getAs[String]("index_type")).flatMap { f =>
      f.meta(libId).map(m => (f.live(libId), m.getAs[Long]("index_seq"), nTotalOf(m)))
    }

  /** The requested pairs' frequencies + build population, through the
    * cache: one targeted artifact read for pairs not yet seen this
    * generation (≤ one row per MISSING pair — request-bounded), zero
    * reads on a repeat workload. None when the library has no
    * filterstats artifact. A pair absent from the artifact counts 0
    * (maximally selective — a filter matching nothing is the cheapest
    * possible exact scan). */
  private def cachedFilterCounts(libId: Long,
                                 eq: Seq[(String, String)]): Option[(Seq[Long], Option[Long])] =
    filterStatsSource(libId).flatMap { case (rootDir, idxSeq, nt) =>
      val p = s"$rootDir/filterstats"
      if (!fs.exists(new Path(p))) None
      else {
        val (cachedN, counts) = filterStatsCache.getOrElseUpdate((libId, idxSeq),
          (nt, scala.collection.mutable.HashMap.empty[(String, String), Long]))
        val missing = eq.distinct.filterNot(counts.contains)
        if (missing.nonEmpty)
          readFilterPairs(p, missing).foreach { case (pair, c) => counts(pair) = c }
        Some((eq.map(counts), cachedN))
      }
    }

  /** Targeted filterstats lookup, shared by the live cache fill and the
    * archived replay: the requested pairs' counts from one artifact —
    * ≤ one row per pair read back (request-bounded), an absent pair
    * counting 0 (maximally selective). */
  private def readFilterPairs(p: String,
                              eq: Seq[(String, String)]): Map[(String, String), Long] = {
    val found = spark.read.parquet(p)
      .filter(eq.distinct.map { case (kk, vv) =>
        col("mkey") === kk && col("mval") === vv }.reduce(_ || _))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    eq.distinct.map(pair => pair -> found.getOrElse(pair, 0L)).toMap
  }

  /** v51's selectivity RULE — pre-filter iff the estimated survivor
    * fraction Π(cᵢ/n) ≤ 1/thrDen, compared as the EXACT
    * arbitrary-precision cross-multiplication thrDen·Πcᵢ ≤ nᵐ (BigInt —
    * no float boundary or 2⁶³ wrap can flip the branch; the registry
    * operator's discipline verbatim). ONE definition for every decision
    * site (live serve, receipt, archived pin replay) so the routes can
    * never drift apart. */
  private def selectiveByCounts(cs: Seq[Long], n: Long, m: Int,
                                thrDen: Long): Boolean =
    BigInt(thrDen) * cs.map(BigInt(_)).product <= BigInt(n).pow(m)

  /** [[selectiveByCounts]] over the library's LIVE filterstats artifact.
    * n is the index meta receipt's build population — same generation as
    * the counts, so the estimate is internally consistent; both branches
    * are correct either way, the decision only picks the cheaper (and
    * for lsh, better-recall) plan. `thrDen` is the workload knob
    * [[searchAll]] exposes (default 50 = the 2% switch point). */
  private def selectiveEqFilter(libId: Long, eq: Seq[(String, String)],
                                thrDen: Long = 50L): Boolean =
    cachedFilterCounts(libId, eq).exists { case (cs, nt) =>
      nt.exists(n => selectiveByCounts(cs, n, eq.size, thrDen))
    }

  /** The adaptive filtered-search route decision, exposed as a receipt
    * (the [[indexAudit]]/[[embedAudit]] pattern applied to query
    * routing): one row per requested (key, value) pair with its
    * artifact count, the build population, and the route a
    * `searchAll(metadataEq = …, thrDen = …)` call with exactly these
    * pairs and knobs takes:
    *   - `prefilter_exact` — scan the survivors, skip the index (every
    *     flat call is this by construction: flat serving filters before
    *     the exact scan regardless of selectivity, so the route is
    *     truthful for flat even without an artifact);
    *   - `postfilter_probe` — probe the standing structure, drop
    *     non-matching candidates;
    *   - `inmemory_rekey` — lsh only: the call's (nTables, nBits, seed)
    *     don't match the standing key table's recorded parameters (or
    *     no key table exists), so [[searchAll]] bypasses the adaptive
    *     switch entirely and re-keys the filtered snapshot per call —
    *     the receipt takes the SAME params arguments searchAll does, so
    *     receipt and serve can never disagree (the r14 advisory's
    *     route-mismatch).
    * A non-flat library without a filterstats artifact reports
    * `postfilter_probe` with cnt −1: no artifact, no decision — the
    * serve stays on the probe route. A FLAT library without one builds
    * it lazily right here ([[ensureFlatStats]]), so the receipt is
    * artifact-sourced from the first call even on a store that never
    * compacts. One cached read at most ([[cachedFilterCounts]]);
    * repeat receipts are pure driver state.
    *
    * `asOfSeq` (r17) replays the HISTORICAL receipt instead: the route
    * a `searchAll(asOfSeq = s, pinIndexed = true)` call with these
    * pairs takes, decided from the ARCHIVED covering generation's
    * filterstats — see [[pinnedFilterDecision]]. */
  def filterDecision(libId: Long, metadataEq: Seq[(String, String)],
                     nTables: Int = 4, nBits: Int = 10, seed: Long = 1000L,
                     thrDen: Long = 50L,
                     asOfSeq: Option[Long] = None): DataFrame = {
    require(metadataEq.nonEmpty, "filterDecision needs at least one key=value pair")
    asOfSeq match {
      case Some(s) => return pinnedFilterDecision(libId, metadataEq, s, thrDen)
      case None =>
    }
    val indexType = libRecord(libId).getAs[String]("index_type")
    if (indexType == "flat") ensureFlatStats(libId)
    val cc = cachedFilterCounts(libId, metadataEq)
    val n = cc.flatMap(_._2).getOrElse(0L)
    val selective = cc.exists { case (cs, nt) =>
      nt.exists(x => selectiveByCounts(cs, x, metadataEq.size, thrDen))
    }
    val route = indexType match {
      case "flat" => "prefilter_exact"
      case "lsh" if !lshParams(libId).contains((nTables, nBits, seed)) => "inmemory_rekey"
      case _ => if (selective) "prefilter_exact" else "postfilter_probe"
    }
    metadataEq.zip(cc.map(_._1).getOrElse(metadataEq.map(_ => -1L)))
      .map { case ((kk, vv), c) => (kk, vv, c, n, route) }
      .toDF("mkey", "mval", "cnt", "n_total", "route")
  }

  /** The PINNED-replay twin of [[filterDecision]] — the receipt for the
    * route [[pinnedSearchAll]] with `pinIndexed = true` takes at seq
    * `s`, decided from the ARCHIVED covering generation's filterstats.
    * All THREE families archive their decision inputs now (ivf/lsh
    * beside their model since r16; flat alone since r17 —
    * [[buildFlatStats]]): before the flat archive, a flat pin's receipt
    * read the LIVE artifact, so a post-pin rebuild silently changed the
    * historical counts. Dispatch mirrors the pinned serve exactly:
    *   - validated covering generation, readable receipt → counts from
    *     its filterstats; route by [[selectiveByCounts]] on those
    *     counts (flat: always `prefilter_exact` — flat serving IS the
    *     exact pre-filtered scan);
    *   - covering receipt read as ABSENT (future format_version), no
    *     validated covering generation (chain gap, pre-index pin,
    *     retention-trimmed archive), or a live-deleted/re-typed library
    *     → the exact contract: route `prefilter_exact` with cnt −1 and
    *     n_total 0 — NEVER a live count smuggled into a historical
    *     receipt (exact serving filters then scans, so the label is
    *     the truthful plan shape);
    *   - legacy covering gen without filterstats (r15-era archive) →
    *     `postfilter_probe` with cnt −1, matching the serve's
    *     keep-the-probe-route behavior. */
  private def pinnedFilterDecision(libId: Long, eq: Seq[(String, String)],
                                   s: Long, thrDen: Long): DataFrame = {
    def receipt(counts: Option[(Seq[Long], Long)], route: String): DataFrame =
      eq.zip(counts.map(_._1).getOrElse(eq.map(_ => -1L)))
        .map { case ((kk, vv), c) => (kk, vv, c, counts.map(_._2).getOrElse(0L), route) }
        .toDF("mkey", "mval", "cnt", "n_total", "route")
    def archived(arcRoot: String, liveGen: Option[Long],
                 routeOf: Option[(Seq[Long], Long)] => String): DataFrame =
      coveringArchivedGen(arcRoot, s, liveGen) match {
        case Some(g) =>
          val genDir = s"$arcRoot/gen=$g"
          if (readMetaCached(s"$genDir/meta").isEmpty)
            receipt(None, "prefilter_exact") // unreadable receipt: serve is exact
          else {
            val cc = archivedFilterCounts(genDir, eq)
            receipt(cc, routeOf(cc))
          }
        case None => receipt(None, "prefilter_exact")
      }
    def adaptive(cc: Option[(Seq[Long], Long)]): String =
      if (cc.exists { case (cs, n) => selectiveByCounts(cs, n, eq.size, thrDen) })
        "prefilter_exact"
      else "postfilter_probe"
    libRecordOpt(libId).flatMap(l => familyOf(l.getAs[String]("index_type"))) match {
      case Some(f) =>
        archived(f.archive(libId), f.gen(libId),
          if (f == flatFam) _ => "prefilter_exact" else adaptive)
      case None => receipt(None, "prefilter_exact") // deleted live: pin serves exact
    }
  }

  /** Serve an ivf workload off the STANDING persisted index, BASE+DELTA
    * (the reference's standing-structure-queried-repeatedly contract,
    * ivf.py:91-123, at the API the user actually calls):
    *   - PROBE: top-`nProbes` centroids per query against the index's
    *     OWN centroid matrix (same rule as the in-memory route —
    *     candidate-identical by construction); the collected Q×nProbes
    *     pairs become a static IN that prunes list DIRECTORIES at
    *     file-listing time (`PartitionFilters`, spec-asserted).
    *   - BASE: the pruned list scan, masked by post-index activity
    *     through delta-sized anti-joins (a re-written or deleted chunk,
    *     a tombstoned document) — and dropped wholesale if the library
    *     itself was tombstoned after the build (one bounded driver
    *     probe of the entity-sized library log). Metadata filters apply
    *     ON the pruned scan: the lists carry the full chunk payload.
    *   - DELTA: chunks appended after `index_seq`, folded under the
    *     ordinary rule (maintenance-window-bounded, never the corpus),
    *     assigned with the SAME matrix and restricted to the same
    *     probed clusters — so base+delta ≡ the in-memory route over the
    *     merged snapshot BIT-FOR-BIT (spec-gated), and fresh upserts
    *     are visible to the very next search with no rebuild.
    * At 100 TB this is the difference between reading a few probed
    * directories plus a tail of recent appends, and re-assigning every
    * vector in the corpus on every query. */
  private def persistedIvfHits(libId: Long, qs: DataFrame, k: Int, nProbes: Int,
                               candFilters: DataFrame => DataFrame): DataFrame = {
    val idxSeq = ivfFam.gen(libId).get
    val idxMat = indexCentroids(libId)
    val probePairs = probeAssignments(qs, idxMat, nProbes).collect()
      .map(r => (r.getLong(0), r.getLong(1))) // Q×nProbes: workload-bounded
    val probedClusters = probePairs.map(_._2).distinct.sorted.toIndexedSeq
    val probeDf = spark.createDataFrame(probePairs.toSeq).toDF("qid", "cluster_id")
    // post-index library tombstone ⇒ the whole base is dead (the index
    // predates the tombstone); entity-log-sized driver probe
    val baseDead = !libLog.filter(col("op") === "delete" &&
      col("library_id") === libId && col("seq") > idxSeq).isEmpty
    val deltaLog = chunkLog.filter(col("seq") > idxSeq && col("library_id") === libId)
    val deltaKeys = deltaLog.filter(col("op").isin("upsert", "delete_chunk"))
      .select(col("chunk_id").as("vec_id")).distinct()
    val deltaDocTombs = deltaLog.filter(col("op") === "delete_doc")
      .select(col("doc_id")).distinct()
    val lists = spark.read.parquet(s"${ivfFam.live(libId)}/lists")
      .filter(col("cluster_id").isin(probedClusters: _*)) // partition pruning
    val baseMasked =
      if (baseDead) lists.limit(0)
      else lists
        // delta-sized by the maintenance-window contract, corpus-keyed by
        // shape — unhinted, AQE picks the build side (the documents()
        // tombstone-join rationale)
        .join(deltaKeys, Seq("vec_id"), "left_anti")
        .join(deltaDocTombs, Seq("doc_id"), "left_anti")
    val baseScored = candFilters(baseMasked)
      .join(broadcast(probeDf), Seq("cluster_id"))
      .join(broadcast(qs), Seq("qid"))
      .withColumn("score", Graft.cosine(col("embedding"), col("qvec")))
      .select(col("qid"), col("vec_id"), col("score"))
    val deltaLive = candFilters(
      fillDerived(foldChunkLog(deltaLog)).filter(col("library_id") === libId)
        .select(col("chunk_id").as("vec_id"), col("embedding"), col("doc_id"),
          col("text"), col("metadata")))
    val deltaScored = Ivf.assignToMat(
        deltaLive.select(col("vec_id"), col("embedding")), idxMat)
      .filter(col("cluster_id").isin(probedClusters: _*))
      .join(broadcast(probeDf), Seq("cluster_id"))
      .join(broadcast(qs), Seq("qid"))
      .withColumn("score", Graft.cosine(col("embedding"), col("qvec")))
      .select(col("qid"), col("vec_id"), col("score"))
    Knn.topkPerQuery(baseScored.unionByName(deltaScored), "cosine", k)
  }

  /** Per-generation archived filterstats counts, keyed by gen dir —
    * archived generations are IMMUTABLE after [[writeArchivedGen]]'s
    * rename, so entries never need revalidation; request-bounded lazy
    * fill like [[filterStatsCache]] (the audit/debug replay loop this
    * feature serves repeats the same pins — it must not pay a driver
    * parquet read per call, the same r14 advisory the live path
    * already fixed). */
  private val archivedStatsCache = scala.collection.mutable.HashMap
    .empty[String, scala.collection.mutable.HashMap[(String, String), Long]]

  /** The requested pairs' counts + build population from an ARCHIVED
    * generation's filterstats, through the immutable-gen cache — None
    * for a legacy gen without filterstats/n_total (r15-era archive).
    * Shared by the pinned route decision ([[archivedSelectiveEq]]) and
    * its receipt ([[pinnedFilterDecision]]) so they can never disagree
    * on the inputs. */
  private def archivedFilterCounts(genDir: String,
                                   eq: Seq[(String, String)]): Option[(Seq[Long], Long)] = {
    val p = s"$genDir/filterstats"
    val nt = readMetaCached(s"$genDir/meta").headOption.flatMap(nTotalOf)
    if (nt.isEmpty || !fs.exists(new Path(p))) None
    else {
      val counts = archivedStatsCache.getOrElseUpdate(genDir,
        scala.collection.mutable.HashMap.empty[(String, String), Long])
      val missing = eq.distinct.filterNot(counts.contains)
      if (missing.nonEmpty)
        readFilterPairs(p, missing).foreach { case (pair, c) => counts(pair) = c }
      Some((eq.map(counts), nt.get))
    }
  }

  /** Replay v51's selectivity decision from an ARCHIVED generation's
    * filterstats + receipt — the route the LIVE route took at the pin
    * was decided from that generation's artifact, so the pinned replay
    * must re-run the SAME rule ([[selectiveByCounts]] — one definition)
    * on the SAME counts or a historically-selective filter that served
    * the exact pre-filter branch would be replayed through the probe
    * route (worse recall than history — the one direction a
    * reproducibility contract can't tolerate). False for a legacy gen
    * without filterstats/n_total (r15-era archive: decision not
    * reconstructable — keep the probe route, the r15 behavior). */
  private def archivedSelectiveEq(genDir: String, eq: Seq[(String, String)],
                                  thrDen: Long): Boolean =
    eq.nonEmpty && archivedFilterCounts(genDir, eq).exists { case (cs, n) =>
      selectiveByCounts(cs, n, eq.size, thrDen)
    }

  /** TIME-TRAVEL SEARCH: the workload served over the [[asOf]]-pinned
    * snapshot — what makes the COW generations operationally useful:
    * reproducing yesterday's retrieval results (audit/debug of
    * training-data selection) instead of only yesterday's rows. The
    * pinned corpus is the prefix-replay-equivalent fold; serving is
    * EXACT by default regardless of the library's index_type: exact
    * search is the strongest reproducibility contract — results a pure
    * function of the pinned corpus (spec: ≡ searching the
    * prefix-replayed corpus, before and after later compactions).
    *
    * `pinIndexed = true` (r15; lsh r16) replays the APPROXIMATE route
    * instead, from the ARCHIVED model generation standing at the pin —
    * BOTH standing-index families: [[buildIndex]] archives each ivf
    * generation's centroids + receipt (K+1 rows); [[buildLshIndex]]
    * archives each lsh generation's (nTables, nBits, seed) receipt
    * alone (keys are a pure per-vector function of corpus + params).
    * The live route at seq s served sealed-base-plus-delta under the
    * generation's model, and base+delta ≡ applying that model to the
    * whole pinned corpus (the v56 identity) — so the archived model +
    * the pinned fold reproduce the historical ranking exactly, WITHOUT
    * archiving any corpus-sized lists or key tables. No VALIDATED
    * covering generation (pre-index history, a retention-trimmed
    * archive, a chain gap from a crashed archive write, or a flat
    * library) falls back to the exact contract.
    * The library must have existed at the pin. */
  private def pinnedSearchAll(libId: Long, queries: DataFrame, k: Int,
                              includeChunk: Boolean,
                              candFilters: DataFrame => DataFrame,
                              s: Long, nProbes: Int = 2,
                              pinIndexed: Boolean = false,
                              metadataEq: Seq[(String, String)] = Seq.empty,
                              thrDen: Long = 50L): DataFrame = {
    val (chunkSrc, libSrc) = pinnedLogSlices(s)
    val libSlice = libSrc.filter(col("seq") <= s)
    val libsAt = foldLibLog(libSlice)
    require(!libsAt.filter(col("library_id") === libId).isEmpty,
      s"no such library $libId as of seq $s")
    val base = fillDerived(
      foldChunkLogWith(chunkSrc.filter(col("seq") <= s), libSlice, libsAt))
      .filter(col("library_id") === libId)
      .select(col("chunk_id").as("vec_id"), col("embedding"), col("doc_id"),
        col("text"), col("metadata"))
    val snap = candFilters(base)
    val emb = snap.select(col("vec_id"), col("embedding"))
    val qs = queries.select(col("qid"), col("qvec"))
    def exact() = Knn.topkPerQuery(Knn.scoreAll(emb, qs, "cosine"), "cosine", k)
    // the approximate replay dispatches on the live index_type (archives
    // follow the live library's lifecycle — [[refreshIndexes]] drops a
    // re-typed library's models; a library DELETED live has no archives
    // to replay and degrades to exact, never errors — the pin's own
    // existence check above is against the PINNED epoch). The covering
    // generation is validated against the archive chain
    // ([[coveringArchivedGen]]); a covering receipt read as ABSENT
    // (future format_version) and a historically-selective metadataEq
    // (the live route's exact pre-filter branch at the pin,
    // [[archivedSelectiveEq]]) both serve exact — no validated covering
    // generation falls back to the exact contract. A PHYSICALLY corrupt
    // receipt fails loudly (the damaged-generation contract), never a
    // silent wrong answer.
    val hits =
      if (!pinIndexed) exact()
      else libRecordOpt(libId).map(_.getAs[String]("index_type")) match {
        case Some("ivf") =>
          coveringArchivedGen(ivfFam.archive(libId), s, ivfFam.gen(libId)) match {
            case Some(g) =>
              val genDir = s"${ivfFam.archive(libId)}/gen=$g"
              if (readMetaCached(s"$genDir/meta").isEmpty ||
                  archivedSelectiveEq(genDir, metadataEq, thrDen)) exact()
              else {
                val mat = spark.read.parquet(s"$genDir/centroids")
                  .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
                  .sortBy(_._1)
                val probes = probeAssignments(qs, mat, nProbes)
                val scored = Ivf.assignToMat(emb, mat).select(col("vec_id"), col("cluster_id"))
                  .join(broadcast(probes), Seq("cluster_id"))
                  .select(col("qid"), col("vec_id"))
                  .join(emb, Seq("vec_id"))
                  .join(broadcast(qs), Seq("qid"))
                  .withColumn("score", Graft.cosine(col("embedding"), col("qvec")))
                  .select(col("qid"), col("vec_id"), col("score"))
                Knn.topkPerQuery(scored, "cosine", k)
              }
            case None => exact()
          }
        case Some("lsh") =>
          // replay with the ARCHIVED receipt's params (never the call's):
          // the ranking being reproduced is the one the standing key
          // table served, and that table was keyed with the receipt
          coveringArchivedGen(lshFam.archive(libId), s, lshFam.gen(libId)) match {
            case Some(g) =>
              val genDir = s"${lshFam.archive(libId)}/gen=$g"
              readMetaCached(s"$genDir/meta").headOption match {
                case Some(m) if !archivedSelectiveEq(genDir, metadataEq, thrDen) =>
                  val (t, b, sd) = (m.getAs[Int]("n_tables"), m.getAs[Int]("n_bits"),
                    m.getAs[Long]("seed"))
                  Lsh.searchIndex(Lsh.keyRows(emb, t, b, sd), emb, qs, t, b, sd, k)
                case _ => exact()
              }
            case None => exact()
          }
        case _ => exact()
      }
    finishHits(snap, hits, includeChunk)
  }

  /** Single-query kNN (the reference's `search`): [[searchAll]] with a
    * one-row workload. Validates the query against the library's
    * declared dims (reference: vector_db.py:258 raises ValueError). */
  def search(libId: Long, query: Array[Float], k: Int = 10,
             includeChunk: Boolean = false, nProbes: Int = 2,
             nTables: Int = 4, nBits: Int = 10, seed: Long = 1000L,
             metadataFilter: Option[Column] = None,
             metadataEq: Seq[(String, String)] = Seq.empty): DataFrame = {
    val dims = libRecord(libId).getAs[Int]("dims")
    require(query.length == dims,
      s"query has ${query.length} dims, library $libId declares $dims")
    searchAll(libId, Seq((0L, query)).toDF("qid", "qvec"), k, includeChunk,
      nProbes, nTables, nBits, seed, metadataFilter, metadataEq)
      .drop("qid")
      .orderBy("rank")
  }

  /** Text-query search (the reference's `/search_text` route,
    * app/api/routes/operations.py: embed the query text, then kNN):
    * the stub embedder stands in for the Cohere call (v13/v20's
    * documented deterministic stand-in — swapping a real embedder is one
    * expression), then the same per-index dispatch as [[search]].
    * Requires the library's dims to match the stub's output dim. */
  def searchText(libId: Long, text: String, k: Int = 10,
                 includeChunk: Boolean = false): DataFrame = {
    val dims = libRecord(libId).getAs[Int]("dims")
    require(dims == graft.operators.SearchText.Dim,
      s"searchText serves ${graft.operators.SearchText.Dim}-dim libraries; library $libId has $dims")
    val qdf = spark.range(1).select(lit(0L).as("qid"),
      graft.operators.SearchText.stubEmbed(lit(text))
        .cast("array<float>").as("qvec"))
    searchAll(libId, qdf, k, includeChunk).drop("qid").orderBy("rank")
  }

  /** The `/embed` route as a facade method (app/api/routes/embed.py
    * embed_texts): texts in, vectors out, with the route's request
    * validation — an empty list and an over-limit batch are errors with
    * the same boundaries (EMBED_MAX_TEXTS defaults to 128). The provider
    * call is the documented deterministic stub (the searchText/v20
    * embedder); swapping a real model in changes one expression. Runs as
    * ONE map-only plan over the batch, not a per-text loop. */
  def embedTexts(texts: Seq[String], maxTexts: Int = 128): DataFrame = {
    require(texts.nonEmpty, "texts list cannot be empty")
    require(texts.length <= maxTexts,
      s"too many texts: ${texts.length} > $maxTexts")
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("text_idx", "text")
      .select(col("text_idx"),
        graft.operators.SearchText.stubEmbed(col("text"))
          .cast("array<float>").as("embedding"))
      .orderBy("text_idx")
  }

  // ---- stats (operations.py:53 stats surface) -----------------------------

  /** Per-library stats with INDEX metadata alongside the counts — the
    * reference's stats endpoint reports the library record and index
    * state (type, declared dims, trained or not), not counts alone
    * (app/api/routes/operations.py:53). `trained` reflects whether a
    * [[trainIndex]] artifact exists for the library — the serving-path
    * dispatch bit ([[searchAll]]'s untrained-ivf degradation). */
  def stats(libId: Long): DataFrame = {
    val lib = libRecord(libId)
    listChunks(libId).agg(
      countDistinct(col("doc_id")).as("n_docs"),
      count(lit(1)).as("n_chunks"),
      sum(length(col("text"))).as("n_chars"))
      .select(
        lit(libId).as("library_id"),
        lit(lib.getAs[String]("name")).as("name"),
        lit(lib.getAs[Int]("dims")).as("dims"),
        lit(lib.getAs[String]("index_type")).as("index_type"),
        lit(trainedMat(libId).isDefined).as("trained"),
        col("n_docs"), col("n_chunks"), coalesce(col("n_chars"), lit(0L)).as("n_chars"))
  }
}
