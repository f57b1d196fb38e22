package graft

import org.apache.spark.sql.functions._

/** Dedup, text, events, CRUD, multimodal operator invariants. */
class PipelineSpec extends GraftSuite {
  import spark.implicits._

  test("d3 minhash-LSH finds the planted near-dup pairs (jaccard ≥ 0.5)") {
    val rows = run("d3_dedup_minhash_lsh").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Double]("jaccard") >= 0.5))
  }

  test("d4 text simhash pairs respect the hamming bound") {
    assert(run("d4_dedup_simhash_text").filter($"hamming" > 6).count() === 0)
  }

  test("d6 exact ngram jaccard ⊇ d3's candidates within its id range") {
    val d6 = run("d6_ngram_jaccard").filter($"jaccard" >= 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val d3 = run("d3_dedup_minhash_lsh")
      .filter($"doc_a" < 100 && $"doc_b" < 100)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(d3.subsetOf(d6), s"minhash found pairs exact missed: ${d3 -- d6}")
  }

  test("t4 fingerprint is order-aware (permuted text hashes differently)") {
    val fp = Seq("a b c", "c b a").toDF("text")
      .withColumn("doc_id", monotonically_increasing_id())
    // reuse the same expression the operator builds, via SQL on a temp view
    fp.createOrReplaceTempView("fp_docs")
    val vals = spark.sql(
      """SELECT aggregate(
        |  transform(split(text, ' '),
        |    (t, i) -> (CAST(conv(substr(md5(t), 1, 15), 16, 10) AS BIGINT) % 2147483647L)
        |              * ((1103515245L * (CAST(i AS BIGINT) + 1L) + 12345L) % 2147483647L) % 2147483647L),
        |  0L, (acc, x) -> acc + x) % 2147483647L AS f FROM fp_docs""".stripMargin)
      .as[Long].collect()
    assert(vals(0) !== vals(1))
  }

  test("e2 sessionization: session_idx starts at 1 and is monotone per user") {
    val rows = run("e2_sessionize").collect()
    assert(rows.map(_.getAs[Long]("session_idx")).min === 1L)
  }

  test("c1 upsert keeps exactly one row per (user, event_type)") {
    val dups = run("c1_upsert_latest_wins")
      .groupBy("user_id", "event_type").count().filter($"count" > 1).count()
    assert(dups === 0)
  }

  test("c3 point lookup pushes the IN filter to the parquet scan") {
    val plan = run("c3_point_lookup").queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(doc_id"), s"no pushed filter in:\n$plan")
  }

  test("m1 binary pipeline: byte counts match n_chars for ASCII payloads") {
    val bad = run("m1_binary_meta").as("m")
      .join(spark.read.parquet(s"$sf/documents.parquet").as("d"), $"m.doc_id" === $"d.doc_id")
      .filter($"m.n_bytes" =!= $"d.n_chars")
    // texts are ASCII → utf-8 byte count == char count
    assert(bad.count() === 0)
  }

  test("m2 frame sampling yields nFrames typed rows per doc, deterministic") {
    val frames = run("m2_frame_sample")
    val perDoc = frames.groupBy("doc_id").count()
    assert(perDoc.filter($"count" =!= 4).count() === 0) // every doc ≥16 bytes → 4 frames
    val again = run("m2_frame_sample").collect().toSeq
    assert(frames.collect().toSeq === again)
  }

  test("m1 fake_feature is deterministic across runs") {
    val a = run("m1_binary_meta").select("doc_id", "fake_feature").collect().toSeq
    val b = run("m1_binary_meta").select("doc_id", "fake_feature").collect().toSeq
    assert(a === b)
  }

  test("f3 chunk key: packs losslessly below the radix, raises loudly at it") {
    import org.apache.spark.sql.functions.col
    val ok = Seq((7L, 0L), (7L, operators.Pipeline.ChunkRadix - 1), (8L, 0L))
      .toDF("doc_id", "chunk_idx")
      .select(col("doc_id"), col("chunk_idx"),
        operators.Pipeline.chunkKey(col("doc_id"), col("chunk_idx")).as("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // lossless round-trip, and doc 7's max chunk stays BELOW doc 8's first
    ok.foreach { case (d, c, k) =>
      assert(k >> operators.Pipeline.ChunkBits === d)
      assert((k & (operators.Pipeline.ChunkRadix - 1)) === c)
    }
    assert(ok(1)._3 < ok(2)._3, "adjacent documents' key ranges overlap")
    // at the radix: loud failure, never silent aliasing
    val e = intercept[Exception] {
      Seq((7L, operators.Pipeline.ChunkRadix)).toDF("doc_id", "chunk_idx")
        .select(operators.Pipeline.chunkKey(col("doc_id"), col("chunk_idx")))
        .collect()
    }
    assert(e.getMessage != null)
  }

  test("f4: the kept set holds best copies only and is leakage-free by construction") {
    import spark.implicits._
    val keptIds = operators.Pipeline.releaseKept(spark, sf, 0.5)
      .select("doc_id").as[Long].collect().toSet
    // kept = unclustered ∪ exactly one (best-quality) member per cluster
    val labels = operators.Dedup.dupClusters(spark, sf)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect()
    val quality = operators.Text.qualityFrame(
      graft.sources.Tables.documents(spark, sf))
      .select("doc_id", "quality").as[(Long, Double)].collect().toMap
    val clustered = labels.map(_._1).toSet
    labels.groupBy(_._2).foreach { case (cid, members) =>
      val keptMembers = members.map(_._1).filter(keptIds)
      val bestQ = members.map(m => quality(m._1)).max
      val expect = members.map(_._1).filter(d => quality(d) == bestQ).min
      assert(keptMembers.toSeq === Seq(expect), s"cluster $cid kept $keptMembers")
    }
    assert((quality.keySet -- clustered).subsetOf(keptIds), "an unclustered doc was dropped")
    // leakage-free: every near-dup pair lost at least one endpoint, so no
    // pair — cross-split or otherwise — survives into the release
    val pairs = operators.Dedup.minhashLsh(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    pairs.foreach { case (a, b) =>
      assert(!(keptIds(a) && keptIds(b)), s"near-dup pair ($a,$b) fully survived dedup")
    }
    // and the released stats cover exactly the kept set
    val total = run("f4_release_pipeline").agg(sum("n_docs")).as[Long].head()
    assert(total === keptIds.size.toLong)
  }

  test("f8: incremental label-edge contraction == from-scratch union-find; evictions occur") {
    val out = run("f8_release_delta").collect()
    out.foreach { r =>
      assert(r.getLong(1) === r.getLong(2) + r.getLong(3), "n_docs != n_base + n_delta")
      assert(r.getLong(4) <= r.getLong(2) && r.getLong(5) <= r.getLong(1))
    }
    assert(out.map(_.getLong(6)).sum > 0,
      "no evictions anywhere — the incremental merge path is vacuous")
    // from-scratch truth: union-find over the FULL pair set, min-id reps
    val pairs = graft.operators.Dedup.minhashLsh(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val clustered = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "source").collect().map(r => (r.getLong(0), r.getString(1)))
    val wantKeptAfter = docs.filter { case (id, _) => !clustered(id) || find(id) == id }
      .groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val gotKeptAfter = out.map(r => r.getString(0) -> r.getLong(5)).toMap
    assert(gotKeptAfter === gotKeptAfter.keySet.map(s =>
      s -> wantKeptAfter.getOrElse(s, 0L)).toMap,
      "incremental clustering diverges from the from-scratch union-find")
  }

  test("m3 media search: binary→vector→LSH composes; self-hit at rank 1; deterministic") {
    val hits = run("m3_media_search").collect().toSeq
    assert(hits.nonEmpty)
    // every query's rank-1 hit is itself with cosine 1.0 (its own vector
    // shares every bucket and maxes the rerank)
    val rank1 = hits.filter(_.getLong(1) == 1L)
    rank1.foreach { r =>
      assert(r.getLong(0) === r.getLong(2), s"query ${r.getLong(0)} rank-1 is not itself")
      assert(math.abs(r.getDouble(3) - 1.0) < 1e-9)
    }
    assert(rank1.nonEmpty)
    // hit ids stay inside the corpus id space
    val docIds = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(hits.map(_.getLong(2)).toSet.subsetOf(docIds))
    // deterministic end to end (stub decode + vectorize + index + search)
    assert(run("m3_media_search").collect().toSeq === hits)
  }

  test("m5 cross-modal search: text→media retrieval is total, in-corpus, deterministic, non-self") {
    val hits = run("m5_cross_modal").collect().toSeq
    assert(hits.nonEmpty)
    // every query returns a full k list (the media corpus is dense)
    val byQ = hits.groupBy(_.getLong(0))
    assert(byQ.size === 4 && byQ.values.forall(_.length === 5))
    // hit ids stay inside the corpus id space
    val docIds = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(hits.map(_.getLong(2)).toSet.subsetOf(docIds))
    // the two encoders are genuinely different spaces: rank-1 must NOT be
    // the trivial self-hit for every query (a text doc's media twin hashes
    // differently), or the cross-modal claim is vacuous
    val selfAtRank1 = hits.filter(_.getLong(1) == 1L).count(r => r.getLong(0) == r.getLong(2))
    assert(selfAtRank1 < 4, "every rank-1 is the self doc — the two encoders collapsed")
    // deterministic end to end
    assert(run("m5_cross_modal").collect().toSeq === hits)
  }

  test("f6: datasheet totals reconcile with the corpus and its component queries") {
    val out = run("f6_datasheet").collect()
    val docs = graft.sources.Tables.documents(spark, sf)
    assert(out.map(_.getAs[Long]("n_docs")).sum === docs.count())
    val outliers = run("t21_length_outliers").count()
    assert(out.map(_.getAs[Long]("n_len_outliers")).sum === outliers)
    out.foreach { r =>
      assert(r.getAs[Long]("n_dup_docs") >= 0L &&
        r.getAs[Long]("n_dup_docs") < r.getAs[Long]("n_docs"))
      val mq = r.getAs[Long]("mean_quality_q4")
      assert(mq > 0L && mq <= 10000L, s"source ${r.getString(0)} mean quality $mq")
    }
  }

  test("f7: shard manifests reconcile with the corpus; checksums are read-order independent") {
    val out = run("f7_shard_manifest").collect()
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text", "n_chars").collect()
    assert(out.map(_.getAs[Long]("n_docs")).sum === docs.length.toLong,
      "shard doc counts do not reconcile with the corpus")
    assert(out.map(_.getAs[Long]("n_chars")).sum === docs.map(_.getLong(2)).sum)
    assert(out.length > 1 && out.forall(_.getAs[Long]("n_docs") > 0),
      "hash sharding left an empty shard on this corpus")
    // checksum recompute: XOR of h60(text) per shard from the SOURCE rows
    // (any iteration order) must equal the manifest read from shard files
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    val wantSum = docs.groupBy(r => h60(s"shard:${r.getLong(0)}") % 8)
      .map { case (shard, rs) => shard -> rs.map(r => h60(r.getString(1))).reduce(_ ^ _) }
    out.foreach { r =>
      assert(r.getAs[Long]("checksum") === wantSum(r.getAs[Long]("shard")),
        s"shard ${r.getAs[Long]("shard")} checksum mismatch")
    }
  }

  test("c11: SCD2 lookup resolves exactly one dimension version per covered fact") {
    val out = run("c11_scd2_lookup").collect()
    assert(out.nonEmpty)
    // intervals partition time: a purchase can never match two versions
    val ids = out.map(_.getAs[Long]("purchase_id"))
    assert(ids.length === ids.distinct.length, "a purchase matched multiple versions")
    // coverage: every purchase at-or-after its user's first view resolves
    val e = graft.sources.Tables.events(spark, sf)
      .selectExpr("event_id", "user_id", "event_type", "ts div 1000000 AS ms").collect()
    val firstView = e.filter(_.getString(2) == "view").groupBy(_.getLong(1))
      .map { case (u, rs) => u -> rs.map(_.getLong(3)).min }
    val expected = e.filter(_.getString(2) == "purchase")
      .filter(r => firstView.get(r.getLong(1)).exists(_ <= r.getLong(3)))
      .map(_.getLong(0)).toSet
    assert(ids.toSet === expected)
  }

  test("e9: bucketed range join plans as an equi-join — no nested-loop, no cartesian") {
    val df = graft.operators.Events.rangeJoin(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join fell back to an all-pairs plan:\n${plan.take(1200)}")
    // overlap factor: len/stride = 4/3 → some events hit 2 windows; the
    // total match count must exceed the event count (true range join, not
    // a partition of the stream into disjoint buckets)
    val events = graft.sources.Tables.events(spark, sf).count()
    val matches = df.agg(sum("n_events")).collect()(0).getLong(0)
    assert(matches > events, s"windows should overlap: $matches matches vs $events events")
  }

  test("f5: containment screen drops exactly d15 ∩ f4-kept; accounting balances") {
    val out = run("f5_curated_release").collect()
    out.foreach { r =>
      assert(r.getAs[Long]("n_final") ===
        r.getAs[Long]("n_near_kept") - r.getAs[Long]("n_contained_dropped"),
        s"lang ${r.getString(0)} accounting")
    }
    val keptIds = graft.operators.Pipeline.releaseKept(spark, sf, 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val d15Dropped = run("d15_keep_longest")
      .select("dropped").collect().map(_.getLong(0)).toSet
    val expectDropped = (keptIds & d15Dropped).size.toLong
    assert(out.map(_.getAs[Long]("n_contained_dropped")).sum === expectDropped)
    assert(out.map(_.getAs[Long]("n_near_kept")).sum === keptIds.size.toLong)
    assert(expectDropped > 0, "containment stage is vacuous on this corpus")
  }

  test("f9: mix targets sum to 10000 bp; both up- and down-sampling occur; achieved tracks target") {
    val out = run("f9_epoch_mix").collect()
    assert(out.map(_.getAs[Long]("target_bp")).sum === 10000L, "weights must be a partition of the budget")
    assert(out.map(_.getAs[Long]("achieved_bp")).sum <= 10000L) // floor division per source
    val up = out.filter(r => r.getAs[Long]("rate_q4") > 10000L)
    val down = out.filter(r => r.getAs[Long]("rate_q4") < 10000L)
    assert(up.nonEmpty && down.nonEmpty, "mix must exercise both directions on this corpus")
    // upsampled sources emit MORE doc-instances than they hold, downsampled fewer
    assert(up.forall(r => r.getAs[Long]("n_emitted_docs") >= r.getAs[Long]("n_docs")),
      "an upsampled source emitted fewer instances than it holds")
    assert(down.forall(r => r.getAs[Long]("n_emitted_docs") <= r.getAs[Long]("n_docs")),
      "a downsampled source emitted more instances than it holds")
    // the realized share tracks the target up to per-DOCUMENT Bernoulli
    // noise (emission is whole documents — the fractional epoch is a coin
    // per doc, so a source wobbles by O(√n_docs) documents' worth of
    // basis points). The EXACT values are the oracle hash gate's job;
    // this bound only catches gross breakage — a rate or hash off by 2×
    // overshoots half the target, dwarfing the noise term at any SF
    val totalToks = out.map(_.getAs[Long]("n_tokens")).sum
    val maxDocTok = graft.sources.Tables.documents(spark, sf)
      .select(max(size(split(col("text"), " ")).cast("long"))).collect()(0).getLong(0)
    val docBp = maxDocTok * 10000L / totalToks + 1L
    out.foreach { r =>
      val (t, a) = (r.getAs[Long]("target_bp"), r.getAs[Long]("achieved_bp"))
      val noise = math.round(3.0 * math.sqrt(r.getAs[Long]("n_docs").toDouble)) * docBp
      assert(math.abs(a - t) <= t / 2 + noise,
        s"source ${r.getString(0)}: achieved $a bp vs target $t bp (noise bound $noise)")
    }
  }

  test("e14: retention matrix — offset 0 is 100% by construction, rows never exceed cohort") {
    val out = run("e14_retention_cohorts").collect()
    val cohorts = out.map(_.getAs[Long]("cohort_day")).distinct
    assert(cohorts.length > 1, "single cohort — matrix degenerate on this corpus")
    out.filter(_.getAs[Long]("day_offset") === 0L).foreach { r =>
      assert(r.getAs[Long]("retention_q4") === 10000L,
        "a user's first purchase day is itself an active day")
    }
    out.foreach { r =>
      assert(r.getAs[Long]("n_active") <= r.getAs[Long]("n_cohort"))
      assert(r.getAs[Long]("day_offset") >= 0L)
    }
  }

  test("e15: DAU<=WAU<=MAU; DAU matches a direct per-day distinct; WAU == 7-day union") {
    val out = run("e15_active_users").collect()
    assert(out.length > 1, "need multiple days for a rolling metric")
    out.foreach { r =>
      assert(r.getAs[Long]("dau") <= r.getAs[Long]("wau"))
      assert(r.getAs[Long]("wau") <= r.getAs[Long]("mau"))
    }
    // driver recompute from raw events
    val pairs = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), expr("(ts div 1000000) div 86400000").as("day"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val byDay = pairs.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    out.foreach { r =>
      val d = r.getAs[Long]("day")
      assert(r.getAs[Long]("dau") === byDay(d).size.toLong, s"dau mismatch on day $d")
      val wauUsers = (0L to 6L).flatMap(off => byDay.getOrElse(d - off, Set.empty)).toSet
      assert(r.getAs[Long]("wau") === wauUsers.size.toLong, s"wau mismatch on day $d")
    }
  }

  test("t27: entropy is zero for a constant doc, maximal-bounded, and matches a driver recompute") {
    val out = run("t27_doc_entropy").collect()
    assert(out.nonEmpty)
    // H <= ln(n_types): uniform is maximal (1 ulp of q4 slack for the
    // per-term quantization)
    out.foreach { r =>
      val bound = math.floor(math.log(r.getAs[Long]("n_types").toDouble) * 1e4 + 0.5) + 1
      assert(r.getAs[Long]("entropy_q4") <= bound.toLong,
        s"doc ${r.getAs[Long]("doc_id")} entropy exceeds ln(n_types)")
      assert(r.getAs[Long]("entropy_q4") >= 0L)
    }
    // driver recompute on the 5 smallest doc ids (quantization replayed)
    val texts = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").orderBy("doc_id").limit(5).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    texts.foreach { case (id, text) =>
      val tf = text.split(" ", -1).groupBy(identity).view.mapValues(_.length.toLong).toMap
      val n = tf.values.sum.toDouble
      val sumQ6 = tf.values.map { c =>
        val p = c.toDouble / n
        math.floor(-p * math.log(p) * 1e6 + 0.5).toLong
      }.sum
      val want = math.floor(sumQ6.toDouble / 100.0 + 0.5).toLong
      val got = out.find(_.getAs[Long]("doc_id") == id).get
      assert(got.getAs[Long]("entropy_q4") === want, s"doc $id entropy mismatch")
      assert(got.getAs[Long]("n_types") === tf.size.toLong)
    }
  }

  test("f10: phases partition the corpus; token shares sum to 10000-ish; quality bands ordered") {
    val out = run("f10_curriculum").collect().sortBy(_.getAs[Long]("phase"))
    assert(out.length === 4, "expected 4 curriculum phases")
    val nDocs = graft.sources.Tables.documents(spark, sf).count()
    assert(out.map(_.getAs[Long]("n_docs")).sum === nDocs, "phases do not partition the corpus")
    // integer floor-division shares under-count by < 1 ulp each
    val shares = out.map(_.getAs[Long]("token_share_q4")).sum
    assert(shares > 10000L - 4 && shares <= 10000L, s"token shares sum to $shares")
    // phase quality bands are disjoint and ascending
    out.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("max_q4") <= b.getAs[Long]("min_q4"),
        "phase quality bands overlap or are unordered")
    }
    out.foreach(r => assert(r.getAs[Long]("n_docs") > 0L, "empty phase"))
  }

  test("p14: compaction preserves content exactly and actually merges the files") {
    val out = run("p14_compact_files").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out("fragmented") === out("compacted"),
      "compaction changed the table contents")
    // physical layout: many files became few
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    def nParts(t: String): Int = {
      val files = new java.io.File(s"$wh/$t").listFiles()
      assert(files != null, s"warehouse table $wh/$t not found on local disk")
      files.count(f => f.getName.startsWith("part-"))
    }
    assert(nParts("graft_frag_corpus") >= 32,
      s"fragmented table is not fragmented: ${nParts("graft_frag_corpus")} files")
    assert(nParts("graft_compacted_corpus") <= 4,
      s"compacted table still fragmented: ${nParts("graft_compacted_corpus")} files")
  }

  test("e16: growth accounting satisfies the DAU identities and all classes occur") {
    val out = run("e16_growth_accounting").collect()
      .map(r => r.getAs[Long]("day") ->
        (r.getAs[Long]("n_new"), r.getAs[Long]("n_retained"),
          r.getAs[Long]("n_resurrected"), r.getAs[Long]("n_churned"))).toMap
    assert(out.size > 1)
    // driver DAU recompute from raw events
    val pairs = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), expr("(ts div 1000000) div 86400000").as("day"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val dau = pairs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val minDay = out.keys.min
    out.foreach { case (d, (nw, ret, res, ch)) =>
      assert(nw + ret + res === dau.getOrElse(d, 0L),
        s"day $d: classes do not sum to DAU")
      if (d > minDay)
        assert(ch === dau.getOrElse(d - 1, 0L) - ret,
          s"day $d: churn != dau(d-1) - retained(d)")
    }
    // first observed day is all-new
    assert(out(minDay)._1 === dau(minDay) && out(minDay)._2 === 0L && out(minDay)._3 === 0L)
    // non-vacuous: every lifecycle class occurs somewhere
    assert(out.values.exists(_._1 > 0) && out.values.exists(_._2 > 0) &&
      out.values.exists(_._3 > 0) && out.values.exists(_._4 > 0),
      "a lifecycle class never occurs — the gate would be vacuous")
  }

  test("v46: knn classification matches a driver recompute and is non-degenerate") {
    val out = run("v46_knn_classify").collect()
      .map(r => r.getAs[Long]("qid") ->
        (r.getAs[Long]("pred_label"), r.getAs[Long]("n_votes"), r.getAs[Long]("top_rank"))).toMap
    assert(out.size === 16)
    out.values.foreach { case (_, votes, topRank) =>
      assert(votes >= 1L && votes <= 10L); assert(topRank >= 1L && topRank <= 10L)
    }
    // full driver recompute (exact, including tie-breaks)
    val all = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"), col("label").cast("long")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray, r.getLong(2)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var (d, na, nb, i) = (0.0, 0.0, 0.0, 0)
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    all.filter(_._1 < 16).foreach { case (qid, qv, _) =>
      val top = all.filter(_._1 != qid)
        .map { case (id, v, lab) => (id, cos(qv, v), lab) }
        .sortBy { case (id, s, _) => (-s, id) }.take(10).zipWithIndex
      val votes = top.groupBy(_._1._3).view
        .mapValues(g => (g.size.toLong, g.map(_._2 + 1).min.toLong)).toMap
      val (lab, (n, tr)) = votes.toSeq.sortBy { case (l, (n, _)) => (-n, l) }.head
      assert(out(qid) === ((lab, n, tr)), s"qid $qid classification mismatch")
    }
    assert(out.values.map(_._1).toSet.size > 1, "all queries predicted one label — degenerate")
  }

  test("t28: bigram NLL matches a full driver model recompute on sampled docs") {
    val out = run("t28_bigram_lm").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Long]("nll_q4"))).toMap
    val texts = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1))
    // corpus model, exactly as the operator builds it
    val toks = texts.map { case (id, t) => id -> t.split(" ", -1) }
    val c1 = toks.flatMap(_._2).groupBy(identity).view.mapValues(_.length.toLong).toMap
    val total = c1.values.sum.toDouble
    val c2 = toks.flatMap { case (_, w) => w.sliding(2).filter(_.length == 2).map(a => (a(0), a(1))) }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    toks.take(5).foreach { case (id, w) =>
      val bgs = w.sliding(2).filter(_.length == 2).map(a => (a(0), a(1))).toSeq
      if (bgs.nonEmpty) {
        val sumQ6 = bgs.map { case (w1, w2) =>
          val p = 0.7 * (c2((w1, w2)).toDouble / c1(w1).toDouble) +
            0.3 * (c1(w2).toDouble / total)
          math.floor(math.log(p) * 1e6 + 0.5).toLong
        }.sum
        val want = math.floor(-sumQ6.toDouble / bgs.length.toDouble / 100.0 + 0.5).toLong
        assert(out(id) === ((bgs.length.toLong, want)), s"doc $id bigram NLL mismatch")
      } else assert(!out.contains(id), s"doc $id has no bigrams but appears in output")
    }
    assert(out.nonEmpty && out.values.forall(_._2 > 0L))
  }

  test("d25: cross-source matrix is canonical and partitions the d3 pair set") {
    val out = run("d25_cross_source_dup").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[String]("source_x") <= r.getAs[String]("source_y"), "cell not canonical")
      val mj = r.getAs[Long]("mean_jaccard_q4")
      assert(mj >= 5000L && mj <= 10000L, s"mean jaccard $mj outside [tau, 1]")
    }
    val nPairs = run("d3_dedup_minhash_lsh").count()
    assert(out.map(_.getAs[Long]("n_pairs")).sum === nPairs,
      "matrix cells do not partition the candidate pair set")
    assert(out.length > 1, "single cell — cross-source structure degenerate")
  }

  test("p15: stats rows cover every column with consistent counts") {
    val out = run("p15_table_stats").collect()
      .map(r => r.getAs[String]("cname") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("n_nulls"), r.getAs[Long]("n_distinct"),
          r.getAs[Long]("min_q4"), r.getAs[Long]("max_q4"))).toMap
    assert(out.keySet === Set("l_orderkey", "l_quantity", "l_extendedprice", "l_discount", "l_tax"))
    val n = graft.sources.Tables.lineitem(spark, sf).count()
    out.foreach { case (c, (rows, nulls, ndv, mn, mx)) =>
      assert(rows === n, s"$c row count")
      assert(nulls === 0L, s"$c nulls")
      assert(ndv >= 1L && ndv <= rows, s"$c ndv")
      assert(mn <= mx, s"$c min>max")
    }
    val ok = graft.sources.Tables.lineitem(spark, sf)
      .select(countDistinct(col("l_orderkey"))).head.getLong(0)
    assert(out("l_orderkey")._3 === ok, "l_orderkey NDV mismatch")
  }

  test("q26: RANGE frame bounds by calendar distance; driver window recompute") {
    val out = run("q26_range_frame").collect()
    assert(out.length === 20)
    // value-distance frame: never more than 7 day-rows, and some window
    // genuinely spans multiple active days (non-vacuous frame)
    assert(out.forall(_.getAs[Long]("n_active_days") <= 7L))
    assert(out.exists(_.getAs[Long]("n_active_days") > 1L))
    // output ordered by trailing spend descending
    val spends = out.map(_.getAs[Long]("trail7_cents")).toSeq
    assert(spends === spends.sortBy(-_))
    // full driver recompute of the winning customer's window
    val top = out.head
    val ck = top.getAs[Long]("custkey")
    val day = top.getAs[Long]("day")
    val daily = graft.sources.Tables.orders(spark, sf)
      .filter(col("o_custkey") === ck)
      .select(expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000").as("day"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      .groupBy("day").agg(sum("cents").as("c"))
      .collect().map(r => r.getAs[Long]("day") -> r.getAs[Long]("c")).toMap
    val expect = daily.filter { case (d, _) => d >= day - 6 && d <= day }.values.sum
    assert(top.getAs[Long]("trail7_cents") === expect,
      s"trailing window for custkey=$ck day=$day diverges from driver recompute")
    val expectDays = daily.keys.count(d => d >= day - 6 && d <= day).toLong
    assert(top.getAs[Long]("n_active_days") === expectDays)
  }

  test("p16: incremental stats merge ≡ from-scratch ANALYZE; generations partition and overlap") {
    val merged = graft.operators.Persist.statsMerge(spark, sf).collect()
    val scratch = graft.operators.Persist.tableStats(spark, sf).collect()
    assert(merged.map(_.toSeq).toSeq === scratch.map(_.toSeq).toSeq,
      "merged artifact stats must equal the full-rescan profile bit-for-bit")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    // scalar artifacts partition the unpivoted table exactly
    val s0 = spark.read.parquet(s"$wh/graft_stats_scalar_g0")
    val s1 = spark.read.parquet(s"$wh/graft_stats_scalar_g1")
    val totalRows = s0.unionByName(s1).agg(sum("n_rows")).head.getLong(0)
    val nLi = graft.sources.Tables.lineitem(spark, sf).count()
    assert(totalRows === 5L * nLi, "generation scalar stats must partition the 5-column unpivot")
    // the union-distinct NDV merge is not a concat: domains genuinely overlap
    val d0 = spark.read.parquet(s"$wh/graft_stats_domain_g0")
    val d1 = spark.read.parquet(s"$wh/graft_stats_domain_g1")
    assert(d0.join(d1, Seq("cname", "vq4")).count() > 0,
      "generation domains must share values or the merge proves nothing")
  }

  test("p16 is truly incremental: a repeat call reuses standing gen-0 and merges artifacts only") {
    // first call establishes the standing history (generation 0 scalar+domain)
    graft.operators.Persist.statsMerge(spark, sf).collect()
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    def fileStamps(p: String): Map[String, Long] = {
      val d = new java.io.File(p.stripPrefix("file:"))
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val g0Before = Seq("graft_stats_scalar_g0", "graft_stats_domain_g0")
      .map(t => t -> fileStamps(s"$wh/$t")).toMap
    val g1Before = Seq("graft_stats_scalar_g1", "graft_stats_domain_g1")
      .map(t => t -> fileStamps(s"$wh/$t")).toMap
    assert(g0Before.values.forall(_.nonEmpty) && g1Before.values.forall(_.nonEmpty))
    Thread.sleep(1100) // mtime granularity
    // the repeat call = ONE new-generation scan + an artifacts-only merge:
    // generation 0's files are byte-identical (untouched on disk),
    // generation 1's are rewritten
    val out = graft.operators.Persist.statsMerge(spark, sf)
    assert(out.collect().nonEmpty)
    g0Before.foreach { case (t, stamps) =>
      assert(fileStamps(s"$wh/$t") === stamps,
        s"repeat call re-profiled the standing generation artifact $t")
    }
    g1Before.foreach { case (t, stamps) =>
      assert(fileStamps(s"$wh/$t") !== stamps,
        s"repeat call did not land the new generation artifact $t")
    }
    // the merge subtree's only file scans are the artifacts — the 100 TB
    // contract in the EXECUTED plan, not prose
    val merge = graft.operators.Persist.mergeProfileArtifacts(spark)
    merge.collect()
    val plan = merge.queryExecution.executedPlan.toString
    assert(plan.contains("graft_stats_scalar_g") && plan.contains("graft_stats_domain_g"),
      s"merge does not scan the generation artifacts:\n${plan.take(600)}")
    assert(!plan.contains("lineitem"),
      s"merge subtree scans the corpus:\n${plan.take(600)}")
    // the gen-0 provenance probe verdict is cached per (path, mtime) —
    // a further repeat call costs ZERO driver-side parquet probe reads
    // (counter-gated, the lazy-keep pattern): the probe is pure driver
    // state once the standing artifacts' signatures are known
    val probesBefore = graft.operators.Persist.g0ProbeReads.get()
    graft.operators.Persist.statsMerge(spark, sf).collect()
    assert(graft.operators.Persist.g0ProbeReads.get() === probesBefore,
      "repeat statsMerge re-read the gen-0 artifacts for the provenance probe")
  }

  test("t33 quarantine artifact: corrupt lines persist with shard provenance; report count ≡ artifact rows") {
    // the ingest's data-quality receipt must be REPLAYABLE, not just a
    // number: the raw quarantined lines land on disk so a 100 TB ingest
    // can triage/reprocess them without re-reading the corpus (the f7
    // manifest-audit recipe applied to ingest)
    val report = run("t33_jsonl_ingest").collect()
    val reported = report.find(_.getString(0) == "_corrupt").get.getLong(1)
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val q = spark.read.parquet(s"$wh/graft_jsonl_quarantine")
    assert(q.count() === reported,
      "quarantine artifact rows diverge from the report's corrupt count")
    val rows = q.collect()
    assert(rows.forall(_.getAs[String]("src_shard").nonEmpty),
      "quarantined line lost its shard provenance")
    // the fourth line is TYPE-malformed (valid JSON, string doc_id): it
    // must land in quarantine with the syntax-broken three — the r16
    // consistency fix (one landed parse) makes that a stable fact
    // instead of a per-query parse-pruning accident
    assert(rows.map(_.getAs[String]("raw_line")).sorted.toSeq ===
      Seq("{\"doc_id\": \"not-a-number\", \"lang\": \"en\", \"text\": \"hi\"}",
        "{\"doc_id\": oops", "{\"lang\": \"en\"", "{not json at all"),
      "quarantine does not hold exactly the planted corrupt lines")
  }

  test("t29: BPE pair counts match a full driver recompute over the vocabulary") {
    val out = run("t29_bpe_pairs").collect()
      .map(r => (r.getAs[String]("pair"), r.getAs[Long]("n")))
    assert(out.length === 20)
    // driver recompute: vocab freqs, then adjacent char-pair counts
    val vocab = graft.sources.Tables.documents(spark, sf)
      .select(col("text")).as[String].collect()
      .flatMap(_.split(" ")).filter(_.length >= 2)
      .groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }
    val counts = scala.collection.mutable.Map.empty[String, Long]
    vocab.foreach { case (w, f) =>
      (0 until w.length - 1).foreach { i =>
        val p = w.substring(i, i + 2)
        counts(p) = counts.getOrElse(p, 0L) + f
      }
    }
    val expect = counts.toSeq.sortBy { case (p, c) => (-c, p) }.take(20)
    assert(out.toSeq === expect, "top-20 merge candidates diverge from driver recompute")
  }

  test("e17: gap quantiles are ordered, and n_gaps = events - users exactly") {
    val r = run("e17_gap_quantiles").head()
    val ev = graft.sources.Tables.events(spark, sf)
    val nEvents = ev.count()
    val nUsers = ev.select("user_id").distinct().count()
    assert(r.getAs[Long]("n_gaps") === nEvents - nUsers,
      "every event except each user's first contributes exactly one gap")
    val (p50, p90, p99) = (r.getAs[Long]("p50_q4"), r.getAs[Long]("p90_q4"),
      r.getAs[Long]("p99_q4"))
    assert(p50 <= p90 && p90 <= p99, "quantiles must be monotone")
    assert(p99 <= r.getAs[Long]("max_s") * 10000L, "p99 bounded by the max gap")
    assert(p50 > 0L, "degenerate zero median — corpus gaps all sub-second?")
  }

  test("p17: manifest diff localizes the edits; physical layouts match the manifests") {
    val out = run("p17_manifest_diff").collect()
    val byStatus = out.groupBy(_.getAs[String]("status")).view.mapValues(_.length).toMap
    assert(byStatus === Map("same" -> 13, "added" -> 1, "removed" -> 1, "changed" -> 1),
      s"diff must localize to the three edited shards, got $byStatus")
    // the change is text-only: same row count, different checksum
    val ch = out.find(_.getAs[String]("status") == "changed").get
    assert(ch.getAs[Long]("n_g1") === ch.getAs[Long]("n_g2"))
    assert(ch.getAs[Long]("chk_g1") !== ch.getAs[Long]("chk_g2"))
    // physical fact the oracle can't see: the generation dirs hold exactly
    // the manifest's shard partitions
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    def shardDirs(t: String): Set[Long] =
      new java.io.File(s"$wh/$t").listFiles().toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("shard="))
        .map(_.getName.stripPrefix("shard=").toLong).toSet
    assert(shardDirs("graft_gen1_corpus") ===
      out.filter(_.getAs[Long]("n_g1") > 0L).map(_.getAs[Long]("shard")).toSet)
    assert(shardDirs("graft_gen2_corpus") ===
      out.filter(_.getAs[Long]("n_g2") > 0L).map(_.getAs[Long]("shard")).toSet)
  }

  test("f11: source card reconciles with the corpus; median matches a driver recompute") {
    val out = run("f11_source_card").collect()
    val docs = graft.sources.Tables.documents(spark, sf)
    assert(out.map(_.getAs[Long]("n_docs")).sum === docs.count(),
      "card rows must partition the corpus by source")
    out.foreach { r =>
      val (mn, mx, p50) = (r.getAs[Long]("min_q4"), r.getAs[Long]("max_q4"),
        r.getAs[Double]("p50_q4"))
      assert(mn.toDouble <= p50 && p50 <= mx.toDouble,
        s"median outside [min,max] for ${r.getAs[String]("source")}")
      assert(r.getAs[Long]("n_langs") >= 1L)
    }
    // exact driver recompute of the first source's median
    val src = out.head.getAs[String]("source")
    val q4s = graft.operators.Text.qualityFrame(docs.filter(col("source") === src))
      .select(expr("cast(floor(quality * 10000 + 0.5) as bigint)")).as[Long]
      .collect().sorted.map(_.toDouble)
    val h = (q4s.length - 1).toDouble * 0.5
    val (lo, hi) = (math.floor(h).toInt, math.ceil(h).toInt)
    val med = if (lo == hi) q4s(lo) else q4s(lo) * (1.0 - (h - lo)) + q4s(hi) * (h - lo)
    assert(out.head.getAs[Double]("p50_q4") === math.floor(med * 10000d + 0.5d) / 10000d,
      s"median diverges from driver recompute for $src")
  }

  test("e18: anomaly screen partitions the log; flags agree with the z threshold") {
    val out = run("e18_anomaly_days").collect()
    val nEvents = graft.sources.Tables.events(spark, sf).count()
    assert(out.map(_.getAs[Long]("n")).sum === nEvents,
      "day counts must partition the event log")
    out.foreach { r =>
      val (z, fl) = (r.getAs[Long]("z_q4"), r.getAs[Boolean]("flagged"))
      if (fl) assert(z >= 30000L, s"flagged day ${r.getAs[Long]("day")} below 3 MAD-sigmas")
      else assert(z <= 30001L, s"unflagged day ${r.getAs[Long]("day")} far above threshold")
    }
    assert(out.count(_.getAs[Boolean]("flagged")) < out.length / 2,
      "robust screen flagged most days — median/MAD broken")
    assert(out.exists(_.getAs[Long]("z_q4") <= 10000L),
      "no day near the median — z computation suspect")
  }

  test("t30: vocabulary growth reconciles with direct prefix-distinct counts") {
    val out = run("t30_vocab_growth").collect()
    assert(out.length === 10)
    val docs = graft.sources.Tables.documents(spark, sf)
    assert(out.map(_.getAs[Long]("n_docs")).sum === docs.count(),
      "decile doc counts must partition the corpus")
    // cumulative vocab at decile k == a DIRECT distinct count over the prefix
    val span = docs.agg(max(col("doc_id"))).head.getLong(0) + 1L
    Seq(0, 4, 9).foreach { k =>
      // prefix = docs whose decile <= k, i.e. doc_id * 10 div span <= k
      val direct = docs.filter(expr(s"least(doc_id * 10 div $span, 9) <= $k"))
        .select(explode(split(col("text"), " ")).as("t")).distinct().count()
      assert(out(k).getAs[Long]("vocab_cum") === direct,
        s"decile $k cumulative vocab diverges from direct prefix distinct")
    }
    // total vocabulary closes the curve
    val vTotal = docs.select(explode(split(col("text"), " ")).as("t")).distinct().count()
    assert(out.last.getAs[Long]("vocab_cum") === vTotal)
  }

  test("q27: scalar subquery fully decorrelated; window recompute agrees") {
    val df = run("q27_scalar_subquery")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Subquery"),
      s"correlated scalar subquery survived optimization:\n${plan.take(800)}")
    val out = df.collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("n_above") > 0L && r.getAs[Long]("n_above") < r.getAs[Long]("n_orders"),
        s"degenerate above-average share for ${r.getAs[String]("n_name")}")
    }
    // independent recompute via a window average instead of a subquery
    import org.apache.spark.sql.expressions.Window
    val joined = graft.sources.Tables.orders(spark, sf)
      .join(graft.sources.Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
    val win = joined.withColumn("nation_avg",
        avg(col("o_totalprice")).over(Window.partitionBy(col("c_nationkey"))))
      .filter(col("o_totalprice") > col("nation_avg"))
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_above"))
      .collect().map(r => r.getAs[Long]("c_nationkey") -> r.getAs[Long]("n_above")).toMap
    val nations = graft.sources.Tables.nation(spark, sf)
      .select(col("n_nationkey"), col("n_name")).collect()
      .map(r => r.getAs[String]("n_name") -> r.getAs[Long]("n_nationkey")).toMap
    out.foreach { r =>
      assert(r.getAs[Long]("n_above") === win(nations(r.getAs[String]("n_name"))),
        s"n_above diverges from window recompute for ${r.getAs[String]("n_name")}")
    }
  }

  test("f13/f14 serve off their STANDING indexes — the plan reads the persisted artifact, not an in-memory fallback") {
    // the oracles can't see WHICH route produced the (identical) rows;
    // the plan can: the probed scan must read the standing artifact
    val ivf = run("f13_facade_serving")
    ivf.collect()
    assert(PlanScans.roots(ivf).exists(_.contains("/ivf_index/lib=")),
      "f13 fell back to the in-memory ivf route")
    val lsh = run("f14_facade_lsh_serving")
    lsh.collect()
    assert(PlanScans.roots(lsh).exists(_.contains("/lsh_index/lib=")),
      "f14 fell back to in-memory keying — check its params match searchAll defaults")
  }

  test("q30: the fact scan carries a DYNAMIC pruning predicate, and the result matches a driver recompute") {
    val df = run("q30_dpp_top_months")
    val rows = df.collect()
    // the 100 TB claim in the executed plan: the fact side's partition
    // filter is a RUNTIME subquery (dynamicpruning#...), not a static
    // IN-list — no planning-time rule can know which months rank top-3
    df.collect() // ensure final (AQE) plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"fact scan has no dynamic pruning predicate:\n${plan.take(1200)}")
    // driver recompute over the raw table
    val cents = graft.sources.Tables.orders(spark, sf)
      .select(floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"),
        substring(col("o_orderdate").cast("string"), 1, 7).as("m"))
      .collect().map(r => r.getString(1) -> r.getLong(0))
    val byMonth = cents.groupBy(_._1).map { case (m, xs) =>
      m -> (xs.length.toLong, xs.map(_._2).sum) }
    val top3 = byMonth.toSeq.sortBy { case (m, (_, rev)) => (-rev, m) }.take(3)
      .sortBy(_._1)
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ===
      top3.map { case (m, (n, rev)) => (m, n, rev) },
      "q30 diverged from the driver recompute")
  }

  test("q28: salted join is non-broadcast with salt in the keys, and salt-invisible") {
    val df = run("q28_salted_join")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin"),
      "dim was broadcast — the shuffle this operator shapes never happened")
    assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
      s"expected a shuffle join:\n${plan.take(600)}")
    assert(plan.contains("salt"), "salt column missing from the join")
    // salting must be semantically invisible: ≡ the plain unsalted join
    val out = df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    val types = Seq("click", "error", "purchase", "signup", "view")
    import spark.implicits._
    val dim = types.toDF("event_type")
      .withColumn("rate", (length(col("event_type")) * 7L).cast("long"))
    val plain = graft.sources.Tables.events(spark, sf)
      .select(col("event_type"), expr("cast(floor(value * 100 + 0.5) as bigint)").as("vc"))
      .join(dim, Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("vc") * col("rate")).as("weighted_cents"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    assert(out.toSeq === plain.toSeq, "salted result diverges from the plain join")
  }

  test("e19: OLS trend matches an exact driver regression per event type") {
    val out = run("e19_activity_trend").collect()
    assert(out.nonEmpty)
    val daily = graft.sources.Tables.events(spark, sf)
      .select(col("event_type"), expr("(ts div 1000000) div 86400000").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("y")).collect()
    val base = daily.map(_.getAs[Long]("day")).min
    out.foreach { r =>
      val t = r.getAs[String]("event_type")
      val pts = daily.filter(_.getAs[String]("event_type") == t)
        .map(p => (p.getAs[Long]("day") - base, p.getAs[Long]("y")))
      assert(r.getAs[Long]("n_days") === pts.length.toLong)
      assert(pts.length > 1, s"$t has one day — slope undefined")
      val (n, sx, sy) = (pts.length.toLong, pts.map(_._1).sum, pts.map(_._2).sum)
      val sxy = pts.map(p => p._1 * p._2).sum
      val sxx = pts.map(p => p._1 * p._1).sum
      val slope = (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble
      assert(r.getAs[Long]("slope_q6") === math.floor(slope * 1e6 + 0.5).toLong,
        s"slope diverges for $t")
      val icept = (sy.toDouble - slope * sx.toDouble) / n.toDouble
      assert(r.getAs[Long]("intercept_q4") === math.floor(icept * 1e4 + 0.5).toLong,
        s"intercept diverges for $t")
    }
  }

  test("p18: retention partitions the log; no expired event survives on disk") {
    val out = run("p18_ttl_retention").collect()
      .map(r => r.getAs[String]("artifact") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("checksum"))).toMap
    val total = graft.sources.Tables.events(spark, sf).count()
    assert(out("expired")._1 + out("retained")._1 === total,
      "expired + retained must partition the event log exactly")
    assert(out("expired")._1 > 0L && out("retained")._1 > 0L,
      "midpoint cutoff must split a multi-day log — scenario vacuous otherwise")
    // physical fact: the on-disk artifact holds no event at-or-before the cutoff
    val ev = graft.sources.Tables.events(spark, sf)
    val b = ev.agg(expr("min(ts div 1000000)").as("lo"), expr("max(ts div 1000000)").as("hi")).head()
    val cut = (b.getLong(0) + b.getLong(1)) / 2
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val disk = spark.read.parquet(s"$wh/graft_events_retained")
    assert(disk.count() === out("retained")._1, "audit rows must equal file rows")
    assert(disk.filter(col("ts") <= cut * 1000000L + 999999L).count() === 0L,
      "an expired event survived the rewrite")
  }

  test("e20: concentration curve matches a brute-force sorted recompute") {
    val out = run("e20_concentration").collect()
    assert(out.length === 5)
    // monotone: larger p covers more users and more events
    val byPct = out.sortBy(_.getAs[Long]("pct"))
    val covs = byPct.map(_.getAs[Long]("events_covered"))
    assert(covs.zip(covs.tail).forall { case (a, b) => a <= b })
    // brute force: sort users by activity desc, take ceil(p%) of them
    val counts = graft.sources.Tables.events(spark, sf)
      .groupBy("user_id").agg(count(lit(1)).as("c"))
      .collect().map(_.getAs[Long]("c")).sortBy(-_)
    val total = counts.sum
    byPct.foreach { r =>
      val nTop = (counts.length * r.getAs[Long]("pct") + 99) / 100
      assert(r.getAs[Long]("n_top_users") === nTop)
      assert(r.getAs[Long]("events_covered") === counts.take(nTop.toInt).sum,
        s"coverage diverges at p=${r.getAs[Long]("pct")}")
      assert(r.getAs[Long]("share_q4") === counts.take(nTop.toInt).sum * 10000L / total)
    }
    // the curve is genuinely concentrated: top 1% covers more than 1% of events
    assert(byPct.head.getAs[Long]("share_q4") > 100L)
  }

  test("d26: inflation reconciles with the corpus and the gated d7 cluster table") {
    val out = run("d26_dup_inflation").collect()
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("source"), col("doc_id"), col("text")).collect()
    assert(out.map(_.getAs[Long]("n_docs")).sum === docs.length.toLong)
    assert(out.exists(_.getAs[Long]("n_dup_docs") > 0L),
      "no near-duplicates anywhere — inflation report vacuous")
    // redundant set from the independently-gated d7 cluster table:
    // non-min members of each cluster
    val clusters = run("d7_dup_clusters").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id")))
    val redundant = clusters.filter { case (d, c) => d != c }.map(_._1).toSet
    assert(redundant.nonEmpty)
    val expect = docs.groupBy(_.getString(0)).map { case (src, ds) =>
      val dups = ds.filter(d => redundant(d.getLong(1)))
      src -> (ds.length.toLong, dups.length.toLong,
        dups.map(_.getString(2).split(" ").length.toLong).sum)
    }
    out.foreach { r =>
      val (nd, ndd, ndt) = expect(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_docs") === nd)
      assert(r.getAs[Long]("n_dup_docs") === ndd,
        s"dup docs diverge for ${r.getAs[String]("source")}")
      assert(r.getAs[Long]("n_dup_tokens") === ndt,
        s"dup tokens diverge for ${r.getAs[String]("source")}")
      assert(r.getAs[Long]("dup_token_share_q4") ===
        ndt * 10000L / math.max(docs.filter(_.getString(0) == r.getAs[String]("source"))
          .map(_.getString(2).split(" ").length.toLong).sum, 1L))
    }
  }

  test("q25: grand total and per-grain sums reconcile across grouping sets") {
    val out = run("q25_grouping_sets").collect()
    val byGid = out.groupBy(_.getAs[Long]("gid"))
    assert(byGid.keySet === Set(0L, 1L, 2L, 3L))
    val cell = byGid(0L)
    val totalOrders = byGid(3L).head.getAs[Long]("n_orders")
    assert(cell.map(_.getAs[Long]("n_orders")).sum === totalOrders)
    // each single-column grain also partitions the order set
    assert(byGid(1L).map(_.getAs[Long]("n_orders")).sum === totalOrders)
    assert(byGid(2L).map(_.getAs[Long]("n_orders")).sum === totalOrders)
    val cellRev = cell.map(_.getAs[Double]("revenue")).sum
    val totalRev = byGid(3L).head.getAs[Double]("revenue")
    assert(math.abs(cellRev - totalRev) < 0.5, "revenue does not reconcile")
    // sentinel discipline: rolled slots carry sentinels exactly per gid
    out.foreach { r =>
      val gid = r.getAs[Long]("gid")
      assert((r.getAs[String]("n_name") == "ALL") === (gid >= 2L))
      assert((r.getAs[Long]("o_year") == -1L) === (gid % 2L === 1L))
    }
  }

  test("f12 waterfill cut rule: unique valid cut, conservation, budget-monotone (400 random cases)") {
    // the closed form the Spark op and its oracle both transcribe,
    // checked as pure math against brute force over random avail sets
    def level(a0: Seq[Long], budget: Long): Long = {
      val a = a0.sorted
      val n = a.length
      if (a.sum <= budget) a.max
      else {
        val valid = (1 to n).flatMap { rn =>
          val pfxPrev = a.take(rn - 1).sum
          val lk = (budget - pfxPrev) / (n - rn + 1)
          val ok = (rn == 1 || a(rn - 2) <= lk) && lk < a(rn - 1)
          if (ok) Some(lk) else None
        }
        assert(valid.size === 1, s"cut not unique for avails=$a budget=$budget: $valid")
        valid.head
      }
    }
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 400) {
      val a = Seq.fill(1 + rnd.nextInt(12))(1L + rnd.nextInt(500).toLong)
      val b = rnd.nextInt((a.sum * 12 / 10 + 1).toInt).toLong
      val l = level(a, b)
      val alloc = a.map(math.min(_, l))
      if (a.sum <= b) assert(alloc === a)
      else {
        assert(alloc.sum <= b, s"overspent: $alloc vs $b")
        assert(b - alloc.sum < a.length, s"leftover >= n: ${b - alloc.sum}")
      }
      // water level can only rise with budget
      assert(level(a, b + 1 + rnd.nextInt(100)) >= l)
    }
  }
}
