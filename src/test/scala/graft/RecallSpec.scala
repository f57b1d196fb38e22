package graft

import org.apache.spark.sql.functions.{col, count, lit}

/** ANN quality: approximate indexes must actually retrieve neighbors —
  * a silent candidate-generation bug (empty buckets, wrong probe ids)
  * passes row-count checks but collapses recall. Floors pinned from
  * measured behavior on the synthetic data (IVF 0.925, LSH 0.175 at
  * sf0.001 — random unit vectors are LSH-hostile; the reference's
  * SimHash index behaves the same on uniform data). */
class RecallSpec extends GraftSuite {
  import spark.implicits._

  private def hits(name: String): Set[(Long, Long)] =
    run(name).select("qid", "vec_id").as[(Long, Long)].collect().toSet

  test("IVF probe-search recall@10 vs exact kNN ≥ 0.8") {
    val exact = hits("v1_knn_cosine_flat")
    val ivf = hits("v7_ivf_search")
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.8, s"ivf recall $recall")
  }

  test("v14 trained-IVF search: 10 rows/query, rank-1 is the query itself") {
    val exact = hits("v1_knn_cosine_flat")
    val trained = run("v14_ivf_trained_search")
    val perQ = trained.groupBy("qid").count().select("count").as[Long].collect()
    assert(perQ.length === 8 && perQ.forall(_ === 10L))
    val top1 = trained.filter($"rank" === 1).select("qid", "vec_id").as[(Long, Long)].collect()
    assert(top1.forall { case (q, v) => q == v }) // own cluster always probed
    val recall = (exact & hits("v14_ivf_trained_search")).size.toDouble / exact.size
    assert(recall >= 0.5, s"trained-ivf recall $recall")
  }

  test("PQ asymmetric search recall@10 ≥ 0.2, query's own code ranks first") {
    val exact = hits("v3_knn_dot_flat")
    val pq = hits("v18_pq_search")
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.2, s"pq recall $recall") // 16-centroid untrained codebooks on random unit vectors
    val top1 = run("v18_pq_search").filter($"rank" === 1)
      .select("qid", "vec_id").as[(Long, Long)].collect()
    assert(top1.nonEmpty && top1.forall { case (q, v) => q == v },
      "a query outranked its own reconstruction")
  }

  test("v18b trained+refined PQ recall@10 ≥ 0.5, self-hit ranks first") {
    val exact = hits("v3_knn_dot_flat")
    val pq = hits("v18b_pq_trained_search")
    val recall = (exact & pq).size.toDouble / exact.size
    // measured 0.84 at sf0.001 / 0.79 at sf0.01 (trained codebooks cut MSE
    // 28%; the refine=64 exact re-rank closes the ADC ranking noise)
    assert(recall >= 0.5, s"trained pq recall $recall")
    val top1 = run("v18b_pq_trained_search").filter($"rank" === 1)
      .select("qid", "vec_id").as[(Long, Long)].collect()
    assert(top1.nonEmpty && top1.forall { case (q, v) => q == v },
      "a query outranked its own refined reconstruction")
  }

  test("v19 IVF-PQ recall@10 ≥ 0.5 vs exact dot; self-hit ranks first") {
    val exact = hits("v3_knn_dot_flat")
    val ivfpq = hits("v19_ivfpq_search")
    val recall = (exact & ivfpq).size.toDouble / exact.size
    assert(recall >= 0.5, s"ivfpq recall $recall")
    val top1 = run("v19_ivfpq_search").filter($"rank" === 1)
      .select("qid", "vec_id").as[(Long, Long)].collect()
    assert(top1.nonEmpty && top1.forall { case (q, v) => q == v },
      "a query outranked its own IVF-PQ reconstruction")
  }

  test("v19b trained IVF-PQ recall@10 ≥ 0.5 vs exact dot; self-hit ranks first") {
    val exact = hits("v3_knn_dot_flat")
    val ivfpq = hits("v19b_ivfpq_trained")
    val recall = (exact & ivfpq).size.toDouble / exact.size
    // trained coarse + trained residual codebooks must not retrieve WORSE
    // than the fixed-convention v19 floor
    assert(recall >= 0.5, s"trained ivfpq recall $recall")
    val top1 = run("v19b_ivfpq_trained").filter($"rank" === 1)
      .select("qid", "vec_id").as[(Long, Long)].collect()
    assert(top1.nonEmpty && top1.forall { case (q, v) => q == v },
      "a query outranked its own trained-IVFADC reconstruction")
  }

  test("LSH search recall@10 ≥ 0.1 and always finds the query itself first") {
    val exact = hits("v1_knn_cosine_flat")
    val lsh = hits("v10_lsh_search")
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.1, s"lsh recall $recall")
    // the query shares every one of its own buckets → rank-1 is itself
    val top1 = run("v10_lsh_search").filter($"rank" === 1)
      .select("qid", "vec_id").as[(Long, Long)].collect()
    assert(top1.nonEmpty && top1.forall { case (q, v) => q == v })
  }

  test("v34: recall is monotone in nprobe and the top arm matches v25") {
    val rows = run("v34_probe_sweep")
      .select("nprobe", "hits", "recall_q4").as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(1L, 2L, 4L, 8L))
    // candidate sets are nested in nprobe: recall can never decrease
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 >= a._2, s"recall dropped from nprobe=${a._1} to ${b._1}")
    case _ =>
    }
    // the nprobe=4 arm is exactly the configuration v25 measures
    val v25hits = run("v25_recall_eval").select("hits").as[Long].collect().sum
    assert(rows.find(_._1 == 4L).get._2 === v25hits)
  }

  test("v31: NDCG agrees with a driver recompute from v25's hit sets") {
    val exact = hits("v1_knn_cosine_flat")
    val ranks = run("v14_ivf_trained_search")
      .select("qid", "vec_id", "rank").as[(Long, Long, Long)].collect()
    val disc = (1 to 10).map(r =>
      math.floor(1e8 / (math.log(r + 1.0) / math.log(2.0)) + 0.5).toLong).toArray
    val cum = disc.scanLeft(0L)(_ + _).tail
    val expected = ranks.groupBy(_._1).map { case (q, rs) =>
      val hitRows = rs.filter(r => exact.contains((r._1, r._2)))
      val dcg = hitRows.map(r => disc(r._3.toInt - 1)).sum
      val h = hitRows.length
      val ndcg = if (h == 0) 0L
                 else math.floor(dcg.toDouble / cum(h - 1).toDouble * 10000 + 0.5).toLong
      q -> (h.toLong, dcg, ndcg)
    }
    val got = run("v31_ndcg_eval")
      .select("qid", "hits", "dcg_q8", "ndcg_q4").as[(Long, Long, Long, Long)]
      .collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got === expected)
    // NDCG is bounded and perfect retrieval scores exactly 1.0
    got.values.foreach { case (h, _, n) =>
      assert(n >= 0L && n <= 10000L)
      if (h == 10L) assert(n === 10000L || n < 10000L) // perfect hits need not be perfect ORDER
    }
    // position sensitivity: every query's ndcg ≥ its recall-equivalent
    // floor would need order info; instead pin that at least one query
    // with full hits exists on this corpus (self-hit + dense clusters)
    assert(got.values.exists(_._1 > 0L), "no hits at all — eval is vacuous")
  }

  test("v43: frontier anchor row is exact, recalls bounded, arms match independent recomputes") {
    val rows = graft.operators.Knn.indexFrontier(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows.keySet === Set("binary", "flat", "ivf", "lsh", "sq8"))
    // flat vs itself is the definitional anchor: full overlap, recall 1.0
    assert(rows("flat") === ((256L, 80L, 10000L)))
    rows.values.foreach { case (_, h, r4) =>
      assert(h >= 0L && h <= 80L && r4 >= 0L && r4 <= 10000L)
    }
    // one arm recomputed from the independently gated queries' outputs
    val flat = graft.operators.Knn.flatSearch(spark, sf, "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val bin = graft.operators.Knn.binaryHammingSearch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(rows("binary")._2 === (bin intersect flat).size.toLong,
      "binary arm diverges from a direct overlap recompute")
  }

  test("v41: occupancy report is a partition of the corpus; shares sum to ~1; bounded by K") {
    val rows = graft.operators.Ivf.listStats(spark, sf).collect()
    val nCorpus = graft.sources.Tables.embeddings(spark, sf).count()
    assert(rows.nonEmpty && rows.length <= graft.operators.Ivf.K)
    assert(rows.map(_.getAs[Long]("n_vecs")).sum === nCorpus,
      "list lengths must partition the corpus exactly")
    val shares = rows.map(_.getAs[Long]("share_q4")).sum
    assert(math.abs(shares - 10000L) <= rows.length,
      s"q4 shares sum $shares too far from 10000 (rounding slack = one ulp per list)")
    rows.foreach { r =>
      assert(r.getAs[Long]("min_vec") <= r.getAs[Long]("max_vec"))
      assert(r.getAs[Long]("n_vecs") > 0L)
    }
  }

  test("v47: drift matrix partitions the corpus; stayed and moved mass both exist") {
    val rows = graft.operators.Ivf.centroidDrift(spark, sf).collect()
    val nCorpus = graft.sources.Tables.embeddings(spark, sf).count()
    val k = graft.operators.Ivf.K
    assert(rows.nonEmpty && rows.length <= k * k, "cells bounded by K²")
    assert(rows.map(_.getAs[Long]("n_vecs")).sum === nCorpus,
      "migration cells must partition the corpus exactly")
    val (stay, move) = rows.partition(r =>
      r.getAs[Long]("from_cid") === r.getAs[Long]("to_cid"))
    assert(stay.map(_.getAs[Long]("n_vecs")).sum > 0L, "no vector kept its cluster")
    assert(move.map(_.getAs[Long]("n_vecs")).sum > 0L,
      "refresh moved nothing — drift report is vacuous on this corpus")
  }

  test("v48: OOD screen flags ~p of the corpus, exactly the lowest-sim vectors") {
    val rows = graft.operators.Ivf.embeddingOod(spark, sf).collect()
    val nCorpus = graft.sources.Tables.embeddings(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_vecs")).sum === nCorpus,
      "per-cluster counts must partition the corpus")
    val flagged = rows.map(_.getAs[Long]("n_flagged")).sum
    assert(flagged > 0L, "review queue empty — screen vacuous")
    // budget discipline: never more than p of the corpus (strict-below a
    // quantile threshold), and not degenerately tiny
    assert(flagged <= (nCorpus * 0.05).ceil.toLong, s"over budget: $flagged")
    assert(flagged >= (nCorpus * 0.03).floor.toLong, s"far under budget: $flagged")
    // every cluster's min is below its own flag count's implied threshold
    val tau = rows.head.getAs[Double]("tau_q4")
    rows.foreach { r =>
      val hasFlags = r.getAs[Long]("n_flagged") > 0L
      assert(hasFlags === (r.getAs[Long]("min_sim_q4").toDouble < tau),
        s"cluster ${r.getAs[Long]("cluster_id")} flag/min inconsistency")
    }
  }

  test("v53: n_probed varies per query, grows with budget, self-hit first") {
    def npOf(budgetDen: Long): (Map[Long, Long], Array[org.apache.spark.sql.Row]) = {
      val rows = graft.operators.Ivf.adaptiveProbeSearch(spark, sf, budgetDen = budgetDen).collect()
      (rows.map(r => r.getLong(0) -> r.getLong(4)).toMap, rows)
    }
    val (np5, rows) = npOf(5L)
    // adaptive, not a constant nprobe in disguise
    assert(np5.values.toSet.size >= 2, s"n_probed constant across queries: $np5")
    // every query's rank-1 is itself (probed lists always contain the
    // query's own cluster: its nearest centroid ranks first)
    rows.filter(_.getLong(1) === 1L).foreach { r =>
      assert(r.getLong(2) === r.getLong(0), s"self-hit not rank 1: $r")
    }
    // a larger candidate budget can only probe MORE lists per query
    val (np2, _) = npOf(2L)
    np5.foreach { case (qid, n) => assert(np2(qid) >= n, s"budget grew, probes shrank for $qid") }
    assert(np2.exists { case (qid, n) => n > np5(qid) }, "larger budget changed nothing")
  }

  test("v53: probe-budget decision reads ONLY the size sidecar; serving prunes the persisted lists") {
    val served = graft.operators.Ivf.adaptiveProbeSearch(spark, sf)
    served.collect() // build lists + sidecar, decide, serve
    // the decision's input frame scans the sidecar and nothing else — the
    // 100 TB contract in the executed plan, not prose (asserted on the
    // scans' root paths: the lists path is a PREFIX of the sidecar path)
    val side = graft.operators.Ivf.v53SizeSidecar(spark)
    side.collect()
    val sideRoots = PlanScans.roots(side).map(_.stripSuffix("/"))
    assert(sideRoots.exists(_.endsWith("/graft_idx_ivf_adaptive_sizes")),
      s"decision does not scan the sidecar: $sideRoots")
    assert(sideRoots.forall(_.endsWith("/graft_idx_ivf_adaptive_sizes")),
      s"decision subtree scans the corpus or the lists: $sideRoots")
    // sidecar ≡ lists by construction: one row per cluster, exact counts
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val fromLists = spark.read.parquet(s"$wh/graft_idx_ivf_adaptive")
      .groupBy(col("cluster_id").cast("long").as("cluster_id"))
      .agg(count(lit(1)).as("csize"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fromSide = side.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fromSide === fromLists, "size sidecar diverges from the lists")
    // the serving tail partition-prunes the persisted lists to the probed
    // cluster directories
    val servePlan = served.queryExecution.executedPlan.toString
    assert(servePlan.contains("PartitionFilters") && servePlan.contains("cluster_id"),
      s"v53 serving does not partition-prune:\n${servePlan.take(600)}")
  }

  test("v56: base+delta serving prunes sealed lists, masks tombstones, folds the delta — no list rewrite") {
    val served = graft.operators.Ivf.baseDeltaListsSearch(spark, sf)
    val rows = served.collect()
    assert(rows.nonEmpty)
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    // the sealed lists hold ONLY the base slice — the delta was never
    // folded in (serving reconciles it at query time)
    val listIds = spark.read.parquet(s"$wh/graft_idx_ivf_basedelta")
      .select("vec_id").collect().map(_.getLong(0))
    assert(listIds.forall(_ % 10 != 3), "delta rows leaked into the sealed lists")
    // a tombstoned id is never served even though its bytes sit in the
    // sealed lists; a delta id IS served (queries are their own best hit)
    val servedIds = rows.map(_.getLong(2)).toSet
    assert(servedIds.forall(id => id % 10 == 3 || id % 17 != 2),
      "a tombstoned vector was served")
    val deltaQ = rows.filter(r => r.getLong(0) % 10 == 3 && r.getLong(1) === 1L)
    deltaQ.foreach(r => assert(r.getLong(2) === r.getLong(0),
      s"delta query's self-hit not rank 1: $r"))
    // plan shape: the sealed-list scan is partition-pruned to the probed
    // clusters and the tombstone mask is an anti-join, not a rewrite
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cluster_id"),
      s"base scan does not partition-prune:\n${plan.take(900)}")
    assert(plan.contains("LeftAnti"),
      s"tombstone mask is not an anti-join:\n${plan.take(900)}")
  }

  test("v55: artifact-only decision; retrain == fresh new-model train; keep == old model") {
    def ids(rows: Array[org.apache.spark.sql.Row]): Set[(Long, Long, Long)] =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // default thresholds RETRAIN on this corpus (drift ~2-9% >= 1/60)
    val rt = graft.operators.Ivf.retrainDecisionSearch(spark, sf)
    val rtRows = rt.collect()
    assert(rtRows.nonEmpty && rtRows.forall(_.getAs[String]("decision") === "retrain"))
    // the decision subtree's only file scan is the persisted report —
    // the v51/v53 artifact discipline applied to index maintenance
    val dec = graft.operators.Ivf.v55DecisionInputs(spark)
    dec.collect()
    val decPlan = dec.queryExecution.executedPlan.toString
    assert(decPlan.contains("graft_retrain_report"),
      s"decision does not scan the report:\n${decPlan.take(600)}")
    assert(!decPlan.contains("embeddings"),
      s"decision subtree scans the corpus:\n${decPlan.take(600)}")
    // retrain serve == a fresh MONOLITHIC new-model trained search (the
    // sharded rebuild's equivalence-by-construction, executed)
    assert(ids(rtRows) ===
      ids(graft.operators.Ivf.searchTrained(spark, sf, iters = 5).collect()),
      "retrained sharded serve diverged from the monolithic new-model train")
    // the rebuild is the v44 shard-parallel artifact
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val shards = Option(new java.io.File(s"$wh/graft_idx_ivf_retrained").listFiles())
      .getOrElse(Array.empty).filter(_.isDirectory).map(_.getName).sorted
    assert(shards.toSeq === Seq("shard=0", "shard=1"), s"rebuild not sharded: ${shards.toSeq}")
    // lax thresholds KEEP, serving the old model unchanged
    val kpRows = graft.operators.Ivf
      .retrainDecisionSearch(spark, sf, driftDen = 2L, occDen = 2L).collect()
    assert(kpRows.nonEmpty && kpRows.forall(_.getAs[String]("decision") === "keep"))
    assert(ids(kpRows) ===
      ids(graft.operators.Ivf.searchTrained(spark, sf, iters = 3).collect()),
      "keep branch diverged from the standing old-model serve")
  }
}
