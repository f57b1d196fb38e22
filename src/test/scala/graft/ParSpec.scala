package graft

/** [[Par]]'s failure path: the first failing thunk cancels its siblings'
  * Spark jobs and waits for them before rethrowing, so nothing keeps
  * writing into a directory a retry is about to reuse. */
class ParSpec extends GraftSuite {

  test("Par.all: a failing thunk cancels a slow sibling write, leaves no active job, and an immediate retry succeeds") {
    import spark.implicits._
    val sc = spark.sparkContext
    val base = java.nio.file.Files.createTempDirectory("par")
    val stage = base.resolve("lib=1_building").toString
    // every task of the slow write sleeps a minute unless interrupted
    val slow = sc.parallelize(0 until 4, 4).map { i => Thread.sleep(60000L); i }.toDF("i")
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Par.run(Seq(
        () => slow.write.parquet(stage),
        () => {
          val deadline = System.currentTimeMillis() + 30000L
          while (sc.statusTracker.getActiveJobIds().isEmpty &&
              System.currentTimeMillis() < deadline) Thread.sleep(20L)
          throw new IllegalStateException("boom")
        }))
    }
    val elapsedS = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage === "boom", "the original failure was not the one rethrown")
    assert(elapsedS < 30.0, f"the slow sibling ran to completion (${elapsedS}%.1f s)")
    // the status store is fed by the listener bus: let it catch up
    val deadline = System.currentTimeMillis() + 10000L
    while (sc.statusTracker.getActiveJobIds().nonEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(50L)
    assert(sc.statusTracker.getActiveJobIds().isEmpty,
      "a sibling job is still running after Par.all rethrew")
    // an immediate retry into the same staging dir lands exactly its rows
    val other = base.resolve("other").toString
    Par.run(Seq(
      () => (0 until 4).toDF("i").write.mode("overwrite").parquet(stage),
      () => (0 until 2).toDF("i").write.mode("overwrite").parquet(other)))
    assert(spark.read.parquet(stage).as[Int].collect().sorted.toSeq === (0 until 4))
    assert(spark.read.parquet(other).count() === 2L)
  }
}
