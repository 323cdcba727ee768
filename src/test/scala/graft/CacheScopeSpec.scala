package graft

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** CacheScope's scope contracts: persists release at scope end, and
  * trackCheckpoint's lineage truncation — the blocks are freed at
  * releaseAll() and the frame is DEAD afterwards (no silent rebuild),
  * unless the config-selected reliable path is on, which without a
  * checkpoint dir fails instead of silently staying local. */
class CacheScopeSpec extends SparkSpec {

  test("track: persist is live inside the scope, released at scope end") {
    val df = spark.range(0, 100).toDF("id")
    val tracked = CacheScope.withScope {
      val t = CacheScope.track(df)
      t.count()
      assert(t.storageLevel != StorageLevel.NONE, "persist must be live in-scope")
      t
    }
    assert(tracked.storageLevel == StorageLevel.NONE,
      "scope end must unpersist tracked frames")
  }

  test("trackCheckpoint: plan truncates to LogicalRDD; blocks released at scope end") {
    val df = spark.range(0, 100).selectExpr("id", "id * 2 AS v")
    val ckpt = CacheScope.withScope {
      val c = CacheScope.trackCheckpoint(df)
      assert(c.queryExecution.analyzed.collect { case lr: LogicalRDD => lr }.nonEmpty,
        "checkpoint must truncate the logical plan to a LogicalRDD leaf")
      assert(c.count() == 100)
      c
    }
    // scope end released the (non-replicated) checkpoint blocks
    val rdds = ckpt.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }
    assert(rdds.forall(_.getStorageLevel == StorageLevel.NONE),
      "scope end must unpersist the localCheckpoint blocks")
    // the frame is DEAD after scope end: lineage was truncated, so an
    // action cannot silently recompute (the scaladoc'd contract)
    intercept[Exception] { ckpt.count() }
  }

  // runs BEFORE the reliable-path test below: a SparkContext's
  // checkpoint dir cannot be unset, and no other suite sets one
  test("reliable path without a checkpoint dir fails loudly") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    try {
      val e = intercept[IllegalStateException] {
        CacheScope.withScope(CacheScope.trackCheckpoint(spark.range(0, 10).toDF("id")))
      }
      assert(e.getMessage.contains("setCheckpointDir"))
    } finally {
      spark.conf.set("spark.graft.checkpoint.reliable", "false")
    }
  }

  test("reliable path: spark.graft.checkpoint.reliable survives scope end") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt")
    // the context keeps pointing at `dir` after this test — a
    // SparkContext's checkpoint dir cannot be unset — so only the
    // files go in `finally`; a later reliable checkpoint recreates it
    spark.sparkContext.setCheckpointDir(dir.toString)
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    try {
      val ckpt = CacheScope.withScope {
        val c = CacheScope.trackCheckpoint(
          spark.range(0, 50).selectExpr("id", "id + 1 AS v"))
        assert(c.count() == 50)
        c
      }
      // durable blocks: the frame stays usable after releaseAll —
      // cleanup belongs to the cluster's checkpoint retention, not
      // the query scope
      assert(ckpt.count() == 50)
    } finally {
      spark.conf.set("spark.graft.checkpoint.reliable", "false")
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }
}
