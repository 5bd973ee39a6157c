package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.Materialize._

/** Pins the pluggable lineage-truncation contract
  * (graft.checkpoint.mode): every mode returns identical data, the
  * reliable mode actually writes durable checkpoint files, and the
  * failure modes are loud. The executor-loss behavior itself (local
  * dies / reliable survives a SIGKILLed executor) is a multi-process
  * probe, not a unit test — measured in SURVEY §14's chaos run. */
class MaterializeSpec extends AnyFunSuite with SparkFixture {

  private def sample = {
    import spark.implicits._
    (1L to 1000L).map(i => (i, i % 7, s"v$i")).toDF("id", "k", "s")
      .groupBy("k").agg(count(lit(1)).as("n"), sum("id").as("t"))
  }

  private def rows = sample.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("default (local) mode: materialize() == localCheckpoint semantics") {
    val base = rows
    val m = sample.materialize()
    assert(m.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == base)
    // lineage is truncated: the plan is a scan of materialized blocks
    assert(m.queryExecution.optimizedPlan.toString.contains("LogicalRDD"))
  }

  test("replicated mode: same data, blocks at MEMORY_AND_DISK_2") {
    spark.conf.set("graft.checkpoint.mode", "replicated")
    try {
      val base = rows
      val m = sample.materialize()
      assert(m.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == base)
      // on local[4] there is one block manager, so replication is
      // capped at 1 — the mode still runs (Spark WARNs "replicated to
      // only 0 peer(s)"); the 2x placement is a cluster behavior
      // (chaos probe territory). Assert the request reached storage:
      // a persisted RDD carries replication=2.
      assert(spark.sparkContext.getPersistentRDDs.values
        .exists(_.getStorageLevel.replication == 2))
    } finally spark.conf.unset("graft.checkpoint.mode")
  }

  // NOTE: must run before the dir-set test below — SparkContext has
  // no public way to UNSET a checkpoint dir, and the suites share
  // one session
  test("reliable mode without a checkpoint dir fails loudly") {
    spark.conf.set("graft.checkpoint.mode", "reliable")
    try {
      assert(spark.sparkContext.getCheckpointDir.isEmpty)
      val e = intercept[IllegalArgumentException](sample.materialize())
      assert(e.getMessage.contains("spark.checkpoint.dir"))
    } finally spark.conf.unset("graft.checkpoint.mode")
  }

  test("reliable mode: same data, durable files under the checkpoint dir") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ckpt-").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set("graft.checkpoint.mode", "reliable")
    try {
      val base = rows
      val m = sample.materialize()
      assert(m.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == base)
      // the checkpoint wrote real files (rdd-N dirs with part files)
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => p.getFileName.toString.startsWith("part-"))
        .count()
      assert(wrote > 0, s"no checkpoint part files under $dir")
    } finally spark.conf.unset("graft.checkpoint.mode")
  }

  test("unknown mode fails loudly") {
    // "none" included: no mode may skip the checkpoint pin
    for (mode <- Seq("hdfs", "none")) {
      spark.conf.set("graft.checkpoint.mode", mode)
      try {
        val e = intercept[IllegalArgumentException](sample.materialize())
        assert(e.getMessage.contains("local|replicated|reliable"))
        assert(e.getMessage.contains(mode))
      } finally spark.conf.unset("graft.checkpoint.mode")
    }
  }
}
