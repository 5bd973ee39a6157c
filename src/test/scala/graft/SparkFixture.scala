package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

trait SparkFixture extends BeforeAndAfterAll { self: Suite =>
  lazy val spark: SparkSession = SparkFixture.session
  val sfDir = "/root/testdata/sf0.001"

  /** Runs `body` with the graph operators pinned to their DataFrame
    * rounds: a zero `graft.graph.broadcastEdges` ceiling turns the
    * kernels off. */
  def inRounds[T](body: => T): T = {
    spark.conf.set("graft.graph.broadcastEdges", "0")
    try body finally spark.conf.unset("graft.graph.broadcastEdges")
  }

  /** Spark jobs started while `f` runs. The listener bus is FIFO:
    * once a marked barrier job's start arrives, every job `f` started
    * has been counted. */
  def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val barrier = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.barrier") != null))
          barrier.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      f
      sc.setLocalProperty("graft.test.barrier", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.test.barrier", null)
      assert(barrier.await(30, TimeUnit.SECONDS), "barrier job never observed")
      jobs.get
    } finally sc.removeSparkListener(l)
  }

  /** Runs `body` with GraphStore's versions read as file relations: a
    * −1 `spark.sql.autoBroadcastJoinThreshold` turns the
    * driver-resident regime off. */
  def inFileRegime[T](body: => T): T = withBroadcastThreshold(-1L)(body)

  /** Runs `body` under `spark.sql.autoBroadcastJoinThreshold = bytes`,
    * restoring the previous value after. */
  def withBroadcastThreshold[T](bytes: Long)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, bytes.toString)
    try body finally spark.conf.set(key, prev)
  }
}

object SparkFixture {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
      .config("javax.jdo.option.ConnectionURL",
        "jdbc:derby:;databaseName=/tmp/graft-test-metastore;create=true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.Registry.registerAll(s)
    s
  }
}
