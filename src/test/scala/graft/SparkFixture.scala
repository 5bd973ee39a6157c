package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

trait SparkFixture extends BeforeAndAfterAll { self: Suite =>
  lazy val spark: SparkSession = SparkFixture.session
  val sfDir = "/root/testdata/sf0.001"

  /** Runs `body` with the graph operators pinned to their DataFrame
    * rounds: a zero `graft.graph.broadcastEdges` ceiling turns the
    * single-task kernels off. */
  def inRounds[T](body: => T): T = {
    spark.conf.set("graft.graph.broadcastEdges", "0")
    try body finally spark.conf.unset("graft.graph.broadcastEdges")
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
