package graft.sources

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.Sharding

/** Persistent layout for a property graph, designed for the 100 TB
  * read paths:
  *
  *  - `nodes/` and `edges/` parquet partitioned by shard (low bits
  *    of the xxhash64 id — `src/egraph_shard_util.erl` policy), so
  *    a point lookup prunes to one directory and co-sharded frames
  *    co-locate;
  *  - `indexes/` parquet partitioned by (index_name, key_type) —
  *    the moral equivalent of the reference's table-per-index
  *    shards (`egraph_lookup_*_base_<NAME>`): an index probe reads
  *    exactly one directory and pushes the key predicate into the
  *    scan.
  *
  * Writes are crash-safe: each save lands in a fresh `v<timestamp>`
  * subdirectory and readers resolve the newest version whose
  * `_SUCCESS` marker exists — a writer that dies mid-save leaves an
  * incomplete, unmarked directory that readers never see, and the
  * previous version stays intact (a plain overwrite deletes the only
  * copy of prior state before the new one is durable). The two most
  * recent good versions are kept; older ones are pruned best-effort.
  *
  * Read path: a marked version dir never changes, so every load and
  * probe reads it through one resolved `spark.read.parquet` relation
  * per (session, version dir, `_SUCCESS` mtime), kept in a bounded
  * LRU. A reused relation keeps its file listing and schema: no
  * per-call listing or schema-inference job, and a rewritten root
  * (new marker mtime) is read fresh. The cached relations are
  * [[graft.graph.GraphBuilder.markStable]] frames, so adjacency built
  * over a stored edges version is memoized per version. Only marked
  * versions are cached: plain (pre-versioning) layouts are read anew
  * per call, and a table carrying `expires_at_us` hands out a fresh
  * expiry-filtered frame per call (its filter is per execution), so
  * no expiry-bearing frame is ever cached or memoized. Parquet read
  * options that shape a relation (e.g. schema merging) are fixed at a
  * version's first read in a session.
  */
object GraphStore {

  private val saveSeq = new AtomicLong()

  /** Monotonic, lexicographically sortable version names. */
  private def nextVersion(): String =
    f"v${System.currentTimeMillis()}%013d-${saveSeq.incrementAndGet()}%04d"

  private def goodVersions(spark: SparkSession, dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("v")).sorted.reverse.toSeq
      .filter(v => fs.exists(new Path(dir, s"$v/_SUCCESS")))
  }

  // bounded so a service reading many stores cannot pin relations
  // (and their SparkSessions) without limit; eviction drops only the
  // reference
  private val relations =
    new graft.util.LruCache[(SparkSession, String, Long), DataFrame](32)

  /** THE read helper: the epoch-pinned version if the given epoch
    * names this table (one marker stat, no listing of the retained
    * versions), else the newest complete version dir — either one
    * through its cached relation — else the plain dir itself, read
    * anew, for layouts written before versioning; all under the
    * per-execution expiry filter. */
  private def read(spark: SparkSession, epoch: Map[String, String],
      root: String, table: String): DataFrame = {
    val dir = s"$root/$table"
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def marked(v: String): Option[DataFrame] =
      (try Some(fs.getFileStatus(new Path(dir, s"$v/_SUCCESS")).getModificationTime)
      catch { case _: java.io.FileNotFoundException => None }).map { m =>
        relations.getOrElseUpdate((spark, s"$dir/$v", m))(
          graft.graph.GraphBuilder.markStable(spark.read.parquet(s"$dir/$v")))
      }
    notExpired(epoch.get(table).flatMap(marked)
      .orElse(goodVersions(spark, dir).view.flatMap(marked).headOption)
      .getOrElse {
        // pre-versioning plain layout: the SAME visibility contract
        // as hasTable — readable iff its own _SUCCESS proves the
        // write completed. Silently reading an unmarked directory
        // here would launder a torn write through loadNodes/
        // loadSnapshot while hasTable correctly reports it absent.
        require(fs.exists(new Path(p, "_SUCCESS")),
          s"$dir has no complete version dir and no _SUCCESS marker; " +
            "refusing to read a possibly-incomplete layout " +
            "(see GraphStore.hasTable's visibility contract)")
        spark.read.parquet(dir)
      })
  }

  /** The root epoch: table → pinned version. Written atomically by
    * [[commitEpoch]] AFTER all of a batch's table saves, so readers
    * resolving through it always see one consistent snapshot —
    * per-table versioning alone still exposes a window where nodes
    * are new but indexes old. Absent for plain layouts. */
  private def isLocal(p: Path, spark: SparkSession): Boolean =
    Option(p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getUri.getScheme).forall(_ == "file")

  def currentEpoch(spark: SparkSession, root: String): Map[String, String] = {
    val p = new Path(s"$root/_EPOCH")
    // local scheme: bypass Hadoop's ChecksumFileSystem entirely —
    // mixing its reads with nio writes leaves stale .crc files that
    // fail every later open
    val txtOpt =
      if (isLocal(p, spark)) {
        val nio = java.nio.file.Paths.get(p.toUri.getPath)
        if (!java.nio.file.Files.exists(nio)) None
        else Some(new String(java.nio.file.Files.readAllBytes(nio), "UTF-8"))
      } else {
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(p)) None
        else {
          val in = fs.open(p)
          try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
          finally in.close()
        }
      }
    txtOpt.map(_.linesIterator.map(_.split("=", 2)).collect {
      case Array(k, v) => k -> v
    }.toMap).getOrElse(Map.empty)
  }

  /** Atomically pin (table → version) for readers: write a uniquely
    * named temp file then rename over _EPOCH, so a reader sees the
    * old pinning or the new, never a missing or torn one. Tables not
    * named keep their previous pin. Single writer assumed (the
    * reference shards writes but has one writer per shard);
    * concurrent committers to different tables can lose each other's
    * merge, not tear the file. */
  def commitEpoch(spark: SparkSession, root: String,
      versions: Map[String, String]): Unit = {
    val merged = currentEpoch(spark, root) ++ versions
    val p = new Path(s"$root/_EPOCH")
    val bytes = merged.toSeq.sorted.map { case (k, v) => s"$k=$v" }
      .mkString("\n").getBytes("UTF-8")
    val conf = spark.sparkContext.hadoopConfiguration
    if (isLocal(p, spark)) {
      // all-nio on the local scheme: Hadoop's local filesystems are
      // either non-atomic on overwriting rename (delete-then-rename
      // exposes a missing epoch) or checksummed (a nio move would
      // leave a stale .crc that fails every later read)
      val dir = java.nio.file.Paths.get(new Path(root).toUri.getPath)
      java.nio.file.Files.createDirectories(dir)
      // unique tmp: a concurrent committer must never truncate a tmp
      // file someone else is about to rename
      val tmp = dir.resolve(s"._EPOCH.${nextVersion()}.tmp")
      java.nio.file.Files.write(tmp, bytes)
      java.nio.file.Files.move(tmp, dir.resolve("_EPOCH"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else {
      val fs = p.getFileSystem(conf)
      val tmp = new Path(s"$root/._EPOCH.${nextVersion()}.tmp")
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      // HDFS rename-with-overwrite is atomic
      org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, conf)
        .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  }

  /** Readers resolve a version lazily and may scan it long after; a
    * version younger than this many ms is never pruned, bounding how
    * stale a lazy reader can be before its files disappear. Session-
    * tunable (`spark.conf.set("graft.store.pruneRetentionMs", …)`) —
    * a high-frequency streaming ingest writes a full store copy per
    * micro-batch, so long retention × short batches costs disk. */
  val defaultPruneRetentionMs: Long = 30 * 60 * 1000L

  private def pruneOld(spark: SparkSession, root: String,
      table: String): Unit =
    pruneVersions(spark, root, table, spark.conf
      .getOption("graft.store.pruneRetentionMs").map(_.toLong)
      .getOrElse(defaultPruneRetentionMs))

  private def pruneVersions(spark: SparkSession, root: String,
      table: String, retentionMs: Long): Unit =
    try {
      val dir = s"$root/$table"
      val p = new Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val pinned = currentEpoch(spark, root).get(table)
      val cutoff = System.currentTimeMillis() - retentionMs
      def age(v: String): Long = // version names embed their write ms
        scala.util.Try(v.stripPrefix("v").takeWhile(_.isDigit).toLong)
          .getOrElse(Long.MaxValue)
      goodVersions(spark, dir).drop(2).filterNot(pinned.contains)
        .filter(age(_) < cutoff)
        .foreach(v => fs.delete(new Path(dir, v), true))
    } catch { case _: java.io.IOException => () } // pruning is best-effort

  /** Explicit version GC across the store's tables — the maintenance
    * half of the reference's expiry story (epoch dirs are this
    * layout's unit of reclamation). Never collected, at ANY
    * retention: the 2 newest complete versions of each table and
    * every epoch-pinned version — so a reader resolving through the
    * committed epoch always survives a GC, no matter how old the
    * pinned snapshot is. */
  def gcVersions(spark: SparkSession, root: String,
      retentionMs: Long = defaultPruneRetentionMs): Unit =
    Seq("nodes", "edges", "indexes")
      .foreach(t => pruneVersions(spark, root, t, retentionMs))

  /** Stamp rows with an absolute expiry instant — the reference's
    * optional expiry seconds on create/update
    * (`models/egraph_fquery_model.erl:86-92`). Expiry is LAZY, like
    * the reference's TTL caches: loaders filter expired rows at read
    * time (the comparison pushes to the parquet scan), and
    * [[compactExpiredNodes]] physically reclaims them. Rows without
    * the column, or with it null, never expire. */
  def withExpiry(df: DataFrame, ttlSeconds: Long,
      nowUs: Long = System.currentTimeMillis() * 1000L): DataFrame =
    df.withColumn("expires_at_us", lit(nowUs + ttlSeconds * 1000000L))

  private def notExpired(df: DataFrame): DataFrame =
    if (df.columns.contains("expires_at_us"))
      // current_timestamp(), not a driver-side literal frozen at
      // DataFrame construction: ComputeCurrentTime folds it to a
      // fresh constant per EXECUTION (so it still pushes to the
      // scan), and a long-lived or re-executed frame re-evaluates
      // "now" instead of resurrecting rows that have since expired
      df.filter(col("expires_at_us").isNull ||
        col("expires_at_us") > expr("unix_micros(current_timestamp())"))
    else df

  /** Rewrite the node table without its expired rows (physical
    * reclamation of lazily-expired data): a new version under the
    * same crash-safe save path, pin advancing as usual. Returns the
    * version written. */
  def compactExpiredNodes(spark: SparkSession, root: String,
      shardBits: Int = 6): String =
    saveNodes(loadNodes(spark, root).drop("shard"), root, shardBits)

  /** Returns the version name the frame was written under. When the
    * root already has an epoch and `publish` is true (the default),
    * the table's pin auto-advances — otherwise a plain save would be
    * silently invisible behind a stale pin. Multi-table writers
    * (StreamingIngest) pass publish = false and commit one epoch
    * covering all their tables at the end. */
  private def versionedSave(df: DataFrame, root: String, table: String,
      publish: Boolean)(write: (DataFrame, String) => Unit): String = {
    val v = nextVersion()
    write(df, s"$root/$table/$v")
    val spark = df.sparkSession
    if (publish && currentEpoch(spark, root).contains(table))
      commitEpoch(spark, root, Map(table -> v))
    pruneOld(spark, root, table)
    v
  }

  def saveNodes(nodes: DataFrame, root: String, shardBits: Int = 6,
      publish: Boolean = true): String =
    versionedSave(nodes, root, "nodes", publish) { (df, path) =>
      df.withColumn("shard", Sharding.shardOfId(col("id"), shardBits))
        .write.mode("overwrite").partitionBy("shard").parquet(path)
    }

  def saveEdges(edges: DataFrame, root: String, shardBits: Int = 6,
      publish: Boolean = true): String =
    versionedSave(edges, root, "edges", publish) { (df, path) =>
      df.withColumn("shard", Sharding.shardOfKey(col("src_key"), shardBits))
        .write.mode("overwrite").partitionBy("shard").parquet(path)
    }

  def saveIndexes(indexes: DataFrame, root: String,
      publish: Boolean = true): String =
    versionedSave(indexes, root, "indexes", publish) { (df, path) =>
      df
        // typed shadow column: numeric range probes push a native
        // double predicate to the scan (a range over the string
        // key_str cannot push, and parquet min/max stats on key_num
        // skip whole row groups)
        .withColumn("key_num", col("key_str").try_cast("double"))
        .write.mode("overwrite")
        .partitionBy("index_name", "key_type").parquet(path)
    }

  /** All three tables resolved against ONE epoch read — per-table
    * loads each re-read the epoch, so a commit landing between them
    * could pair tables from two different batches. */
  def loadSnapshot(spark: SparkSession, root: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val epoch = currentEpoch(spark, root)
    (read(spark, epoch, root, "nodes"), read(spark, epoch, root, "edges"),
      read(spark, epoch, root, "indexes"))
  }

  /** CONTRACT: a table is visible iff a reader can prove it complete
    * — a _SUCCESS-gated version dir, or a plain layout whose own
    * _SUCCESS marker exists (Spark writes one by default; partitioned
    * plain layouts put it at the table root too). Hand-placed parquet
    * or writes with success markers disabled are treated as ABSENT by
    * design: without a marker a partially-written directory is
    * indistinguishable from a complete one, and accepting it would
    * let StreamingIngest launder a crashed half-write into the next
    * committed epoch as if it were good prior state. Losing sight of
    * unmarked data is recoverable (re-ingest); silently merging a
    * torn prior state is not. The read helper enforces the same
    * contract on the load path. Goes through the path's own Hadoop FileSystem
    * so it answers correctly on any scheme (hdfs://, s3a://). */
  def hasTable(spark: SparkSession, root: String, table: String): Boolean = {
    val dir = new Path(s"$root/$table")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    goodVersions(spark, s"$root/$table").nonEmpty ||
      fs.exists(new Path(dir, "_SUCCESS"))
  }

  def loadNodes(spark: SparkSession, root: String): DataFrame =
    read(spark, currentEpoch(spark, root), root, "nodes")

  def loadEdges(spark: SparkSession, root: String): DataFrame =
    read(spark, currentEpoch(spark, root), root, "edges")

  def loadIndexes(spark: SparkSession, root: String): DataFrame =
    read(spark, currentEpoch(spark, root), root, "indexes")

  /** Point lookup against the stored node partitioning: computes the
    * shard from the key so the scan prunes to one directory. */
  def nodeByKey(spark: SparkSession, root: String, key: String,
      shardBits: Int = 6): DataFrame =
    loadNodes(spark, root)
      .filter(col("shard") === Sharding.shardOfKey(lit(key), shardBits) &&
        col("key_data") === key)

  /** Index probe against the stored layout: partition pruning on
    * (index_name, key_type) + pushed key predicate. */
  def probeStored(spark: SparkSession, root: String, name: String,
      typ: String, key: String): DataFrame =
    loadIndexes(spark, root)
      .filter(col("index_name") === name && col("key_type") === typ &&
        col("key_str") === key)
      .select("node_key")

  /** Numeric range probe `[lo, hi]` against the stored layout: the
    * typed key_num column written by saveIndexes carries the range
    * as a pushed native predicate (+ row-group skipping via parquet
    * stats), on top of the (index_name, key_type) pruning. */
  def probeStoredRange(spark: SparkSession, root: String, name: String,
      typ: String, lo: Double, hi: Double): DataFrame =
    loadIndexes(spark, root)
      .filter(col("index_name") === name && col("key_type") === typ &&
        col("key_num").between(lo, hi))
      .select(col("node_key"), col("key_num").as("key_val"))
}
