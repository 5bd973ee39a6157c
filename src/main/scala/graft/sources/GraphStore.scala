package graft.sources

import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ArraySeq
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.index.Sharding
import graft.util.Memos

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
  * probe reads it through one resolved form per (session, version
  * dir, `_SUCCESS` mtime), kept in a bounded LRU, in one of two
  * regimes:
  *
  *  - *resident*: a version whose file statistics (the relation's
  *    `sizeInBytes`, from its file listing: no job) are within
  *    [[ResidentMaxBytes]] is collected once into a local relation
  *    with the file relation's exact schema (partition columns last,
  *    all nullable). Its entry also keeps key indexes over the held
  *    rows, each built on the first probe that needs it: `key_data`
  *    for nodes, `src_key` for edges, and per (index_name, key_type)
  *    a `key_str` index and the rows in `key_num` order. A point,
  *    index, link or QueryJson read of the held form itself takes
  *    only its matched rows into a local frame and applies its full
  *    predicate there (Catalyst's `ConvertToLocalRelation` folds it
  *    at optimization time), so it collects without a Spark job in
  *    time that follows the matches, not the version. Frames derived
  *    from the form (the expiry filter, `drop`, `select`) filter
  *    every held row instead. The cap is bounded by the held rows'
  *    heap and by the collect a reopen pays per new version.
  *    `spark.sql.autoBroadcastJoinThreshold` can only lower the gate
  *    (−1 turns the regime off): raising it for joins pins nothing
  *    more on the driver;
  *  - *file*: a larger version is a `spark.read.parquet` relation,
  *    whose probes prune partitions and push their key predicates
  *    into the scan.
  *
  * Either form keeps its file listing and schema: no per-call listing
  * or schema-inference job, and a rewritten root (new marker mtime) is
  * read fresh. An entry remembers the file bytes it was gated on, so a
  * changed gate re-picks the regime on the next read. Resident entries
  * are bounded together: past [[ResidentBudgetBytes]] of their file
  * bytes the least recent are evicted (their rows take 10–72× those
  * bytes on the heap). The cached forms are
  * [[graft.util.Memos.markStable]] frames, so adjacency built
  * over a stored edges version is memoized per version. Only marked
  * versions are cached: plain (pre-versioning) layouts are read anew
  * per call, and a table carrying `expires_at_us` hands out a fresh
  * expiry-filtered frame per call over either form (its filter is per
  * execution), so no expiry-bearing frame is ever cached or memoized.
  * Parquet read options that shape a relation (e.g. schema merging)
  * are fixed at a version's first read in a session.
  *
  * A nodes version records its shard width in its name (`…-b<bits>`),
  * so a point lookup prunes to the right directory whatever width its
  * caller assumes.
  */
object GraphStore {

  private val saveSeq = new AtomicLong()

  /** Monotonic, lexicographically sortable version names; `tag`
    * (e.g. a shard width) follows the sequence number. */
  private def nextVersion(tag: String = ""): String =
    f"v${System.currentTimeMillis()}%013d-${saveSeq.incrementAndGet()}%04d$tag"

  private val ShardTag = """-b(\d+)$""".r.unanchored

  /** The shard width a version was saved with; None for versions
    * written before widths were recorded. */
  private def savedShardBits(version: String): Option[Int] = version match {
    case ShardTag(b) => Some(b.toInt)
    case _ => None
  }

  private def goodVersions(spark: SparkSession, dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("v")).sorted.reverse.toSeq
      .filter(v => fs.exists(new Path(dir, s"$v/_SUCCESS")))
  }

  /** A marked version's cached form and the file bytes (the
    * relation's `sizeInBytes`) its regime was chosen on. A resident
    * form also carries key indexes over its held rows, each built on
    * the first probe that needs it and dropped with the entry. */
  private final class Version(val form: DataFrame, val fileBytes: BigInt,
      val resident: Boolean) {
    private lazy val held: LocalRelation = form.queryExecution.analyzed match {
      case r: LocalRelation => r
    }
    private def ordinal(column: String, typ: DataType): Option[Int] =
      Some(held.output.indexWhere(_.name == column))
        .filter(i => i >= 0 && held.output(i).dataType == typ)

    // one string-keyed index per key column probed: key_data for
    // nodes, src_key for edges; guarded by this entry's monitor
    private val keyed = mutable.HashMap.empty[String, Option[Keyed]]

    /** The held rows whose `column` is one of `keys`, or None when the
      * column is not a string column of this version. */
    def withKeys(column: String, keys: Iterable[String]): Option[DataFrame] =
      synchronized(keyed.getOrElseUpdate(column,
        ordinal(column, StringType).map(i => byString(held.data, i))))
        .map(ix => local(keys.toSeq.distinct.flatMap(k =>
          ix.getOrElse(UTF8String.fromString(k), NoRows))))

    // the indexes table's (index_name, key_type) directories, for
    // versions that carry them and the typed key_num column
    private lazy val groups: Option[Map[(UTF8String, UTF8String), IndexGroup]] =
      for {
        n <- ordinal("index_name", StringType)
        t <- ordinal("key_type", StringType)
        s <- ordinal("key_str", StringType)
        k <- ordinal("key_num", DoubleType)
      } yield held.data.filterNot(r => r.isNullAt(n) || r.isNullAt(t))
        .groupBy(r => (r.getUTF8String(n), r.getUTF8String(t)))
        .map { case (g, rs) => g -> new IndexGroup(rs.toArray, s, k) }

    /** The held rows each probe can match, or None when this version
      * is not an indexes table. */
    def withProbes(probes: Seq[IndexProbe]): Option[DataFrame] =
      groups.map(gs => local(probes.flatMap { p =>
        gs.get((UTF8String.fromString(p.name), UTF8String.fromString(p.typ)))
          .fold(NoRows: Seq[InternalRow]) { g => p match {
            case KeyProbe(_, _, key) => g.byStr.getOrElse(UTF8String.fromString(key), NoRows)
            case RangeProbe(_, _, lo, hi) => g.range(lo, hi)
          } }
      }))

    private def local(rows: Seq[InternalRow]): DataFrame =
      PlanBridge.ofRows(form.sparkSession, held.copy(data = rows))
  }

  private type Keyed = Map[UTF8String, IndexedSeq[InternalRow]]
  private val NoRows = IndexedSeq.empty[InternalRow]

  /** Rows grouped by a non-null string column. */
  private def byString(rows: Seq[InternalRow], i: Int): Keyed =
    rows.filterNot(_.isNullAt(i)).groupBy(_.getUTF8String(i))
      .map { case (k, rs) => k -> rs.toIndexedSeq }

  /** Spark's order on doubles: -0.0 equals 0.0, NaN equals NaN and
    * sorts above +Infinity, so a key_num range probe finds exactly the
    * rows `between` keeps. */
  private val sqlDoubles: Ordering[Double] = SQLOrderingUtil.compareDoubles(_, _)

  /** One (index_name, key_type) directory's held rows: a key_str index
    * for exact probes and the rows in key_num order for ranges, each
    * built on first use. */
  private final class IndexGroup(rows: Array[InternalRow], str: Int, num: Int) {
    lazy val byStr: Keyed = byString(rows.toSeq, str)
    private lazy val byNum: Array[InternalRow] =
      rows.filterNot(_.isNullAt(num)).sortBy(_.getDouble(num))(sqlDoubles)
    private lazy val nums: Array[Double] = byNum.map(_.getDouble(num))

    /** The rows with `lo <= key_num <= hi`, in key_num order. */
    def range(lo: Double, hi: Double): Seq[InternalRow] = {
      // the first position whose key is not below x (above x, if strict)
      def bound(x: Double, strict: Boolean): Int = {
        var (a, b) = (0, nums.length)
        while (a < b) {
          val m = (a + b) >>> 1
          val c = sqlDoubles.compare(nums(m), x)
          if (c < 0 || (strict && c == 0)) a = m + 1 else b = m
        }
        a
      }
      val (from, until) = (bound(lo, strict = false), bound(hi, strict = true))
      if (from < until) ArraySeq.unsafeWrapArray(byNum).slice(from, until) else NoRows
    }
  }

  /** An index probe the held indexes can answer: an exact key_str, or
    * an inclusive key_num range. */
  private[graft] sealed trait IndexProbe { def name: String; def typ: String }
  private[graft] final case class KeyProbe(name: String, typ: String, key: String)
      extends IndexProbe
  private[graft] final case class RangeProbe(name: String, typ: String, lo: Double,
      hi: Double) extends IndexProbe

  /** The held resident version whose cached form is `df` itself. */
  private def heldVersion(df: DataFrame): Option[Version] =
    versions.find(v => v.resident && (v.form eq df))

  /** The rows of `df` whose string `column` is one of `keys`, when
    * `df` is a held resident form: a local frame of only those rows,
    * from the version's key index. None for any other frame (a file
    * relation, an expiry-filtered or derived frame, a table-built
    * one), which its caller filters as is. `keys` is evaluated only
    * for a held form. Callers apply their full predicate either way. */
  private[graft] def withKeys(df: DataFrame, column: String,
      keys: => Iterable[String]): Option[DataFrame] =
    heldVersion(df).flatMap(_.withKeys(column, keys))

  /** The rows of a held resident indexes form that the probes can
    * match (every row of each probe's directory with its exact key, or
    * its key_num in range); None for any other frame, as [[withKeys]]. */
  private[graft] def withProbes(df: DataFrame,
      probes: Seq[IndexProbe]): Option[DataFrame] =
    heldVersion(df).flatMap(_.withProbes(probes))

  /** The largest version, in data-file bytes, held on the driver. Its
    * value is the crossover where a resident read that filtered every
    * held row lost to a pruned file scan (OPTIMIZATION_r14.md §6).
    * Indexed reads no longer grow with the version, so what bounds
    * the cap is the heap the held rows take (10–72× their file bytes)
    * and the collect each reopen pays for a new version; no benchmark
    * with a store past the cap has measured that trade yet. */
  private[graft] val ResidentMaxBytes: Long = 192L << 10

  /** The summed data-file bytes of the resident versions the cache
    * holds: least recent resident versions are evicted past it. Held
    * rows measured 10–72× their file bytes on the heap (nodes lowest,
    * edges highest), so this bounds the cache's resident rows to
    * ~110 MB. */
  private[graft] val ResidentBudgetBytes: Long = 8 * ResidentMaxBytes

  // bounded so a service reading many stores cannot pin relations
  // (and their SparkSessions) without limit, and weighted so resident
  // rows stay within ResidentBudgetBytes of files; eviction drops
  // only the reference. One entry per (session, version dir, marker
  // mtime), whichever its regime.
  private val versions =
    new Memos.Memo[(SparkSession, String, Long), Version](32, derived = false,
      maxWeight = ResidentBudgetBytes,
      weight = v => if (v.resident) v.fileBytes.toLong else 0L)

  /** The resident gate in data-file bytes: ResidentMaxBytes, or a
    * lower `spark.sql.autoBroadcastJoinThreshold`; a negative
    * threshold turns the regime off (-1). */
  private def residentLimit(spark: SparkSession): Long = {
    val t = spark.sessionState.conf.autoBroadcastJoinThreshold
    if (t < 0) -1L else math.min(t, ResidentMaxBytes)
  }

  /** A marked version's cached form: its file relation, or, when its
    * file statistics are within [[residentLimit]], its rows as a
    * local relation. A cached form whose regime the limit no longer
    * picks is rebuilt, from its file relation and bytes. Builds (a
    * schema-inference job, or one eager collect) run once per key: a
    * server's reader and writer threads both resolve versions. */
  private def cached(spark: SparkSession, at: String, mtime: Long): DataFrame = {
    val limit = residentLimit(spark)
    versions((spark, at, mtime), v => v.resident == (v.fileBytes <= limit)) { held =>
      val file = held.filterNot(_.resident).map(_.form).getOrElse(
        Memos.markStable(spark.read.parquet(at)))
      val bytes = held.fold(file.queryExecution.optimizedPlan.stats.sizeInBytes)(
        _.fileBytes)
      if (bytes > limit) new Version(file, bytes, resident = false)
      else new Version(Memos.markStable(
        spark.createDataFrame(file.collect().toSeq.asJava, file.schema)),
        bytes, resident = true)
    }.form
  }

  /** THE read helper: the epoch-pinned version if the given epoch
    * names this table (one marker stat, no listing of the retained
    * versions), else the newest complete version dir — either one
    * through its cached form — else the plain dir itself, read
    * anew, for layouts written before versioning; all under the
    * per-execution expiry filter. Returns the version read too (None
    * for a plain layout). */
  private def resolve(spark: SparkSession, epoch: Map[String, String],
      root: String, table: String): (Option[String], DataFrame) = {
    val dir = s"$root/$table"
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def marked(v: String): Option[(Option[String], DataFrame)] =
      (try Some(fs.getFileStatus(new Path(dir, s"$v/_SUCCESS")).getModificationTime)
      catch { case _: java.io.FileNotFoundException => None })
        .map(m => (Some(v), cached(spark, s"$dir/$v", m)))
    val (v, df) = epoch.get(table).flatMap(marked)
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
        (None, spark.read.parquet(dir))
      }
    (v, notExpired(df))
  }

  private def read(spark: SparkSession, epoch: Map[String, String],
      root: String, table: String): DataFrame =
    resolve(spark, epoch, root, table)._2

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
      publish: Boolean, tag: String = "")(write: (DataFrame, String) => Unit): String = {
    val v = nextVersion(tag)
    write(df, s"$root/$table/$v")
    val spark = df.sparkSession
    if (publish && currentEpoch(spark, root).contains(table))
      commitEpoch(spark, root, Map(table -> v))
    pruneOld(spark, root, table)
    v
  }

  def saveNodes(nodes: DataFrame, root: String, shardBits: Int = 6,
      publish: Boolean = true): String =
    versionedSave(nodes, root, "nodes", publish, s"-b$shardBits") { (df, path) =>
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
    * shard from the key so a file-regime scan prunes to one
    * directory, and a resident version filters only the key's rows
    * from its key index. The shard width is the one the version was
    * saved with; `shardBits` applies only to versions that predate
    * recorded widths (and plain layouts). */
  def nodeByKey(spark: SparkSession, root: String, key: String,
      shardBits: Int = 6): DataFrame = {
    val (v, nodes) = resolve(spark, currentEpoch(spark, root), root, "nodes")
    val bits = v.flatMap(savedShardBits).getOrElse(shardBits)
    withKeys(nodes, "key_data", Seq(key)).getOrElse(nodes)
      .filter(col("shard") === Sharding.shardOfKey(lit(key), bits) &&
        col("key_data") === key)
  }

  /** Index probe against the stored layout: a resident version
    * filters the key's rows from its key index; a file version prunes
    * partitions on (index_name, key_type) and pushes the key
    * predicate. */
  def probeStored(spark: SparkSession, root: String, name: String,
      typ: String, key: String): DataFrame = {
    val indexes = loadIndexes(spark, root)
    withProbes(indexes, Seq(KeyProbe(name, typ, key))).getOrElse(indexes)
      .filter(col("index_name") === name && col("key_type") === typ &&
        col("key_str") === key)
      .select("node_key")
  }

  /** Numeric range probe `[lo, hi]` against the stored layout: the
    * typed key_num column written by saveIndexes is a native double
    * predicate; on a file version it pushes to the scan (+ row-group
    * skipping via parquet stats), on top of the (index_name,
    * key_type) pruning; a resident version filters only the range's
    * rows from its key_num order. */
  def probeStoredRange(spark: SparkSession, root: String, name: String,
      typ: String, lo: Double, hi: Double): DataFrame = {
    val indexes = loadIndexes(spark, root)
    withProbes(indexes, Seq(RangeProbe(name, typ, lo, hi))).getOrElse(indexes)
      .filter(col("index_name") === name && col("key_type") === typ &&
        col("key_num").between(lo, hi))
      .select(col("node_key"), col("key_num").as("key_val"))
  }
}
