package graft.streaming

import graft.Ckpt.CutOps
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.syncer.{SsTablePath, Target}

/** The long-running watch daemon — the reference's `main()` loop
  * (`/root/reference/bin/cassandra-syncer:258-276`: initial backup,
  * then `watcher.watch()` forever) re-expressed as a Structured
  * Streaming job over a LIVE directory:
  *
  *   - the file source discovers new files each micro-batch (the
  *     inotify replacement — no kernel callback, just incremental
  *     listing with checkpointed progress);
  *   - the first micro-batch over a fresh checkpoint processes every
  *     pre-existing file, so "initial full backup, then incremental"
  *     falls out of exactly-once source semantics instead of being
  *     two code paths (`Uploader.isAFullBackupNeeded`);
  *   - temp files are dropped in-stream (`Watcher.isTempFile`);
  *   - each batch copies its files to the target distributedly and
  *     appends a per-batch manifest (`Uploader._writeManifest`);
  *   - a file that vanishes between discovery and copy is recorded as
  *     skipped, not failed (the reference's ENOENT tolerance);
  *   - a restart resumes from the checkpoint: already-uploaded files
  *     are never re-read.
  *
  * Scale shape: the stream carries ONLY file metadata (path, length —
  * binaryFile content is pruned away, see the spec's ReadSchema
  * assertion); the copy runs inside `mapPartitions` on executors, so
  * a 1000-executor cluster moves 1000 files at a time while the
  * driver tracks nothing but source offsets.
  */
object WatchService {

  /** Metadata-only arrival stream over a live directory tree.
    *
    * A year-long daemon must bound both sides of the file-source
    * bookkeeping, or the checkpoint's seen-files log and each
    * micro-batch's directory listing grow without limit:
    *
    *   - `maxFileAge` caps the seen-files map: files older than the
    *     age are assumed already processed and aged out of the log
    *     (Spark's file-source default is 7 days; SSTables are
    *     immutable-once-written, so any age comfortably above the
    *     compaction cadence is safe).
    *   - `cleanSource=archive|delete` (with `sourceArchiveDir`)
    *     removes processed files from the listing itself — the option
    *     for setups where the watch dir is a staging area rather than
    *     the live Cassandra data dir (never `delete` on a live dir).
    *
    * Extra entries in `options` pass straight through (e.g.
    * `maxFilesPerTrigger` to bound batch size after a long outage).
    */
  def arrivalStream(spark: SparkSession, dataDir: String,
      options: Map[String, String] = Map.empty): DataFrame =
    spark.readStream.format("binaryFile")
      // binaryFile's schema is fixed; streaming sources require it
      // stated up front (no inference against a live directory)
      .schema("path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY")
      .option("pathGlobFilter", "*-Data.db")
      .option("recursiveFileLookup", "true")
      .options(options)
      .load(dataDir)
      .select(col("path"), col("length"), col("modificationTime"))

  /** `Watcher.isTempFile` as a stream filter. */
  def durableArrivals(stream: DataFrame): DataFrame =
    stream.filter(!SsTablePath.isTemp(col("path")))

  /** The object key of `abs`: its path below the first watch root that
    * contains it (roots absolute, without a trailing slash).
    */
  private def relativeKey(rootsAbs: Seq[String], abs: String): String =
    rootsAbs.collectFirst {
      case r if abs.startsWith(r + "/") => abs.stripPrefix(r + "/")
    }.getOrElse(abs.stripPrefix("/"))

  /** Stream `src` once in 64 KiB reads: copied to `copyTo` when given
    * (overwritten), MD5-hashed when `hash`. Returns the hex digest, or
    * null without `hash`. Both streams close in `finally`; open and
    * read errors (`FileNotFoundException`, `ChecksumException`) reach
    * the caller, which owns the verdict.
    */
  private def streamFile(conf: Configuration, src: Path, copyTo: Option[Path],
      hash: Boolean): String = {
    val md = if (hash) Some(java.security.MessageDigest.getInstance("MD5")) else None
    val in = src.getFileSystem(conf).open(src)
    try {
      val out = copyTo.map(d => d.getFileSystem(conf).create(d, true))
      try {
        val buf = new Array[Byte](64 * 1024)
        var n = in.read(buf)
        while (n >= 0) {
          md.foreach(_.update(buf, 0, n)); out.foreach(_.write(buf, 0, n))
          n = in.read(buf)
        }
      } finally out.foreach(_.close())
    } finally in.close()
    md.map(_.digest().map("%02x".format(_)).mkString).orNull
  }

  /** One micro-batch of the upload loop: copy every discovered file
    * to `<objects>/<path relative to its watch root>` on executors,
    * then append the per-batch manifest. Returns the manifest rows.
    * Multiple roots mirror the reference's repeatable `--path`
    * (`bin/cassandra-syncer:195-201` iterates the path list); object
    * keys are relative to the root that matched, so roots must have
    * disjoint relative namespaces (Cassandra keyspace directories do).
    */
  def uploadBatch(batch: DataFrame, dataDirs: Seq[String], target: Target,
      batchId: Long): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val rootsAbs = dataDirs.map(d => new Path(d).toUri.getPath.stripSuffix("/"))
    val objectsPath = target.objectsPath
    val copied = batch.select(col("path"), col("length")).as[(String, Long)]
      .mapPartitions { it =>
        // Configuration is not serializable; rebuild per task like
        // any Hadoop-backed scan does
        val conf = new Configuration()
        it.map { case (src, len) =>
          val srcPath = new Path(src)
          val rel = relativeKey(rootsAbs, srcPath.toUri.getPath)
          try {
            // hash WHILE copying — the bytes are streaming through
            // anyway, so the content digest the manifest needs for
            // post-upload fsck costs no extra read
            val hex = streamFile(conf, srcPath, Some(new Path(objectsPath, rel)), hash = true)
            (rel, len, "uploaded", hex)
          } catch {
            // the reference skips files that vanish between listing
            // and upload (compaction deleted them) instead of failing
            // the whole pass
            case _: java.io.FileNotFoundException =>
              (rel, len, "skipped_vanished", null: String)
          }
        }
      }
      .toDF("path", "size_bytes", "status", "md5")
      .withColumn("batch_id", lit(batchId))
    // the copy is a side effect inside mapPartitions: an eager
    // localCheckpoint is the run-once fence — partitions materialize
    // on executors with lineage cut, the manifest write and returned
    // rows read the frozen blocks, and no driver collect means a
    // pathological first batch (bootstrap against a full keyspace)
    // can't blow the driver heap.
    val results = copied.cutLineage(true)
    results.write.mode("append").json(target.watchManifestsPath)
    results
  }

  /** Start the watch daemon. `Trigger.AvailableNow` gives a bounded
    * "catch up then stop" run (used by tests and `--once`);
    * `Trigger.ProcessingTime` is the always-on daemon. The checkpoint
    * makes restarts incremental.
    */
  def start(spark: SparkSession, dataDir: String, targetUrl: String,
      trigger: Trigger, checkpoint: Option[String] = None,
      sourceOptions: Map[String, String] = Map.empty): StreamingQuery =
    startAll(spark, Seq(dataDir), targetUrl, trigger, checkpoint, sourceOptions)

  /** Watch SEVERAL roots with one daemon — the reference accepts a
    * repeatable `--path` and iterates the list
    * (`bin/cassandra-syncer:195-201`); here the per-root arrival
    * streams union into one stream, so a single checkpoint covers all
    * roots and each micro-batch may carry files from any of them.
    */
  def startAll(spark: SparkSession, dataDirs: Seq[String], targetUrl: String,
      trigger: Trigger, checkpoint: Option[String] = None,
      sourceOptions: Map[String, String] = Map.empty): StreamingQuery =
    launch(spark, dataDirs, targetUrl, trigger, checkpoint, sourceOptions)(
      uploadBatch(_, dataDirs, _, _))

  /** The watch stream behind every daemon: the per-root arrival
    * streams unioned, temp files dropped, checkpointed under the
    * target unless `checkpoint` says otherwise, and `body` run on each
    * micro-batch.
    */
  private def launch(spark: SparkSession, dataDirs: Seq[String], targetUrl: String,
      trigger: Trigger, checkpoint: Option[String],
      sourceOptions: Map[String, String])(
      body: (DataFrame, Target, Long) => Unit): StreamingQuery = {
    require(dataDirs.nonEmpty, "at least one watch root required")
    val target = Target.parse(targetUrl)
    val arrivals = dataDirs.map(d => arrivalStream(spark, d, sourceOptions))
      .reduce(_ unionByName _)
    durableArrivals(arrivals)
      .writeStream
      .option("checkpointLocation",
        checkpoint.getOrElse(target.watchCheckpointPath))
      .trigger(trigger)
      .foreachBatch((b: DataFrame, id: Long) => body(b, target, id))
      .start()
  }

  /** A bounded pass: the daemon started under AvailableNow, awaited,
    * then stopped.
    */
  private def runBounded(start: Trigger => StreamingQuery): Unit = {
    val q = start(Trigger.AvailableNow())
    try q.awaitTermination() finally q.stop()
  }

  /** One bounded pass: process everything not yet uploaded, then
    * return. Calling it again after new files arrive uploads only the
    * new files (checkpointed offsets).
    */
  def runOnce(spark: SparkSession, dataDir: String, targetUrl: String,
      checkpoint: Option[String] = None): Unit =
    runOnceAll(spark, Seq(dataDir), targetUrl, checkpoint)

  /** Bounded multi-root pass ([[startAll]] under AvailableNow). */
  def runOnceAll(spark: SparkSession, dataDirs: Seq[String], targetUrl: String,
      checkpoint: Option[String] = None): Unit =
    runBounded(startAll(spark, dataDirs, targetUrl, _, checkpoint))

  /** Read back the cumulative watch manifest (all batches). */
  def manifest(spark: SparkSession, targetUrl: String): DataFrame =
    spark.read
      .schema("path STRING, size_bytes BIGINT, status STRING, md5 STRING, batch_id BIGINT")
      .json(Target.parse(targetUrl).watchManifestsPath)

  /** Post-upload integrity verification — the reference README
    * declares an `fsck` utility and otherwise delegates byte
    * integrity to the object client's etag; here the manifest's
    * copy-time md5 ([[uploadBatch]]) is re-derived from the stored
    * objects and compared, so a truncated or bit-flipped object is
    * caught BEFORE a restore needs it. Fully distributed: the
    * manifest is metadata, the re-hash runs in `mapPartitions` on
    * executors, and the verdict is a join on the path key. Per path
    * the LATEST batch's digest wins (a re-uploaded file must be
    * checked against its newest bytes).
    */
  def fsckVerify(spark: SparkSession, targetUrl: String): DataFrame = {
    val objectsPath = Target.parse(targetUrl).objectsPath
    import org.apache.spark.sql.expressions.Window
    val spark2 = spark; import spark2.implicits._
    val latest = Window.partitionBy(col("path")).orderBy(col("batch_id").desc)
    val stored = manifest(spark, targetUrl)
      .filter(col("status") === "uploaded")
      .withColumn("rn", row_number().over(latest))
      .filter(col("rn") === 1)
      .select(col("path"), col("size_bytes"), col("md5").as("stored_md5"))
    val actual = stored.select(col("path")).as[String]
      .mapPartitions { it =>
        val conf = new Configuration()
        it.map { rel =>
          try (rel, streamFile(conf, new Path(objectsPath, rel), None, hash = true))
          catch {
            case _: java.io.FileNotFoundException => (rel, null: String)
            // the filesystem's own transport checksum already proves
            // the bytes changed; the sentinel never matches an md5
            // hex, so the verdict below lands on "corrupt"
            case _: org.apache.hadoop.fs.ChecksumException =>
              (rel, "transport-checksum-mismatch")
          }
        }
      }.toDF("path", "actual_md5")
    stored.join(actual, Seq("path"))
      .withColumn("fsck_status",
        when(col("actual_md5").isNull, "missing")
          .when(col("actual_md5") === col("stored_md5"), "ok")
          .otherwise("corrupt"))
  }

  /** Prune half of the reference's composed `fsck --older-than N`
    * utility (`README:28` — verify integrity, then drop what the
    * backup set no longer needs): storage objects the watch manifest
    * does not reference as uploaded (orphaned partials, stray files)
    * whose mtime is older than `asOfMs − olderThanDays`. The verify
    * half is [[fsckVerify]]; GraftCli's `fsck` verb composes the two
    * and optionally deletes the plan. Listing is metadata-scale
    * ([[graft.syncer.FsInventory.listFiles]] walks subtrees on
    * executors — no complete file list on the driver); the manifest
    * reference set joins on the relative path key.
    */
  def fsckPrunePlan(spark: SparkSession, targetUrl: String,
      olderThanDays: Int, asOfMs: Long): DataFrame = {
    val objectsPath = Target.parse(targetUrl).objectsPath
    val cutoffMs = asOfMs - olderThanDays.toLong * 86400000L
    val prefix = new Path(objectsPath).toUri.getPath.stripSuffix("/") + "/"
    val referenced = manifest(spark, targetUrl)
      .filter(col("status") === "uploaded")
      .select(col("path")).distinct()
    graft.syncer.FsInventory.listFiles(spark, objectsPath)
      .select(expr(s"substring(path, ${prefix.length + 1})").as("path"),
        col("size_bytes"), col("mtime_ms"))
      .filter(col("mtime_ms") < cutoffMs)
      .join(referenced, Seq("path"), "left_anti")
      .orderBy(col("path"))
  }

  /** Execute a [[fsckPrunePlan]]: delete each planned object on
    * executors (the plan is never collected — an orphan sweep after a
    * long outage can be file-count scale). Returns the deleted count.
    */
  def fsckPruneApply(spark: SparkSession, targetUrl: String,
      plan: DataFrame): Long = {
    val objectsPath = Target.parse(targetUrl).objectsPath
    val spark2 = spark; import spark2.implicits._
    plan.select(col("path")).as[String]
      .mapPartitions { it =>
        val conf = new org.apache.hadoop.conf.Configuration()
        it.map { rel =>
          val p = new Path(objectsPath, rel)
          if (p.getFileSystem(conf).delete(p, false)) 1L else 0L
        }
      }
      .toDF("deleted")
      .agg(coalesce(sum(col("deleted")), lit(0L)))
      .first().getLong(0)
  }

  // ---- dedup-gated watch (the watch loop composed with the
  // LLM-pipeline dedup gate) ----

  /** One dedup-gated micro-batch: every discovered file is
    * content-hashed on executors, probed against the PERSISTED digest
    * index (the `stream_dedup_incremental` shape — storage-resident,
    * so the accepted set outgrows any state store safely), and only
    * first-seen content is copied into the object store; a duplicate
    * lands as a manifest verdict naming its keeper, its bytes never
    * leave the watch root. This is the end-to-end "files land →
    * dedup-gated accept → manifest" pipeline: the reference's watch
    * loop with an ingest gate in front of the upload.
    *
    * Idempotent-retry protocol (same as the incremental dedup
    * stream): the verdict manifest and the index append are
    * batch-scoped `bid_<batchId>` overwrite subdirs, and the index
    * probe excludes the current batch's own subdir, so a retried
    * micro-batch replaces its output and recomputes identical
    * verdicts. Within a batch the keeper is the digest group's min
    * path (deterministic, arrival-order-free); across batches the
    * index keeper wins.
    */
  def dedupGatedBatch(batch: DataFrame, dataDirs: Seq[String], target: Target,
      batchId: Long): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val rootsAbs = dataDirs.map(d => new Path(d).toUri.getPath.stripSuffix("/"))
    // 1. content digest per arrival — hash-only executor pass (the
    // gate must see the digest BEFORE deciding whether to copy)
    val hashed = batch.select(col("path"), col("length")).as[(String, Long)]
      .mapPartitions { it =>
        val conf = new Configuration()
        it.map { case (src, len) =>
          val srcPath = new Path(src)
          val rel = relativeKey(rootsAbs, srcPath.toUri.getPath)
          try (src, rel, len, streamFile(conf, srcPath, None, hash = true))
          catch {
            // ENOENT tolerance: vanished between listing and hashing
            case _: java.io.FileNotFoundException => (src, rel, len, null: String)
          }
        }
      }.toDF("src", "path", "size_bytes", "digest")
    // 2. probe the persisted index, excluding this batch's own subdir
    val hconf = spark.sessionState.newHadoopConf()
    val idxRoot = new Path(target.dedupIndexPath)
    val idxFs = idxRoot.getFileSystem(hconf)
    val idxDirs =
      if (idxFs.exists(idxRoot))
        idxFs.listStatus(idxRoot).filter(_.isDirectory)
          .map(_.getPath.toString).filterNot(_.endsWith(s"/bid_$batchId")).toSeq
      else Seq.empty[String]
    val known =
      if (idxDirs.isEmpty)
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType.fromDDL(
            "digest STRING, idx_keeper STRING"))
      else spark.read.parquet(idxDirs: _*).toDF("digest", "idx_keeper")
    // 3. the gate: index keeper wins; among new digests the batch
    // keeper is the group's min path
    val probed = hashed.join(known, Seq("digest"), "left_outer")
    val batchKeepers = probed
      .filter(col("idx_keeper").isNull && col("digest").isNotNull)
      .groupBy(col("digest")).agg(min(col("path")).as("batch_keeper"))
    // run-once fence before the side-effecting copy + two writes below
    val verdicts = probed.join(batchKeepers, Seq("digest"), "left_outer")
      .select(col("src"), col("path"), col("size_bytes"), col("digest"),
        when(col("digest").isNull, lit("skipped_vanished"))
          .when(col("idx_keeper").isNotNull, lit("duplicate"))
          .when(col("path") === col("batch_keeper"), lit("accepted"))
          .otherwise(lit("duplicate")).as("verdict"),
        when(col("digest").isNull, lit(null).cast("string"))
          .when(col("idx_keeper").isNotNull, col("idx_keeper"))
          .when(col("path") === col("batch_keeper"), lit(null).cast("string"))
          .otherwise(col("batch_keeper")).as("keeper_path"))
      .cutLineage(eager = true)
    // 4. copy ONLY accepted files (overwrite target: a retried batch's
    // re-copy is byte-idempotent)
    val objectsPath = target.objectsPath
    verdicts.filter(col("verdict") === "accepted")
      .select(col("src"), col("path")).as[(String, String)]
      .foreachPartition { (it: Iterator[(String, String)]) =>
        val conf = new Configuration()
        it.foreach { case (src, rel) =>
          try streamFile(conf, new Path(src), Some(new Path(objectsPath, rel)), hash = false)
          catch { case _: java.io.FileNotFoundException => () }
        }
      }
    // 5. verdict manifest + accepted digests into the index
    verdicts.select(col("path"), col("size_bytes"), col("digest"),
        col("verdict"), col("keeper_path"), lit(batchId).as("batch_id"))
      .write.mode("overwrite").parquet(s"${target.dedupManifestsPath}/bid_$batchId")
    verdicts.filter(col("verdict") === "accepted")
      .select(col("digest"), col("path").as("keeper_path"))
      .write.mode("overwrite").parquet(s"${target.dedupIndexPath}/bid_$batchId")
  }

  /** Start the dedup-gated watch daemon ([[startAll]] with
    * [[dedupGatedBatch]] as the per-batch body).
    */
  def startDedupGated(spark: SparkSession, dataDirs: Seq[String],
      targetUrl: String, trigger: Trigger, checkpoint: Option[String] = None,
      sourceOptions: Map[String, String] = Map.empty): StreamingQuery =
    launch(spark, dataDirs, targetUrl, trigger, checkpoint, sourceOptions)(
      dedupGatedBatch(_, dataDirs, _, _))

  /** Bounded dedup-gated pass (AvailableNow; checkpointed resume). */
  def runOnceDedupGated(spark: SparkSession, dataDirs: Seq[String],
      targetUrl: String, checkpoint: Option[String] = None,
      sourceOptions: Map[String, String] = Map.empty): Unit =
    runBounded(startDedupGated(spark, dataDirs, targetUrl, _, checkpoint, sourceOptions))

  /** Cumulative dedup-gate verdict manifest (all batches). */
  def dedupManifest(spark: SparkSession, targetUrl: String): DataFrame =
    spark.read
      .schema("path STRING, size_bytes BIGINT, digest STRING, " +
        "verdict STRING, keeper_path STRING, batch_id BIGINT")
      .option("recursiveFileLookup", "true")
      .parquet(Target.parse(targetUrl).dedupManifestsPath)

  // ---- oracle surface ----

  private val watched = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** §2 beyond-survey oracle surface: run the daemon once (bounded)
    * over the real fs_inventory fixture tree, then emit the uploaded
    * set parsed back to the inventory relation — must equal the
    * durable model inventory the oracle recomputes from `events`.
    * The watch run is memoized per corpus per JVM (it is the fixture
    * side; the measured query is the manifest read-back + parse).
    */
  /** The memoized watch-run fixture target (shared by the watch and
    * fsck oracle surfaces — one daemon pass per corpus per JVM).
    */
  def watchOracleTarget(spark: SparkSession, dir: String): String =
    oracleRun(spark, dir, "graft_watch_oracle_")(runOnce(spark, _, _))

  /** One bounded `pass` (fixture tree, target url) of the shared
    * fixture tree, memoized per corpus per JVM. The target is a
    * per-process root (no cross-JVM clobbering, no hashCode
    * collisions), removed at exit.
    */
  private def oracleRun(spark: SparkSession, dir: String, prefix: String)(
      pass: (String, String) => Unit): String =
    watched.computeIfAbsent(prefix + dir, _ => {
      val url = "directory://" +
        graft.TmpDirs.cleanupOnExit(java.nio.file.Files.createTempDirectory(prefix))
      pass(graft.syncer.FsInventory.oracleTree(spark, dir), url)
      url
    })

  def watchServiceQuery(spark: SparkSession, dir: String): DataFrame = {
    val targetUrl = watchOracleTarget(spark, dir)
    manifest(spark, targetUrl)
      .filter(col("status") === "uploaded")
      .select(col("path") +: SsTablePath.parse(col("path")) :+ col("size_bytes"): _*)
      .drop("is_temp")
      .orderBy(col("generation"))
  }

  /** Memoized dedup-gated watch run over the shared fixture tree —
    * one bounded pass per corpus per JVM (its own target + checkpoint,
    * independent of the plain watch fixture).
    */
  def watchDedupTarget(spark: SparkSession, dir: String): String =
    oracleRun(spark, dir, "graft_watch_dedup_")(
      (tree, url) => runOnceDedupGated(spark, Seq(tree), url))

  /** §2.1#307 `sync_watch_dedup` — the end-to-end composed pipeline:
    * the watch daemon's bounded pass with the dedup gate in front of
    * the upload, read back as per-file verdicts. The fixture tree's
    * files are `size_bytes` zero bytes, so content digest ≡
    * f(size_bytes) and the oracle can recompute every verdict in SQL:
    * per size group the min path is the accepted keeper, every other
    * file is a duplicate naming it (the bounded pass is ONE
    * micro-batch, so the batch keeper rule IS the global rule; the
    * multi-batch index path is spec-covered with controlled drops).
    */
  def watchDedupQuery(spark: SparkSession, dir: String): DataFrame = {
    val targetUrl = watchDedupTarget(spark, dir)
    dedupManifest(spark, targetUrl)
      .select(
        col("path"),
        SsTablePath.cf(col("path")).as("cf"),
        SsTablePath.generation(col("path")).as("generation"),
        col("size_bytes"), col("verdict"), col("keeper_path"))
      .orderBy(col("path"))
  }

  /** §2.1 `sync_fsck_verify` oracle surface: run [[fsckVerify]] over
    * the memoized watch-run fixture — every stored object must verify
    * `ok`, and both digests must equal the md5 the oracle recomputes
    * from the fixture's known file contents (size_bytes zero bytes),
    * so the digest PLUMBING (hash-while-copy, manifest round-trip,
    * distributed re-hash) is value-checked, not just shape-checked.
    */
  def fsckQuery(spark: SparkSession, dir: String): DataFrame = {
    val targetUrl = watchOracleTarget(spark, dir)
    fsckVerify(spark, targetUrl)
      .select(col("path"), col("size_bytes"), col("stored_md5"),
        col("actual_md5"), col("fsck_status"))
      .orderBy(col("path"))
  }
}
