package graft.syncer

import graft.Ckpt.CutOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end backup/restore pipeline over real storage — the full
  * reference workflow (`bin/cassandra-syncer` +
  * `bin/cassandra-syncer-restore`) as Spark jobs:
  *
  *   - [[Target.parse]] accepts the reference's CLI target URLs
  *     (`directory:///mnt/vol`, `objectstore://bucket`);
  *   - [[BackupPipeline.backup]] materializes the durable inventory
  *     into `<target>/objects/` (parquet, partitioned by cf) and one
  *     manifest per snapshot day into `<target>/manifests/`
  *     (JSON, date-partitioned) — the analogue of
  *     `Uploader._writeManifest`'s timestamped `<now>.json`;
  *   - [[BackupPipeline.restoreSet]] picks the newest manifest at or
  *     before the requested time and returns exactly its file set —
  *     `Restore.restore`'s minimal-set semantics;
  *   - [[BackupPipeline.prunePlan]] lists objects older than a cutoff
  *     that the newest manifest no longer references (`fsck
  *     --older-than`).
  *
  * Scale note: manifests here are backfilled for every historical day
  * in one pass (bounded lineages × days as-of grid). A production
  * deployment appends one manifest per snapshot instead; the restore
  * and prune paths are identical either way.
  */
sealed trait Target {
  def objectsPath: String
  def manifestsPath: String
  /** Per-batch manifests appended by the watch daemon. */
  final def watchManifestsPath: String =
    objectsPath.stripSuffix("/objects") + "/watch_manifests"
  /** Streaming checkpoint for the watch daemon (restart = resume). */
  final def watchCheckpointPath: String =
    objectsPath.stripSuffix("/objects") + "/checkpoints/watch"
  /** Per-file restore progress ledger (the reference's
    * `restoremanifest.json`, `bin/cassandra-syncer-restore:28`, made
    * durable and incremental).
    */
  final def restoreLedgerPath: String =
    objectsPath.stripSuffix("/objects") + "/restore_ledger"
  /** Persisted content-digest index for the dedup-gated watch daemon
    * (batch-scoped `bid_*` subdirs — the idempotent-retry layout).
    */
  final def dedupIndexPath: String =
    objectsPath.stripSuffix("/objects") + "/dedup_index"
  /** Per-batch verdict manifests of the dedup-gated watch daemon. */
  final def dedupManifestsPath: String =
    objectsPath.stripSuffix("/objects") + "/dedup_manifests"
}

object Target {
  final case class DirectoryTarget(root: String) extends Target {
    val objectsPath = s"$root/objects"
    val manifestsPath = s"$root/manifests"
  }

  /** Object-store bucket target. Storage scheme resolution is left to
    * the Hadoop filesystem layer: the `graft.objectstore.scheme`
    * system property names the connector scheme (s3a/gs/abfs on a
    * real cluster, `mockos` under test — see
    * [[graft.sources.MockObjectStoreFs]]); with no scheme configured
    * the bucket maps under /tmp like the reference's cloudfiles
    * CACHE_PATH staging dir.
    */
  final case class ObjectStoreTarget(bucket: String) extends Target {
    private val base = sys.props.get("graft.objectstore.scheme") match {
      case Some(scheme) if scheme.nonEmpty => s"$scheme://$bucket"
      case _ => s"/tmp/graft-objectstore/$bucket"
    }
    val objectsPath = s"$base/objects"
    val manifestsPath = s"$base/manifests"
  }

  def parse(url: String): Target = url match {
    case s if s.startsWith("directory://") => DirectoryTarget(s.stripPrefix("directory://"))
    case s if s.startsWith("objectstore://") => ObjectStoreTarget(s.stripPrefix("objectstore://"))
    case other => throw new IllegalArgumentException(
      s"unsupported target '$other' (expected directory:// or objectstore://)")
  }
}

object BackupPipeline {

  /** Upload phase: durable files → cf-partitioned object table, plus
    * a manifest (the live set as of that day) for every snapshot day.
    */
  def backup(spark: SparkSession, dataDir: String, targetUrl: String): Target = {
    val target = Target.parse(targetUrl)
    val durable = FileInventory.durable(spark, dataDir)
    // cluster by the partition key before the partitioned write so
    // each directory gets one file per key, not one per upstream task
    durable.repartition(col("cf"))
      .write.mode("overwrite").partitionBy("cf").parquet(target.objectsPath)
    manifestRows(spark, dataDir)
      .repartition(col("manifest_date"))
      .write.mode("overwrite").partitionBy("manifest_date").json(target.manifestsPath)
    target
  }

  /** Live set as of every snapshot day: an as-of join of the
    * (lineage × day) grid against the file history — grid rows carry
    * the latest file at-or-before their day via an ordered window.
    */
  private[syncer] def manifestRows(spark: SparkSession, dataDir: String): DataFrame = {
    val durable = FileInventory.durable(spark, dataDir)
      .select(col("cf"), col("node_id"), col("shard_id"),
        col("generation"), col("path"), col("size_bytes"), col("snap_date"))
    val days = durable.select(col("snap_date")).distinct()
    val lineages = durable.select(col("cf"), col("node_id"), col("shard_id")).distinct()
    val grid = lineages.crossJoin(days)
      .select(col("cf"), col("node_id"), col("shard_id"), col("snap_date"),
        lit(null).cast("long").as("generation"),
        lit(null).cast("string").as("path"),
        lit(null).cast("long").as("size_bytes"),
        lit(1).as("tag"))
    val files = durable.withColumn("tag", lit(0))
    val w = Window.partitionBy(col("cf"), col("node_id"), col("shard_id"))
      .orderBy(col("snap_date"), col("tag"), col("generation"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    files.unionByName(grid)
      .withColumn("live", last(
        when(col("tag") === 0, struct(col("generation"), col("path"), col("size_bytes"))),
        ignoreNulls = true).over(w))
      .filter(col("tag") === 1 && col("live").isNotNull)
      .select(col("snap_date").as("manifest_date"),
        col("cf"), col("node_id"), col("shard_id"),
        col("live.generation").as("generation"),
        col("live.path").as("path"),
        col("live.size_bytes").as("size_bytes"))
  }

  private def manifests(spark: SparkSession, target: Target): DataFrame =
    spark.read
      .schema("cf STRING, node_id BIGINT, shard_id BIGINT, generation BIGINT, " +
        "path STRING, size_bytes BIGINT, manifest_date DATE")
      .json(target.manifestsPath)

  /** Restore phase: the newest manifest at or before `asOf`, i.e. the
    * minimum file set that reconstructs that point in time.
    */
  def restoreSet(spark: SparkSession, targetUrl: String, asOf: String): DataFrame =
    latestManifest(manifests(spark, Target.parse(targetUrl))
        .filter(col("manifest_date") <= lit(asOf).cast("date")))
      .select(col("cf"), col("node_id"), col("shard_id"),
        col("generation"), col("path"), col("size_bytes"))

  /** The rows of the newest manifest in `m`: a join on its one-row
    * max date, broadcast.
    */
  private def latestManifest(m: DataFrame): DataFrame =
    m.join(broadcast(m.agg(max(col("manifest_date")).as("manifest_date"))),
      Seq("manifest_date"))

  /** §2.1#60 oracle surface: full backup to a directory target, then
    * the storage-side restore set as of 2024-01-15 — the reference's
    * complete backup→manifest→restore story through real parquet/JSON
    * sinks. Must equal the purely-analytical restore
    * (`sync_restore_set`), which is exactly what the shared oracle
    * SQL computes.
    */
  def backupPipelineQuery(spark: SparkSession, dir: String): DataFrame = {
    val url = backupOracleUrl(dir)
    backup(spark, dir, url)
    restoreSet(spark, url, "2024-01-15")
      .orderBy(col("cf"), col("node_id"), col("shard_id"))
  }

  /** The per-JVM target of [[backupPipelineQuery]], removed at exit. */
  private[graft] def backupOracleUrl(dir: String): String =
    "directory://" + graft.TmpDirs.perJvmStoreRoot("graft_backup_oracle", dir)

  // ---- restore resume (the reference's restoremanifest.json) ----
  //
  // `bin/cassandra-syncer-restore:28` saves the picked manifest
  // locally before queueing downloads, but a crashed run re-fetches
  // everything. Here the marker is durable AND per-file: every
  // fetched file is appended to a ledger under the target, so a
  // re-run of the same restore computes the remainder with one
  // anti-join and fetches only that. At 100 TB this is the difference
  // between resuming hour 47 of a restore and restarting it.

  /** Files already fetched by previous restore passes (empty before
    * the first pass — a fresh restore's remainder is the full set).
    *
    * The ledger is PARTITIONED by (cf, fetch_date) like the object
    * inventory: at 10⁶–10⁹ restored files the ledger is itself a
    * table, and a per-cf resume (the common operational ask: "finish
    * restoring this one column family") must read only that cf's
    * ledger partitions, not every append ever written.
    */
  def restoreLedger(spark: SparkSession, target: Target): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "path STRING, size_bytes BIGINT, dest STRING, cf STRING, fetch_date DATE")
    val p = new org.apache.hadoop.fs.Path(target.restoreLedgerPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else {
      ensureLedgerLayout(spark, fs, p, target)
      spark.read.schema(schema)
        .option("basePath", target.restoreLedgerPath)
        .json(target.restoreLedgerPath)
    }
  }

  /** Targets whose ledger layout has been verified this JVM — the
    * steady-state restore pays ZERO extra filesystem calls for the
    * legacy probe (the r10 probe ran a directory listing per
    * restore, a measured +22% on backup_pipeline at sf1).
    */
  private val ledgerLayoutOk =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Test hook: drop the per-JVM layout memo so a spec can exercise
    * the crash-rerun paths of [[ensureLedgerLayout]].
    */
  private[graft] def resetLedgerLayoutCache(): Unit = ledgerLayoutOk.clear()

  /** One-shot legacy-ledger migration, crash-safe and idempotent.
    *
    * Pre-(cf, fetch_date)-layout ledgers were flat JSON appends with
    * cf as a DATA column and no fetch_date. Left in place they poison
    * resume twice over — Spark's partition discovery refuses a mixed
    * flat+partitioned directory outright, and a schema-forced read
    * gives legacy rows a null cf so the (cf, path) anti-join stops
    * excluding already-fetched files.
    *
    * Protocol (every step re-runnable):
    *  1. migrate flat rows into the epoch (`fetch_date=1970-01-01`)
    *     partitions with DYNAMIC partition overwrite — a crashed
    *     run's re-execution REPLACES those partitions instead of
    *     appending duplicate rows (the r10 ADVICE crash-safety gap);
    *     normal appends only ever write current-date partitions, so
    *     the overwrite can't touch live data.
    *  2. create the `_MIGRATED` marker.
    *  3. delete the flat files.
    * A crash before (2) re-runs the full migration over the intact
    * flat set (same output, step 1 is a replace); a crash after (2)
    * only re-runs the deletes. The marker also makes every later
    * call O(1): one getFileStatus per JVM per target, memoized in
    * [[ledgerLayoutOk]].
    */
  private def ensureLedgerLayout(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, p: org.apache.hadoop.fs.Path,
      target: Target): Unit = {
    if (ledgerLayoutOk.contains(target.restoreLedgerPath)) return
    val marker = new org.apache.hadoop.fs.Path(p, "_MIGRATED")
    def flatFiles() = fs.listStatus(p).filter(st => st.isFile && {
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    })
    if (fs.exists(marker)) {
      // only a crash between marker and delete leaves flat leftovers;
      // their rows are already in the epoch partitions — just delete
      val leftovers = flatFiles()
      leftovers.foreach(st => fs.delete(st.getPath, false))
    } else {
      val flat = flatFiles()
      if (flat.nonEmpty) {
        val legacySchema = org.apache.spark.sql.types.StructType.fromDDL(
          "path STRING, size_bytes BIGINT, dest STRING, cf STRING")
        spark.read.schema(legacySchema)
          .json(flat.map(_.getPath.toString).toIndexedSeq: _*)
          .withColumn("fetch_date", to_date(lit("1970-01-01")))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("cf", "fetch_date")
          .json(target.restoreLedgerPath)
      }
      fs.create(marker, true).close()
      flat.foreach(st => fs.delete(st.getPath, false))
    }
    ledgerLayoutOk.add(target.restoreLedgerPath)
  }

  /** The files a resumed restore still has to fetch: the as-of
    * restore set minus the ledger (one broadcast-able anti-join —
    * the ledger is tiny next to the object table). With `cfOnly` the
    * resume is scoped to one column family and the cf predicate lands
    * in the ledger scan's PartitionFilters (verified in
    * BackupPipelineSpec), so a scoped resume reads only that cf's
    * ledger partitions.
    */
  def restoreRemainder(spark: SparkSession, targetUrl: String, asOf: String,
      cfOnly: Option[String] = None): DataFrame = {
    val rs0 = restoreSet(spark, targetUrl, asOf)
    val led0 = restoreLedger(spark, Target.parse(targetUrl))
    val (rs, led) = cfOnly match {
      case Some(c) => (rs0.filter(col("cf") === c), led0.filter(col("cf") === c))
      case None => (rs0, led0)
    }
    rs.join(led.select(col("cf"), col("path")), Seq("cf", "path"), "left_anti")
      .select(col("cf"), col("node_id"), col("shard_id"),
        col("generation"), col("path"), col("size_bytes"))
  }

  /** One bounded restore pass: fetch up to `maxFiles` of the
    * remainder (in path order — deterministic, so an interrupted run
    * and its oracle agree on WHICH files landed), materialize each
    * under `destDir`, and append the fetched set to the ledger.
    * Returns the files fetched by THIS pass; a re-run after
    * completion fetches nothing.
    *
    * The modeled object table stores inventory rows, not file bytes,
    * so materialization writes a size-faithful placeholder — the
    * distributed fetch/ledger plumbing (the part that matters for
    * resume semantics) is real.
    */
  def runRestorePass(spark: SparkSession, targetUrl: String, asOf: String,
      destDir: String, maxFiles: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val target = Target.parse(targetUrl)
    val todo0 = restoreRemainder(spark, targetUrl, asOf)
    val todo = maxFiles.fold(todo0)(n => todo0.orderBy(col("path")).limit(n))
    val fetched = todo.select(col("cf"), col("path"), col("size_bytes"))
      .as[(String, String, Long)]
      .mapPartitions { it =>
        val conf = new org.apache.hadoop.conf.Configuration()
        val buf = new Array[Byte](8192)
        it.map { case (cf, rel, len) =>
          val dst = new org.apache.hadoop.fs.Path(destDir, rel)
          val fs = dst.getFileSystem(conf)
          val out = fs.create(dst, true)
          var left = len
          while (left > 0) {
            val w = math.min(left, buf.length.toLong).toInt
            out.write(buf, 0, w); left -= w
          }
          out.close()
          (cf, rel, len)
        }
      }.toDF("cf", "path", "size_bytes")
    // the fetch is a side effect: an eager localCheckpoint is the
    // run-once fence — partitions materialize on EXECUTORS and the
    // lineage is cut, so the ledger append and the returned frame
    // both read the frozen blocks. Never an O(files) driver collect
    // (a full 100 TB restore is 10⁶–10⁹ ledger rows; the driver never
    // holds them). A plain persist would not survive the ledger
    // append below: writing a path invalidates every cache that READS
    // it, and this plan reads the ledger through the remainder
    // anti-join — recomputing after the append would see an empty
    // remainder.
    val once = fetched.cutLineage(true)
    // the pass date keys the layout only (operational retention /
    // audit slicing); resume correctness never reads it
    val ledger = once.withColumn("dest", lit(destDir))
      .withColumn("fetch_date", current_date())
    ledger.write.mode("append").partitionBy("cf", "fetch_date")
      .json(target.restoreLedgerPath)
    ledger
  }

  private val resumeTargets = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** §2.1 oracle surface `sync_restore_resume`: back up, run a HALF
    * restore (interrupted after floor(n/2) files, path order), then
    * the measured query is the remainder a resumed run would fetch —
    * read back through the real ledger. The oracle recomputes the
    * same split analytically (row_number over path vs count/2).
    */
  def syncRestoreResume(spark: SparkSession, dir: String): DataFrame =
    restoreRemainder(spark, resumeOracleTarget(spark, dir), "2024-01-15")
      .orderBy(col("cf"), col("node_id"), col("shard_id"))

  /** The memoized fixture behind [[syncRestoreResume]]: a backup plus
    * one half restore pass (into `restored/` under the same root),
    * once per corpus per JVM. The root is removed at exit.
    */
  private[graft] def resumeOracleTarget(spark: SparkSession, dir: String): String =
    resumeTargets.computeIfAbsent(dir, d => {
      val root = graft.TmpDirs.cleanupOnExit(java.nio.file.Files
        .createTempDirectory("graft_restore_resume_")).toString
      val u = s"directory://$root"
      backup(spark, d, u)
      val n = restoreSet(spark, u, "2024-01-15").count().toInt
      runRestorePass(spark, u, "2024-01-15", s"$root/restored", Some(n / 2))
      u
    })

  /** Prune phase: objects older than the cutoff that the newest
    * manifest no longer references.
    */
  def prunePlan(spark: SparkSession, targetUrl: String, cutoff: String): DataFrame = {
    val target = Target.parse(targetUrl)
    val objects = spark.read.parquet(target.objectsPath)
    val latest = latestManifest(manifests(spark, target)).select(col("path"))
    objects
      .filter(col("snap_date") < lit(cutoff).cast("date"))
      .join(latest, Seq("path"), "left_anti")
      .select(col("path"), col("cf"), col("generation"), col("size_bytes"))
  }
}
