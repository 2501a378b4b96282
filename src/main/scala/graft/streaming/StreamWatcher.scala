package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
import org.apache.spark.sql.types.StructType

import graft.syncer.FileInventory

/** One cell write flowing through the CDC change feed. */
case class CellWrite(row_key: Long, value: Double, write_us: Long,
    generation: Long, tombstone: Boolean)

/** A change-feed record: the transition one write caused. */
case class ChangeRecord(row_key: Long, generation: Long,
    old_value: Option[Double], new_value: Option[Double], kind: String)

/** One upload attempt flowing through the streaming retry queue. */
case class UploadAttempt(path: String, cf: String, requiredAttempts: Long)

/** Current retry-queue status of one file. */
case class UploadOutcome(path: String, attempts: Long, status: String)

/** Streaming operators (SURVEY.md §2.7) — the Spark-native
  * replacement for the reference's inotify watcher
  * (`Watcher.watch`, `/root/reference/bin/cassandra-syncer`): instead
  * of a kernel callback per file, a Structured Streaming file/event
  * source drives the same declarative upload-plan and windowed
  * accounting transforms continuously with watermarked state.
  */
object StreamWatcher {

  /** Streaming view of the events table (file-arrival stream), with
    * the same ns→µs timestamp normalization as the batch loader.
    */
  def eventStream(spark: SparkSession, dir: String): DataFrame = {
    val schema: StructType =
      spark.read.parquet(s"$dir/events.parquet").schema
    // the file-stream source wants a directory to watch (new files
    // appear over time); the glob narrows it to the events table
    // two on-disk layouts: the driver's testdata lands events.parquet
    // as a FLAT FILE inside dir (watch dir, glob the name), while any
    // Spark-written corpus (the ScaleUp stress dirs — and every
    // production table) is a DIRECTORY of part files (watch inside
    // it). The glob form against a directory layout matches NOTHING
    // and silently replays an EMPTY stream — the r10 sf1/skew bench
    // artifacts carried ~0.16 s phantom times for the whole replay
    // family exactly this way.
    // probe via the Hadoop FS resolved from the path's scheme — a
    // java.io.File check is local-FS-only and on hdfs://-s3a:// paths
    // would always pick the glob branch, silently replaying an empty
    // stream (the exact phantom-input mode the branch exists to fix)
    val tablePath = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
    val tableFs = tablePath.getFileSystem(spark.sessionState.newHadoopConf())
    val raw =
      if (tableFs.exists(tablePath) && tableFs.getFileStatus(tablePath).isDirectory)
        spark.readStream.schema(schema).parquet(tablePath.toString)
      else
        spark.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ => raw
    }
  }

  /** Watermarked hourly windowed accounting per event type — the
    * streaming twin of `Relational.qStreamBatchTwin`; on a cluster
    * this runs `writeStream` into the bucket-stats sink.
    */
  def windowedCounts(stream: DataFrame): DataFrame =
    stream
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .select(col("win.start").as("hour_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** At-least-once retry queue as explicit streaming state
    * (reference: `Uploader._onDone` re-enqueues failed uploads until
    * they succeed). Each file's attempt count lives in
    * `mapGroupsWithState` keyed by path; a file whose cumulative
    * attempts reach its required count reports "uploaded", otherwise
    * "retrying". Flaky-upload model matches SyncOps.syncRetryLedger:
    * error-cf files need 1 + generation%3 attempts.
    */
  def retryQueueStream(stream: org.apache.spark.sql.DataFrame): Dataset[UploadOutcome] = {
    val spark = stream.sparkSession
    import spark.implicits._
    val attempts = stream
      .filter(!FileInventory.modelIsTemp)
      .select(
        FileInventory.modelPath.as("path"),
        col("event_type").as("cf"),
        (lit(1L) + when(col("event_type") === "error", col("event_id") % 3).otherwise(0L))
          .as("requiredAttempts"))
      .as[UploadAttempt]
    attempts.groupByKey(_.path)
      .mapGroupsWithState[Long, UploadOutcome](GroupStateTimeout.NoTimeout) {
        (path, batch, state: GroupState[Long]) =>
          val rows = batch.toSeq
          val seen = state.getOption.getOrElse(0L) + rows.size
          state.update(seen)
          val required = rows.headOption.map(_.requiredAttempts).getOrElse(1L)
          UploadOutcome(path, seen, if (seen >= required) "uploaded" else "retrying")
      }
  }

  /** CDC change feed over the cell-write stream (the "real-time CDC"
    * face of the sync domain): per row key, every write is turned
    * into an insert/update/delete change record against the carried
    * state, with writes applied in (timestamp, generation) order —
    * the streaming twin of `SyncOps.syncLwwMerge`'s batch view.
    */
  def changeFeed(stream: DataFrame): Dataset[ChangeRecord] = {
    val spark = stream.sparkSession
    import spark.implicits._
    val cells = stream.select(
      (col("user_id") % 50).cast("long").as("row_key"),
      col("value"),
      unix_micros(col("ts")).as("write_us"),
      col("event_id").as("generation"),
      (col("event_type") === "error").as("tombstone")).as[CellWrite]
    cells.groupByKey(_.row_key)
      .flatMapGroupsWithState[Option[Double], ChangeRecord](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) { (key, batch, state: GroupState[Option[Double]]) =>
        var current = state.getOption.flatten
        val out = batch.toSeq.sortBy(w => (w.write_us, w.generation)).map { w =>
          val old = current
          val (next, kind) =
            if (w.tombstone) (None, if (old.isDefined) "delete" else "noop_delete")
            else (Some(w.value), if (old.isDefined) "update" else "insert")
          current = next
          ChangeRecord(key, w.generation, old, next, kind)
        }
        state.update(Some(current).flatten)
        out.iterator
      }
  }

  /** Watch dashboard: daily arrival accounting per cf over the
    * upload-plan stream (the operational readout the reference's
    * watcher would feed a monitoring sink).
    */
  def watchDashboard(stream: DataFrame): DataFrame =
    uploadPlanStream(stream)
      .withWatermark("mtime", "1 day")
      .groupBy(window(col("mtime"), "1 day").as("win"), col("cf"))
      .agg(count(lit(1)).as("n_new_files"), max(col("generation")).as("max_generation"))
      .select(col("win.start").cast("date").as("arrival_date"), col("cf"),
        col("n_new_files"), col("max_generation"))

  private val replaySeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Run a bounded stream to completion into a memory sink and return
    * the materialized batch result — the driver-checkable face of the
    * streaming operators. The streaming semantics (watermarks,
    * incremental batches, state) are exercised in StreamingSpec; this
    * replay makes the same pipelines oracle-comparable, because on a
    * bounded source a correct streaming query must converge to its
    * batch twin.
    */
  def replayToBatch(ds: Dataset[_], mode: String): DataFrame =
    replayCollectingProgress(ds, mode)._1

  /** [[replayToBatch]] plus the query's progress telemetry — the
    * per-micro-batch state-store accounting (rows in state, rows
    * updated/removed, bytes) a 100 TB/day deployment watches. The
    * progress list is what [[streamStateMetrics]] surfaces as a
    * queryable operator.
    */
  def replayCollectingProgress(ds: Dataset[_], mode: String):
      (DataFrame, Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) = {
    // Stateful replays pay per-partition state-store overhead on
    // every micro-batch (the HDFS-backed provider writes a delta file
    // per store per batch, and a NO-DATA watermark batch still
    // commits every store). State partitioning is sized from the
    // bounded source itself: one partition per 32 MB of source,
    // FLOOR 8 (min with core count) so small replays keep the
    // compute parallelism the per-key stateful operators need, capped
    // at the session's parallelism (guide §2.2: partitions sized by
    // bytes; round rule: scale-adaptive, not a constant). Two r16
    // measurements set the floor: dropping small replays to 2
    // partitions sped the state-heavy interval joins ~15% but slowed
    // the compute-heavy per-key ops far more (stream_txn_feed 0.85 →
    // 3.8 s, stream_windowed_agg 1.2 → 2.8 s; family total 37.6 →
    // 44.5 s), so the byte-derived count only scales the partitioning
    // UP beyond 8 for corpora where 8×32 MB no longer covers the
    // input. Results are partition-count independent either way; the
    // override lives on an ISOLATED session clone (shared
    // SparkContext, private SQL conf), so a query planned
    // concurrently on the caller's session never sees it.
    val replaySession = ds.sparkSession.newSession()
    val srcBytes = org.apache.spark.sql.graftshim.Shim.streamingSourceBytes(
      ds.sparkSession, org.apache.spark.sql.graftshim.Shim.analyzedPlan(ds.toDF()))
    val parallelism = ds.sparkSession.sparkContext.defaultParallelism.toLong
    val statePartitions = math.max(math.min(8L, parallelism), math.min(
      parallelism, (srcBytes + (32L << 20) - 1) / (32L << 20))).toInt
    replaySession.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
    // the state-store provider is part of the replayed surface:
    // propagate the caller's choice onto the isolated clone
    // (newSession starts from defaults), so the same pipeline runs
    // under the HDFS-backed provider or RocksDB — at 100 TB/day the
    // retry/CDC/session state outgrows executor heap and RocksDB is
    // the production provider.
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    ds.sparkSession.conf.getOption(providerKey)
      .foreach(replaySession.conf.set(providerKey, _))
    val name = s"graft_replay_${replaySeq.incrementAndGet()}"
    // A bounded replay has no durability requirement — its checkpoint
    // (offset log, commit log, and one state delta file per store per
    // micro-batch, each fsynced) is thrown away at the end. Put it on
    // a RAM-backed fs when one exists instead of paying ext4 fsyncs;
    // the PRODUCTION path (WatchService) keeps its caller-specified
    // durable checkpoint — this shortcut is replay-only.
    val ckBase = {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) shm.toPath
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    }
    val ckDir = java.nio.file.Files.createTempDirectory(ckBase, "graft-replay-ck-")
    // rebind the already-analyzed plan (function/table resolution
    // happened on the caller's session) onto the clone
    val rebound = org.apache.spark.sql.graftshim.Shim.ofRows(
      replaySession, org.apache.spark.sql.graftshim.Shim.analyzedPlan(ds.toDF()))
    val q = rebound.writeStream.outputMode(mode).format("memory")
      .option("checkpointLocation", ckDir.toString).queryName(name).start()
    val progress = try { q.processAllAvailable(); q.recentProgress.toSeq } finally {
      q.stop()
      graft.TmpDirs.deleteTree(ckDir) // the throwaway checkpoint
    }
    (replaySession.table(name), progress)
  }

  /** §2.7 `stream_state_metrics` — state-store observability as a
    * queryable operator: the rows-in-state accounting a 100 TB/day
    * stream watches (leaked state is THE way long-running stateful
    * queries die). Two stateful shapes with engine-independent
    * expected values replay under the session's configured provider
    * (HDFS-backed or RocksDB) and report their FINAL state-operator
    * row totals:
    *   - `cdc_cells_mgws`: the flatMapGroupsWithState cell feed —
    *     state rows = distinct row keys (NoTimeout: nothing ever
    *     evicts), so the metric must equal count(distinct user_id%50);
    *   - `windowed_agg_complete`: the watermarked hourly aggregate in
    *     complete mode — state rows = distinct (hour, type) groups.
    * The oracle computes both expectations from the events table, so
    * a state leak (rows counted twice across store versions) or a
    * lost-state regression fails the cross-engine hash, not a
    * hardcoded boolean. Richer telemetry (memory bytes, updated rows)
    * is asserted in StateStoreProviderSpec under BOTH providers —
    * those values are provider-specific and not oracle-portable.
    */
  def streamStateMetrics(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def finalStateRows(ds: Dataset[_], mode: String): Long =
      replayCollectingProgress(ds, mode)._2
        .filter(p => p.stateOperators != null && p.stateOperators.nonEmpty)
        .lastOption.map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
    Seq(
      ("cdc_cells_mgws", finalStateRows(changeFeed(eventStream(spark, dir)), "append")),
      ("windowed_agg_complete",
        finalStateRows(windowedCounts(eventStream(spark, dir)), "complete")))
      .toDF("operator", "state_rows")
      .orderBy(col("operator"))
  }

  /** §2.7#43 oracle surface: watermarked hourly windowed aggregation
    * replayed to completion.
    */
  /** §2.7 `stream_sketch_distinct` — mergeable-sketch distinct
    * counting inside a watermarked streaming window: the per-(hour,
    * type) HLL register state lives in the streaming state store as
    * the aggregate's fixed 64-byte buffer — per-group state is
    * CONSTANT regardless of user cardinality, which is what makes
    * windowed distinct-user telemetry viable on an unbounded stream
    * (exact distinct state grows with the user set; Spark rejects
    * streaming countDistinct outright). Same register-digest contract
    * as the batch `q_distinct_hll_sketch`, so the oracle checks full
    * register state per window, not just the estimate.
    */
  def sketchDistinctStream(stream: DataFrame): DataFrame =
    stream.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(graft.functions.HllAggFunctions
        .hll_sketch(col("user_id").cast("string")).as("hll"))
      .select(col("win.start").as("hour_start"), col("event_type"),
        round(col("hll.estimate"), 2).as("hll_estimate"),
        col("hll.reg_digest").as("reg_digest"))

  /** §2.7 oracle surface: [[sketchDistinctStream]] replayed. */
  def streamSketchDistinctQuery(spark: SparkSession, dir: String): DataFrame =
    replayToBatch(sketchDistinctStream(eventStream(spark, dir)), "complete")
      .orderBy(col("hour_start"), col("event_type"))

  def streamWindowedAggQuery(spark: SparkSession, dir: String): DataFrame =
    replayToBatch(windowedCounts(eventStream(spark, dir)), "complete")
      .orderBy(col("hour_start"), col("event_type"))

  /** §2.7#44 oracle surface: the file-arrival upload plan replayed. */
  def streamFileWatchQuery(spark: SparkSession, dir: String): DataFrame =
    replayToBatch(uploadPlanStream(eventStream(spark, dir)), "append")
      .orderBy(col("generation"))

  /** §2.1#10 oracle surface: the streaming watcher's daily arrival
    * dashboard replayed.
    */
  def syncWatchStreamQuery(spark: SparkSession, dir: String): DataFrame =
    replayToBatch(watchDashboard(eventStream(spark, dir)), "complete")
      .orderBy(col("arrival_date"), col("cf"))

  /** §2.7#49 oracle surface: the stateful retry queue replayed. */
  def streamRetryQueueQuery(spark: SparkSession, dir: String): DataFrame =
    replayToBatch(retryQueueStream(eventStream(spark, dir)), "update")
      .orderBy(col("path"))

  /** §2.7#70 oracle surface: the CDC change feed replayed. */
  def streamChangeFeedQuery(spark: SparkSession, dir: String): DataFrame =
    replayToBatch(changeFeed(eventStream(spark, dir)), "append")
      .orderBy(col("row_key"), col("generation"))

  /** Watermarked streaming sessionization: the engine's session-state
    * path (gap-merged `session_window` windows, state bounded by the
    * watermark horizon) — the streaming twin of
    * `Relational.qSessionWindow`. Per-user session windows merge as
    * late events arrive; on a bounded source the converged session
    * set must equal the batch definition.
    */
  def sessionWindowStream(stream: DataFrame): DataFrame =
    stream
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("n_events"))

  /** §2.7#127 oracle surface: replayed streaming sessions, rolled up
    * per user exactly like the batch operator.
    */
  def streamSessionWindowQuery(spark: SparkSession, dir: String): DataFrame =
    replayToBatch(sessionWindowStream(eventStream(spark, dir)), "complete")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        max(col("n_events")).as("max_session_events"))
      .orderBy(col("user_id"))

  /** Streaming exact dedup within the watermark: the self-unioned
    * event stream (every record delivered twice — the at-least-once
    * redelivery model) collapses back to distinct events before the
    * per-type accounting. This is the ingest-side dedup every
    * pipeline needs in front of append-only sinks; state is bounded
    * by the watermark horizon.
    */
  def dedupStream(stream: DataFrame): DataFrame =
    stream.union(stream)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"))

  /** §2.7#119 oracle surface: replayed double-delivery dedup must
    * equal the plain per-type counts.
    */
  def streamDedupQuery(spark: SparkSession, dir: String): DataFrame =
    replayToBatch(dedupStream(eventStream(spark, dir)), "complete")
      .orderBy(col("event_type"))

  /** Stream-stream interval join: every purchase matched to the
    * clicks of the same user within the preceding 30 minutes. Both
    * sides watermarked so the state store can expire rows — the
    * bounded-state form of the batch range join at 100 TB/day rates.
    */
  /** Time-bucket width for the interval joins — equal to the match
    * interval, so a purchase's candidates live in exactly 2 buckets.
    */
  val IntervalJoinBucketMinutes = 30

  /** The two interval-join input streams with TIME-BUCKETED equality
    * keys — the fix for both failure modes a hot key inflicts on a
    * stream-stream join. Spark's symmetric-hash join state is a
    * per-join-key row LIST: with `user_id` alone as the key, (a) one
    * user holding ~10% of all events (the skew corpus's user 4242)
    * hashes to ONE state partition and serializes the join — measured
    * 48× the uniform-corpus time — and (b) every hot purchase scans
    * the hot user's ENTIRE clicks-in-watermark list, quadratic probe
    * work the time-range predicate cannot prune (state is not
    * time-indexed within a key). Bucketing the key by
    * ⌊ts / interval⌋ fixes both at once: clicks are replicated into
    * their own and the NEXT bucket (so every candidate within
    * [p_ts − 30 min, p_ts] is in the purchase's own bucket — a pair
    * matches in exactly ONE bucket, no dedup needed), the equality
    * key becomes (user, bucket), probe work drops to
    * |clicks within ±interval| per purchase (near output-linear), and
    * the hot user's state spreads across partitions because bucket
    * varies with time. Flat ×2 click state for everyone; semantics
    * (inner matches, outer null emission, watermark eviction) are
    * unchanged. Hot-key-only salting — the first cut of this fix —
    * only parallelized the list scan (166 → 46 s at skew); bucketing
    * removes the scan itself.
    */
  private def bucketedIntervalSides(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val bucketMicros = IntervalJoinBucketMinutes * 60L * 1000000L
    def bucketOf(ts: org.apache.spark.sql.Column) =
      floor(unix_micros(ts) / bucketMicros)
    val purchases = eventStream(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"), bucketOf(col("ts")).as("p_bkt"))
      .withWatermark("p_ts", "1 hour")
    val clicks = eventStream(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"),
        explode(array(bucketOf(col("ts")), bucketOf(col("ts")) + 1)).as("c_bkt"))
      .withWatermark("c_ts", "1 hour")
    (purchases, clicks)
  }

  def intervalJoinStream(spark: SparkSession, dir: String): DataFrame =
    intervalJoin(spark, dir, "inner")

  /** Every purchase joined (`joinType`) to the same user's clicks in
    * the preceding 30 minutes, over the bucketed sides.
    */
  private def intervalJoin(spark: SparkSession, dir: String, joinType: String): DataFrame = {
    val (purchases, clicks) = bucketedIntervalSides(spark, dir)
    purchases.join(clicks, expr(
        "user_id = c_user AND p_bkt = c_bkt AND " +
          "c_ts >= p_ts - interval 30 minutes AND c_ts <= p_ts"),
        joinType)
      .select(col("user_id"), col("purchase_id"), col("click_id"))
  }

  /** §2.7#112 oracle surface: the stream-stream interval join
    * replayed — must equal the batch interval join.
    */
  def streamIntervalJoinQuery(spark: SparkSession, dir: String): DataFrame =
    replayToBatch(intervalJoinStream(spark, dir), "append")
      .orderBy(col("user_id"), col("purchase_id"), col("click_id"))

  /** Stream-stream OUTER interval join — the watermark-driven null
    * emission the inner form can't express: every purchase matched to
    * the same user's clicks in the preceding 30 minutes, and a
    * purchase with NO such click emitted once with a NULL click id
    * when the watermark proves the match window closed (any matching
    * click needs c_ts ≤ p_ts, so once the global watermark passes
    * p_ts none can still arrive; Spark evicts the row and emits the
    * null side). This is the "upload with no matching ack inside the
    * horizon" alert shape — the null rows ARE the product, and state
    * on both sides stays bounded by the watermark exactly as in the
    * inner join.
    */
  def intervalJoinOuterStream(spark: SparkSession, dir: String): DataFrame =
    // same time-bucketed sides as the inner form: each purchase lives
    // in exactly ONE bucket row, so an unmatched purchase still emits
    // its null row exactly once at watermark eviction
    intervalJoin(spark, dir, "left_outer")

  /** §2.7 oracle surface: the OUTER interval join replayed on the
    * bounded source. Matched pairs equal the batch join; the null
    * rows are exactly the unmatched purchases whose p_ts the final
    * watermark (min of the two sides' max event times, minus the
    * 1-hour delay) has passed — the same arithmetic-cutoff contract
    * as the append-window replay, applied to join-state eviction.
    */
  def streamIntervalJoinOuterQuery(spark: SparkSession, dir: String): DataFrame =
    replayToBatch(intervalJoinOuterStream(spark, dir), "append")
      .orderBy(col("user_id"), col("purchase_id"), col("click_id"))

  /** Stream-static enrichment join: the event stream joined to the
    * (small, slowly-changing) nation dimension read as a plain batch
    * table. Spark broadcasts the static side into every micro-batch —
    * no state store, no watermark, and the dim is re-resolvable per
    * batch (picking up dim updates between triggers). This is THE
    * shape for enriching a 100 TB/day stream with reference data; the
    * stateful alternative (stream-stream join against a dim
    * changelog) costs a state store for no benefit when the dim fits
    * in a broadcast.
    */
  def staticJoinStream(spark: SparkSession, dir: String): DataFrame = {
    val nation = broadcast(
      graft.sources.Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name")))
    eventStream(spark, dir)
      .withColumn("n_key", (col("user_id") % 25).cast("int"))
      .join(nation, col("n_key") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
  }

  /** §2.7 oracle surface: the stream-static join replayed — must
    * equal the same enrichment computed in batch.
    */
  def streamStaticJoinQuery(spark: SparkSession, dir: String): DataFrame =
    replayToBatch(staticJoinStream(spark, dir), "complete")
      .orderBy(col("n_name"))

  /** Append-mode hourly windows: a window row is emitted exactly once,
    * when the watermark passes its end (the sink-friendly mode for
    * append-only stores — no in-place updates downstream). On a
    * bounded replay the emitted set is precisely the windows whose
    * end ≤ max(ts) − the 1-hour delay; the trailing unfinalized
    * windows are withheld. That withholding IS the semantic under
    * test — the oracle applies the same cutoff arithmetically.
    */
  def appendWindowsStream(stream: DataFrame): DataFrame =
    stream
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("win.start").as("hour_start"), col("event_type"), col("n_events"))

  /** §2.7 oracle surface: append-mode finalized-window emission. */
  def streamAppendWindowsQuery(spark: SparkSession, dir: String): DataFrame =
    replayToBatch(appendWindowsStream(eventStream(spark, dir)), "append")
      .orderBy(col("hour_start"), col("event_type"))

  private val lateFixtureLock = new Object

  /** Deterministic out-of-order arrival fixture: the events table
    * split into time terciles (by row_number over (ts, event_id) —
    * arithmetic both engines replicate exactly), written as three
    * single-file generations arriving middle → newest → OLDEST, so
    * the last batch is ~20 days behind the watermark when it
    * arrives. Built once per JVM per source dir.
    */
  private def lateArrivalDir(spark: SparkSession, dir: String): String = {
    val base = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_late_${ProcessHandle.current().pid()}_${Integer.toHexString(dir.hashCode)}")
    lateFixtureLock.synchronized {
      if (!java.nio.file.Files.isDirectory(base)) {
        import scala.jdk.CollectionConverters._
        val tmp = java.nio.file.Files.createTempDirectory("graft_late_build_")
        val n = graft.sources.Tables.events(spark, dir).count()
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("ts"), col("event_id"))
        val bucketed = graft.sources.Tables.events(spark, dir)
          .withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("bucket",
            when(col("rn") * 3 <= n, 1).when(col("rn") * 3 <= n * 2, 2).otherwise(3))
        java.nio.file.Files.createDirectories(base)
        // arrival order: middle tercile, newest tercile, oldest (late)
        Seq(2, 3, 1).zipWithIndex.foreach { case (b, i) =>
          val part = tmp.resolve(s"b$b")
          bucketed.filter(col("bucket") === b).drop("rn", "bucket")
            .coalesce(1).write.parquet(part.toString)
          val pf = java.nio.file.Files.list(part).iterator().asScala
            .find(_.toString.endsWith(".parquet")).get
          val dest = base.resolve(s"arrival_$i.parquet")
          java.nio.file.Files.move(pf, dest)
          // widely spaced mtimes pin the file-source processing order
          dest.toFile.setLastModified(60000L * (i + 1))
        }
        graft.TmpDirs.deleteTree(tmp)
      }
    }
    base.toString
  }

  /** §2.7 oracle surface: watermark late-row dropping. The oldest
    * tercile arrives AFTER the watermark has advanced past it
    * (maxFilesPerTrigger=1 → one generation per micro-batch), so
    * every one of its rows lands in an already-finalized window and
    * is dropped; windows wholly inside it are never emitted at all.
    * The oracle replays the same tercile arithmetic and cutoff.
    */
  def streamLateDropQuery(spark: SparkSession, dir: String): DataFrame = {
    val fixture = lateArrivalDir(spark, dir)
    val schema = spark.read.parquet(fixture).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(fixture)
    replayToBatch(appendWindowsStream(stream), "append")
      .orderBy(col("hour_start"), col("event_type"))
  }

  /** §2.7 — foreachBatch idempotent upsert sink: each micro-batch
    * LWW-merges its cell writes into a versioned parquet store
    * (read latest snapshot → union → max-struct per key → write
    * snapshot v{batchId}) — the exactly-once keyed-merge sink
    * pattern for stores without transactional MERGE. Because the
    * merge is a per-key max over (write_us, generation), the final
    * state is independent of batch boundaries AND arrival order, so
    * replaying the out-of-order tercile fixture must converge to the
    * plain batch LWW result — which is exactly what the oracle
    * computes.
    */
  def streamForeachBatchUpsert(spark: SparkSession, dir: String): DataFrame = {
    val fixture = lateArrivalDir(spark, dir)
    val schema = spark.read.parquet(fixture).schema
    val storeRoot = java.nio.file.Files
      .createTempDirectory("graft_fb_store_").toString
    val latest = new java.util.concurrent.atomic.AtomicReference[String](null)

    val cells = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(fixture)
      .select((col("user_id") % 50).cast("long").as("row_key"),
        unix_micros(col("ts")).as("write_us"),
        col("event_id").as("generation"),
        col("value"))

    val ckDir = java.nio.file.Files.createTempDirectory("graft-fb-ck-")
    val q = cells.writeStream
      .option("checkpointLocation", ckDir.toString)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val s = batch.sparkSession
        val prev = Option(latest.get()).map(s.read.parquet(_))
        val all = prev.map(_.unionByName(batch.toDF())).getOrElse(batch.toDF())
        val merged = all
          .groupBy(col("row_key"))
          .agg(max(struct(col("write_us"), col("generation"), col("value"))).as("m"))
          .select(col("row_key"), col("m.write_us").as("write_us"),
            col("m.generation").as("generation"), col("m.value").as("value"))
        val vDir = s"$storeRoot/v$batchId"
        merged.write.mode("overwrite").parquet(vDir)
        latest.set(vDir)
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.read.parquet(latest.get())
      .select(col("row_key"), col("write_us"), col("generation"),
        round(col("value"), 4).as("value"))
      .orderBy(col("row_key"))
  }

  /** §2.7 — incremental batch (Trigger.AvailableNow): the scheduled
    * nightly-job pattern. Each invocation drains exactly the files
    * that appeared since the last run (the checkpoint's seen-files
    * log is the cursor) and stops. Here: run 1 sees one generation,
    * two more land, run 2 processes ONLY those — every row lands in
    * the parquet sink exactly once, so the final aggregate equals the
    * all-data batch answer, which is what the oracle computes.
    */
  def streamIncrementalBatch(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val src = lateArrivalDir(spark, dir) // 3 single-file generations
    val schema = spark.read.parquet(src).schema
    val work = java.nio.file.Files.createTempDirectory("graft-inc-src-")
    val ck = java.nio.file.Files.createTempDirectory("graft-inc-ck-")
    val sink = java.nio.file.Files.createTempDirectory("graft-inc-out-").toString

    def land(gen: Int): Unit =
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(src, s"arrival_$gen.parquet"),
        work.resolve(s"arrival_$gen.parquet"))
    def drainOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(work.toString)
        .select(col("event_id"), col("event_type"),
          round(col("value") * 10000).cast("long").as("value_e4"))
        .writeStream.trigger(Trigger.AvailableNow())
        .format("parquet").option("path", sink)
        .option("checkpointLocation", ck.toString)
        .start()
      q.awaitTermination()
    }
    land(0); drainOnce()          // nightly run 1: one generation
    land(1); land(2); drainOnce() // nightly run 2: only the new ones
    spark.read.parquet(sink)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value_e4")).as("sum_value_e4"))
      .orderBy(col("event_type"))
  }

  /** §2.7 `stream_txn_feed` — change data feed off the transaction
    * log ([[graft.sources.TxnLog]]): a file stream tails the commit
    * directory and each commit's add/remove actions surface as change
    * records, rolled up per (version, action). This is how downstream
    * consumers incrementally follow a lake table (Delta CDF shape) —
    * the feed reads ONLY the metadata log, never the data files, so a
    * TB-scale commit costs the consumer KBs. The commit protocol's
    * atomic link (put-if-absent) guarantees the tail never observes a
    * half-written commit file. Bounded replay on the fixture log; in
    * production the same stream runs with a durable checkpoint and
    * `Trigger.ProcessingTime`.
    */
  def streamTxnFeedQuery(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.sources.TxnLog.txnFixture(spark, dir)
    val feed = spark.readStream
      .schema("version BIGINT, action STRING, file STRING, n_rows BIGINT")
      .option("pathGlobFilter", "v*.json")
      .json(s"$root/_txn_log")
      .groupBy(col("version"), col("action"))
      .agg(count(lit(1)).as("n_files"), sum(col("n_rows")).as("n_rows"))
    replayToBatch(feed, "complete")
      .orderBy(col("version"), col("action"))
  }

  /** §2.7 `stream_quantile_sketch` — approximate per-window
    * percentiles on an unbounded stream: the t-digest-style sketch
    * behind `approx_percentile` lives in the streaming state store as
    * each (day, type) group's fixed O(accuracy) buffer — the
    * streaming twin of the batch `q_percentiles_approx` scale path.
    * Exact windowed percentiles would need every value retained in
    * state (linear per group); the sketch keeps per-group state
    * CONSTANT, which is what makes latency/size-percentile telemetry
    * viable on a 100 TB/day stream.
    */
  /** Sketch accuracy passed to `approx_percentile`: per-window value
    * counts at or below this are in the EXACT regime (the sketch
    * retains every value), which is what licenses the oracle's
    * value-level hash compare. Above it the estimates are only
    * rank-bounded (1/accuracy), and the contract must fall back to
    * the rank tolerance — [[streamQuantileSketchQuery]] guards this.
    */
  val QuantileSketchAccuracy = 10000L

  def quantileSketchStream(stream: DataFrame): DataFrame =
    stream.withWatermark("ts", "2 days")
      .groupBy(window(col("ts"), "1 day").as("win"), col("event_type"))
      .agg(expr(s"approx_percentile(value, array(0.5D, 0.9D), $QuantileSketchAccuracy)").as("ap"),
        count(lit(1)).as("n_events"))
      .select(col("win.start").as("day_start"), col("event_type"),
        col("n_events"),
        element_at(col("ap"), 1).as("a50"), element_at(col("ap"), 2).as("a90"))

  /** §2.7 oracle surface: [[quantileSketchStream]] replayed, emitting
    * the sketched quantile VALUES themselves. Below the sketch's
    * accuracy bound (10⁴ values per window — every test window)
    * `approx_percentile` is exact and returns the same window element
    * as a discrete quantile, so the oracle hash-compares the actual
    * values (`quantile_disc` in DuckDB) — a sketch-state regression
    * of any size flips the hash, where the former boolean-graded form
    * let anything inside an empirically-tuned tolerance pass silently
    * (the r9 ADVICE finding). Above the accuracy bound the values
    * become approximate and the contract reverts to the 1% rank
    * tolerance, which StreamingSpec asserts engine-side.
    */
  def streamQuantileSketchQuery(spark: SparkSession, dir: String): DataFrame = {
    // exact-regime guard, per-window and crash-free: the hash-compare
    // oracle (DuckDB quantile_disc) is only valid while a (day, type)
    // window stays within the sketch's exact regime, so windows ABOVE
    // the bound emit NULL quantile values (the oracle nulls on the
    // identical `n_events <= accuracy` cut — deterministic in both
    // engines, no cross-engine hash on approximate estimates, ever).
    // The count column always lands, so the artifact still records
    // how far past the exact regime each window went; the estimate
    // quality above the bound is asserted engine-side by
    // StreamingSpec's 1/accuracy rank-tolerance contract. The former
    // require()-crash form took the whole query down at exactly the
    // SFs the bench axes exist to measure.
    val inExact = col("n_events") <= QuantileSketchAccuracy
    replayToBatch(quantileSketchStream(eventStream(spark, dir)), "complete")
      .select(col("day_start"), col("event_type"), col("n_events"),
        when(inExact, col("a50")).as("p50"),
        when(inExact, col("a90")).as("p90"))
      .orderBy(col("day_start"), col("event_type"))
  }

  /** Streaming upload plan: new arrivals (non-temp) mapped to their
    * inventory entries — the continuous version of
    * `SyncOps.syncDiffUpload`'s source side.
    */
  def uploadPlanStream(stream: DataFrame): DataFrame =
    stream
      .filter(!FileInventory.modelIsTemp)
      .select(
        col("event_type").as("cf"),
        FileInventory.modelNodeId.as("node_id"),
        col("event_id").as("generation"),
        FileInventory.modelPath.as("path"),
        col("ts").as("mtime"))
}
