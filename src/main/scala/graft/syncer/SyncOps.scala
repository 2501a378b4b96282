package graft.syncer

import graft.Ckpt.CutOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sync/reconciliation operators (SURVEY.md §2.1) over
  * [[FileInventory]]. Each mirrors a behavior of the reference tool —
  * see the per-method notes — as a declarative Spark plan.
  */
object SyncOps {

  /** §2.1#1 — the inventory relation itself (reference: the source
    * directory walk in `Watcher.backup`). Ordered dump for the oracle.
    */
  def syncInventory(spark: SparkSession, dir: String): DataFrame =
    FileInventory.inventory(spark, dir)
      .select(col("path"), col("cf"), col("node_id"), col("shard_id"),
        col("generation"), col("is_temp"), col("size_bytes"))
      .orderBy(col("generation"))

  /** §2.1#2 — live-set snapshot: the highest generation per compaction
    * lineage (cf × node × shard) among durable files. This is what
    * `Uploader._writeManifest` snapshots: the minimum file set that
    * reconstructs current state. Window-max over a unique ordering
    * key; one shuffle on the bounded lineage key.
    */
  def syncLiveSet(spark: SparkSession, dir: String): DataFrame =
    liveSetOf(FileInventory.durable(spark, dir))

  /** [[syncLiveSet]] over ANY durable inventory relation (the
    * events-derived model or a real [[FsInventory]] tree).
    * `extraCols` carries additional inventory columns (e.g.
    * `snap_date` for [[ioAgeTiering]]) through the window so every
    * consumer shares ONE live-set definition — the lineage key and
    * the generation-desc tie-break live in [[lineageHeads]] and
    * nowhere else (the as-of restore, diff and delta call it too).
    */
  def liveSetOf(durable: DataFrame, extraCols: Seq[String] = Nil): DataFrame =
    lineageHeads(durable, LiveCols ++ extraCols)
      .orderBy(col("cf"), col("node_id"), col("shard_id"))

  private val LiveCols = Seq("cf", "node_id", "shard_id", "generation", "path", "size_bytes")

  /** [[liveSetOf]] without its output sort, projected to `cols`. */
  private def lineageHeads(durable: DataFrame, cols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(col("cf"), col("node_id"), col("shard_id"))
      .orderBy(col("generation").desc)
    durable
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(cols.map(col): _*)
  }

  /** The unsorted live set of the durable files that existed by `day`. */
  private def liveAt(spark: SparkSession, dir: String, day: String,
      cols: Seq[String]): DataFrame =
    lineageHeads(FileInventory.durable(spark, dir)
      .filter(col("snap_date") <= lit(day).cast("date")), cols)

  /** §2.1#3 — temp-file accounting per cf (reference:
    * `Watcher.isTempFile` exclusion). Pure partial aggregate.
    */
  def syncTempFilter(spark: SparkSession, dir: String): DataFrame =
    FileInventory.inventory(spark, dir)
      .groupBy(col("cf"))
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(col("is_temp"), 1L).otherwise(0L)).as("n_temp"),
        sum(when(!col("is_temp"), 1L).otherwise(0L)).as("n_durable"),
        sum(when(!col("is_temp"), col("size_bytes")).otherwise(0L)).as("durable_bytes"))
      .orderBy(col("cf"))

  /** §2.1#4 — incremental upload plan: durable source files absent
    * from the target bucket (reference: the walk+enqueue in
    * `Watcher.backup` against an existing container). Left-anti join
    * on path; at scale the target side is a manifest digest small
    * enough to broadcast, and the anti-join never shuffles the fact
    * scan.
    */
  def syncDiffUpload(spark: SparkSession, dir: String): DataFrame =
    diffUploadOf(FileInventory.durable(spark, dir),
      FileInventory.target(spark, dir))

  /** [[syncDiffUpload]] over ANY (durable, target) inventory pair. */
  def diffUploadOf(durable: DataFrame, target: DataFrame): DataFrame =
    durable
      .join(target.select(col("path")), Seq("path"), "left_anti")
      .select(col("path"), col("cf"), col("node_id"), col("generation"), col("size_bytes"))
      .orderBy(col("generation"))

  /** §2.1#5 — minimal restore set as of a snapshot day (reference:
    * `Restore.restore` picks the latest manifest ≤ now and fetches
    * only its files). Time-travel semantics: among durable files that
    * existed by the snapshot date, the max generation per lineage.
    */
  def syncRestoreSet(spark: SparkSession, dir: String, asOf: String = "2024-01-15"): DataFrame =
    liveAt(spark, dir, asOf, LiveCols)
      .orderBy(col("cf"), col("node_id"), col("shard_id"))

  /** §2.1#6 — prune plan (reference README: `fsck --older-than N`):
    * durable files older than the cutoff that the current live set
    * does not reference — "prune old backups accurately, based on
    * what is actually needed". Anti-join against the (tiny,
    * broadcastable) live set, aggregated per cf.
    */
  def syncPrune(spark: SparkSession, dir: String, cutoff: String = "2024-01-20"): DataFrame = {
    val live = syncLiveSet(spark, dir).select(col("path"))
    FileInventory.durable(spark, dir)
      .filter(col("snap_date") < lit(cutoff).cast("date"))
      .join(live, Seq("path"), "left_anti")
      .groupBy(col("cf"))
      .agg(count(lit(1)).as("n_prunable"),
        sum(col("size_bytes")).as("reclaim_bytes"),
        max(col("generation")).as("max_pruned_gen"))
      .orderBy(col("cf"))
  }

  /** §2.1#48 — manifest diff between two snapshot days: per lineage,
    * how the live generation moved (added / updated / unchanged).
    * This is the reconciliation the reference performs implicitly
    * when it uploads "what changed since the last manifest" — made
    * explicit as a join of two window-max snapshots (lineages are
    * monotone in this model, so a left join from the newer snapshot
    * covers all cases).
    */
  def syncManifestDiff(spark: SparkSession, dir: String,
      fromDay: String = "2024-01-10", toDay: String = "2024-01-20"): DataFrame = {
    val lineage = Seq("cf", "node_id", "shard_id", "generation")
    val newer = liveAt(spark, dir, toDay, lineage)
    val older = liveAt(spark, dir, fromDay, lineage).withColumnRenamed("generation", "gen_old")
    newer.join(older, Seq("cf", "node_id", "shard_id"), "left_outer")
      .select(col("cf"), col("node_id"), col("shard_id"),
        col("gen_old"), col("generation").as("gen_new"),
        when(col("gen_old").isNull, lit("added"))
          .when(col("generation") > col("gen_old"), lit("updated"))
          .otherwise(lit("unchanged")).as("status"))
      .orderBy(col("cf"), col("node_id"), col("shard_id"))
  }

  /** §2.1#76 — path parsing round-trip: recover cf/node/generation
    * from the object path by regex and prove the parse agrees with
    * the stored columns — the ingestion-side validation a real
    * restore tool runs against bucket listings.
    */
  def syncPathParse(spark: SparkSession, dir: String): DataFrame =
    FileInventory.inventory(spark, dir)
      .select(col("cf"), col("node_id"), col("generation"), col("is_temp"), col("path"))
      .withColumn("cf_parsed", SsTablePath.cf(col("path")))
      .withColumn("node_parsed", SsTablePath.nodeId(col("path")))
      .withColumn("gen_parsed", SsTablePath.generation(col("path")))
      .withColumn("temp_parsed", SsTablePath.isTemp(col("path")))
      .groupBy(col("cf"))
      .agg(count(lit(1)).as("n_paths"),
        sum(when(col("cf_parsed") === col("cf") &&
          col("node_parsed") === col("node_id") &&
          col("gen_parsed") === col("generation") &&
          col("temp_parsed") === col("is_temp"), 1L).otherwise(0L)).as("n_roundtrip_ok"))
      .orderBy(col("cf"))

  /** §2.1#98 — generation-gap integrity check: within each lineage's
    * observed generation span, how many generations are missing (the
    * "did every SSTable make it?" audit over bucket listings).
    * Pure partial aggregation; exact integer arithmetic.
    */
  def syncGenerationGaps(spark: SparkSession, dir: String): DataFrame =
    FileInventory.durable(spark, dir)
      .groupBy(col("cf"), col("node_id"), col("shard_id"))
      .agg(count(lit(1)).as("n_files"),
        (max(col("generation")) - min(col("generation")) + 1 - count(lit(1))).as("span_holes"))
      .groupBy(col("cf"))
      .agg(count(lit(1)).as("n_lineages"),
        sum(col("span_holes")).as("total_holes"),
        max(col("span_holes")).as("max_holes"))
      .orderBy(col("cf"))

  /** §2.1#94 — ingest-rate time series: files/bytes landing per day
    * per cf — the monitoring view over the watch stream.
    */
  def syncDailyIngest(spark: SparkSession, dir: String): DataFrame =
    FileInventory.durable(spark, dir)
      .groupBy(col("snap_date"), col("cf"))
      .agg(count(lit(1)).as("n_files"), sum(col("size_bytes")).as("bytes"))
      .orderBy(col("snap_date"), col("cf"))

  /** §2.1#90 — size-tiered compaction planning (the policy that
    * produces the SSTable generations this whole domain syncs):
    * durable files bucket into size tiers (decimal digit count —
    * engine-portable, ~log10); any (cf, tier) holding 4+ files is a
    * compaction candidate, exactly STCS's trigger shape.
    */
  def syncCompactionPlan(spark: SparkSession, dir: String): DataFrame =
    FileInventory.durable(spark, dir)
      .withColumn("tier", length(col("size_bytes").cast("string")).cast("long"))
      .groupBy(col("cf"), col("tier"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("size_bytes")).as("total_bytes"),
        (count(lit(1)) >= 4).as("needs_compaction"))
      .orderBy(col("cf"), col("tier"))

  /** §2.1 `sync_leveled_compaction` — leveled compaction planning
    * (Cassandra LCS, the alternative to [[syncCompactionPlan]]'s
    * STCS): new flushes land in L0 and age downward through levels
    * whose target size grows 10× per level. Files bucket into levels
    * by recency decade of their generation rank within the cf (rank
    * 1–9 → L0, 10–99 → L1, 99+… — where flushes pile up when they
    * outpace compaction); the LCS target for level L is 4·10^L files,
    * so a level's occupancy can exceed its target and the excess is
    * `overflow` — the backlog the compactor must move down (LCS's
    * score = files/target trigger). The plan runs entirely over file
    * METADATA: one window on the (bounded) cf key, partial-agg
    * rollup; at 100 TB the inventory is billions of rows but the
    * per-cf rank is the only shuffle and the output is |cf|×|levels|.
    */
  def syncLeveledCompaction(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("cf"))
      .orderBy(col("generation").desc, col("path"))
    FileInventory.durable(spark, dir)
      .select(col("cf"), col("generation"), col("path"), col("size_bytes"))
      .withColumn("rn", row_number().over(w))
      // recency decade, portably: digit count of the rank, capped at L3
      .withColumn("level",
        least(length(col("rn").cast("string")) - 1, lit(3)).cast("long"))
      .withColumn("capacity",
        when(col("level") === 0, 4L).when(col("level") === 1, 40L)
          .when(col("level") === 2, 400L).otherwise(4000L))
      .groupBy(col("cf"), col("level"), col("capacity"))
      .agg(count(lit(1)).as("n_files"), sum(col("size_bytes")).as("total_bytes"))
      .select(col("cf"), col("level"), col("n_files"), col("total_bytes"),
        col("capacity"),
        greatest(col("n_files") - col("capacity"), lit(0L)).as("overflow"),
        (col("n_files") > col("capacity")).as("over_target"))
      .orderBy(col("cf"), col("level"))
  }

  /** §2.1 `sync_twcs_compaction` — time-window compaction planning
    * (Cassandra TWCS, completing the STCS/LCS/TWCS strategy trio the
    * reference's SSTable landscape is compacted under): durable files
    * bucket by their landing day; the CURRENT window (the cf's newest
    * day) compacts under the STCS trigger (≥4 files), while every
    * PAST window should have been majored down to one file — any
    * past-window file count >1 is compaction backlog. Runs entirely
    * over file metadata: one partial-agg groupBy to the bounded
    * |cf|×|days| frame, then a window over the bounded cf key ON THAT
    * FRAME — at 100 TB the inventory is billions of rows but nothing
    * after the first map-side-combined shuffle exceeds |cf|×|days|.
    */
  def syncTwcsCompaction(spark: SparkSession, dir: String): DataFrame = {
    val wCf = Window.partitionBy(col("cf"))
    FileInventory.durable(spark, dir)
      .groupBy(col("cf"), col("snap_date").as("bucket"))
      .agg(count(lit(1)).as("n_files"), sum(col("size_bytes")).as("total_bytes"))
      .withColumn("is_current", col("bucket") === max(col("bucket")).over(wCf))
      .select(col("cf"), col("bucket"), col("n_files"), col("total_bytes"),
        col("is_current"),
        (!col("is_current") && col("n_files") > 1).as("needs_major"),
        (col("is_current") && col("n_files") >= 4).as("stcs_trigger"))
      .orderBy(col("cf"), col("bucket"))
  }

  /** §2.1#87 — upload slot scheduling (reference: `Uploader`'s
    * `async.queue` with configurable concurrency): every planned
    * upload is assigned a worker slot by a deterministic md5-derived
    * hash of its path — embarrassingly parallel (no global ordering,
    * unlike size-sorted binpacking) and stable across retries. Per-
    * slot load accounting shows the balance.
    */
  def syncSlotSchedule(spark: SparkSession, dir: String, concurrency: Int = 4): DataFrame =
    syncDiffUpload(spark, dir)
      .withColumn("slot", (ascii(substring(md5(col("path")), 1, 1)) % concurrency).cast("long"))
      .groupBy(col("slot"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("size_bytes")).as("total_bytes"),
        max(col("size_bytes")).as("max_bytes"))
      .orderBy(col("slot"))

  /** §2.1 `sync_bandwidth_windows` — rate-limited upload planning
    * (reference: the uploader drains its queue against finite
    * bandwidth): the pending diff-upload backlog, in deterministic
    * generation order, is cut into transfer windows of ≤16 MB by
    * running-total bytes — window k is what a capped link ships in
    * tick k. The running sum is the banded distributed prefix sum
    * ([[graft.analytics.Ranks.globalRankCumSum]] — ≤4096 generation
    * bands from a one-row span pushdown, per-band offsets over the
    * bounded band axis, within-band running sums under a partitioned
    * spillable sort), replacing the single-task global window that
    * made this the worst full-registry 30× row (3.25× for 3× data —
    * the whole backlog sorted through one thread).
    */
  def syncBandwidthWindows(spark: SparkSession, dir: String,
      capBytes: Long = 16777216L): DataFrame = {
    // freeze the backlog once (thin metadata frame): both the span
    // pushdown and the banded pass of transferWindows read the same
    // blocks instead of recomputing the diff-upload anti-join twice
    transferWindows(syncDiffUpload(spark, dir).cutLineage(eager = true),
      Seq(col("generation")), capBytes)
  }

  /** The ≤`capBytes` transfer windows of a frozen `backlog`, cut by
    * running-total bytes in `order` — the banded prefix sum both
    * bandwidth twins share.
    */
  private def transferWindows(backlog: DataFrame, order: Seq[Column],
      capBytes: Long): DataFrame = {
    // bounded pushdown parameter: the generation span (one metadata row)
    val span = backlog.agg(min(col("generation")), max(col("generation"))).collect()(0)
    val (lo, width) =
      if (span.isNullAt(0)) (0L, 1L)
      else (span.getLong(0),
        math.max(1L, (span.getLong(1) - span.getLong(0)) / 4096L + 1L))
    graft.analytics.Ranks.globalRankCumSum(backlog,
        expr(s"CAST((generation - $lo) div $width AS BIGINT)"),
        order, col("size_bytes"), "__rank", "cum")
      .withColumn("window_idx", expr(s"CAST((cum - 1) div $capBytes AS BIGINT)"))
      .groupBy(col("window_idx"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("size_bytes")).as("window_bytes"),
        min(col("generation")).as("first_gen"),
        max(col("generation")).as("last_gen"))
      .orderBy(col("window_idx"))
  }

  /** §2.1#322 `sync_restore_bandwidth` — rate-limited restore
    * planning, the download twin of [[syncBandwidthWindows]]: the
    * reference's restore fetches the minimal manifest set over the
    * same capped link the uploader fills
    * (`bin/cassandra-syncer-restore:60-96` drains its fetch queue
    * sequentially), so the as-of restore set, in deterministic
    * (generation, path) order, is cut into ≤`capBytes` transfer
    * windows by running-total bytes — window k is what the link pulls
    * in tick k. Same banded distributed prefix sum as the upload twin
    * (bounded generation bands from a one-row span pushdown; no
    * single-task global sort at any backlog size).
    */
  def syncRestoreBandwidth(spark: SparkSession, dir: String,
      capBytes: Long = 16777216L, asOf: String = "2024-01-15"): DataFrame =
    transferWindows(syncRestoreSet(spark, dir, asOf).cutLineage(eager = true),
      Seq(col("generation"), col("path")), capBytes)

  /** §2.1#105 — replication-factor audit: on how many nodes each
    * (cf, shard) lineage is materialized — the "is every shard
    * replicated where it should be" check over the synced inventory.
    */
  def syncReplicationAudit(spark: SparkSession, dir: String): DataFrame =
    FileInventory.durable(spark, dir)
      .groupBy(col("cf"), col("shard_id"))
      .agg(countDistinct(col("node_id")).as("n_nodes"),
        count(lit(1)).as("n_files"))
      .groupBy(col("cf"))
      .agg(count(lit(1)).as("n_shards"),
        min(col("n_nodes")).as("min_replication"),
        max(col("n_nodes")).as("max_replication"))
      .orderBy(col("cf"))

  /** §2.1#102 — incremental restore delta: the files a node holding
    * state as of `fromDay` must actually fetch to reach `toDay` —
    * the changed/added lineage heads only, never the unchanged ones
    * (the reference's minimal-set restore applied incrementally).
    */
  def syncRestoreDelta(spark: SparkSession, dir: String,
      fromDay: String = "2024-01-10", toDay: String = "2024-01-20"): DataFrame = {
    val newer = liveAt(spark, dir, toDay, LiveCols)
    val older = liveAt(spark, dir, fromDay, LiveCols)
      .select(col("cf"), col("node_id"), col("shard_id"), col("generation").as("gen_old"))
    newer.join(older, Seq("cf", "node_id", "shard_id"), "left_outer")
      .filter(col("gen_old").isNull || col("generation") > col("gen_old"))
      .select(col("cf"), col("node_id"), col("shard_id"),
        col("generation"), col("path"), col("size_bytes"))
      .orderBy(col("cf"), col("node_id"), col("shard_id"))
  }

  /** §2.1#69 — skip-vanished accounting (reference:
    * `Uploader._performUpload` stats the file and silently skips on
    * ENOENT — files compacted away between walk and upload). In set
    * terms: upload-plan entries whose generation is no longer its
    * lineage's maximum by the time the plan runs. Per-cf counts of
    * uploadable vs vanished.
    */
  def syncSkipVanished(spark: SparkSession, dir: String): DataFrame = {
    val lineageMax = FileInventory.durable(spark, dir)
      .groupBy(col("cf"), col("node_id"), col("shard_id"))
      .agg(max(col("generation")).as("max_gen"))
    val planned = FileInventory.durable(spark, dir)
      .join(FileInventory.target(spark, dir).select(col("path")), Seq("path"), "left_anti")
    planned
      .join(lineageMax, Seq("cf", "node_id", "shard_id"))
      .groupBy(col("cf"))
      .agg(count(lit(1)).as("n_planned"),
        sum(when(col("generation") === col("max_gen"), 1L).otherwise(0L)).as("n_uploadable"),
        sum(when(col("generation") =!= col("max_gen"), 1L).otherwise(0L)).as("n_vanished"))
      .orderBy(col("cf"))
  }

  /** §2.1#67 — last-write-wins merge with tombstones: the Cassandra
    * read/compaction semantic over the rows the synced SSTables
    * contain. Each event is a cell write (key = user bucket, value,
    * write timestamp); 'error' events model deletes (tombstones).
    * The merged view keeps the newest write per key and drops keys
    * whose newest write is a tombstone — exactly what a reader of the
    * restored file set must compute. One shuffle on the row key;
    * window-max over (ts, generation) for total order.
    */
  def syncLwwMerge(spark: SparkSession, dir: String): DataFrame = {
    val cells = graft.sources.Tables.events(spark, dir)
      .select((col("user_id") % 50).cast("long").as("row_key"),
        col("value"),
        col("ts").as("write_ts"),
        col("event_id").as("generation"),
        (col("event_type") === "error").as("tombstone"))
    val w = Window.partitionBy(col("row_key"))
      .orderBy(col("write_ts").desc, col("generation").desc)
    cells.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && !col("tombstone"))
      .select(col("row_key"), col("value").as("latest_value"),
        col("write_ts"), col("generation"))
      .orderBy(col("row_key"))
  }

  /** §2.1 `cass_secondary_index` — secondary-index read path: the 2i
    * is a materialized projection of the LWW state keyed by the
    * indexed value's bucket; a probe hits the tiny index first, then
    * point-reads the base rows it names. At scale the index join is
    * what turns a full-table value predicate into a bounded
    * row_key fetch set (the base state is persisted once here, since
    * both the index build and the fetch derive from it).
    */
  def cassSecondaryIndex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val state = syncLwwMerge(spark, dir)
      .select(col("row_key"), col("latest_value"))
      .cutLineage(eager = false) // lazy: blocks die with the RDD, no session-lifetime cache pin
    val index = state.select(
      floor(col("latest_value") / 50).cast("long").as("vbucket"), col("row_key"))
    val probes = Seq(0L, 1L).toDF("vbucket")
    index.join(broadcast(probes), Seq("vbucket"))
      .join(state, Seq("row_key"))
      .select(col("vbucket"), col("row_key"),
        round(col("latest_value"), 4).as("latest_value"))
      .orderBy(col("vbucket"), col("row_key"))
  }

  /** §2.1#7 — full-vs-incremental decision per node (reference:
    * `Uploader.isAFullBackupNeeded` checks whether the container
    * exists). A node with zero files in the target bucket needs a
    * full backup; everyone else syncs incrementally.
    */
  def syncFullOrIncr(spark: SparkSession, dir: String): DataFrame = {
    val tgtPerNode = FileInventory.target(spark, dir)
      .groupBy(col("node_id")).agg(count(lit(1)).as("n_in_target"))
    FileInventory.durable(spark, dir)
      .groupBy(col("node_id")).agg(count(lit(1)).as("n_durable"))
      .join(tgtPerNode, Seq("node_id"), "left_outer")
      .select(col("node_id"), col("n_durable"),
        coalesce(col("n_in_target"), lit(0L)).as("n_in_target"),
        when(coalesce(col("n_in_target"), lit(0L)) === 0, lit("full"))
          .otherwise(lit("incremental")).as("mode"))
      .orderBy(col("node_id"))
  }

  /** §2.1#8 — per-bucket (cf) upload accounting, the queue statistics
    * the reference logs per upload. Map-side partial aggregation only.
    */
  def syncBucketStats(spark: SparkSession, dir: String): DataFrame =
    FileInventory.durable(spark, dir)
      .groupBy(col("cf"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("size_bytes")).as("total_bytes"),
        (sum(col("size_bytes")).cast("double") / count(lit(1))).as("avg_bytes"),
        max(col("generation")).as("max_generation"),
        countDistinct(col("node_id")).as("n_nodes"))
      .orderBy(col("cf"))

  /** §2.1#9 — at-least-once retry ledger (reference: `Uploader._onDone`
    * re-enqueues failures until success). Attempt counts are modeled
    * deterministically — error-cf uploads flake (generation % 3 extra
    * attempts) — and rolled up per cf.
    */
  def syncRetryLedger(spark: SparkSession, dir: String): DataFrame =
    FileInventory.durable(spark, dir)
      .withColumn("attempts",
        lit(1L) + when(col("cf") === "error", col("generation") % 3).otherwise(0L))
      .groupBy(col("cf"))
      .agg(sum(col("attempts")).as("total_attempts"),
        sum(when(col("attempts") > 1, 1L).otherwise(0L)).as("n_retried"),
        max(col("attempts")).as("max_attempts"),
        count(lit(1)).as("n_files"))
      .orderBy(col("cf"))

  /** §2.1#182 — capacity forecast per cf: OLS growth rate of
    * cumulative stored bytes over the snapshot days, and the
    * days-to-double readout a capacity planner watches. All
    * regression inputs are exact integer sums (day, cumulative
    * bytes), so both engines derive identical doubles; the fit is
    * per-cf over the bounded day axis.
    */
  def syncQuotaForecast(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = FileInventory.durable(spark, dir)
      .groupBy(col("cf"),
        datediff(col("snap_date"), lit("1970-01-01").cast("date")).cast("long").as("day"))
      .agg(sum(col("size_bytes")).as("bytes"))
    val run = Window.partitionBy(col("cf")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = daily.withColumn("cum_bytes", sum(col("bytes")).over(run))
    val fit = cum.groupBy(col("cf")).agg(
      count(lit(1)).as("n"), sum(col("day")).as("sx"), sum(col("cum_bytes")).as("sy"),
      sum(col("day") * col("day")).as("sxx"),
      sum(col("day") * col("cum_bytes")).as("sxy"),
      max(col("cum_bytes")).as("cum_last"))
    val n = col("n").cast("double")
    val slope = (n * col("sxy") - col("sx").cast("double") * col("sy")) /
      (n * col("sxx") - col("sx").cast("double") * col("sx"))
    fit.select(col("cf"), col("n").as("n_days"), col("cum_last"),
        round(slope, 4).as("daily_rate_bytes"),
        round(col("cum_last").cast("double") / slope, 4).as("days_to_double"))
      .orderBy(col("cf"))
  }

  /** §2.1#165 — order-independent table checksum per cf: XOR of
    * per-row content hashes (path|generation|size). XOR is
    * commutative, associative, and overflow-free, so the signature is
    * identical at any partitioning/parallelism and never widens past
    * 64 bits — the drift-detection primitive a source↔replica sync
    * runs on both sides to find divergent column families without
    * shipping data (the distributed analogue of the reference's
    * per-file SHA comparison).
    */
  def syncTableChecksum(spark: SparkSession, dir: String): DataFrame = {
    val rowHash = conv(substring(md5(concat_ws("|",
      col("path"), col("generation"), col("size_bytes"))), 1, 15), 16, 10)
      .cast("long")
    FileInventory.durable(spark, dir)
      .withColumn("rh", rowHash)
      .groupBy(col("cf"))
      .agg(count(lit(1)).as("n_files"),
        expr("bit_xor(rh)").as("content_sig"),
        sum(col("size_bytes")).as("bytes"))
      .orderBy(col("cf"))
  }

  /** §2.1#188 — anti-entropy Merkle-range diff. Cassandra repair
    * compares per-token-range digests between replicas and streams
    * only the diverging ranges; the reference gets the same effect
    * per-file by re-uploading when the SHA comparison fails
    * (`bin/cassandra-syncer` upload path). Spark-first shape: each
    * replica hashes its rows into 64 token buckets per cf and folds an
    * order-independent `bit_xor` digest per bucket — a map-side
    * combinable aggregate, so at 100 TB each replica reduces locally
    * to 64×|cf| digest rows and the comparison exchanges digests,
    * never data. Replica B is a deterministic perturbation of the
    * durable set (generation % 101 lost, % 97 corrupted by one byte),
    * giving the repair planner real work at every scale factor.
    */
  /** §2.1#195 — tombstone GC (Cassandra `gc_grace_seconds`
    * compaction semantics) over the LWW cell model of
    * [[syncLwwMerge]]: cells shadowed by a row's newest tombstone are
    * dropped, and the tombstone itself is purged once it is older
    * than the grace window (cutoff = corpus max write time − grace).
    * One shuffle: the window max and the per-row aggregate share the
    * `row_key` partitioning; the cutoff is a broadcast scalar, never
    * a driver round-trip.
    */
  def syncTombstoneGc(spark: SparkSession, dir: String,
      graceDays: Int = 7): DataFrame = {
    val cells = graft.sources.Tables.events(spark, dir)
      .select((col("user_id") % 50).cast("long").as("row_key"),
        unix_micros(col("ts")).as("ts_us"),
        col("event_id").as("generation"),
        (col("event_type") === "error").as("tombstone"))
    val cut = cells.agg(
      (max(col("ts_us")) - lit(graceDays.toLong * 86400L * 1000000L))
        .as("cutoff_us"))
    val w = Window.partitionBy(col("row_key"))
    cells
      .withColumn("mtg",
        max(when(col("tombstone"), col("generation"))).over(w))
      .groupBy(col("row_key"))
      .agg(count(lit(1)).as("n_cells"),
        sum(when(col("tombstone"), 1L).otherwise(0L)).as("n_tombstones"),
        sum(when(col("mtg").isNotNull && col("generation") < col("mtg"), 1L)
          .otherwise(0L)).as("n_shadowed"),
        max(when(col("generation") === col("mtg"), col("ts_us")))
          .as("tomb_ts_us"))
      .crossJoin(broadcast(cut))
      .select(col("row_key"), col("n_cells"), col("n_tombstones"),
        col("n_shadowed"),
        (col("tomb_ts_us").isNotNull && col("tomb_ts_us") < col("cutoff_us"))
          .as("tomb_purged"),
        (col("n_cells") - col("n_shadowed") -
          when(col("tomb_ts_us").isNotNull && col("tomb_ts_us") < col("cutoff_us"), 1L)
            .otherwise(0L)).as("n_after_gc"))
      .orderBy(col("row_key"))
  }

  def syncMerkleDiff(spark: SparkSession, dir: String): DataFrame = {
    val dur = FileInventory.durable(spark, dir)
    val replicaB = dur
      .filter(col("generation") % 101 =!= 0)
      .withColumn("size_bytes",
        when(col("generation") % 97 === 0, col("size_bytes") + 1)
          .otherwise(col("size_bytes")))
    def leafDigests(df: DataFrame, prefix: String): DataFrame = df
      .withColumn("bucket",
        conv(substring(md5(col("path")), 1, 15), 16, 10).cast("long") % 64)
      .withColumn("rh", conv(substring(md5(concat_ws("|",
        col("path"), col("generation"), col("size_bytes"))), 1, 15), 16, 10)
        .cast("long"))
      .groupBy(col("cf"), col("bucket"))
      .agg(count(lit(1)).as(s"${prefix}_files"),
        expr("bit_xor(rh)").as(s"${prefix}_sig"),
        sum(col("size_bytes")).as(s"${prefix}_bytes"))
    val a = leafDigests(dur, "a").as("a")
    val b = leafDigests(replicaB, "b").as("b")
    a.join(b, col("a.cf") === col("b.cf") && col("a.bucket") === col("b.bucket"),
        "full_outer")
      .select(
        coalesce(col("a.cf"), col("b.cf")).as("cf"),
        coalesce(col("a.bucket"), col("b.bucket")).as("bucket"),
        col("a_files"), col("b_files"), col("a_sig"), col("b_sig"),
        col("a_bytes"),
        when(col("b_sig").isNull, lit("missing_in_b"))
          .when(col("a_sig").isNull, lit("missing_in_a"))
          .otherwise(lit("hash_diverged")).as("status"))
      .filter(col("a_sig").isNull || col("b_sig").isNull ||
        col("a_sig") =!= col("b_sig"))
      .orderBy(col("cf"), col("bucket"))
  }

  // Token-ring geometry: 8 nodes × 16 vnodes, Knuth-multiplicative
  // tokens mod the Mersenne prime 2^31−1. The 128 ring tokens are
  // pairwise distinct (spec-checked), so every key has a unique
  // owner — min-by over clockwise distance can never tie.
  private val RingM = 2147483647L
  private val RingNodes = 8
  private val RingVnodes = 16

  /** The `nodes`-node ring: (node, token) for its 16 vnodes each. */
  private def ringOf(spark: SparkSession, nodes: Int): DataFrame = {
    import spark.implicits._
    (0 until nodes).flatMap(n => (0 until RingVnodes).map(v =>
      (n.toLong, ((n * RingVnodes + v) * 2654435761L) % RingM)))
      .toDF("node", "token")
  }

  /** A key's ring token. */
  private def tokenOf(key: Column): Column = (key * 1103515245L) % RingM

  /** Per-user event counts with each user's ring token `kt`. */
  private def userKeys(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.events(spark, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
      .withColumn("kt", tokenOf(col("user_id")))

  /** RF=3 replica placement on the `nodes`-node ring: per key (the
    * first of `keyCols`, token `kt`), the three distinct nodes whose
    * nearest vnode lies closest clockwise, ranked `rk` 1..3 by that
    * distance `mind`, then node.
    */
  private def replicas(keys: DataFrame, keyCols: Seq[String],
      nodes: Int = RingNodes): DataFrame = {
    val perNode = keys.crossJoin(broadcast(ringOf(keys.sparkSession, nodes)))
      .withColumn("dist", (col("token") - col("kt") + RingM) % RingM)
      .groupBy((keyCols :+ "node").map(col): _*)
      .agg(min(col("dist")).as("mind"))
    val w = Window.partitionBy(col(keyCols.head)).orderBy(col("mind"), col("node"))
    perNode.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
  }

  /** §2.1 `sync_token_ring` — consistent-hash ring placement, the
    * partition-ownership model of the reference's upstream store
    * (`/root/reference/bin/cassandra-syncer` ships SSTables whose
    * keys a token ring distributes across nodes): each key hashes to
    * a token and is owned by the clockwise-nearest virtual node. The
    * ring is 128 rows — broadcast — so ownership is a map-side
    * lookup; the fact table is scanned once, aggregated per key, and
    * per-node load falls out of a second bounded aggregation. Adding
    * a node moves only the keys in its new arcs (~1/n of load), which
    * is the entire point of consistent hashing; the spec pins that
    * re-placement delta.
    */
  /** Per-key ownership under an `nodes`-node ring — the placement
    * kernel behind [[syncTokenRing]], parameterized so the spec can
    * pin the consistent-hashing contract: growing the ring by one
    * node moves keys ONLY onto the new node, never between old ones.
    */
  def tokenRingPlacement(spark: SparkSession, dir: String,
      nodes: Int = RingNodes): DataFrame =
    userKeys(spark, dir).crossJoin(broadcast(ringOf(spark, nodes)))
      .withColumn("dist", (col("token") - col("kt") + RingM) % RingM)
      .groupBy(col("user_id"), col("n_events"))
      .agg(min(struct(col("dist"), col("node"))).as("m"))
      .select(col("m.node").as("node"), col("user_id"), col("n_events"))

  def syncTokenRing(spark: SparkSession, dir: String): DataFrame =
    tokenRingPlacement(spark, dir)
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_keys"), sum(col("n_events")).as("n_events"))
      .orderBy(col("node"))

  /** §2.1 `sync_replica_sets` — RF=3 replica placement on the token
    * ring: a key's replicas are the first three DISTINCT nodes met
    * walking clockwise from its token. The first vnode of node X a
    * clockwise walk reaches lies at X's minimum clockwise distance,
    * so ranking nodes by per-node min distance reproduces the
    * distinct-node walk exactly — no iterative successor chase. Per
    * node: primary keys, total replica keys, and primary event load.
    * Everything after the one fact-table aggregation happens on
    * |keys|×|nodes| rows with a broadcast 128-row ring.
    */
  def syncReplicaSets(spark: SparkSession, dir: String): DataFrame =
    replicas(userKeys(spark, dir), Seq("user_id", "n_events"))
      .groupBy(col("node"))
      .agg(sum(when(col("rk") === 1, 1L).otherwise(0L)).as("n_primary"),
        count(lit(1)).as("n_replica"),
        sum(when(col("rk") === 1, col("n_events")).otherwise(0L))
          .as("primary_events"))
      .orderBy(col("node"))

  /** §2.1 `sync_ring_rebalance` — node-addition movement plan: the
    * RF=3 placement ([[syncReplicaSets]]) recomputed with a ninth
    * node joining the ring, diffed per (key, node). Consistent
    * hashing's minimal-disruption property falls out and is pinned in
    * the spec: existing vnode tokens don't move, so distances are
    * unchanged and ranks can only be pushed DOWN by the joiner —
    * every gained replica lands on the new node, existing nodes only
    * lose. The per-node gained/lost counts are exactly what bootstrap
    * streaming will ship. Two broadcast-ring placements + one
    * anti-join diff per direction — all metadata-scale.
    */
  def syncRingRebalance(spark: SparkSession, dir: String): DataFrame = {
    val keys = graft.sources.Tables.events(spark, dir)
      .select(col("user_id")).distinct()
      .withColumn("kt", tokenOf(col("user_id")))
    def placement(nodes: Int): DataFrame =
      replicas(keys, Seq("user_id"), nodes).select(col("user_id"), col("node"))
    val before = placement(RingNodes).cutLineage()
    val after = placement(RingNodes + 1).cutLineage()
    val gained = after.join(before, Seq("user_id", "node"), "left_anti")
      .groupBy(col("node")).agg(count(lit(1)).as("keys_gained"))
    val lost = before.join(after, Seq("user_id", "node"), "left_anti")
      .groupBy(col("node")).agg(count(lit(1)).as("keys_lost"))
    spark.range(RingNodes + 1).select(col("id").as("node"))
      .join(broadcast(gained), Seq("node"), "left")
      .join(broadcast(lost), Seq("node"), "left")
      .select(col("node"),
        coalesce(col("keys_gained"), lit(0L)).as("keys_gained"),
        coalesce(col("keys_lost"), lit(0L)).as("keys_lost"))
      .orderBy(col("node"))
  }

  /** §2.1 `cass_read_repair` — read repair at quorum: each of the 50
    * row keys lives on its RF=3 replica set (the [[syncReplicaSets]]
    * placement); replicas drift because each applies a different
    * deterministic subset of writes (replica rank r misses cells with
    * `(generation + r) % 5 = 0` — the dropped-mutation model). A
    * quorum read collects every replica's last-write-wins head, the
    * globally newest (write_ts, generation) wins, and any replica
    * whose head differs — including one holding NO state for the key
    * — is stale and gets a repair mutation. Per-node rollup: keys
    * served, stale heads repaired, already-current heads.
    *
    * Scale shape: cells × RF is exactly what a real cluster stores;
    * the per-replica LWW is one window over the (row_key, rank)
    * shuffle, the winner one more bounded agg over ≤3 rows per key,
    * and the ring/replica side is broadcast metadata throughout.
    */
  def cassReadRepair(spark: SparkSession, dir: String): DataFrame = {
    val cells = graft.sources.Tables.events(spark, dir).select(
      (col("user_id") % 50).cast("long").as("row_key"),
      col("ts").as("write_ts"), col("event_id").as("generation"))
    val keys = cells.select(col("row_key")).distinct()
      .withColumn("kt", tokenOf(col("row_key")))
    val replicaSet = replicas(keys, Seq("row_key"))
      .select(col("row_key"), col("rk"), col("node"))
    // per-replica applied set → per-replica LWW head (one window on
    // the (row_key, rk) shuffle; the replicas dim broadcasts)
    val wLww = Window.partitionBy(col("row_key"), col("rk"))
      .orderBy(col("write_ts").desc, col("generation").desc)
    // replicas is |keys|·RF-scale — row_key-keyed shuffle join (the
    // window above already partitioned it on row_key; no hint, so at
    // scale this degrades to a co-partitioned shuffle instead of
    // broadcasting a key-scale frame)
    val heads = cells.join(replicaSet, Seq("row_key"))
      .filter((col("generation") + col("rk")) % 5 =!= 0)
      .withColumn("rn", row_number().over(wLww))
      .filter(col("rn") === 1)
      .select(col("row_key"), col("rk"),
        col("write_ts").as("head_ts"), col("generation").as("head_gen"))
      // two consumers (winner + compare) of one fact-scan result:
      // materialize the ≤150-row head set once, not the scan twice
      .cutLineage()
    // quorum winner = newest (write_ts, generation) head across the
    // key's replicas; a replica with no surviving cells still serves
    // the key (left join → NULL head). Generation is globally unique,
    // so the winner's generation identifies the winning head.
    val wWin = Window.partitionBy(col("row_key"))
      .orderBy(col("head_ts").desc, col("head_gen").desc)
    val winner = heads.withColumn("wn", row_number().over(wWin))
      .filter(col("wn") === 1)
      .select(col("row_key"), col("head_gen").as("win_gen"))
    // heads/winner are |keys|·RF-scale — key-keyed shuffle joins, no
    // broadcast hints (AQE reads the checkpointed sizes at runtime and
    // still broadcasts while they are actually small)
    replicaSet
      .join(heads, Seq("row_key", "rk"), "left")
      .join(winner, Seq("row_key"))
      .withColumn("stale",
        col("head_gen").isNull || col("head_gen") =!= col("win_gen"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_replica_keys"),
        sum(when(col("stale"), 1L).otherwise(0L)).as("n_stale"),
        sum(when(!col("stale"), 1L).otherwise(0L)).as("n_current"))
      .orderBy(col("node"))
  }

  /** §2.1 `sync_hinted_handoff` — hinted handoff under one down node
    * (node 3): every key whose RF=3 replica set includes the down
    * node queues a hint at its first LIVE replica (lowest-ranked
    * replica ≠ down), to be replayed when the node returns. Same
    * broadcast-ring + rank-window shape as the replica placement; the
    * down-node filter and live-minimum are plain aggregations over
    * the ≤3 replica rows per key.
    */
  def syncHintedHandoff(spark: SparkSession, dir: String,
      downNode: Long = 3L): DataFrame =
    replicas(userKeys(spark, dir), Seq("user_id", "n_events"))
      .groupBy(col("user_id"), col("n_events"))
      .agg(max(when(col("node") === downNode, 1L).otherwise(0L)).as("affected"),
        min(when(col("node") =!= downNode, struct(col("rk"), col("node"))))
          .as("live"))
      .filter(col("affected") === 1L)
      .groupBy(col("live.node").as("node"))
      .agg(count(lit(1)).as("n_hints"), sum(col("n_events")).as("hinted_events"))
      .orderBy(col("node"))

  /** §2.1#272 — backlog age per column family: among durable files
    * the target is still missing ([[diffUploadOf]]'s anti-join
    * semantics, mtime retained), the count, byte total, and the
    * OLDEST pending mtime — the daemon-health number an operator
    * alarms on ("nothing older than N hours stays unsynced",
    * reference's at-least-once upload queue). Anti-join against the
    * target path set, then a bounded per-cf aggregate; mtimes compare
    * as exact epoch-µs longs.
    */
  def syncOldestPending(spark: SparkSession, dir: String): DataFrame =
    FileInventory.durable(spark, dir)
      .join(FileInventory.target(spark, dir).select(col("path")),
        Seq("path"), "left_anti")
      .groupBy(col("cf"))
      .agg(count(lit(1)).as("n_pending"),
        sum(col("size_bytes")).as("pending_bytes"),
        min(unix_micros(col("mtime"))).as("oldest_mtime_us"),
        max(unix_micros(col("mtime"))).as("newest_mtime_us"))
      .orderBy(col("cf"))

  /** §2.1#276 — backlog drain ETA per column family: pending bytes
    * (the anti-join backlog of [[syncOldestPending]]) divided by the
    * cf's historical upload rate — already-synced bytes over the
    * mtime span of the synced set. The "when does the queue drain if
    * nothing changes" capacity answer the at-least-once uploader's
    * operator asks before adding nodes. Two anti/semi-join passes
    * over the same two inventories, both reducing to the bounded cf
    * axis map-side; the divisions are IEEE doubles over exact longs,
    * written in the same order as the oracle. A cf with a degenerate
    * single-mtime history yields a null rate/ETA, not a fake zero.
    */
  def syncCatchupEta(spark: SparkSession, dir: String): DataFrame = {
    val dur = FileInventory.durable(spark, dir)
    val target = FileInventory.target(spark, dir).select(col("path"))
    val pending = dur.join(target, Seq("path"), "left_anti")
      .groupBy(col("cf"))
      .agg(count(lit(1)).as("n_pending"),
        sum(col("size_bytes")).as("pending_bytes"))
    val done = dur.join(target, Seq("path"), "left_semi")
      .groupBy(col("cf"))
      .agg(sum(col("size_bytes")).as("done_bytes"),
        (max(unix_micros(col("mtime"))) - min(unix_micros(col("mtime"))))
          .as("span_us"))
    pending.join(done, Seq("cf"), "left_outer")
      .select(col("cf"), col("n_pending"), col("pending_bytes"),
        col("done_bytes"),
        (col("done_bytes").cast("double") * 1e6 /
          nullif(col("span_us").cast("double"), lit(0.0)))
          .as("rate_bytes_s"),
        (col("pending_bytes").cast("double") *
          nullif(col("span_us").cast("double"), lit(0.0)) /
          col("done_bytes") / 1e6)
          .as("eta_s"))
      .orderBy(col("cf"))
  }

  /** §2.8 `io_age_tiering` — storage-lifecycle tiering audit over the
    * LIVE set: each current file classed hot (≤7 days old), warm
    * (≤30) or cold by age against the newest manifest day, with per-cf
    * file/byte totals and the byte share each tier holds. This is the
    * read-side twin of the reference's older-than pruning
    * (`bin/cassandra-syncer-restore`'s `--older-than`, README:28,37):
    * prune decides what to DELETE; tiering decides what storage class
    * the survivors should occupy before the bucket bill does.
    *
    * Shape: the standard live-set window (partitioned by lineage —
    * distributed, never a global sort), a broadcast scalar for the
    * corpus max day, then everything reduces to the bounded cf×3
    * grid. byte_share is an exact-count quotient, emitted unrounded.
    */
  def ioAgeTiering(spark: SparkSession, dir: String): DataFrame = {
    // the shared live-set definition, carrying snap_date (r14 advice:
    // one row_number window, not a re-implementation that could drift
    // from syncLiveSet's lineage key / tie-break)
    val live = liveSetOf(FileInventory.durable(spark, dir), Seq("snap_date"))
      .select(col("cf"), col("snap_date"), col("size_bytes"))
    val mx = live.agg(max(col("snap_date")).as("d_max"))
    val wCf = Window.partitionBy(col("cf"))
    live.crossJoin(broadcast(mx))
      .withColumn("age_days", datediff(col("d_max"), col("snap_date")).cast("long"))
      .withColumn("tier",
        when(col("age_days") <= 7, "a_hot")
          .when(col("age_days") <= 30, "b_warm")
          .otherwise("c_cold"))
      .groupBy(col("cf"), col("tier"))
      .agg(count(lit(1)).as("n_files"), sum(col("size_bytes")).as("tier_bytes"))
      .withColumn("cf_bytes", sum(col("tier_bytes")).over(wCf))
      .select(col("cf"), col("tier"), col("n_files"), col("tier_bytes"),
        (col("tier_bytes").cast("double") / col("cf_bytes")).as("byte_share"))
      .orderBy(col("cf"), col("tier"))
  }
}
