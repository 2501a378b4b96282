package graft.syncer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** The sync domain's data model (SURVEY.md §2.1).
  *
  * The reference (`/root/reference/bin/cassandra-syncer`) walks a
  * Cassandra data directory of immutable SSTable files and reconciles
  * it against a backup bucket: upload what's missing
  * (`Watcher.backup` + `Uploader`), snapshot the live set into a
  * timestamped manifest (`Uploader._writeManifest`), restore the
  * minimal set from the latest manifest
  * (`bin/cassandra-syncer-restore` `Restore.restore`), skip in-flight
  * `-tmp` files (`Watcher.isTempFile`), and prune what no retained
  * manifest references (README: `fsck --older-than`).
  *
  * Spark-first, that domain is *set reconciliation over an immutable
  * file-inventory relation* — every reference behavior becomes an
  * anti/semi join, window-max, or partial aggregate. The inventory
  * here is derived deterministically from the `events` table (each
  * event = one SSTable component landing on a node) so the driver's
  * DuckDB oracle can rebuild the identical relation in SQL:
  *
  *   - cf          = event_type        (column family / table)
  *   - node_id     = user_id % 10      (origin node)
  *   - shard_id    = event_id % 7      (compaction lineage within cf×node)
  *   - generation  = event_id          (monotone: higher supersedes lower
  *                                      within a lineage, like compaction)
  *   - is_temp     = event_id % 20 = 0 (in-flight '-tmp' file)
  *   - size_bytes  = floor(value*1000) (floor: Spark and DuckDB disagree
  *                                      on double→bigint cast rounding)
  *   - mtime       = ts; snap_date = date(ts) (daily manifest epochs)
  *
  * At 100 TB the inventory is billions of rows partitioned by
  * snap_date/cf; everything downstream aggregates or joins on bounded
  * keys with the manifest side small enough to broadcast.
  */
object FileInventory {

  /** The model's origin node, temp flag and object key of an event —
    * over the `events` table or its stream.
    */
  private[graft] def modelNodeId: Column = (col("user_id") % 10).cast("long")
  private[graft] def modelIsTemp: Column = col("event_id") % 20 === 0
  private[graft] def modelPath: Column =
    SsTablePath.format(col("event_type"), modelNodeId, col("event_id"), modelIsTemp)

  /** The derivation itself — narrow, codegen'd, zero-shuffle. */
  def inventory(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(
      col("event_type").as("cf"),
      modelNodeId.as("node_id"),
      SsTablePath.shardOf(col("event_id")).cast("long").as("shard_id"),
      col("event_id").as("generation"),
      modelIsTemp.as("is_temp"),
      modelPath.as("path"),
      floor(col("value") * 1000).cast("long").as("size_bytes"),
      col("ts").as("mtime"),
      to_date(col("ts")).as("snap_date"))

  /** Inventory with in-flight files excluded — the `isTempFile` rule
    * as a pushed-down filter.
    */
  def durable(spark: SparkSession, dir: String): DataFrame =
    inventory(spark, dir).filter(!col("is_temp"))

  /** The already-uploaded ("target bucket") side of reconciliation.
    * Modeled deterministically: generations divisible by 3 never made
    * it, and node 3 lost its bucket entirely — giving the diff and
    * full-vs-incremental operators real work on every scale factor.
    */
  def target(spark: SparkSession, dir: String): DataFrame =
    durable(spark, dir)
      .filter(col("generation") % 3 =!= 0 && col("node_id") =!= 3)
}
