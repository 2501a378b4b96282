package graft.syncer

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The SSTable path codec: the one definition of the object key
  * `ks1/<cf>/node<n>/na-<gen>[-tmp]-Data.db` that the model inventory
  * formats, that the real-tree walker and the watch read-backs parse,
  * and that the `Watcher.isTempFile` rule tests. A generation's
  * compaction lineage within (cf, node) is `generation % Shards`.
  */
object SsTablePath {

  val Shards = 7

  /** The key, anchored at the path's end; groups: cf, node,
    * generation, `-tmp`.
    */
  val Pattern = "ks1/([^/]+)/node(\\d+)/na-(\\d+)(-tmp)?-Data\\.db$"

  def format(cf: Column, nodeId: Column, generation: Column, isTemp: Column): Column =
    concat(lit("ks1/"), cf, lit("/node"), nodeId.cast("string"),
      lit("/na-"), generation.cast("string"),
      when(isTemp, lit("-tmp")).otherwise(lit("")), lit("-Data.db"))

  def shardOf(generation: Column): Column = generation % Shards

  /** `Watcher.isTempFile`, over a key or a full path. */
  def isTemp(path: Column): Column = path.endsWith("-tmp-Data.db")

  /** The key inside `path`; "" when the path is no SSTable key. */
  def keyOf(path: Column): Column = regexp_extract(path, Pattern, 0)

  def cf(key: Column): Column = regexp_extract(key, Pattern, 1)
  def nodeId(key: Column): Column = regexp_extract(key, Pattern, 2).cast("long")
  def generation(key: Column): Column = regexp_extract(key, Pattern, 3).cast("long")

  /** The inventory columns a key encodes: cf, node_id, shard_id,
    * generation, is_temp.
    */
  def parse(key: Column): Seq[Column] = Seq(
    cf(key).as("cf"),
    nodeId(key).as("node_id"),
    shardOf(generation(key)).as("shard_id"),
    generation(key).as("generation"),
    (regexp_extract(key, Pattern, 4) === "-tmp").as("is_temp"))
}
