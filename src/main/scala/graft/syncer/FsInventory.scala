package graft.syncer

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** File inventory from a REAL directory tree — the reference's actual
  * input (`bin/cassandra-syncer:212-237` walks the Cassandra data dir;
  * `Watcher.backup` enumerates live files). [[FileInventory]] derives
  * the same relation from the `events` table for oracle-ability; this
  * source produces it from a filesystem via Hadoop `FileSystem`, so
  * every §2.1 operator runs unchanged against real directories (any
  * scheme the Hadoop connectors speak: file, hdfs, s3a, gs, abfs).
  *
  * Scale shape: the driver lists only the root's immediate children
  * (one RPC); each subtree is walked INSIDE a task via the recursive
  * `listFiles` iterator — the listing parallelizes across executors
  * and no complete file list ever materializes in driver memory. At
  * 100 TB / billions of files the natural roots are the per-table or
  * per-day directories, giving thousands of independent walk tasks.
  */
object FsInventory {

  val listingSchema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("size_bytes", LongType, nullable = false),
    StructField("mtime_ms", LongType, nullable = false)))

  /** Distributed recursive listing: (absolute path, size, mtime). */
  def listFiles(spark: SparkSession, root: String): DataFrame = {
    val rootPath = new Path(root)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = rootPath.getFileSystem(conf)
    val top = fs.listStatus(rootPath)
    val (dirs, files) = top.partition(_.isDirectory)
    val topRows = files.toSeq.map(f =>
      Row(f.getPath.toUri.getPath, f.getLen, f.getModificationTime))
    val dirStrs = dirs.map(_.getPath.toString).toSeq
    val walked =
      if (dirStrs.isEmpty) spark.sparkContext.emptyRDD[Row]
      else spark.sparkContext
        .parallelize(dirStrs, math.max(1, math.min(dirStrs.size, 64)))
        .mapPartitions { it =>
          it.flatMap { d =>
            val u = new Path(d).toUri
            val out = scala.collection.mutable.ArrayBuffer.empty[Row]
            if (u.getScheme == null || u.getScheme == "file") {
              // local scheme: walk with java.nio — Hadoop's
              // RawLocalFileSystem shells out (`ls`) per file for
              // permission bits when native IO is absent, which turns
              // a 1k-file walk into seconds of fork/exec
              java.nio.file.Files.walkFileTree(java.nio.file.Paths.get(u.getPath),
                new java.nio.file.SimpleFileVisitor[java.nio.file.Path] {
                  override def visitFile(f: java.nio.file.Path,
                      attrs: java.nio.file.attribute.BasicFileAttributes)
                      : java.nio.file.FileVisitResult = {
                    out += Row(f.toString, attrs.size(), attrs.lastModifiedTime().toMillis)
                    java.nio.file.FileVisitResult.CONTINUE
                  }
                })
            } else {
              // remote schemes (hdfs/s3a/gs/abfs): the connector's
              // recursive iterator IS the efficient path (bulk LIST
              // RPCs). Configuration is not serializable; rebuild per
              // task from cluster-side defaults like any scan does.
              val tfs = new Path(d).getFileSystem(
                new org.apache.hadoop.conf.Configuration())
              val iter = tfs.listFiles(new Path(d), true)
              while (iter.hasNext) {
                val f = iter.next()
                out += Row(f.getPath.toUri.getPath, f.getLen, f.getModificationTime)
              }
            }
            out
          }
        }
    val all = spark.sparkContext.parallelize(topRows, 1).union(walked)
    spark.createDataFrame(all, listingSchema)
  }

  /** The inventory relation (FileInventory schema) parsed from a real
    * tree laid out `<root>/ks1/<cf>/node<n>/na-<gen>[-tmp]-Data.db`,
    * with sizes and mtimes read from the filesystem. Files that don't
    * match the SSTable naming are dropped (the reference's walker
    * equally only picks up data components).
    */
  def inventory(spark: SparkSession, root: String): DataFrame =
    listFiles(spark, root)
      .withColumn("rel", SsTablePath.keyOf(col("path")))
      .filter(col("rel") =!= "")
      .select(SsTablePath.parse(col("rel")) ++ Seq(
        col("rel").as("path"),
        col("size_bytes"),
        timestamp_millis(col("mtime_ms")).as("mtime"),
        to_date(timestamp_millis(col("mtime_ms"))).as("snap_date")): _*)

  /** Durable (non-temp) view — `Watcher.isTempFile` as a filter. */
  def durable(spark: SparkSession, root: String): DataFrame =
    inventory(spark, root).filter(!col("is_temp"))

  /** Oracle surface: materialize a BOUNDED slice of the model
    * inventory (generation ≤ 1500 — ~1.5k files, a few MB) as a real
    * directory tree, walk it back through the distributed lister, and
    * emit the parsed relation. Proves the real-filesystem source
    * round-trips paths, temp flags, and sizes against the same oracle
    * SQL that checks the events-derived model. (mtime is excluded —
    * real file mtimes are write times.)
    */
  private val treeBuilt = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Materialize (once per corpus per JVM) the bounded model
    * inventory as a real directory tree and return its root — the
    * shared fixture behind `fs_inventory` and the watch-service
    * oracle. The tree is an input fixture, not part of any measured
    * query.
    */
  def oracleTree(spark: SparkSession, dir: String): String =
    treeBuilt.computeIfAbsent(dir, d => {
      val root = new Path(graft.TmpDirs.perJvmStoreRoot("graft_fsinv_oracle", d))
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(root, true)
      val rows = FileInventory.inventory(spark, d)
        .filter(col("generation") <= 1500)
        .select(col("path"), col("size_bytes")).collect()
      rows.foreach { r =>
        val p = java.nio.file.Paths.get(root.toString, r.getString(0))
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.write(p, new Array[Byte](r.getLong(1).toInt))
      }
      root.toString
    })

  def fsInventoryQuery(spark: SparkSession, dir: String): DataFrame = {
    val rootStr = oracleTree(spark, dir)
    inventory(spark, rootStr)
      .select(col("path"), col("cf"), col("node_id"), col("shard_id"),
        col("generation"), col("is_temp"), col("size_bytes"))
      .orderBy(col("generation"))
  }
}
