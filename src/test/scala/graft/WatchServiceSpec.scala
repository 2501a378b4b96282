package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.streaming.WatchService
import graft.syncer.Target

class WatchServiceSpec extends GraftSpec {

  private def mkFile(root: String, rel: String, n: Int): Unit = {
    val p = Paths.get(root, rel)
    Files.createDirectories(p.getParent)
    Files.write(p, new Array[Byte](n))
  }

  private def freshDirs(tag: String): (String, String) = {
    val data = Files.createTempDirectory(s"graft_watch_${tag}_data").toString
    val tgt = Files.createTempDirectory(s"graft_watch_${tag}_tgt").toString
    (data, s"directory://$tgt")
  }

  test("watch daemon: initial catch-up uploads existing durable files, skips temps") {
    val (data, url) = freshDirs("init")
    mkFile(data, "ks1/click/node1/na-10-Data.db", 100)
    mkFile(data, "ks1/click/node1/na-11-Data.db", 200)
    mkFile(data, "ks1/error/node2/na-12-tmp-Data.db", 50) // in-flight temp
    WatchService.runOnce(spark, data, url)
    val m = WatchService.manifest(spark, url).collect()
    assert(m.length === 2)
    assert(m.forall(_.getAs[String]("status") === "uploaded"))
    assert(m.map(_.getAs[String]("path")).sorted ===
      Array("ks1/click/node1/na-10-Data.db", "ks1/click/node1/na-11-Data.db"))
    // the bytes actually landed under objects/, relative layout intact
    val t = Target.parse(url)
    assert(Files.size(Paths.get(t.objectsPath, "ks1/click/node1/na-11-Data.db")) === 200L)
  }

  test("watch daemon: a second pass uploads only new arrivals (checkpoint resume)") {
    val (data, url) = freshDirs("incr")
    mkFile(data, "ks1/click/node1/na-20-Data.db", 10)
    WatchService.runOnce(spark, data, url)
    mkFile(data, "ks1/view/node3/na-21-Data.db", 20)
    WatchService.runOnce(spark, data, url) // same checkpoint → incremental
    val m = WatchService.manifest(spark, url)
    assert(m.count() === 2)
    // the new file arrived in a later batch than the initial one
    val batches = m.select(col("path"), col("batch_id")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(batches("ks1/view/node3/na-21-Data.db") >
      batches("ks1/click/node1/na-20-Data.db"))
  }

  test("watch daemon: several roots under one daemon (the reference's repeatable --path)") {
    val (data1, url) = freshDirs("multiA")
    val data2 = Files.createTempDirectory("graft_watch_multiB_data").toString
    mkFile(data1, "ks1/click/node1/na-30-Data.db", 11)
    mkFile(data2, "ks2/view/node2/na-31-Data.db", 22)
    WatchService.runOnceAll(spark, Seq(data1, data2), url)
    val m1 = WatchService.manifest(spark, url).collect()
    assert(m1.map(_.getAs[String]("path")).sorted ===
      Array("ks1/click/node1/na-30-Data.db", "ks2/view/node2/na-31-Data.db"))
    assert(m1.forall(_.getAs[String]("status") === "uploaded"))
    // bytes from BOTH roots landed, each relative to its own root
    val t = Target.parse(url)
    assert(Files.size(Paths.get(t.objectsPath, "ks1/click/node1/na-30-Data.db")) === 11L)
    assert(Files.size(Paths.get(t.objectsPath, "ks2/view/node2/na-31-Data.db")) === 22L)
    // one shared checkpoint: a later pass is incremental across roots
    mkFile(data2, "ks2/view/node2/na-32-Data.db", 33)
    WatchService.runOnceAll(spark, Seq(data1, data2), url)
    assert(WatchService.manifest(spark, url).count() === 3)
  }

  test("fsck: a corrupted or missing object is caught against the manifest digest") {
    val (data, url) = freshDirs("fsck")
    mkFile(data, "ks1/click/node1/na-40-Data.db", 64)
    mkFile(data, "ks1/click/node1/na-41-Data.db", 64)
    mkFile(data, "ks1/view/node2/na-42-Data.db", 32)
    WatchService.runOnce(spark, data, url)
    // pristine store: everything verifies ok with a real digest
    val clean = WatchService.fsckVerify(spark, url).collect()
    assert(clean.length === 3)
    assert(clean.forall(_.getAs[String]("fsck_status") === "ok"))
    assert(clean.forall(r =>
      r.getAs[String]("stored_md5") === r.getAs[String]("actual_md5")))
    // flip one byte in one object, delete another
    val t = Target.parse(url)
    val corrupt = Paths.get(t.objectsPath, "ks1/click/node1/na-40-Data.db")
    val bytes = Files.readAllBytes(corrupt); bytes(7) = 1
    Files.write(corrupt, bytes)
    // drop Hadoop's local .crc sidecar so the MD5 comparison itself
    // (not the transport checksum) detects the flip
    Files.deleteIfExists(corrupt.getParent.resolve(".na-40-Data.db.crc"))
    Files.delete(Paths.get(t.objectsPath, "ks1/view/node2/na-42-Data.db"))
    val verdicts = WatchService.fsckVerify(spark, url).collect()
      .map(r => r.getAs[String]("path") -> r.getAs[String]("fsck_status")).toMap
    assert(verdicts("ks1/click/node1/na-40-Data.db") === "corrupt")
    assert(verdicts("ks1/click/node1/na-41-Data.db") === "ok")
    assert(verdicts("ks1/view/node2/na-42-Data.db") === "missing")
  }

  test("watch daemon: a file that vanishes before copy is skipped, not failed") {
    val (data, url) = freshDirs("enoent")
    import spark.implicits._
    val ghost = Seq((s"file:$data/ks1/click/node1/na-99-Data.db", 123L))
      .toDF("path", "length")
    val out = WatchService.uploadBatch(ghost, Seq(data), Target.parse(url), 0L).collect()
    assert(out.length === 1)
    assert(out.head.getAs[String]("status") === "skipped_vanished")
  }

  test("watch stream reads file metadata only (binary content pruned from scan)") {
    // a streaming plan can't be explained before start; the batch
    // twin exercises the same binaryFile FileFormat + projection, and
    // column pruning is the format's behavior in both execution modes
    val (data, _) = freshDirs("prune")
    mkFile(data, "ks1/click/node1/na-30-Data.db", 10)
    val batchTwin = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*-Data.db")
      .option("recursiveFileLookup", "true")
      .load(data)
      .select(col("path"), col("length"), col("modificationTime"))
      .filter(!col("path").endsWith("-tmp-Data.db"))
    batchTwin.collect()
    val plan = batchTwin.queryExecution.executedPlan.toString
    val readSchema = "ReadSchema: [^\\n]+".r.findFirstIn(plan).getOrElse("")
    assert(readSchema.nonEmpty && !readSchema.contains("content"),
      s"binaryFile content column must be pruned from the watch scan: $readSchema")
  }

  test("watch source options pass through (maxFilesPerTrigger bounds each micro-batch)") {
    // the same seam carries maxFileAge/cleanSource — the knobs that
    // bound the seen-files log and the directory listing for a
    // year-long daemon (see arrivalStream's scaladoc); pinning one
    // option end-to-end pins the pass-through for all of them
    val (data, url) = freshDirs("opts")
    mkFile(data, "ks1/click/node1/na-40-Data.db", 10)
    mkFile(data, "ks1/click/node1/na-41-Data.db", 10)
    val q = WatchService.start(spark, data, url,
      org.apache.spark.sql.streaming.Trigger.AvailableNow(), None,
      Map("maxFilesPerTrigger" -> "1"))
    try q.awaitTermination() finally q.stop()
    val m = WatchService.manifest(spark, url)
    assert(m.count() === 2)
    assert(m.select(col("batch_id")).distinct().count() === 2,
      "with maxFilesPerTrigger=1, the two files must land in separate batches")
  }

  test("sync_watch_service oracle surface equals the durable model inventory") {
    val got = WatchService.watchServiceQuery(spark, sf)
    val expected = graft.syncer.FileInventory.durable(spark, sf)
      .filter(col("generation") <= 1500)
      .select(col("path"), col("cf"), col("node_id"), col("shard_id"),
        col("generation"), col("size_bytes"))
    assert(got.count() === expected.count())
    assert(got.exceptAll(expected).count() === 0)
    assert(expected.exceptAll(got).count() === 0)
  }

  test("dedup-gated watch: later drops dedup against the persisted index; dups never copied") {
    val (data, url) = freshDirs("dgate")
    val t = Target.parse(url)
    // drop 1: two distinct contents (sizes differ → digests differ)
    mkFile(data, "ks1/click/node1/na-30-Data.db", 100)
    mkFile(data, "ks1/click/node1/na-31-Data.db", 200)
    WatchService.runOnceDedupGated(spark, Seq(data), url)
    // drop 2: one new content + one byte-identical copy of na-30
    mkFile(data, "ks1/view/node2/na-32-Data.db", 300)
    mkFile(data, "ks1/view/node2/na-33-Data.db", 100) // dup of na-30
    WatchService.runOnceDedupGated(spark, Seq(data), url) // same checkpoint
    val m = WatchService.dedupManifest(spark, url).collect()
    assert(m.length === 4)
    val byPath = m.map(r => r.getAs[String]("path") -> r).toMap
    assert(byPath("ks1/click/node1/na-30-Data.db").getAs[String]("verdict") === "accepted")
    assert(byPath("ks1/click/node1/na-31-Data.db").getAs[String]("verdict") === "accepted")
    assert(byPath("ks1/view/node2/na-32-Data.db").getAs[String]("verdict") === "accepted")
    // the cross-batch duplicate names the INDEX keeper from drop 1
    val dup = byPath("ks1/view/node2/na-33-Data.db")
    assert(dup.getAs[String]("verdict") === "duplicate")
    assert(dup.getAs[String]("keeper_path") === "ks1/click/node1/na-30-Data.db")
    // the two drops ran as distinct micro-batches against the index
    assert(m.map(_.getAs[Long]("batch_id")).distinct.sorted.toSeq === Seq(0L, 1L))
    // duplicates never reach the object store; accepted files do
    assert(Files.exists(Paths.get(t.objectsPath, "ks1/view/node2/na-32-Data.db")))
    assert(!Files.exists(Paths.get(t.objectsPath, "ks1/view/node2/na-33-Data.db")))
    // a third pass with nothing new writes nothing new
    WatchService.runOnceDedupGated(spark, Seq(data), url)
    assert(WatchService.dedupManifest(spark, url).count() === 4)
  }

  test("plain and dedup-gated passes upload the same durable set, byte for byte") {
    val (data, plainUrl) = freshDirs("twin")
    val gatedUrl = "directory://" + Files.createTempDirectory("graft_watch_twin_gated_tgt")
    val rng = new scala.util.Random(11)
    // unique contents, each longer than one 64 KiB read
    val rels = Seq("ks1/click/node1/na-50-Data.db", "ks1/click/node2/na-51-Data.db",
      "ks1/view/node1/na-52-Data.db", "ks2/error/node0/na-53-Data.db")
    rels.zipWithIndex.foreach { case (rel, i) =>
      val p = Paths.get(data, rel)
      Files.createDirectories(p.getParent)
      Files.write(p, Array.fill[Byte](70000 + i)(rng.nextInt(256).toByte))
    }
    mkFile(data, "ks1/view/node1/na-54-tmp-Data.db", 10) // in-flight: both skip it
    WatchService.runOnce(spark, data, plainUrl)
    WatchService.runOnceDedupGated(spark, Seq(data), gatedUrl)
    val plain = WatchService.manifest(spark, plainUrl)
      .filter(col("status") === "uploaded").select(col("path"), col("md5")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val gated = WatchService.dedupManifest(spark, gatedUrl)
      .filter(col("verdict") === "accepted").select(col("path"), col("digest")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(plain.keySet === rels.toSet)
    assert(gated === plain) // same paths, and the gate's digest is the upload's md5
    rels.foreach { rel =>
      val src = Files.readAllBytes(Paths.get(data, rel))
      Seq(plainUrl, gatedUrl).foreach { url =>
        val obj = Files.readAllBytes(Paths.get(Target.parse(url).objectsPath, rel))
        assert(obj.sameElements(src), s"$url: $rel")
      }
    }
  }
}
