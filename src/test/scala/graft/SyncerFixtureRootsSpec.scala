package graft

import java.nio.file.{Files, Paths}

import graft.streaming.WatchService
import graft.syncer.{BackupPipeline, FsInventory, Target}

/** The syncer oracle fixtures write trees under temp roots. Each root
  * must belong to this JVM alone (a second JVM on the same corpus must
  * never rebuild or delete a tree this one reads) and must be removed
  * when the JVM exits.
  */
class SyncerFixtureRootsSpec extends GraftSpec {

  private def rootOf(url: String): String = Target.parse(url) match {
    case Target.DirectoryTarget(root) => root
    case other => fail(s"not a directory target: $other")
  }

  test("syncer oracle fixture roots are per-JVM and removed at exit") {
    val pidTag = s"_pid${ProcessHandle.current().pid()}"
    val tree = FsInventory.oracleTree(spark, sf)
    BackupPipeline.backupPipelineQuery(spark, sf).count()
    val backup = rootOf(BackupPipeline.backupOracleUrl(sf))
    val watch = rootOf(WatchService.watchOracleTarget(spark, sf))
    val resume = rootOf(BackupPipeline.resumeOracleTarget(spark, sf))
    // keyed by corpus: the pid keeps another JVM's tree apart
    Seq(tree, backup).foreach(r => assert(r.endsWith(pidTag), r))
    val roots = Seq(tree, backup, watch, resume)
    assert(roots.distinct.size === roots.size, roots)
    roots.foreach { r =>
      assert(Files.isDirectory(Paths.get(r)), r)
      assert(TmpDirs.isRegistered(Paths.get(r)), s"$r is not removed at exit")
    }
  }
}
