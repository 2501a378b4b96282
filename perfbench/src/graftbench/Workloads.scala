package graftbench

import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.streaming.WatchService
import graft.syncer.{BackupPipeline, SyncOps}

/** What a workload hands back besides its ops: the figures only it can
  * name (printed per run, not contract metrics), per-layer counters, and
  * the registry outputs the oracle checks.
  */
final class Outcome {
  val detail = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  /** Registry outputs the DuckDB oracle must check: key → the rows and
    * schema of its first timed execution.
    */
  val oracle = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]
  def add(k: String, v: Double): Unit = layers(k) = layers.getOrElse(k, 0.0) + v
}

/** Sizes and file counts under a directory tree. */
object Du {
  def apply(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      var files, bytes = 0L
      val s = Files.walk(p)
      try s.forEach { f =>
        if (Files.isRegularFile(f)) { files += 1; bytes += Files.size(f) }
      } finally s.close()
      (files, bytes)
    }
}

/** A seeded Cassandra-style data directory:
  * `ks1/<cf>/node<n>/na-<gen>[-tmp]-Data.db`. Sizes follow the events
  * table's `size_bytes` shape (exponential, mean ≈50 KB); about 5 % of
  * landed files are in-flight `-tmp` files, which the next round
  * removes (their flush finished under another name).
  */
final class TreeGen(val root: Path, rng: SplittableRandom) {
  private val cfs = Array("view", "click", "purchase", "signup", "error")
  private var gen = 0L
  /** Durable files present now: relative path → size. */
  val durable = mutable.LinkedHashMap.empty[String, Long]
  private var temps = List.empty[String]
  private val buf = new Array[Byte](1 << 16)

  private def write(rel: String, size: Long): Unit = {
    val p = root.resolve(rel)
    Files.createDirectories(p.getParent)
    val out = Files.newOutputStream(p)
    try {
      var left = size
      while (left > 0) {
        val n = math.min(left, buf.length.toLong).toInt
        var i = 0
        while (i < n) { buf(i) = rng.nextInt(256).toByte; i += 1 }
        out.write(buf, 0, n); left -= n
      }
    } finally out.close()
  }

  /** Land `n` new files; returns the durable ones. */
  def land(n: Int): Seq[String] = (1 to n).flatMap { _ =>
    gen += 1
    val cf = cfs(rng.nextInt(cfs.length))
    val node = rng.nextInt(3)
    val temp = rng.nextDouble() < 0.05
    val size = math.max(1L, (-math.log(1.0 - rng.nextDouble()) * 50000).toLong)
    val rel = s"ks1/$cf/node$node/na-$gen${if (temp) "-tmp" else ""}-Data.db"
    write(rel, size)
    if (temp) { temps ::= rel; None } else { durable(rel) = size; Some(rel) }
  }

  /** Compaction: delete `k` older durable generations and the previous
    * round's in-flight files.
    */
  def compact(k: Int): Unit = {
    temps.foreach(t => Files.deleteIfExists(root.resolve(t)))
    temps = Nil
    for (_ <- 0 until math.min(k, durable.size / 2)) {
      val older = durable.keys.toIndexedSeq
      val rel = older(rng.nextInt(older.size / 2 + 1))
      Files.deleteIfExists(root.resolve(rel)); durable.remove(rel)
    }
  }
}

object Workloads {
  val names = Seq("syncer_lifecycle", "registry_queries")

  /** The registry keys `registry_queries` builds, in run order, with the
    * layer each belongs to: a fixed subset chosen so every reuse
    * mechanism and every analytics module is represented while one cycle
    * fits the per-run time budget. The order is fixed, not seeded: in a
    * fresh JVM the first caller of shared code pays its JIT warm-up, so a
    * seeded order moves cost between keys from run to run.
    *
    *   - dedup: the candidate-graph store consumer, the CachePins n-gram
    *     verifier and the dedup-index-store consumer;
    *   - analytics: Relational aggregate, join and rollup, Windows
    *     running aggregate and sessionization, a Temporal as-of join,
    *     and plans.TopK.
    */
  val registryKeys: Seq[(String, String)] = Seq(
    "corpus_near_dup_by_source" -> "dedup", "q1_agg" -> "analytics",
    "dedup_ngram_jaccard" -> "dedup", "q3_topn_join" -> "analytics",
    "q_window_running" -> "analytics", "dedup_incremental" -> "dedup",
    "q_rollup" -> "analytics", "q_sessionize" -> "analytics",
    "q_asof_join" -> "analytics", "topk_per_group" -> "analytics")

  /** Build-once stores the dedup keys above read. `ann_ivf` writes to a
    * fixed path outside the run's own directories, and `label_prop` and
    * `pq_codes` serve only graph and similarity operators, so none of
    * those is built.
    */
  val registryStores = Set("cand_graph", "dedup_index")

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Run the workload's fixed op list `max(1, round(seconds /
    * nominalCycleS))` times, where `nominalCycleS` is about one cycle's
    * wall time on a 4-core machine (at 30 s: 2 syncer cycles, 3 registry
    * cycles). The count depends on `--seconds` alone,
    * never on how fast the cycles ran: in a fresh JVM each cycle is
    * faster than the one before (JIT warm-up), so a count that followed
    * the clock would change what a run's per-cycle figures average.
    */
  private def loop(seconds: Double, nominalCycleS: Double)(cycle: Int => Unit): Int = {
    val n = math.max(1, math.round(seconds / nominalCycleS).toInt)
    (0 until n).foreach(cycle)
    n
  }

  // ---- syncer_lifecycle ----

  /** Per-cycle samples of the workload's own figures; each is reported
    * as its median over the run's cycles.
    */
  private final class Samples {
    private val m = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def add(k: String, v: Double): Unit = m.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    def medians: Seq[(String, Double)] = m.toSeq.map { case (k, v) => k -> median(v.toSeq) }
  }

  /** The reference tool's whole job, one cycle after another: the watch
    * daemon on a live tree (bootstrap, incremental and idle passes,
    * fsck, orphan prune), then backup, as-of restore with an interrupted
    * pass and resume, a prune plan and the analytic reconcile twins.
    */
  def syncer(spark: SparkSession, h: Harness, data: String, seed: Long,
      seconds: Double, work: Path, out: Outcome): Unit = {
    import org.apache.spark.sql.functions.{col, sum}
    val inventoryBytes = graft.syncer.FileInventory.durable(spark, data)
      .agg(sum(col("size_bytes"))).first().getLong(0).toDouble
    val samples = new Samples
    val cycles = loop(seconds, nominalCycleS = 15) { c =>
      watchCycle(spark, h, c, new SplittableRandom(seed * 7919 + c), work, out, samples)
      inventoryCycle(spark, h, c, new SplittableRandom(seed * 104729 + c), data, work,
        out, samples, inventoryBytes)
      h.settle()
    }
    samples.medians.foreach { case (k, v) => out.detail(k) = v }
    out.layers("cycles") = cycles
  }

  private def storage(out: Outcome, dir: Path, files: Long, bytes: Long): Unit = {
    out.add("storage.files_written", files)
    out.add("storage.bytes_written", bytes)
    out.add("storage.objects_bytes", Du(dir.resolve("objects"))._2)
    out.add("storage.manifest_bytes",
      Du(dir.resolve("manifests"))._2 + Du(dir.resolve("watch_manifests"))._2)
    out.add("storage.checkpoint_bytes", Du(dir.resolve("checkpoints"))._2)
    out.add("storage.ledger_bytes", Du(dir.resolve("restore_ledger"))._2)
  }

  private def watchCycle(spark: SparkSession, h: Harness, c: Int, rng: SplittableRandom,
      work: Path, out: Outcome, samples: Samples): Unit = {
    val bootstrapFiles = 60
    val rounds = 2
    val perRound = 12
    val orphans = 6
    val tree = new TreeGen(work.resolve(s"tree$c"), rng)
    val targetDir = work.resolve(s"target$c")
    val url = s"directory://$targetDir"
    val root = tree.root.toString
    val expected = mutable.LinkedHashMap.empty[String, Long]
    def pass(kind: String): Double = {
      val r = h.op(c, s"runOnce:$kind", "streaming") {
        h.span("streaming.runOnce")(WatchService.runOnce(spark, root, url))
      }
      if (r.isDefined) expected ++= tree.durable
      h.ops.last.secs
    }
    tree.land(bootstrapFiles)
    val n0 = tree.durable.size
    samples.add("bootstrap_files_per_s", n0 / pass("bootstrap"))
    for (r <- 1 to rounds) {
      tree.compact(perRound / 3)
      tree.land(perRound)
      samples.add("watch_round_s.p50", pass("round"))
    }
    val verdicts = h.op(c, "fsckVerify", "syncer") {
      val df = h.construct("streaming.fsckVerify")(WatchService.fsckVerify(spark, url))
      h.span("engine.collect")(df.select("path", "fsck_status").collect())
    }
    samples.add("fsck_s.p50", h.ops.last.secs)
    out.add("syncer.fsck_verify_s", h.ops.last.secs)
    verdicts.foreach { rows =>
      val bad = rows.filter(_.getString(1) != "ok")
      h.check("fsckVerify", bad.isEmpty, s"${bad.length} verdicts not ok")
      h.check("fsckVerify", rows.map(_.getString(0)).toSet == expected.keySet,
        s"verified ${rows.length} paths, expected ${expected.size}")
    }
    samples.add("idle_pass_s", pass("idle"))
    // manifest model: every durable file present at some pass, once,
    // with its size; deleted-before-pass and -tmp files never appear
    val manifest = WatchService.manifest(spark, url)
      .select("path", "size_bytes", "status").collect()
    val uploaded = manifest.filter(_.getString(2) == "uploaded")
    h.check("runOnce:round", uploaded.length == expected.size &&
      uploaded.map(r => r.getString(0) -> r.getLong(1)).toMap == expected.toMap,
      s"manifest has ${uploaded.length} uploaded rows, model expects ${expected.size}")
    h.check("runOnce:round", manifest.length == uploaded.length,
      s"${manifest.length - uploaded.length} non-uploaded manifest rows")
    out.add("syncer.files_uploaded", uploaded.length)
    out.add("syncer.files_skipped", manifest.length - uploaded.length)
    // planted orphans: objects no manifest references, older than the
    // prune horizon; prune must plan and delete exactly these
    val objects = targetDir.resolve("objects")
    val now = System.currentTimeMillis()
    val planted = (1 to orphans).map { i =>
      val rel = s"ks1/orphan/node0/na-${900000 + i}-Data.db"
      val p = objects.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, new Array[Byte](1000 + rng.nextInt(5000)))
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(now - 3L * 86400000L))
      rel
    }.toSet
    val plan = h.op(c, "fsckPrunePlan", "syncer") {
      val df = h.construct("streaming.fsckPrunePlan")(
        WatchService.fsckPrunePlan(spark, url, 1, now))
      (df, h.span("engine.collect")(df.select("path").collect()))
    }
    val planS = h.ops.last.secs
    plan.foreach { case (df, rows) =>
      val paths = rows.map(_.getString(0)).toSet
      h.check("fsckPrunePlan", paths == planted,
        s"plan ${paths.size} paths, planted ${planted.size}, overlap ${(paths & planted).size}")
      val deleted = h.op(c, "fsckPruneApply", "syncer") {
        h.span("streaming.fsckPruneApply")(WatchService.fsckPruneApply(spark, url, df))
      }
      out.add("syncer.fsck_prune_s", planS + h.ops.last.secs)
      deleted.foreach { n =>
        h.check("fsckPruneApply", n == planted.size, s"deleted $n of ${planted.size}")
        h.check("fsckPruneApply", planted.forall(r => !Files.exists(objects.resolve(r))),
          "a planted orphan survived the prune")
      }
    }
    val userBytes = expected.values.sum.toDouble
    val (files, bytes) = Du(targetDir)
    samples.add("watch_stored_bytes_per_user_byte", bytes / userBytes)
    out.add("storage.user_bytes", userBytes)
    storage(out, targetDir, files, bytes)
  }

  private def day(rng: SplittableRandom, from: Int, to: Int): String =
    f"2024-01-${from + rng.nextInt(to - from + 1)}%02d"

  private def inventoryCycle(spark: SparkSession, h: Harness, c: Int,
      rng: SplittableRandom, data: String, work: Path, out: Outcome, samples: Samples,
      inventoryBytes: Double): Unit = {
    val targetDir = work.resolve(s"inv$c")
    val url = s"directory://$targetDir"
    val dest = work.resolve(s"restore$c").toString
    def key(r: Row): (String, String) = (r.getAs[String]("cf"), r.getAs[String]("path"))
    def collected(name: String, label: String)(build: => DataFrame): Array[Row] =
      h.op(c, name, "syncer") {
        val df = h.construct(label)(build)
        h.span("engine.collect")(df.collect())
      }.getOrElse(Array.empty[Row])
    h.op(c, "backup", "syncer")(h.span("syncer.backup")(BackupPipeline.backup(spark, data, url)))
    samples.add("backup_s.p50", h.ops.last.secs)
    out.add("syncer.backup_s", h.ops.last.secs)

    // as-of restore: set, interrupted pass, remainder, completing pass
    val asOf = day(rng, 5, 29)
    val rs = collected("restoreSet", "syncer.restoreSet")(
      BackupPipeline.restoreSet(spark, url, asOf))
    var restoreS = h.ops.last.secs
    out.add("syncer.restore_set_s", h.ops.last.secs)
    val todo = rs.map(key).sortBy(_._2)
    val k = math.max(1, (todo.length * (0.4 + 0.2 * rng.nextDouble())).toInt)
    val first = collected("runRestorePass:interrupted", "syncer.runRestorePass")(
      BackupPipeline.runRestorePass(spark, url, asOf, dest, Some(k))).map(key).toSet
    restoreS += h.ops.last.secs
    out.add("syncer.restore_pass_s", h.ops.last.secs)
    val rem = collected("restoreRemainder", "syncer.restoreRemainder")(
      BackupPipeline.restoreRemainder(spark, url, asOf)).map(key).toSet
    restoreS += h.ops.last.secs
    out.add("syncer.remainder_s", h.ops.last.secs)
    val rest = collected("runRestorePass:complete", "syncer.runRestorePass")(
      BackupPipeline.runRestorePass(spark, url, asOf, dest, None)).map(key).toSet
    restoreS += h.ops.last.secs
    out.add("syncer.restore_pass_s", h.ops.last.secs)
    samples.add("restore_s.p50", restoreS)
    out.add("syncer.files_restored", first.size + rest.size)
    h.check("runRestorePass:interrupted", first == todo.take(k).toSet,
      s"interrupted pass fetched ${first.size}, expected the first $k by path")
    h.check("restoreRemainder", (first & rem).isEmpty && (first ++ rem) == todo.toSet,
      s"pass ${first.size} + remainder ${rem.size} != restore set ${todo.length}")
    h.check("runRestorePass:complete", rest == rem, "completing pass differs from the remainder")
    h.check("runRestorePass:complete",
      BackupPipeline.restoreRemainder(spark, url, asOf).isEmpty,
      "remainder not empty after the completing pass")

    // prune plan: never a path of the latest manifest; per cf it
    // agrees with the analytic twin's count
    val cutoff = day(rng, 3, 28)
    val plan = collected("prunePlan", "syncer.prunePlan")(
      BackupPipeline.prunePlan(spark, url, cutoff))
    samples.add("prune_s.p50", h.ops.last.secs)
    out.add("syncer.prune_plan_s", h.ops.last.secs)
    val latest = BackupPipeline.restoreSet(spark, url, "2100-01-01")
      .select("path").collect().map(_.getString(0)).toSet
    h.check("prunePlan", !plan.exists(r => latest(r.getAs[String]("path"))),
      "prune plan shares a path with the latest manifest")

    // analytic reconcile twins; two of them check the storage side
    val twins: Seq[(String, () => DataFrame)] = Seq(
      "syncLiveSet" -> (() => SyncOps.syncLiveSet(spark, data)),
      "syncDiffUpload" -> (() => SyncOps.syncDiffUpload(spark, data)),
      "syncRestoreSet" -> (() => SyncOps.syncRestoreSet(spark, data, asOf)),
      "syncPrune" -> (() => SyncOps.syncPrune(spark, data, cutoff)))
    val got = twins.map { case (name, build) =>
      val rows = collected(s"reconcile:$name", s"syncer.$name")(build())
      samples.add("reconcile_s.p50", h.ops.last.secs)
      out.add("syncer.reconcile_s", h.ops.last.secs)
      name -> rows
    }.toMap
    h.check("restoreSet", rs.map(_.toSeq).toSet == got("syncRestoreSet").map(_.toSeq).toSet,
      s"restoreSet($asOf) has ${rs.length} rows, syncRestoreSet ${got("syncRestoreSet").length}")
    val perCf = plan.groupBy(_.getAs[String]("cf")).map { case (k, v) => k -> v.length.toLong }
    val twinCf = got("syncPrune").map(r => r.getAs[String]("cf") -> r.getAs[Long]("n_prunable")).toMap
    h.check("prunePlan", perCf == twinCf, s"prune plan per cf $perCf, syncPrune $twinCf")

    val (files, bytes) = Du(targetDir)
    val (rFiles, rBytes) = Du(Paths.get(dest))
    samples.add("inventory_stored_bytes_per_user_byte", bytes / inventoryBytes)
    out.add("storage.user_bytes", inventoryBytes + rBytes)
    storage(out, targetDir, files + rFiles, bytes + rBytes)
  }

  // ---- registry_queries ----

  def registry(spark: SparkSession, h: Harness, data: String, seconds: Double,
      out: Outcome): Unit = {
    graft.Stores.all.filter(s => registryStores(s._1)).foreach { case (name, build) =>
      h.settle()
      h.op(-1, s"store:$name", "stores")(h.span(s"stores.$name")(build(spark, data)))
      out.add(s"stores.${name}_s", h.ops.last.secs)
    }
    out.detail("index_build_s") = h.ops.filter(_.cycle == -1).map(_.secs).sum
    val queries = SparkEntry.queries
    val cycles = loop(seconds, nominalCycleS = 10) { c =>
      registryKeys.foreach { case (key, layer) =>
        h.settle()
        // collect, not noop: the rows the oracle checks are the rows
        // this timed call produced, so no second execution is needed
        h.op(c, key, layer) {
          val df = h.construct(s"$layer.$key")(queries(key)(spark, data))
          (h.span("engine.collect")(df.collect()), df.schema)
        }.foreach(r => if (!out.oracle.contains(key)) out.oracle(key) = r)
        out.add(s"$layer.ops_s", h.ops.last.secs)
      }
    }
    out.layers("cycles") = cycles
  }
}
