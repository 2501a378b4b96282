package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: one workload, one seed, one process.
  *
  *   --workload W --seed N --seconds S --trace 0|1
  *   --data DIR (generated tables) --work DIR (targets, trees, oracle
  *   dumps) --out FILE (result JSON) [--spans FILE]
  *
  * Setup (the first session start plus a warm-up query) is timed once,
  * cold. The timed phase then runs the workload's fixed op list in
  * cycles for about `--seconds`. With `--trace 1` the benchmark's own
  * listeners and span tree are on; end-to-end figures come only from
  * untraced runs.
  */
object Main {
  private def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  /** Run one workload; its inputs are under `data`, its outputs under `work`. */
  private def runWorkload(spark: SparkSession, h: Harness, workload: String,
      data: String, seed: Long, seconds: Double, work: Path, out: Outcome): Unit =
    workload match {
      case "syncer_lifecycle" =>
        Workloads.syncer(spark, h, data, seed, seconds, work, out)
      case "registry_queries" =>
        Workloads.registry(spark, h, data, seconds, out)
    }

  def main(args: Array[String]): Unit = {
    val jvmBootS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val data = opt("data")
    val work = Paths.get(opt("work"))
    val cores = Runtime.getRuntime.availableProcessors()
    require(Workloads.names.contains(workload), s"unknown workload $workload")

    val setupT0 = System.nanoTime()
    val spark = session(cores, work)
    graft.analytics.Relational.q1Agg(spark, data).write.format("noop").mode("overwrite").save()
    val setupS = (System.nanoTime() - setupT0) / 1e9

    val probe = if (trace) Some(new Probe) else None
    probe.foreach { p =>
      spark.sparkContext.addSparkListener(p.sparkListener)
      spark.listenerManager.register(p.queryListener)
      spark.streams.addListener(p.streamListener)
    }
    val h = new Harness(spark, trace)
    val out = new Outcome
    val gcBefore = gcMs()
    heapPools.foreach(_.resetPeakUsage())
    val wallT0 = System.nanoTime()
    runWorkload(spark, h, workload, data, seed, seconds, work, out)
    val timedWallS = (System.nanoTime() - wallT0) / 1e9
    val jvmGcS = (gcMs() - gcBefore) / 1000.0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val storesBytes = Du(work.resolve("stores"))._2

    // oracle dump, outside the timed phase: the collected rows of each
    // key's first execution, written back as parquet for DuckDB
    val dumpT0 = System.nanoTime()
    if (out.oracle.nonEmpty) {
      val dump = work.resolve("oracle")
      out.oracle.foreach { case (key, (rows, schema)) =>
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
          .write.mode("overwrite").parquet(dump.resolve(key).toString)
      }
      val sql = graft.SparkEntry.oracleSql
      Files.writeString(dump.resolve("oracle_sql.json"),
        Json.obj(out.oracle.keys.toSeq.map(k => k -> Json.str(sql(k)))))
    }
    val dumpS = (System.nanoTime() - dumpT0) / 1e9
    val peakRssMb = vmHwmMb()
    val stopT0 = System.nanoTime()
    spark.stop() // drains the listener bus: every probe record is in
    val stopS = (System.nanoTime() - stopT0) / 1e9

    val layers = mutable.LinkedHashMap.empty[String, Double]
    probe.foreach { p =>
      val cycles = math.max(1.0, out.layers.getOrElse("cycles", 1.0))
      layers ++= Layers.compute(p, h, out, cores, cycles, storesBytes)
      layers("jvm.gc_s") = jvmGcS / cycles
      layers("jvm.heap_peak_mb") = heapPeakMb
      // the traced twin of the untraced run's wall_s (mean cycle)
      layers("trace.wall_s") = h.ops.filter(_.cycle >= 0).map(_.secs).sum / cycles
      opt.get("spans").foreach(f => Files.writeString(Paths.get(f), Layers.spansJson(h)))
    }

    val opsJson = h.ops.map(o => Json.obj(Seq("name" -> Json.str(o.name),
      "layer" -> Json.str(o.layer), "cycle" -> o.cycle.toString,
      "secs" -> Json.num(o.secs), "cpu_s" -> Json.num(o.cpuS), "ok" -> o.ok.toString)))
    val failuresJson = h.failures.map { case (op, why) =>
      Json.obj(Seq("op" -> Json.str(op), "why" -> Json.str(why))) }
    Files.writeString(Paths.get(opt("out")), Json.obj(Seq(
      "workload" -> Json.str(workload),
      "jvm_boot_s" -> Json.num(jvmBootS),
      "session_setup_s" -> Json.num(setupS),
      "timed_wall_s" -> Json.num(timedWallS),
      "oracle_dump_s" -> Json.num(dumpS),
      "stop_s" -> Json.num(stopS),
      "peak_rss_mb" -> Json.num(peakRssMb),
      "ops" -> Json.arr(opsJson.toSeq),
      "failures" -> Json.arr(failuresJson.toSeq),
      "detail" -> Json.obj(out.detail.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "layers" -> Json.obj(layers.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "oracle_keys" -> Json.arr(out.oracle.keys.toSeq.map(Json.str)))) + "\n")
  }

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  private def heapPools =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
}

/** Just enough JSON writing for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
