package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One timed public call (or call plus the action that materializes
  * its frame). `cycle` −1 marks a prologue op that runs once per JVM
  * (store builds) and is billed apart from the repeated cycles.
  */
final case class Op(id: Int, cycle: Int, name: String, layer: String,
    startMs: Long, endMs: Long, secs: Double, cpuS: Double, constructS: Double,
    ok: Boolean)

/** A trace span: `layer.function`, epoch-millisecond bounds, parent
  * span id (0 = root) and the op it belongs to (0 = none).
  */
final case class Span(id: Int, parent: Int, name: String, op: Int,
    startMs: Double, endMs: Double)

/** Times every call from outside, tags Spark jobs with the op's job
  * group, and (on traced runs) keeps a span tree in memory. Checks
  * run between ops and are never inside an op's timer.
  */
final class Harness(spark: SparkSession, trace: Boolean) {
  val ops = ArrayBuffer.empty[Op]
  val spans = ArrayBuffer.empty[Span]
  val failures = ArrayBuffer.empty[(String, String)]
  val persistedRdds = ArrayBuffer.empty[Int]
  val storageBytes = ArrayBuffer.empty[Long]
  val settleSecs = ArrayBuffer.empty[Double]
  private var stack: List[Int] = Nil
  private var currentOp = 0
  private var constructAcc = 0.0

  private def nowMs: Double = System.nanoTime() / 1e6 + epochOffsetMs
  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6

  /** Record `body` as a span (traced runs only) under the open span. */
  def span[T](name: String)(body: => T): T =
    if (!trace) body
    else {
      val parent = stack.headOption.getOrElse(0)
      val t0 = nowMs
      val mine = nextSpanId()
      stack = mine :: stack
      try body
      finally {
        stack = stack.tail
        spans += Span(mine, parent, name, currentOp, t0, nowMs)
      }
    }

  /** CPU time of the whole JVM (every thread: tasks, JIT, GC, listeners). */
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def processCpuNs(): Long = os.getProcessCpuTime

  private var spanSeq = 0
  private def nextSpanId(): Int = { spanSeq += 1; spanSeq }

  /** Add a listener-derived span (job, stage, planning) under an op. */
  def addSpan(parent: Int, name: String, op: Int, startMs: Double, endMs: Double): Int = {
    val id = nextSpanId()
    spans += Span(id, parent, name, op, startMs, endMs)
    id
  }

  /** Time a builder call: the eager work inside a call that returns a
    * lazy frame (store builds, fixture writes, eager checkpoints).
    */
  def construct[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try span(name)(body)
    finally constructAcc += (System.nanoTime() - t0) / 1e9
  }

  /** Run one timed op. A throw is counted as a failed op, never rethrown. */
  def op[T](cycle: Int, name: String, layer: String)(body: => T): Option[T] = {
    val id = ops.size + 1
    currentOp = id
    constructAcc = 0.0
    spark.sparkContext.setJobGroup(s"graftbench-op-$id", name)
    val startMs = System.currentTimeMillis()
    val cpu0 = processCpuNs()
    val t0 = System.nanoTime()
    val result =
      try Some(span(s"$layer.$name")(body))
      catch {
        case e: Throwable =>
          failures += (name -> s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
      }
    val secs = (System.nanoTime() - t0) / 1e9
    val cpuS = (processCpuNs() - cpu0) / 1e9
    spark.sparkContext.clearJobGroup()
    ops += Op(id, cycle, name, layer, startMs, System.currentTimeMillis(), secs, cpuS,
      constructAcc, result.isDefined)
    currentOp = 0
    println(f"[op] $id%d c$cycle%d $name%s ${secs}%.3f s${if (result.isEmpty) " FAILED" else ""}")
    // reuse layer: what the op left behind, read before any settle
    val sc = spark.sparkContext
    persistedRdds += sc.getPersistentRDDs.size
    storageBytes += sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    result
  }

  /** Record a wrong output of `opName` when `cond` does not hold. */
  def check(opName: String, cond: Boolean, why: => String): Unit =
    if (!cond) failures += (opName -> why)

  /** Bench's between-op isolation: drop pins, caches and persisted
    * RDDs and collect garbage, so one op's debt is not billed to the
    * next. Runs outside every op timer.
    */
  def settle(): Unit = {
    val t0 = System.nanoTime()
    graft.CachePins.release()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()
    settleSecs += (System.nanoTime() - t0) / 1e9
  }
}
