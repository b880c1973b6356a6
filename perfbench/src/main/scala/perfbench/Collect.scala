package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Counter indices of a [[Snap]]; the first block comes from the
  * [[TaskCollector]], the rest from JMX and Spark's codegen statics. */
object K {
  val Jobs = 0; val Stages = 1; val Tasks = 2; val CpuNs = 3; val RunMs = 4
  val ShWriteB = 5; val ShReadB = 6; val ShRecords = 7; val SpillB = 8
  val InRows = 9
  val Listener = 10
  val GcMs = 10; val JitMs = 11; val Compiles = 12; val CompileNs = 13
  val GenNs = 14
  val N = 15
  val names: Array[String] = Array("jobs", "stages", "tasks", "cpu_ns",
    "run_ms", "shuffle_write_b", "shuffle_read_b", "shuffle_records",
    "spill_b", "input_rows", "gc_ms", "jit_ms", "compiles", "compile_ns",
    "gen_ns")
}

final case class Snap(v: Array[Long]) {
  def -(o: Snap): Snap = Snap(v.indices.map(i => v(i) - o.v(i)).toArray)
  def apply(i: Int): Long = v(i)
}

/** Benchmark-owned SparkListener: jobs, stages, tasks, executor CPU and
  * run time, shuffle bytes and records, spill, input rows and the peak
  * size of cached RDD blocks, totalled over the session. */
final class TaskCollector extends SparkListener {
  private val total = new Array[Long](K.Listener)
  private val blocks = mutable.HashMap.empty[String, Long]
  private var stored = 0L
  private var storedPeak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { total(K.Jobs) += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { total(K.Stages) += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    total(K.Tasks) += 1
    val m = e.taskMetrics
    if (m != null) {
      total(K.CpuNs) += m.executorCpuTime
      total(K.RunMs) += m.executorRunTime
      total(K.ShWriteB) += m.shuffleWriteMetrics.bytesWritten
      total(K.ShReadB) += m.shuffleReadMetrics.totalBytesRead
      total(K.ShRecords) += m.shuffleWriteMetrics.recordsWritten
      total(K.SpillB) += m.memoryBytesSpilled + m.diskBytesSpilled
      total(K.InRows) += m.inputMetrics.recordsRead
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
        val size = info.memSize + info.diskSize
        stored -= blocks.getOrElse(key, 0L)
        if (size > 0) blocks(key) = size else blocks.remove(key)
        stored += math.max(size, 0L)
        storedPeak = math.max(storedPeak, stored)
      }
    }

  def totals: Array[Long] = synchronized(total.clone())

  /** Peak cached-block bytes since the last call; restarts the window. */
  def takeStoredPeak(): Long = synchronized {
    val p = storedPeak
    storedPeak = stored
    p
  }
}

/** One micro-batch as the stream reported it. */
final case class Tick(batchId: Long, durations: Map[String, Long])

/** Benchmark-owned StreamingQueryListener: one record per micro-batch. */
final class TickCollector extends StreamingQueryListener {
  val ticks = new java.util.concurrent.ConcurrentLinkedQueue[Tick]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    ticks.add(Tick(p.batchId,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
  def drainAll(): Seq[Tick] = {
    val out = Seq.newBuilder[Tick]
    var t = ticks.poll()
    while (t != null) { out += t; t = ticks.poll() }
    out.result()
  }
}

object Jmx {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = ManagementFactory.getCompilationMXBean

  def gcMs: Long = gcs.map(b => math.max(b.getCollectionTime, 0L)).sum
  def jitMs: Long = jit.getTotalCompilationTime

  /** Heap still in use after full collections, in MB. The pause between
    * the two lets Spark's cleaner thread drop what the first one freed. */
  def heapLiveMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Block until every event posted so far has reached the listeners.
    * The live listener bus is package-private to Spark, hence the
    * reflective call. */
  def drainBus(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
      .invoke(bus, java.lang.Long.valueOf(60000L))
  }

  def snap(sc: SparkContext, c: TaskCollector): Snap = {
    drainBus(sc)
    val v = new Array[Long](K.N)
    System.arraycopy(c.totals, 0, v, 0, K.Listener)
    v(K.GcMs) = gcMs
    v(K.JitMs) = jitMs
    v(K.Compiles) = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    v(K.CompileNs) = CodeGenerator.compileTime
    v(K.GenNs) = WholeStageCodegenExec.codeGenTime
    Snap(v)
  }
}
