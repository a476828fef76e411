package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed step of a trace. `trace` is the query name or the batch id;
  * `parent` names the enclosing span of the same trace ("" for a root).
  */
final case class Span(trace: String, name: String, parent: String, startMs: Long, endMs: Long)

/** Spans kept in memory during a traced run and written as JSON lines at
  * its end.
  */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]

  def add(trace: String, name: String, parent: String, startMs: Long, endMs: Long): Unit =
    spans.synchronized { spans += Span(trace, name, parent, startMs, endMs) }

  def size: Int = spans.synchronized(spans.size)

  def write(path: String): Unit = {
    val lines = spans.synchronized(spans.toList).map { s =>
      s"""{"trace":${Json.str(s.trace)},"name":${Json.str(s.name)},""" +
        s""""parent":${Json.str(s.parent)},"start_ms":${s.startMs},"end_ms":${s.endMs}}"""
    }
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

/** The benchmark's SparkListener for the `sched`, `shuffle` and `scan`
  * layers: jobs, stages and tasks with their task metrics, and the
  * largest task-to-median shuffle-read skew of any stage.
  */
final class TaskProbe extends SparkListener {
  private val jobStarts = mutable.ArrayBuffer.empty[Long]
  private val stageReads = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  private def add(k: String, v: Double): Unit = c(k) = c(k) + v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts += e.time
    add("sched.jobs", 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add("sched.stages", 1)
    val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    stageReads.remove(key).foreach { reads =>
      val med = Stats.median(reads.map(_.toDouble).toArray)
      if (med > 0) c("shuffle.task_read_skew_max") =
        math.max(c("shuffle.task_read_skew_max"), reads.max / med)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("sched.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      val sr = m.shuffleReadMetrics
      val read = m.inputMetrics.recordsRead + sr.recordsRead
      if (read == 0) add("sched.empty_tasks", 1)
      add("sched.task_run_s_sum", m.executorRunTime / 1e3)
      add("sched.task_cpu_s_sum", m.executorCpuTime / 1e9)
      add("sched.task_deser_s_sum", m.executorDeserializeTime / 1e3)
      val delay = e.taskInfo.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (e.taskInfo.gettingResult) e.taskInfo.gettingResultTime else 0L)
      add("sched.scheduler_delay_s_sum", math.max(0L, delay) / 1e3)
      add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle.read_bytes", sr.totalBytesRead)
      add("shuffle.fetch_wait_s_sum", sr.fetchWaitTime / 1e3)
      add("shuffle.spill_memory_bytes", m.memoryBytesSpilled)
      add("shuffle.spill_disk_bytes", m.diskBytesSpilled)
      add("scan.input_bytes", m.inputMetrics.bytesRead)
      add("scan.input_rows", m.inputMetrics.recordsRead)
      if (sr.recordsRead > 0 || sr.totalBlocksFetched > 0)
        stageReads.getOrElseUpdate((e.stageId, e.stageAttemptId),
          mutable.ArrayBuffer.empty) += sr.recordsRead
    }
  }

  /** Jobs submitted inside any of the given [start, end] wall-clock windows. */
  def jobsWithin(windows: Seq[(Long, Long)]): Int = synchronized {
    jobStarts.count(t => windows.exists { case (s, e) => t >= s && t <= e })
  }

  def counters: Map[String, Double] = synchronized(c.toMap)
}

/** The instruments of a traced run: spans and the task listener, attached
  * only inside `apply`, which also adds up the wall, GC and codegen work
  * of those traced stretches. Untraced stretches of the same run are then
  * the baseline the tracing overhead is measured against.
  */
final class Traced(spark: SparkSession, slots: Int) {
  val tracer = new Tracer
  val probe = new TaskProbe
  private var wallMs, gcMs, compiles = 0L
  Jvm.resetHeapPeak()

  def apply[T](body: Tracer => T): T = {
    val sc = spark.sparkContext
    sc.addSparkListener(probe)
    val (t0, gc0, cg0) = (System.currentTimeMillis(), Jvm.gcMs, Jvm.codegenCompiles)
    try body(tracer) finally {
      PerfbenchBus.drain(sc)
      sc.removeSparkListener(probe)
      wallMs += System.currentTimeMillis() - t0
      gcMs += Jvm.gcMs - gc0
      compiles += Jvm.codegenCompiles - cg0
    }
  }

  /** Readings every workload reports over its traced stretches. */
  def layers: Map[String, Double] = {
    val c = probe.counters
    val storage = spark.sparkContext.getRDDStorageInfo
    c ++ Jvm.codegen(compiles.toDouble) ++ Map(
      "sched.slot_busy_ratio" -> c.getOrElse("sched.task_run_s_sum", 0.0) * 1e3 / (wallMs * slots),
      "cache.persisted_rdds" -> storage.length.toDouble,
      "cache.memory_bytes" -> storage.map(_.memSize).sum.toDouble,
      "cache.disk_bytes" -> storage.map(_.diskSize).sum.toDouble,
      "jvm.gc_s_sum" -> gcMs / 1e3,
      "jvm.heap_used_peak_mb" -> Jvm.heapPeakMb,
      "jvm.rss_peak_mb" -> Jvm.rssPeakMb,
      "trace.spans" -> tracer.size.toDouble)
  }
}

/** Process-wide JVM and codegen readings. */
object Jvm {
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Peak resident set of this process (VmHWM), in MB. */
  def rssPeakMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Codegen metrics of `n` compiles: compiles, compile seconds and
    * generated class bytes. Spark keeps only sampled histograms, so the two
    * sums are the compile count times the sampled mean.
    */
  def codegen(n: Double): Map[String, Double] =
    Map(
      "codegen.compiles" -> n,
      "codegen.compile_s_sum" ->
        n * CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean / 1e3,
      "codegen.bytecode_bytes" ->
        n * CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getSnapshot.getMean)
}

/** Minimal JSON writing for the result line and the span file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) sys.error(s"metric value $v is not a number") else v.toString
}
