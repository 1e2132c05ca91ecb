package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.Success
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** One recorded interval. Times are epoch microseconds; `parent` is 0 for a
  * root span. `attrs` carries the counts measured at the same boundary.
  */
final case class SpanRec(id: Long, parent: Long, name: String, layer: String,
                         startUs: Long, endUs: Long, attrs: Map[String, Double]) {
  def durUs: Long = endUs - startUs
}

/** In-memory span store: spans are appended while the benchmark runs and
  * written out once, as JSONL, when it ends.
  */
final class SpanRecorder private (ids: AtomicLong, epochUs0: Long, nano0: Long) {
  // nanoTime is monotonic but has no epoch; anchor it once to wall time
  def this() = this(new AtomicLong(0L), System.currentTimeMillis() * 1000L, System.nanoTime())

  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[SpanRec]()

  /** A recorder with its own store that shares this one's ids and clock. */
  def fork(): SpanRecorder = new SpanRecorder(ids, epochUs0, nano0)

  def nextId(): Long = ids.incrementAndGet()
  def nowUs(): Long = epochUs0 + (System.nanoTime() - nano0) / 1000L
  def add(s: SpanRec): Unit = spans.add(s)

  /** Runs `f` inside a span; `f` receives the new span's id for its children. */
  def span[T](name: String, layer: String, parent: Long)(f: Long => T): T = {
    val id = nextId()
    val t0 = nowUs()
    try f(id) finally add(SpanRec(id, parent, name, layer, t0, nowUs(), Map.empty))
  }

  def all: Vector[SpanRec] = spans.asScala.toVector

  /** Self time per layer over the subtree rooted at the spans named `root`:
    * each span's duration minus the part its direct children cover.
    */
  def selfUsByLayer(root: String): Map[String, Long] = {
    val v = all
    val kids = v.groupBy(_.parent)
    val out = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    def walk(s: SpanRec): Unit = {
      val cs = kids.getOrElse(s.id, Vector.empty)
      out(s.layer) += s.durUs - cs.map(_.durUs).sum
      cs.foreach(walk)
    }
    v.filter(_.name == root).foreach(walk)
    out.toMap
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.startUs).foreach { s =>
      val attrs = s.attrs.map { case (k, x) => s""""$k":${Json.num(x)}""" }.mkString(",")
      w.write(s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""layer":${Json.str(s.layer)},"start_us":${s.startUs},"end_us":${s.endUs},""" +
        s""""attrs":{$attrs}}""")
      w.newLine()
    } finally w.close()
  }
}

/** Spark engine counters for the tagged passes, summed over tasks. */
final class EngineTotals {
  var tasks, failedTasks = 0L
  var runMs, cpuMs, gcMs, deserMs, schedWaitMs = 0.0
  var scanBytes, shuffleWriteBytes, shuffleReadBytes, shuffleRecords, spillBytes = 0L
  var peakExecMem = 0L
  val taskMs = scala.collection.mutable.ArrayBuffer.empty[Long]
  /** Per stage: max ÷ median task time (stages with at least two tasks). */
  val stageSkew = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
}

/** The benchmark's own SparkListener. Every job the benchmark starts carries
  * two local properties: [[TagKey]] (which pass) and [[SpanKey]] (the span
  * id of the caller). Jobs, stages and tasks become spans under that span;
  * task metrics are summed per tag into [[EngineTotals]].
  */
final class StageLedger(rec: SpanRecorder) extends SparkListener {
  import StageLedger._

  private final case class Open(spanId: Long, parent: Long, tag: String, startUs: Long)
  private val jobs = new ConcurrentHashMap[Int, Open]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[(Int, Int), Open]()
  private val stageTasks = new ConcurrentHashMap[(Int, Int), java.util.List[Long]]()
  private val totals = new ConcurrentHashMap[String, EngineTotals]()
  private val jobsBySpan = new ConcurrentHashMap[Long, AtomicLong]()

  def totalsFor(tag: String): EngineTotals = totals.computeIfAbsent(tag, _ => new EngineTotals)
  def jobsUnder(spanId: Long): Long = Option(jobsBySpan.get(spanId)).map(_.get).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val tag = props.flatMap(p => Option(p.getProperty(TagKey))).getOrElse("")
    val parent = props.flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong).getOrElse(0L)
    jobs.put(e.jobId, Open(rec.nextId(), parent, tag, e.time * 1000L))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    jobsBySpan.computeIfAbsent(parent, _ => new AtomicLong()).incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobs.remove(e.jobId)).foreach { o =>
    rec.add(SpanRec(o.spanId, o.parent, s"job ${e.jobId}", "spark", o.startUs, e.time * 1000L,
      Map("succeeded" -> (if (e.jobResult == JobSucceeded) 1.0 else 0.0))))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val si = e.stageInfo
    val job = Option(jobs.get(stageJob.getOrDefault(si.stageId, -1)))
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey))).getOrElse("")
    val start = si.submissionTime.getOrElse(System.currentTimeMillis()) * 1000L
    stages.put((si.stageId, si.attemptNumber()),
      Open(rec.nextId(), job.map(_.spanId).getOrElse(0L), tag, start))
    stageTasks.put((si.stageId, si.attemptNumber()),
      java.util.Collections.synchronizedList(new java.util.ArrayList[Long]()))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val key = (si.stageId, si.attemptNumber())
    Option(stages.remove(key)).foreach { o =>
      val durs = Option(stageTasks.remove(key)).map(_.asScala.toVector.sorted).getOrElse(Vector.empty)
      val end = si.completionTime.getOrElse(System.currentTimeMillis()) * 1000L
      rec.add(SpanRec(o.spanId, o.parent, s"stage ${si.stageId}.${si.attemptNumber()}", "spark",
        o.startUs, end, Map("tasks" -> si.numTasks.toDouble)))
      if (o.tag.nonEmpty && durs.length >= 2) {
        val t = totalsFor(o.tag)
        val p50 = math.max(1L, durs(durs.length / 2))
        t.synchronized(t.stageSkew += ((durs.sum, durs.last.toDouble / p50)))
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val key = (e.stageId, e.stageAttemptId)
    val stage = Option(stages.get(key))
    val info = e.taskInfo
    val dur = info.finishTime - info.launchTime
    Option(stageTasks.get(key)).foreach(_.add(dur))
    rec.add(SpanRec(rec.nextId(), stage.map(_.spanId).getOrElse(0L), s"task ${info.taskId}",
      "spark", info.launchTime * 1000L, info.finishTime * 1000L, Map.empty))
    val tag = stage.map(_.tag).getOrElse("")
    val m = e.taskMetrics
    if (tag.nonEmpty) {
      val t = totalsFor(tag)
      t.synchronized {
        t.tasks += 1
        if (e.reason != Success) t.failedTasks += 1
        t.taskMs += dur
        if (m != null) {
          t.runMs += m.executorRunTime
          t.cpuMs += m.executorCpuTime / 1e6
          t.gcMs += m.jvmGCTime
          t.deserMs += m.executorDeserializeTime
          // Spark UI's scheduler delay: task wall time not spent running,
          // deserializing, serializing the result or fetching it
          t.schedWaitMs += math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - info.gettingResultTime)
          t.scanBytes += m.inputMetrics.bytesRead
          t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          t.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
          t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          t.spillBytes += m.diskBytesSpilled
          t.peakExecMem = math.max(t.peakExecMem, m.peakExecutionMemory)
        }
      }
    }
  }
}

object StageLedger {
  val TagKey = "perfbench.tag"
  val SpanKey = "perfbench.span"
}

/** JVM counters read around a timed region. */
object Jvm {
  private val threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toVector
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuNs(): Long = os.getProcessCpuTime
  def loadAverage(): Double = os.getSystemLoadAverage
  def gcCount(): Long = gcs.map(_.getCollectionCount).sum
  def gcMs(): Long = gcs.map(_.getCollectionTime).sum
  def gcNames: Vector[String] = gcs.map(_.getName)
  def heapMaxMb(): Double = Runtime.getRuntime.maxMemory / 1048576.0

  /** Bytes allocated by the live threads (threads that end in between drop out). */
  def allocatedBytes(): Long = {
    val ids = threads.getAllThreadIds
    threads.getThreadAllocatedBytes(ids).filter(_ > 0).sum
  }

  /** Heap occupancy after a full collection: the live set, not raw `used`. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Minimal JSON writing; the benchmark emits flat objects only. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else x.toString
}
