package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval, in microseconds on one epoch-based clock. `layer`
  * names the graft module a call span enters ("" for phases). */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    startUs: Long, endUs: Long, counters: Map[String, Double]) {
  def durUs: Long = endUs - startUs
}

/** Spark task and job counters of one job group (one traced call). */
final class GroupCounters {
  val values: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  val jobs: mutable.ArrayBuffer[(Int, Long, Long)] = mutable.ArrayBuffer.empty
  def add(k: String, v: Double): Unit = synchronized { values(k) += v }
}

/** Benchmark-registered listener: task metrics aggregated per job group,
  * job intervals as child spans, and planning time of every query that
  * finishes while a group is current. */
final class Collector extends SparkListener with QueryExecutionListener {
  val groups = new ConcurrentHashMap[String, GroupCounters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobStarts = new ConcurrentHashMap[Int, (String, Long)]()
  @volatile var current: String = null

  def counters(g: String): GroupCounters = groups.computeIfAbsent(g, _ => new GroupCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
    if (g != null && g.startsWith(Tracer.GroupPrefix)) {
      e.stageIds.foreach(s => stageGroup.put(s, g))
      jobStarts.put(e.jobId, (g, e.time))
      counters(g).add("jobs", 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { case (g, t0) =>
      val c = counters(g)
      c.synchronized { c.jobs += ((e.jobId, t0 * 1000L, e.time * 1000L)) }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) {
      val c = counters(g)
      c.add("tasks", 1)
      c.add("executor_run_ms", m.executorRunTime.toDouble)
      c.add("executor_cpu_ms", m.executorCpuTime / 1e6)
      c.add("task_gc_ms", m.jvmGCTime.toDouble)
      c.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      c.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      c.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      c.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val g = current
    if (g != null)
      counters(g).add("planning_ms", qe.tracker.phases.values.map(_.durationMs.toDouble).sum)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer {
  val GroupPrefix = "perfbench-"
}

/** In-memory span recorder. Spans nest workload → phase → op → call; a call
  * span sets the Spark job group, so the jobs it runs become its children.
  * Nothing is recorded while `enabled` is false; spans are written out once,
  * at the end of a run. */
final class Tracer {
  @volatile var enabled = false
  private val clockBase = System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  private def nowUs: Long = clockBase + System.nanoTime() / 1000L
  private var nextId = 1
  private var stack: List[Int] = Nil
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var session: SparkSession = null
  private var collector: Collector = null

  /** Attach the Spark-side collector to `spark`: from here on, call spans
    * group the Spark jobs they run. Before it, they are plain spans. */
  def attach(spark: SparkSession): Unit = {
    session = spark
    collector = new Collector
    spark.sparkContext.addSparkListener(collector)
    spark.listenerManager.register(collector)
  }

  /** A phase or op span with no Spark grouping of its own. */
  def span[T](name: String, layer: String = "")(f: => T): T =
    if (!enabled) f else record(name, layer, asCall = false)(_ => f)

  /** A call into a graft layer; `f` may attach counters to the span. */
  def call[T](name: String, layer: String)(f: mutable.Map[String, Double] => T): T =
    if (!enabled) f(mutable.Map.empty) else record(name, layer, asCall = true)(f)

  private def record[T](name: String, layer: String, asCall: Boolean)(
      f: mutable.Map[String, Double] => T): T = {
    val grouped = asCall && collector != null
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val extra = mutable.Map.empty[String, Double]
    val group = s"${Tracer.GroupPrefix}$id"
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    if (grouped) {
      val sc = session.sparkContext
      sc.setJobGroup(group, name, interruptOnCancel = false)
      collector.current = group
    }
    val t0 = nowUs
    try f(extra)
    finally {
      val t1 = nowUs
      if (grouped) {
        val sc = session.sparkContext
        PerfbenchBus.drain(sc)
        collector.current = null
        sc.clearJobGroup()
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
        extra("codegen_compiles") = compiles.toDouble
        extra("codegen_compile_ms") =
          compiles * CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
        Option(collector.groups.remove(group)).foreach { c =>
          c.synchronized {
            c.values.foreach { case (k, v) => extra(k) = v }
            c.jobs.sortBy(_._1).foreach { case (jobId, a, b) =>
              spans += Span(nextId, id, s"job $jobId", "spark", a, b, Map.empty)
              nextId += 1
            }
          }
        }
      }
      stack = stack.tail
      spans += Span(id, parent, name, layer, t0, t1, extra.toMap)
    }
  }

  def childrenOf(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  def selfUs(s: Span): Long =
    Stats.selfTime(s.startUs, s.endUs, childrenOf(s).map(c => (c.startUs, c.endUs)))

  /** Call spans of `layer` recorded inside the span named `within`. */
  def calls(layer: String, within: String): Seq[Span] = {
    val roots = spans.filter(_.name == within).map(_.id).toSet
    val byId = spans.map(s => s.id -> s).toMap
    def under(s: Span): Boolean =
      roots(s.parent) || byId.get(s.parent).exists(under)
    spans.filter(s => s.layer == layer && under(s)).toSeq
  }

  def toJson: String = Json.render(spans.sortBy(_.id).map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
      "start_us" -> s.startUs, "end_us" -> s.endUs, "self_us" -> selfUs(s),
      "counters" -> s.counters)
  })
}

/** JVM-level gauges read around a phase. */
object Jvm {
  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum

  private def heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** VmHWM of this process (peak resident set), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  def allocatedBytes: Long = threads.getThreadAllocatedBytes(Thread.currentThread().getId)
}

/** Already-rendered JSON, embedded as is. */
final case class RawJson(json: String)

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case RawJson(j) => j
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case o => quote(o.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < 0x20 => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}
