package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work attributed to one key: a query phase, a dashboard call
 * or a streaming batch. */
final class Work {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val serialStages = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
}

/** One recorded span: a call from the benchmark into one layer. */
final case class Span(id: Int, parent: Int, name: String, op: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
  def json: String =
    s"""{"id":$id,"parent":$parent,"name":"$name","op":"$op","start_ns":$startNs,"end_ns":$endNs}"""
}

/**
 * Per-layer instrumentation for the traced run, built only from
 * Spark's public listener interfaces and from spans the benchmark
 * records around its own calls into graft. With tracing off every
 * method is a pass-through, so untraced runs pay nothing.
 *
 * Jobs are attributed by the `perfbench.key` local property, which the
 * benchmark sets on the calling thread before each call (Spark copies
 * local properties onto every job the thread submits), or by the
 * streaming batch id for jobs a streaming query runs.
 */
final class Tracer(val spark: SparkSession, val enabled: Boolean) {
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  val work = new ConcurrentHashMap[String, Work]()
  private val stageKey = new ConcurrentHashMap[Int, String]()
  /** Every successful Dataset action, in completion order. */
  val executions = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
  val KeyProp = "perfbench.key"

  def workOf(key: String): Work = work.computeIfAbsent(key, _ => new Work)

  /** Run `f` as span `name` of operation `op`; nested spans on the same
   * thread record their parent. */
  def span[T](name: String, op: String = "")(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0), name, op, t0, System.nanoTime()))
        stack.set(parents)
      }
    }

  /** Attribute Spark jobs submitted by this thread inside `f` to `key`. */
  def keyed[T](key: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(KeyProp)
    sc.setLocalProperty(KeyProp, key)
    try f finally sc.setLocalProperty(KeyProp, prev)
  }

  private object Listener extends SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val p = Option(j.properties)
      val key = p.flatMap(x => Option(x.getProperty(KeyProp)))
        .orElse(p.flatMap(x => Option(x.getProperty("streaming.sql.batchId"))).map("batch/" + _))
        .getOrElse("other")
      workOf(key).jobs.incrementAndGet()
      j.stageIds.foreach(stageKey.put(_, key))
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val i = s.stageInfo
      val dur = for (a <- i.submissionTime; b <- i.completionTime) yield b - a
      if (i.numTasks == 1 && dur.exists(_ > 1000L))
        Option(stageKey.get(i.stageId)).foreach(workOf(_).serialStages.incrementAndGet())
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      Option(stageKey.get(t.stageId)).foreach { key =>
        val w = workOf(key)
        w.tasks.incrementAndGet()
        Option(t.taskMetrics).foreach { m =>
          w.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          w.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
  }

  private object QeListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      { executions.add(qe); () }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(Listener)
    spark.listenerManager.register(QeListener)
  }

  /** Wait until every posted listener event has been delivered. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchShim.drain(spark.sparkContext)

  /** Executions delivered since the last call (call after a
   * [[drain]]); only meaningful while one thread runs Spark actions. */
  def takeExecutions(): Seq[QueryExecution] =
    Iterator.continually(executions.poll()).takeWhile(_ != null).toSeq
}

object Plans {
  /** Every physical node of an executed plan, through AQE stages,
   * command wrappers and subqueries; reused exchanges count once. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case c: CommandResultExec => nodes(c.commandPhysicalPlan)
    case _: ReusedExchangeExec => Nil
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def joins(p: SparkPlan): (Int, Int) = {
    val ns = nodes(p)
    (ns.count { case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec => true; case _ => false },
      ns.count { case _: SortMergeJoinExec | _: ShuffledHashJoinExec => true; case _ => false })
  }

  def scans(p: SparkPlan): Seq[FileSourceScanExec] =
    nodes(p).collect { case s: FileSourceScanExec => s }

  /** Planning time of a finished execution: the tracker's analysis,
   * optimization and planning phases. */
  def planMs(qe: QueryExecution): Double =
    qe.tracker.phases.values.map(_.durationMs).sum.toDouble
}

/** JVM-wide counters: GC time, process CPU time, peak heap. The peak
 * is the largest heap-in-use figure a 20 ms sampler saw since start():
 * the pools peak at different times, so their own peaks do not add up
 * to the heap's. */
final class JvmMeter {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val mem = ManagementFactory.getMemoryMXBean
  private def gcMs = gcs.map(_.getCollectionTime).sum
  private var gc0 = 0L
  private var cpu0 = 0L
  private val heapMax = new AtomicLong
  private val sampler = java.util.concurrent.Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "perfbench-heap"); t.setDaemon(true); t
  }
  def start(): Unit = {
    gc0 = gcMs; cpu0 = os.getProcessCpuTime
    heapMax.set(mem.getHeapMemoryUsage.getUsed)
    sampler.scheduleAtFixedRate(() => { heapMax.accumulateAndGet(mem.getHeapMemoryUsage.getUsed, math.max); () },
      20, 20, java.util.concurrent.TimeUnit.MILLISECONDS)
    ()
  }
  def gcS: Double = (gcMs - gc0) / 1e3
  def cpuS: Double = (os.getProcessCpuTime - cpu0) / 1e9
  def heapPeakMb: Double = { sampler.shutdownNow(); heapMax.get / 1e6 }
}

object Stats {
  /** Linear-interpolated percentile, q in [0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

/** Ordered metric map rendered as JSON. */
final class Metrics {
  private val m = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  def put(name: String, value: Double, unit: String, n: Int = 1): Unit =
    m(name) = (value, unit, n)
  def json: String = m.map { case (k, (v, u, n)) =>
    val num = if (v.isNaN || v.isInfinite) "null" else v.toString
    s""""$k":{"value":$num,"unit":"$u","n":$n}"""
  }.mkString("{", ",", "}")
}
