package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.execution.{FilterExec, GenerateExec, InputAdapter, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a layer, as seen from the benchmark: `parent` is the
  * enclosing span on the same thread (0 at the root) and `req` the
  * request it served (-1 when none). */
final case class Span(id: Int, layer: String, name: String, parent: Int,
                      req: Long, startNs: Long, endNs: Long)

/** Spans around the benchmark's calls into each layer, kept in memory
  * and written once when the run ends. A disabled tracer runs the body
  * and records nothing. */
final class Tracer(val on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger()
  private val stack = ThreadLocal.withInitial[List[(Int, Long)]](() => Nil)

  def span[T](layer: String, name: String, req: Long = -1L)(body: => T): T =
    if (!on) body else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      val (parent, parentReq) = outer.headOption.getOrElse((0, -1L))
      val r = if (req >= 0) req else parentReq
      stack.set((id, r) :: outer)
      val t0 = System.nanoTime()
      try body finally {
        spans.add(Span(id, layer, name, parent, r, t0, System.nanoTime()))
        stack.set(outer)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  /** Runs `body` in a span and returns its result with its time in ms. */
  def timed[T](layer: String, name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = span(layer, name)(body)
    (out, (System.nanoTime() - t0) / 1e6)
  }

  /** Per-layer self time in ms: each span's duration minus the part of
    * its interval that its child spans cover. */
  def selfMsByLayer: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, mine) =>
      layer -> mine.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil).map(c =>
          (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }

  def write(file: java.io.File): Unit = {
    val w = new java.io.PrintWriter(file, "UTF-8")
    try all.foreach { s =>
      w.println(s"""{"id":${s.id},"layer":"${s.layer}","name":"${s.name}",""" +
        s""""parent":${s.parent},"req":${s.req},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

/** Engine counters from Spark's scheduler events. */
final class SparkCounters extends SparkListener {
  @volatile var jobs = 0L
  @volatile var stages = 0L
  @volatile var tasks = 0L
  @volatile var cpuNs = 0L
  @volatile var gcMs = 0L
  @volatile var shuffleWriteBytes = 0L
  @volatile var spillBytes = 0L
  private val stageSubmit = new ConcurrentHashMap[(Int, Int), java.lang.Long]()
  private val taskWaitMs = new ConcurrentLinkedQueue[java.lang.Long]()
  private val taskMs = new ConcurrentHashMap[(Int, Int), ConcurrentLinkedQueue[java.lang.Long]]()
  @volatile var singleTaskStageMs = 0L
  private val blocks = new ConcurrentHashMap[String, java.lang.Long]()
  @volatile var storagePeakBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t =>
      stageSubmit.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()), t))

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    val sub = stageSubmit.get((e.stageId, e.stageAttemptId))
    if (sub != null) taskWaitMs.add(e.taskInfo.launchTime - sub)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.diskBytesSpilled
    }
    taskMs.computeIfAbsent((e.stageId, e.stageAttemptId),
      _ => new ConcurrentLinkedQueue[java.lang.Long]()).add(e.taskInfo.duration)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    val i = e.stageInfo
    if (i.numTasks == 1)
      for (s <- i.submissionTime; c <- i.completionTime) singleTaskStageMs += c - s
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    val size = b.memSize + b.diskSize
    if (size > 0) blocks.put(b.blockId.name, size) else blocks.remove(b.blockId.name)
    storagePeakBytes = math.max(storagePeakBytes, blocks.values.asScala.map(_.longValue).sum)
  }

  def taskWaitMedianMs: Double = Stats.median(taskWaitMs.asScala.map(_.toDouble).toSeq)

  /** Worst stage's slowest task over its median task (stages with at
    * least two tasks; 1 when there are none). */
  def stageSkew: Double = {
    val ratios = taskMs.values.asScala.map(_.asScala.map(_.toDouble).toSeq)
      .filter(_.size >= 2).map(ts => ts.max / math.max(1.0, Stats.median(ts)))
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

/** What one executed query did, read from its final physical plan. */
final case class QueryRecord(func: String, plan: SparkPlan) {
  lazy val nodes: Seq[SparkPlan] = Plans.nodes(plan)

  /** Sum of `metric` over nodes whose name starts with `nodePrefix`. */
  def sum(nodePrefix: String, metric: String): Long =
    nodes.filter(_.nodeName.startsWith(nodePrefix)).flatMap(_.metrics.get(metric)).map(_.value).sum
}

/** Per-query SQL metrics from Spark's query-execution callbacks, in the
  * order the queries finished. */
final class QueryCounters extends QueryExecutionListener {
  private val order = new ConcurrentLinkedQueue[QueryRecord]()

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
    order.add(QueryRecord(func, qe.executedPlan))
  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()

  def all: Seq[QueryRecord] = order.asScala.toSeq
}

object Plans {
  /** Every node of an executed plan, descending into adaptive query
    * stages and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case i: InputAdapter => i +: nodes(i.child)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** (pairs kept, candidate pairs in) of a node that verifies MinHash
    * candidates by their exact n-gram intersection (`inter` in
    * `graft.pipeline.Dedup.minhashLshPairs`): a filter, or a join the
    * filter was pushed into, whose candidate side holds the band explode. */
  def verify(n: SparkPlan): Option[(Long, Long)] = {
    def onInter(e: Expression): Boolean = e.exists {
      case a: AttributeReference => a.name == "inter"
      case x => x.isInstanceOf[graft.functions.SortedIntersectSize]
    }
    val candidates: Option[SparkPlan] = n match {
      case f: FilterExec if onInter(f.condition) => Some(f.child)
      case j: BaseJoinExec if j.condition.exists(onInter) =>
        j.children.find(c => nodes(c).exists(_.isInstanceOf[GenerateExec]))
      case _ => None
    }
    candidates.map(c => (n.metrics.get("numOutputRows").map(_.value).getOrElse(0L), inputRows(c)))
  }

  /** Rows flowing out of `p`: its own output-row count, or that of the
    * first node below it that counts rows. */
  def inputRows(p: SparkPlan): Long = p.metrics.get("numOutputRows") match {
    case Some(m) => m.value
    case None => p.children.headOption.map(inputRows).getOrElse(0L)
  }
}

/** Micro-batch progress of streaming queries. */
final class StreamCounters extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (e.progress.numInputRows > 0) progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** Median over batches of one `durationMs` entry. */
  def medianMs(key: String): Double = Stats.median(progress.asScala.toSeq
    .map(p => Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)))
}

/** The listeners of one traced phase, registered by the benchmark. */
final class Listeners(spark: SparkSession) {
  val sparkC = new SparkCounters
  val queries = new QueryCounters
  val streams = new StreamCounters
  org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
  spark.sparkContext.addSparkListener(sparkC)
  spark.listenerManager.register(queries)
  spark.streams.addListener(streams)

  /** Delivers every pending event; call before reading a counter. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  def remove(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkC)
    spark.listenerManager.unregister(queries)
    spark.streams.removeListener(streams)
  }

  /** The engine-wide `spark.*` metrics of the phase. */
  def sparkMetrics: Seq[(String, Double)] = {
    drain()
    val s = sparkC
    Seq(
      "spark.exec_cpu_s" -> s.cpuNs / 1e9,
      "spark.gc_s" -> s.gcMs / 1e3,
      "spark.jobs" -> s.jobs.toDouble,
      "spark.stages" -> s.stages.toDouble,
      "spark.tasks" -> s.tasks.toDouble,
      "spark.shuffle_write_mb" -> s.shuffleWriteBytes / 1e6,
      "spark.spill_mb" -> s.spillBytes / 1e6,
      "spark.task_wait_ms" -> s.taskWaitMedianMs,
      "spark.stage_skew" -> s.stageSkew,
      "spark.single_task_stage_ms" -> s.singleTaskStageMs.toDouble,
      "spark.storage_mb" -> s.storagePeakBytes / 1e6)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
