package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder, LongAdder}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark local properties the harness tags work with. Local properties are
  * inherited by threads a tagged thread creates (the engine's per-call
  * tenant and model pools) and captured by broadcast-exchange tasks, so a
  * tag set around a call reaches every job the call starts. The harness
  * uses its own keys rather than the job group, because a broadcast
  * exchange overwrites the job group of the jobs it runs.
  */
object Tags {
  val UnitId = "perfbench.unit"
  val Span = "perfbench.span"
  val Marker = "perfbench.marker"
  /** Span value of harness work the tracer leaves out (output checks). */
  val Untraced = "-"

  def withLocal[T](spark: SparkSession, key: String, value: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(key)
    sc.setLocalProperty(key, value)
    try body finally sc.setLocalProperty(key, prev)
  }

  /** Runs harness work (an output check) that traced runs leave out. */
  def untraced[T](spark: SparkSession)(body: => T): T = withLocal(spark, Span, Untraced)(body)
}

/** Always-on meter, registered in untraced runs too: output bytes of every
  * completed stage (for write_amp), the end time of the last job of each
  * unit tag (for per-tenant latency inside `TenantRegistry.runAll`), and
  * the marker that drains the listener bus.
  */
final class Meter extends SparkListener {
  val bytesWritten = new AtomicLong
  private val jobUnit = new ConcurrentHashMap[Int, String]
  private val jobMarker = new ConcurrentHashMap[Int, java.lang.Long]
  private val unitEnd = new ConcurrentHashMap[String, java.lang.Long]
  @volatile private var markerSeen = 0L
  private val markers = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).foreach { p =>
      Option(p.getProperty(Tags.UnitId)).foreach(jobUnit.put(e.jobId, _))
      Option(p.getProperty(Tags.Marker))
        .foreach(m => jobMarker.put(e.jobId, m.toLong))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobUnit.remove(e.jobId)).foreach(u =>
      unitEnd.merge(u, e.time, (a, b) => math.max(a, b)))
    Option(jobMarker.remove(e.jobId)).foreach(m => markerSeen = m)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(e.stageInfo.taskMetrics).foreach(m =>
      bytesWritten.addAndGet(m.outputMetrics.bytesWritten))

  /** Epoch ms of the last job end seen per unit tag; clears the record. */
  def takeUnitEnds(): Map[String, Long] = {
    val m = unitEnd.asScala.map { case (k, v) => k -> v.longValue }.toMap
    unitEnd.clear()
    m
  }

  /** Runs a one-task marker job and waits until this listener has seen it
    * end. Listeners on the shared queue receive events in order, so every
    * event posted before the marker has then been processed (this one and
    * the [[Tracer]] both sit on that queue).
    */
  def sync(spark: SparkSession): Unit = {
    val id = markers.incrementAndGet()
    Tags.withLocal(spark, Tags.Marker, id.toString) {
      spark.sparkContext.parallelize(Seq(1), 1).count()
    }
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (markerSeen < id && System.nanoTime() < deadline) Thread.sleep(1)
    require(markerSeen >= id, "listener bus did not drain within 30 s")
  }
}

/** The traced run's recorder: every job with its span tag and interval,
  * stage task metrics, and broadcast builds read from each executed plan.
  * It is registered only around traced iterations, so untraced iterations
  * pay nothing for it. Marker jobs and output checks are left out.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val jobs = new ConcurrentHashMap[Int, (String, Long)]
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]
  private val skippedStages = ConcurrentHashMap.newKeySet[Int]()
  val stages, tasks = new LongAdder
  val runMs, cpuNs, shuffleWrite, shuffleRead, spill, input, output = new LongAdder
  val broadcasts = new LongAdder
  val broadcastMs = new DoubleAdder

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val span = p.flatMap(x => Option(x.getProperty(Tags.Span))).getOrElse("")
    if (p.exists(_.getProperty(Tags.Marker) != null) || span == Tags.Untraced)
      e.stageIds.foreach(skippedStages.add)
    else jobs.put(e.jobId, (span, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)).foreach { case (span, t0) =>
      done.add((span, t0, e.time)) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (!skippedStages.contains(e.stageInfo.stageId))
      Option(e.stageInfo.taskMetrics).foreach { m =>
        stages.increment()
        tasks.add(e.stageInfo.numTasks)
        runMs.add(m.executorRunTime)
        cpuNs.add(m.executorCpuTime)
        shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        spill.add(m.diskBytesSpilled)
        input.add(m.inputMetrics.bytesRead)
        output.add(m.outputMetrics.bytesWritten)
      }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    walk(qe.executedPlan)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    walk(qe.executedPlan)

  /** Counts each broadcast exchange that ran in the plan; a reused
    * exchange built nothing and is skipped.
    */
  private def walk(p: SparkPlan): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case q: QueryStageExec => walk(q.plan)
    case _: ReusedExchangeExec => ()
    case b: BroadcastExchangeExec =>
      broadcasts.increment()
      broadcastMs.add(Seq("collectTime", "buildTime", "broadcastTime")
        .flatMap(b.metrics.get).map(_.value).sum.toDouble)
      b.children.foreach(walk)
    case other =>
      other.children.foreach(walk)
      other.subqueries.foreach(walk)
  }

  /** Completed jobs as (span, startMs, endMs). */
  def jobIntervals: Seq[(String, Long, Long)] = done.asScala.toSeq

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def unregister(spark: SparkSession): Unit = {
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }
}

object Tracer {
  /** Milliseconds of [t0, t1] that no job interval covers: the driver gap
    * (planning, catalog and file work, scheduling between jobs).
    */
  def uncoveredMs(intervals: Seq[(Long, Long)], t0: Long, t1: Long): Long = {
    var covered = 0L
    var cursor = t0
    intervals.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > cursor) { covered += b - math.max(a, cursor); cursor = b }
      }
    (t1 - t0) - covered
  }
}
