package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Peak bytes held by persisted or checkpointed RDD blocks. This block
  * listener is the one hook attached in untraced runs too: a peak cannot
  * be sampled from outside without missing frames an operation pins and
  * frees within itself. It only keeps a running sum per block.
  */
final class PinProbe extends SparkListener {
  private val sizes = mutable.Map.empty[String, Long]
  private val rdds = mutable.Set.empty[Int]
  private var current = 0L
  private var peak = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { id =>
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      synchronized {
        current += size - sizes.getOrElse(id.name, 0L)
        if (size > 0) { sizes(id.name) = size; rdds += id.rddId }
        else sizes.remove(id.name)
        peak = math.max(peak, current)
      }
    }
  }

  /** (peak bytes, distinct persisted RDDs) since the last call; the peak
    * restarts from what is still held. */
  def take(): (Long, Int) = synchronized {
    val r = (peak, rdds.size)
    peak = current
    rdds.clear()
    r
  }
}

/** Layer numbers of one labelled operation, read from Spark's public
  * observation hooks. Times in seconds, sizes in bytes. */
final case class Layers(jobs: Int, unendedJobs: Int, stages: Int, tasks: Int,
                        jobUnionS: Double, firstJobAtS: Double, taskS: Double,
                        shuffleWrite: Long, shuffleRead: Long, spill: Long,
                        planS: Double, taskSByObject: Map[String, Double])

/** Traced runs only: a SparkListener and a QueryExecutionListener that
  * file every job, stage and task under the job group of the operation
  * that submitted it. All state is written and read under `lock`.
  */
final class Tracer(spark: SparkSession) {
  private val lock = new Object
  private final class Job(val group: String, val start: Long, val stageIds: Seq[Int]) {
    var end: Long = -1L
  }
  private final class Stage(val group: String) {
    var tasks = 0
    var runMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var callsiteObject = ""
  }
  private val jobs = mutable.Map.empty[Int, Job]
  // SQL execution id -> graft object named by its callsite
  private val execObject = mutable.Map.empty[Long, String]
  private val stages = mutable.Map.empty[Int, Stage]
  // (start ms, duration ms) of every analysis/optimization/planning phase
  private val phases = mutable.ArrayBuffer.empty[(Long, Long)]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      lock.synchronized {
        jobs(e.jobId) = new Job(group, e.time, e.stageIds)
        val obj = exec.flatMap(execObject.get).getOrElse("")
        e.stageIds.foreach { id =>
          stages.getOrElseUpdate(id, new Stage(group)).callsiteObject = obj
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        val obj = Tracer.innermostGraftObject(s.details)
        lock.synchronized { execObject(s.executionId) = obj }
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
      lock.notifyAll()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      // stages of a SQL execution carry its callsite; others their own
      val obj = Tracer.innermostGraftObject(e.stageInfo.details)
      lock.synchronized {
        stages.get(e.stageInfo.stageId).filter(_.callsiteObject.isEmpty)
          .foreach(_.callsiteObject = obj)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      lock.synchronized {
        stages.get(e.stageId).foreach { s =>
          s.tasks += 1
          if (m != null) {
            s.runMs += m.executorRunTime
            s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ps = Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(p => (p.startTimeMs, p.durationMs))
      lock.synchronized { phases ++= ps }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Wait until every event posted so far has been delivered. */
  def drain(): Unit = org.apache.spark.BusDrain.drain(spark.sparkContext)

  /** Wait, at most `timeoutMs`, until every job of `group` that started
    * has ended: job start and end counts match. */
  def awaitJobsEnded(group: String, timeoutMs: Long): Unit = lock.synchronized {
    val deadline = System.currentTimeMillis() + timeoutMs
    def open = jobs.values.count(j => j.group == group && j.end < 0)
    while (open > 0 && System.currentTimeMillis() < deadline)
      lock.wait(math.max(1L, deadline - System.currentTimeMillis()))
  }

  /** Layers of the operation labelled `group` that ran in [t0Ms, t1Ms].
    * Call after [[awaitJobsEnded]]. Jobs that never ended are counted in
    * `unendedJobs` and left out of every time. */
  def layers(group: String, t0Ms: Long, t1Ms: Long): Layers = lock.synchronized {
    val js = jobs.values.filter(_.group == group).toSeq
    val ended = js.filter(_.end >= 0)
    val ss = stages.filter(_._2.group == group).values.toSeq
    val ran = ss.filter(_.tasks > 0)
    Layers(
      jobs = js.size, unendedJobs = js.size - ended.size,
      stages = ran.size, tasks = ran.map(_.tasks).sum,
      jobUnionS = Tracer.unionMs(ended.map(j => (j.start, j.end))) / 1e3,
      firstJobAtS = if (js.isEmpty) (t1Ms - t0Ms) / 1e3 else (js.map(_.start).min - t0Ms) / 1e3,
      taskS = ran.map(_.runMs).sum / 1e3,
      shuffleWrite = ran.map(_.shuffleWrite).sum,
      shuffleRead = ran.map(_.shuffleRead).sum,
      spill = ran.map(_.spill).sum,
      planS = phases.collect { case (st, d) if st >= t0Ms && st <= t1Ms => d }.sum / 1e3,
      taskSByObject = ran.groupBy(_.callsiteObject)
        .map { case (o, g) => o -> g.map(_.runMs).sum / 1e3 })
  }
}

object Tracer {
  /** Total length covered by a set of intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var (curS, curE) = (Long.MinValue, Long.MinValue)
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** The graft object named by the innermost `graft.` frame of a stage's
    * long-form callsite ("" when graft code is not on the stack). */
  def innermostGraftObject(details: String): String =
    details.split('\n').map(_.trim).find(_.startsWith("graft."))
      .map(_.takeWhile(_ != '(').split('.').dropRight(1).lastOption.getOrElse(""))
      .map(_.takeWhile(_ != '$'))
      .getOrElse("")
}
