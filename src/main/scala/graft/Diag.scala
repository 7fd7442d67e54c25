package graft
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Measurement tool (round 17 — optimization guide §1): runs one query
  * exactly as OneQ does (two warmups, then a timed noop-sink run) with a
  * SparkListener attached, and prints the per-JOB wall breakdown plus the
  * slowest stages (wall, task count, callsite). Never part of a query
  * path — it exists so optimization targets the measured sink, not a
  * guess.
  */
object Diag {
  def main(args: Array[String]): Unit = {
    val spark = OneQ.session()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    case class Job(id: Int, var t0: Long = 0L, var t1: Long = 0L,
                   var stages: Int = 0, var tasks: Int = 0)
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    case class Stg(name: String, wallMs: Long, tasks: Int, details: String)
    val stages = mutable.ArrayBuffer.empty[Stg]
    @volatile var record = false
    // the listener bus delivers on its own thread while main reads the
    // maps right after `record = false` (ADVICE r17): serialize every
    // access to `jobs` and `stages`, reads included, on `jobs` — and
    // drop never-ended jobs (t1 == 0) from the sums below, so a late
    // JobEnd can neither corrupt the maps nor contribute a large
    // negative wall
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (record) {
        jobs.synchronized { jobs(e.jobId) = Job(e.jobId, t0 = e.time) }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = if (record) {
        jobs.synchronized { jobs.get(e.jobId).foreach(_.t1 = e.time) }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (record) {
          val si = e.stageInfo
          val wall = (for {a <- si.completionTime; b <- si.submissionTime}
            yield a - b).getOrElse(-1L)
          // first graft-frame line of the callsite long form, so a slow
          // stage names the operator line that submitted it
          val graftLine = si.details.split('\n')
            .find(l => l.contains("graft.") && !l.contains("Diag"))
            .getOrElse("").trim
          jobs.synchronized {
            stages += Stg(si.name.takeWhile(_ != '\n'), wall, si.numTasks, graftLine)
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)
    for (q <- args) {
      for (_ <- 1 to 2) {
        SparkEntry.queries(q)(spark, dir).write.mode("overwrite").format("noop").save()
        OneQ.sweep(spark)
      }
      jobs.synchronized { jobs.clear(); stages.clear() }
      record = true
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, dir).write.mode("overwrite").format("noop").save()
      val wall = (System.nanoTime() - t0) / 1e9
      record = false
      // let the listener bus drain before reading (ADVICE r17) — events
      // for the timed run may still be in flight on the bus thread (the
      // drain API is private[spark]; a bounded sleep is the tool's
      // accuracy budget, not a correctness device)
      Thread.sleep(300)
      OneQ.sweep(spark)
      println(f"===== $q total ${wall}%.3f s =====")
      // never-ended jobs (t1 == 0 — a JobEnd lost to the record flag)
      // are dropped rather than summed as negative walls
      val (js, stgs) = jobs.synchronized {
        (jobs.values.filter(_.t1 > 0).toSeq, stages.toSeq)
      }
      println(f"jobs: ${js.size}, job wall sum ${js.map(j => j.t1 - j.t0).sum / 1e3}%.3f s, " +
        f"stages: ${stgs.size}, tasks: ${stgs.map(_.tasks).sum}")
      for (j <- js.sortBy(j => -(j.t1 - j.t0)).take(15))
        println(f"  job ${j.id}%3d  ${(j.t1 - j.t0) / 1e3}%7.3f s")
      println("slowest stages:")
      for (st <- stgs.sortBy(-_.wallMs).take(20))
        println(f"  ${st.wallMs / 1e3}%7.3f s  ${st.tasks}%4d tasks  ${st.name}  @ ${st.details}")
    }
    spark.stop()
  }
}
