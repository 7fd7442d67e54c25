package graftbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One measured operation: a call into a graft entry point. */
final case class Op(pass: Int, kind: String, name: String, traced: Boolean,
                    wallS: Double, constructS: Double, ok: Boolean,
                    pinnedPeak: Long, persistedRdds: Int, layers: Option[Layers])

/** Runs one workload in one JVM and one session and writes its raw
  * samples as JSON; `run.py` turns them into metrics.
  *
  *   --workload catalog|admit_serve --seed N --seconds S --trace 0|1
  *   --data DIR (generated tables) --work DIR (working files) --out FILE
  *   [--passes N] (at least N passes) [--queries q01_scan_agg,...] (catalog slice)
  *
  * A traced run alternates untraced and traced passes, at least N of
  * each, so the workload's own passes give the tracing overhead.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val t0 = System.nanoTime()
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val work = opt("work")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .withExtensions(graft.functions.GraftFunctions.register)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val pins = new PinProbe
    spark.sparkContext.addSparkListener(pins)
    val rec = new Recorder(spark, opt("trace") == "1", pins)
    val wl: Workload = opt("workload") match {
      case "catalog" => new Catalog(spark, rec, opt("data"), work,
        opt("queries").split(",").toSeq, opt("seed").toLong)
      case "admit_serve" => new AdmitServe(spark, rec, opt("data"), work, opt("seed").toLong)
      case other => sys.error(s"unknown workload $other")
    }
    val out = Json.obj()
    out("session_s") = sessionS
    out("setup_s") = sessionS + wl.setup()
    rec.ops.clear()
    pins.take()

    // closed loop: one driver thread, the next operation starts when the
    // previous one returns; passes run until the window is used up
    val budgetNs = (opt("seconds").toDouble * 1e9).toLong
    val loop0 = System.nanoTime()
    val passes = mutable.ArrayBuffer.empty[Json.Obj]
    val perKind = if (rec.tracing) 2 else 1
    val minPasses = opt.getOrElse("passes", "1").toInt * perKind
    var pass = 0
    while (pass < minPasses || pass % perKind != 0 || System.nanoTime() - loop0 < budgetNs) {
      val traced = rec.tracing && pass % 2 == 1
      val p0 = System.nanoTime()
      val codegen0 = Recorder.codegen()
      rec.traced = traced
      wl.pass(pass)
      rec.traced = false
      val p = Json.obj()
      p("pass") = pass
      p("traced") = traced
      p("wall_s") = (System.nanoTime() - p0) / 1e9
      val (cgS, cgN) = Recorder.codegen(codegen0)
      p("codegen_s") = cgS
      p("codegen_n") = cgN
      p("store") = wl.storeStats(pass)
      passes += p
      pass += 1
    }
    out("measured_s") = (System.nanoTime() - loop0) / 1e9
    out("passes") = passes.toSeq
    out("ops") = rec.ops.toSeq.map(Recorder.opJson)
    out("checks") = wl.check()
    if (rec.tracing) out("probe") = Probe.run(spark, opt("data"))
    out("spark_version") = spark.version
    out("java_version") = System.getProperty("java.version")
    out("java_vm") = System.getProperty("java.vm.name")
    out("heap_max_bytes") = Runtime.getRuntime.maxMemory
    spark.stop()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")), Json.render(out))
  }
}

/** Labels, times and (in traced passes) traces each operation. */
final class Recorder(spark: SparkSession, val tracing: Boolean, pins: PinProbe) {
  val ops = mutable.ArrayBuffer.empty[Op]
  private val tracer = if (tracing) Some(new Tracer(spark)) else None
  private var seq = 0
  private var _traced = false
  def traced: Boolean = _traced
  def traced_=(on: Boolean): Unit = if (on != _traced) {
    _traced = on
    tracer.foreach(t => if (on) t.attach() else t.detach())
  }

  /** Times `body`. `construct` splits off the driver-side part for
    * operations whose builder returns a frame: it returns the frame, and
    * `run` executes it. Failures are recorded, never rethrown. */
  def op[T](pass: Int, kind: String, name: String)(construct: => T)(run: T => Unit): Boolean = {
    seq += 1
    val group = s"graftbench-$seq"
    val sc = spark.sparkContext
    sc.setJobGroup(group, s"$kind $name", interruptOnCancel = false)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var tc = t0
    val ok = try { val v = construct; tc = System.nanoTime(); run(v); true }
      catch { case e: Throwable =>
        System.err.println(s"[graftbench] $kind $name failed: $e"); false }
    val t1 = System.nanoTime()
    sc.clearJobGroup()
    org.apache.spark.BusDrain.drain(sc)
    val layers = tracer.filter(_ => traced).map { t =>
      t.awaitJobsEnded(group, 2000L)
      t.layers(group, w0, w0 + (t1 - t0) / 1000000L)
    }
    val (peak, rdds) = pins.take()
    ops += Op(pass, kind, name, traced, (t1 - t0) / 1e9, (tc - t0) / 1e9, ok, peak, rdds, layers)
    ok
  }
}

object Recorder {
  import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
  import org.apache.spark.metrics.source.CodegenMetrics

  /** JVM-wide (compile nanoseconds, classes compiled) so far. */
  def codegen(): (Long, Long) =
    (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  def codegen(since: (Long, Long)): (Double, Long) = {
    val (ns, n) = codegen()
    ((ns - since._1) / 1e9, n - since._2)
  }

  def opJson(o: Op): Json.Obj = {
    val j = Json.obj()
    j("pass") = o.pass; j("kind") = o.kind; j("name") = o.name
    j("traced") = o.traced; j("wall_s") = o.wallS; j("ok") = o.ok
    j("construct_s") = o.constructS
    j("pinned_peak_bytes") = o.pinnedPeak; j("persisted_rdds") = o.persistedRdds
    o.layers.foreach { l =>
      j("jobs") = l.jobs; j("unended_jobs") = l.unendedJobs
      j("stages") = l.stages; j("tasks") = l.tasks
      j("job_union_s") = l.jobUnionS; j("first_job_at_s") = l.firstJobAtS
      j("task_s") = l.taskS; j("plan_s") = l.planS
      j("shuffle_write_bytes") = l.shuffleWrite
      j("shuffle_read_bytes") = l.shuffleRead; j("spill_bytes") = l.spill
      val by = Json.obj()
      l.taskSByObject.foreach { case (k, v) => by(if (k.isEmpty) "-" else k) = v }
      j("task_s_by_object") = by
    }
    j
  }
}
