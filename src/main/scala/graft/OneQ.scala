package graft
import org.apache.spark.sql.SparkSession
object OneQ {
  /** The isolated-query session `OneQ` and [[Diag]] share: `local[cpus]`
    * with `cpus` from SPARK_GRAFT_CPUS (default: every cpu the JVM may
    * use), the same width for shuffles unless SPARK_GRAFT_SHUFFLE
    * overrides it (the PLANS.md scale rehearsals).
    */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(graft.functions.GraftFunctions.register)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Between-run sweep, mirroring Bench/Verify (VERDICT r10 #1): eager
    * localCheckpoint blocks aren't cacheManager-tracked, and a fork
    * measuring a pin-carrying query must not let run N's blocks
    * pressure run N+1.
    */
  def sweep(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  def main(args: Array[String]): Unit = {
    val spark = session()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Two untimed warmups per query before the timed min-of-3: wide generated
    // aggregates need ~3 executions before C2 fully compiles them (see the
    // measurement note in Bench.scala), so a cold first slot would publish
    // order-dependent numbers and defeat cross-round isolated compares.
    for (q <- args) {
      for (_ <- 1 to 2) {
        SparkEntry.queries(q)(spark, dir).write.mode("overwrite").format("noop").save()
        sweep(spark)
      }
      for (i <- 1 to 3) {
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, dir).write.mode("overwrite").format("noop").save()
        println(f"$q run$i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
        sweep(spark)
      }
    }
    spark.stop()
  }
}
