package graft

import java.util.concurrent.ExecutionException
import org.apache.spark.sql.functions.{col, udf}

/** Pin lifetimes of [[Frames.pinConcurrently]], the pin phase q150 runs. */
class FramesSpec extends SparkSpec {

  private def sweep(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  test("pinConcurrently pins every frame and freePinned releases them") {
    sweep()
    val frames = (1 to 3).map(i => spark.range(i * 10L).toDF("id"))
    val pinned = Frames.pinConcurrently(frames)
    assert(pinned.map(_.count()) == Seq(10L, 20L, 30L))
    assert(spark.sparkContext.getPersistentRDDs.size == 3)
    pinned.foreach(Frames.freePinned)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("a failing frame leaves no pin behind and surfaces its own exception") {
    sweep()
    // the failing frame is slow, so the healthy ones are already pinned
    // when its failure surfaces
    val boom = udf { (x: Long) =>
      Thread.sleep(1500)
      if (x >= 0) throw new IllegalStateException("injected pin failure")
      x
    }
    val failing = spark.range(1).select(boom(col("id")).as("id"))
    val healthy = (1 to 3).map(i => spark.range(i * 10L).toDF("id"))
    val e = intercept[Exception](Frames.pinConcurrently(failing +: healthy))
    assert(!e.isInstanceOf[ExecutionException], e)
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(chain.exists(c => String.valueOf(c.getMessage).contains("injected pin failure")), e)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      spark.sparkContext.getPersistentRDDs.values.mkString(", "))
  }
}
