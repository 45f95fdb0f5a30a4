package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

import org.apache.spark.sql.functions.{broadcast, col}

import graft.operators.{LinkGraph, Materialize}

/** A lazily checkpointed loop frame can be materialized by CONCURRENT
  * jobs (the broadcast builds of the next round); the first to finish
  * truncates its lineage. The loop must keep the source plan, and so its
  * SQL metrics, reachable until the jobs that read it have reported —
  * otherwise the driver logs `Failed to update accumulator` and drops
  * those tasks' metrics.
  */
class LazyCheckpointSpec extends SparkTestBase {

  import spark.implicits._

  /** Count the DAGScheduler's lost-accumulator errors while `body` runs,
    * with the driver collecting garbage every few milliseconds, so a
    * metric left unreachable mid-loop is collected before it reports.
    */
  private def lostAccumulatorUpdates(body: => Unit): Int = {
    val lost = new AtomicInteger
    val appender = new AbstractAppender(
        "lost-accumulators", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("Failed to update accumulator"))
          lost.incrementAndGet()
    }
    appender.start()
    val logger = LogManager.getLogger("org.apache.spark.scheduler.DAGScheduler")
      .asInstanceOf[Logger]
    logger.addAppender(appender)
    val running = new AtomicBoolean(true)
    val gc = new Thread(() => while (running.get) { System.gc(); Thread.sleep(20) })
    gc.setDaemon(true)
    gc.start()
    try body
    finally {
      running.set(false)
      gc.join()
      logger.removeAppender(appender)
      appender.stop()
    }
    lost.get
  }

  test("sccOver keeps each lazy checkpoint's source metrics until its jobs report") {
    // chained cycles behind a tail: several sweeps, each one's label and
    // edge checkpoints read by two concurrent broadcast builds
    val edges = Seq(
      1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L,
      4L -> 5L, 5L -> 6L, 6L -> 4L, 6L -> 7L,
      7L -> 8L, 8L -> 7L, 8L -> 9L, 10L -> 1L).toDF("src", "dst")
    val nodes = (1L to 10L).toDF("node")
    val lost = lostAccumulatorUpdates {
      LinkGraph.sccOver(edges, nodes).collect()
    }
    assert(lost == 0, s"$lost task metric updates reached a collected accumulator")
  }

  test("Materialize.lazily holds a frame that two concurrent broadcast builds read") {
    val lost = lostAccumulatorUpdates {
      Materialize.loop {
        val ck = Materialize.lazily(
          spark.range(0, 4000, 1, 8).select(col("id").as("k"), (col("id") % 7).as("v")),
          freshStats = false)
        spark.range(0, 4000, 1, 8).toDF("k")
          .join(broadcast(ck), "k")
          .join(broadcast(ck.select(col("k"), col("v").as("w"))), "k")
          .collect()
      }
    }
    assert(lost == 0, s"$lost task metric updates reached a collected accumulator")
  }

  test("Materialize.lazily outside a loop throws") {
    val e = intercept[IllegalArgumentException] {
      Materialize.lazily(spark.range(3).toDF(), freshStats = false)
    }
    assert(e.getMessage.contains("outside Materialize.loop"))
  }

  test("a nested Materialize.loop releases only its own holds") {
    assert(Materialize.held == Nil)
    Materialize.loop {
      Materialize.lazily(spark.range(3).toDF(), freshStats = false)
      assert(Materialize.held == List(1))
      Materialize.loop {
        Materialize.lazily(spark.range(4).toDF(), freshStats = true)
        Materialize.lazily(spark.range(5).toDF(), freshStats = false)
        assert(Materialize.held == List(2, 1))
      }
      assert(Materialize.held == List(1))
      intercept[IllegalStateException] {
        Materialize.loop {
          Materialize.lazily(spark.range(6).toDF(), freshStats = false)
          throw new IllegalStateException("loop body failed")
        }
      }
      assert(Materialize.held == List(1))
    }
    assert(Materialize.held == Nil)
  }

  test("a stored lazy checkpoint's hold is released at the next Materialize.lazily") {
    Materialize.loop {
      Materialize.lazily(spark.range(3).toDF(), freshStats = false).count()
      assert(Materialize.held == List(1))
      Materialize.lazily(spark.range(4).toDF(), freshStats = false)
      assert(Materialize.held == List(1))
    }
  }
}
