package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs `body` starts on the calling thread, with a
  * `SparkListener`. Jobs are tagged through a thread-local property, so
  * jobs of other threads (a streaming query another suite left running)
  * are not counted. Listener events arrive asynchronously: a tagged
  * sentinel job run after `body` marks the point by which every earlier
  * job start has been delivered. */
object JobCount {
  private val Key = "graft.test.jobCount"

  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val counted = new AtomicInteger(0)
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Key))) match {
          case Some(`tag`) => counted.incrementAndGet()
          case Some(t) if t == tag + ":end" => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    val prev = sc.getLocalProperty(Key)
    try {
      sc.setLocalProperty(Key, tag)
      val out = body
      sc.setLocalProperty(Key, tag + ":end")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, TimeUnit.SECONDS), "listener never saw the sentinel job")
      (out, counted.get)
    } finally {
      sc.setLocalProperty(Key, prev)
      sc.removeSparkListener(listener)
    }
  }
}
