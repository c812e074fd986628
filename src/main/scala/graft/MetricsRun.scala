package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler._

/** Deterministic execution-shape metrics per query: jobs, stages, tasks,
  * shuffle bytes written/read, executor CPU time. Unlike wall-clock,
  * these are stable under machine contention — the evidence channel for
  * structural claims (fewer exchanges, fewer passes) in noisy sandboxes.
  *
  * Usage: runMain graft.MetricsRun <out.json> [sfDir] [q1 q2 ...]
  */
object MetricsRun {
  def main(args: Array[String]): Unit = {
    require(args.length >= 1, "usage: MetricsRun <out.json> [sfDir] [queries...]")
    val out = args(0)
    val d = if (args.length >= 2) args(1) else "/root/testdata/sf0.1"
    val names = args.drop(2).toSeq
    require(names.nonEmpty, "MetricsRun: name at least one query")
    val cpus = GraftSession.cpus
    val spark = GraftSession.create(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("ERROR")

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val shufW = new AtomicLong(0L)
    val shufR = new AtomicLong(0L)
    val cpuNs = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          cpuNs.addAndGet(m.executorCpuTime)
        }
      }
    })

    val sb = new StringBuilder("{")
    var first = true
    for (name <- names) {
      // fixture prewarm OUTSIDE the measured window (Bench convention)
      try Queries.defs(name).run(spark, d).count()
      catch { case e: Throwable => System.err.println(s"[metrics] prewarm $name: ${e.getMessage}") }
      Thread.sleep(400) // let the async listener bus drain
      jobs.set(0); stages.set(0); tasks.set(0); shufW.set(0L); shufR.set(0L); cpuNs.set(0L)
      val t0 = System.nanoTime()
      Queries.defs(name).run(spark, d).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(400) // let the async listener bus drain
      if (!first) sb.append(",")
      first = false
      sb.append(s""""$name":{"jobs":${jobs.get},"stages":${stages.get},"tasks":${tasks.get},""" +
        s""""shuffle_write_b":${shufW.get},"shuffle_read_b":${shufR.get},""" +
        s""""cpu_sec":${cpuNs.get / 1e9},"wall_sec":$wall}""")
      println(s"[metrics] $name jobs=${jobs.get} stages=${stages.get} tasks=${tasks.get} " +
        s"shufW=${shufW.get} shufR=${shufR.get} cpu=${"%.2f".format(cpuNs.get / 1e9)}s " +
        s"wall=${"%.2f".format(wall)}s")
    }
    sb.append("}")
    Files.write(Paths.get(out), sb.toString.getBytes("UTF-8"))
    spark.stop()
  }
}
