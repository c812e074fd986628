package perfbench

import java.io.File
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Named output checks. Each check run either passes or fails; the
  * operation that ran it fails when any of its checks fails. */
final class Checks {
  private val runs = mutable.LinkedHashMap.empty[String, Array[Long]]
  def apply(name: String, ok: Boolean): Boolean = {
    val c = runs.getOrElseUpdate(name, Array(0L, 0L))
    c(0) += 1
    if (!ok) c(1) += 1
    ok
  }
  def toJson: String = runs.map { case (n, c) =>
    s""""$n":{"run":${c(0)},"failed":${c(1)}}""" }.mkString("{", ",", "}")
}

/** One timed operation: its kind (e.g. `request`, `append`, `pass`), the
  * timed part in ms, the units of work it completed and whether it ran
  * without error and passed its checks. */
final case class Op(kind: String, ms: Double, units: Double, ok: Boolean)

/** Everything a workload needs from the run. */
final class Ctx(val spark: SparkSession, val gen: Gen, val root: File, val small: Boolean,
                val cores: Int) {
  val checks = new Checks
  var tracer: Tracer = new Tracer(spark.sparkContext, enabled = false)
  def dir(name: String): String = new File(root, name).getAbsolutePath
  def span[T](name: String)(body: => T): T = tracer(name)(body)
}

/** A workload: a set-up that is timed and repeated, and an operation the
  * measured loop repeats. Checks run inside `op` but outside its timed
  * part. */
abstract class Workload(val ctx: Ctx) {
  /** The unit `work_per_s` counts. */
  def unit: String
  /** Build the inputs the operations read, under `dir`. */
  def setup(dir: String): Unit
  /** Untimed preparation of check references, after the last set-up. */
  def prepareChecks(): Unit = ()
  /** Operation `i`; `warm` marks warm-up operations, whose inputs are
    * drawn apart from the measured ones. */
  def op(i: Int, warm: Boolean): Op
  /** Warm-up operations per round: rounds repeat until the round median
    * settles. */
  def warmRound: Int = 1
  /** Expected results found over expected results (recall). */
  def recall: Double
  def inputs: Seq[(String, Any)]
  /** Workload-specific end-to-end figures under their own names. */
  def detail(ops: Seq[Op]): Seq[(String, Double)] = Nil
  /** Per-layer metrics from the traced phase. */
  def layers(t: Tracer, ops: Seq[Op]): Map[String, Double]
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else s(math.max(0, math.ceil(p / 100 * s.length).toInt - 1))
  }
  /** The highest of p99/p95/p90/p75/p50 with at least ten samples beyond
    * it, with its name; None below 20 samples. */
  def tail(xs: Seq[Double]): Option[(String, Double)] =
    Seq(99, 95, 90, 75, 50).find(p => xs.length * (100 - p) / 100.0 >= 10)
      .map(p => (s"p$p", pct(xs, p)))
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val small = opts.getOrElse("size", "full") == "smoke"
    val root = new File(opts("dir"))
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = graft.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", new File(root, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(root, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftSession.create(s"local[$cores]", cores)
    val ctx = new Ctx(spark, new Gen(seed), root, small, cores)
    val w: Workload = workload match {
      case "ingest_pdf" => new IngestPdf(ctx)
      case "serve_exact" => new Serve(ctx, ivf = false)
      case "serve_ivf_append" => new Serve(ctx, ivf = true)
      case "dedup_near" => new DedupNear(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val phases = mutable.LinkedHashMap.empty[String, Double]
    var mark = System.nanoTime()
    phases("jvm_and_session") =
      (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    def phase(n: String): Unit = {
      val now = System.nanoTime(); phases(n) = (now - mark) / 1e9; mark = now
    }
    val setupS = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      w.setup(ctx.dir(s"setup$rep"))
      val s = (System.nanoTime() - t0) / 1e9
      if (rep > 0) deleteTree(new File(ctx.dir(s"setup${rep - 1}")))
      s
    }
    phase("setup")
    w.prepareChecks()
    phase("prepare_checks")
    val warmOps = warmUp(w, seconds)
    phase("warmup")

    var next = 0
    def loop(window: Double): Seq[Op] = {
      val ops = mutable.ArrayBuffer.empty[Op]
      val t0 = System.nanoTime()
      while ((System.nanoTime() - t0) / 1e9 < window || ops.isEmpty) {
        ctx.tracer.newRequest()
        ops += w.op(next, warm = false)
        next += 1
      }
      ops.toSeq
    }
    val plain = loop(if (trace) seconds / 2 else seconds)
    val traced = if (trace) {
      ctx.tracer = new Tracer(spark.sparkContext, enabled = true)
      val ops = loop(seconds / 2)
      org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
      ops
    } else Nil

    phase("measure")
    val all = plain ++ traced
    val attempted = all.length
    val failed = all.count(!_.ok)
    val rssMb = vmHwmMb()
    val e2e = endToEnd(w, plain, Stats.median(setupS), attempted, failed, rssMb)

    val metrics: Seq[(String, Double, String)] =
      if (!trace) e2e
      else {
        val untraced = e2e.map(m => m._1 -> m._2).toMap
        val tracedE2e = endToEnd(w, traced, Stats.median(setupS), attempted, failed, rssMb)
          .map(m => m._1 -> m._2).toMap
        val overheadMs = tracedE2e("op_p50_ms") - untraced("op_p50_ms")
        val traceFile = new File(opts.getOrElse("trace-out", new File(root, "spans.json").getPath))
        traceFile.getParentFile.mkdirs()
        java.nio.file.Files.writeString(traceFile.toPath, ctx.tracer.toJson)
        val layer = w.layers(ctx.tracer, traced) ++ Map(
          "trace.overhead_op_p50_ms" -> overheadMs,
          "trace.overhead_share" -> overheadMs / untraced("op_p50_ms"),
          "trace.overhead_work_per_s" -> (tracedE2e("work_per_s") - untraced("work_per_s")),
          "trace.spans" -> ctx.tracer.spans.length.toDouble)
        Layers.names.map { case (n, unit) =>
          (n, layer.get(n).filterNot(_.isNaN).getOrElse(0.0), unit) }
      }

    val opMs = plain.filter(_.kind != "append").map(_.ms)
    val tailOpt = Stats.tail(opMs)
    val detail = Seq(
      "workload" -> q(workload), "seed" -> seed.toString, "trace" -> trace.toString,
      "env" -> obj(Seq("nproc" -> cores.toString,
        "heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
        "jdk" -> q(System.getProperty("java.version")), "spark" -> q(spark.version),
        "master" -> q(spark.sparkContext.master))),
      "inputs" -> obj(w.inputs.map { case (k, v) => k -> (v match {
        case s: String => q(s)
        case x => x.toString
      }) }),
      "setup_s_each" -> setupS.map(fmt).mkString("[", ",", "]"),
      "warmup_ops" -> warmOps.toString,
      "phase_s" -> obj(phases.toSeq.map { case (k, v) => k -> fmt(v) }),
      "ops" -> obj(all.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, v) => k -> v.length.toString }),
      "unit" -> q(w.unit),
      "op_ms" -> obj(Seq("min" -> fmt(opMs.min), "p25" -> fmt(Stats.pct(opMs, 25)),
        "p50" -> fmt(Stats.median(opMs)), "p75" -> fmt(Stats.pct(opMs, 75)), "max" -> fmt(opMs.max))),
      "tail" -> tailOpt.map { case (p, v) => obj(Seq("percentile" -> q(p), "ms" -> fmt(v),
        "samples" -> plain.count(_.kind != "append").toString)) }.getOrElse("null"),
      "workload_metrics" -> obj(w.detail(plain).map { case (k, v) => k -> fmt(v) }),
      "checks" -> ctx.checks.toJson)
    println(obj(detail))
    val result = obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> obj(metrics.map { case (n, v, u) =>
        n -> obj(Seq("value" -> fmt(v), "unit" -> q(u))) })))
    println(result)
    spark.stop()
  }

  /** Warm-up: at least two rounds of `warmRound` operations, then more
    * until two consecutive round medians agree within 10% or a third of
    * the measured window has passed. */
  private def warmUp(w: Workload, seconds: Double): Int = {
    val t0 = System.nanoTime()
    var prev = Double.NaN
    var n = 0
    var rounds = 0
    var steady = false
    while (!steady && (rounds < 2 || (System.nanoTime() - t0) / 1e9 < seconds / 3)) {
      val round = (0 until w.warmRound).map { _ => n += 1; w.op(n, warm = true).ms }
      val m = Stats.median(round)
      steady = !prev.isNaN && math.abs(m - prev) <= 0.1 * prev
      prev = m
      rounds += 1
    }
    n
  }

  private def endToEnd(w: Workload, ops: Seq[Op], setupS: Double, attempted: Int, failed: Int,
                       rssMb: Double): Seq[(String, Double, String)] = {
    val main = ops.filter(_.kind != "append")
    Seq(
      ("setup_s", setupS, "s"),
      ("ok_op_ratio", 1.0 - failed.toDouble / attempted, "ratio"),
      ("peak_rss_mb", rssMb, "MB"),
      ("op_p50_ms", Stats.median(main.map(_.ms)), "ms"),
      ("work_per_s", Stats.median(main.map(_.units)) / (Stats.median(main.map(_.ms)) / 1000), "1/s"),
      ("result_recall", w.recall, "ratio"))
  }

  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def fmt(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.math.BigDecimal.valueOf(x).toPlainString
  def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
}
