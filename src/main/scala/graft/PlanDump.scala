package graft

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named queries to files — the
  * before/after plan evidence for optimization rounds.
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> [sfDir] [q1 q2 ...]
  * writes <outDir>/<query>_<suffix>.txt per query. Each query is
  * EXECUTED first (same convention as PlanAudit) so AQE finalizes and
  * the formatted string shows the final adaptive plan.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <suffix> [sfDir] [queries...]")
    val outDir = args(0)
    val suffix = args(1)
    val d = if (args.length >= 3) args(2) else "/root/testdata/sf0.1"
    val names = args.drop(3).toSeq
    require(names.nonEmpty, "PlanDump: name at least one query")
    val cpus = GraftSession.cpus
    val spark = GraftSession.create(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    for (name <- names) {
      val df = Queries.defs(name).run(spark, d)
      df.queryExecution.executedPlan.execute()
        .foreachPartition((_: Iterator[_]) => ())
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
        formatted.getBytes("UTF-8"))
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
