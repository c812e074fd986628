package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LocalRelation}
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import graft.pipeline.Summarizer
import graft.plans.LocalGenerateFoldRule

/** [[LocalGenerateFoldRule]]: a fixed-length generator over a local
  * relation is evaluated on the driver with results identical to
  * `GenerateExec`; unbounded generators are never folded. */
class LocalGenerateFoldSpec extends SparkSpec {

  private val ExcludedRules = "spark.sql.optimizer.excludedRules"

  private def withRule[T](body: => T): T = {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ LocalGenerateFoldRule
    try body
    finally spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ eq LocalGenerateFoldRule)
  }

  private def excluded[T](body: => T): T = {
    spark.conf.set(ExcludedRules, LocalGenerateFoldRule.ruleName)
    try body finally spark.conf.unset(ExcludedRules)
  }

  private val schema = StructType(Seq(StructField("k", StringType),
    StructField("n", IntegerType), StructField("s", StringType)))
  private val rows = Seq(Row("a", 1, "x y"), Row("b", 2, null), Row("c", 3, ""), Row("d", null, "z"))
  private def local: DataFrame = spark.createDataFrame(rows.asJava, schema)

  private def hasGenerate(df: DataFrame) =
    df.queryExecution.optimizedPlan.collectFirst { case g: Generate => g }.nonEmpty
  private def plansGenerateExec(df: DataFrame) =
    df.queryExecution.executedPlan.collectFirst { case g: GenerateExec => g }.nonEmpty

  /** Folded and unfolded (rule excluded) runs of `q` give the same schema
    * and rows in the same order; only the folded one has no Generate. */
  private def sameAsUnfolded(q: () => DataFrame): Seq[Row] = withRule {
    val folded = q()
    val out = folded.collect().toSeq
    assert(!hasGenerate(folded), folded.queryExecution.optimizedPlan)
    assert(folded.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    excluded {
      val plain = q()
      assert(hasGenerate(plain), plain.queryExecution.optimizedPlan)
      assert(plain.schema == folded.schema)
      assert(plain.collect().toSeq == out)
    }
    out
  }

  test("explode / posexplode / inline of array(...) fold to the unfolded rows") {
    val e = sameAsUnfolded(() =>
      local.select(col("k"), explode(array(col("n"), col("n") * 10, lit(7))).as("v")))
    assert(e.length == 3 * rows.length)
    assert(e.take(3) == Seq(Row("a", 1), Row("a", 10), Row("a", 7)))
    sameAsUnfolded(() =>
      local.select(col("k"), posexplode(array(col("s"), upper(col("s"))))))
    sameAsUnfolded(() => local.select(col("n"), inline(array(
      struct(col("k").as("a"), col("s").as("b")),
      struct(upper(col("k")).as("a"), lit(null).cast("string").as("b"))))))
    // outer forms over a non-empty array, and the serve event shape
    sameAsUnfolded(() => local.select(col("k"), explode_outer(array(col("s"))).as("v")))
    val hits = local.select(col("k").as("id"), concat(lit("https://x/"), col("k")).as("url"),
      col("n").cast("long").as("pagenumber"), col("k").as("filename"), col("s").as("summary"))
    val ev = sameAsUnfolded(() => Summarizer.serveEvents(hits))
    assert(ev.length == 3 * rows.length)
  }

  test("SQL LATERAL VIEW over VALUES folds to the unfolded rows") {
    val out = sameAsUnfolded(() => spark.sql(
      """SELECT k, e FROM VALUES ('a', 1), ('b', 2) AS t(k, n)
        |LATERAL VIEW explode(array(n, n + 1)) x AS e""".stripMargin))
    assert(out == Seq(Row("a", 1), Row("a", 2), Row("b", 2), Row("b", 3)))
  }

  test("explode_outer of an empty array keeps its null row") {
    val outer = sameAsUnfolded(() => local.select(col("k"), explode_outer(array()).as("v")))
    assert(outer.map(_.getString(0)) == rows.map(_.getString(0)))
    assert(outer.forall(_.isNullAt(1)))
    val inner = sameAsUnfolded(() => local.select(col("k"), explode(array()).as("v")))
    assert(inner.isEmpty)
  }

  test("data-dependent generators over a local frame still plan GenerateExec") {
    withRule {
      val seq = local.select(col("k"), explode(sequence(lit(1), coalesce(col("n"), lit(1)))))
      assert(plansGenerateExec(seq), seq.queryExecution.executedPlan)
      assert(seq.count() == 1 + 2 + 3 + 1)
      val hits = local.select(col("k").as("id"), lit("u").as("url"), lit(1L).as("pagenumber"),
        lit("f").as("filename"), coalesce(col("s"), lit("")).as("summary"))
      val delta = Summarizer.serveEventsDelta(hits, chunkLen = 1)
      assert(plansGenerateExec(delta), delta.queryExecution.executedPlan)
    }
  }

  test("one registry: extensions inject every listed rule and strategy; the fold runs no job") {
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = GraftSession.builder(prev.sparkContext.master, 4).getOrCreate()
    SparkSession.setDefaultSession(prev)
    SparkSession.setActiveSession(prev)
    assert(s ne prev, "expected a fresh session carrying the extensions")
    val rules = s.sessionState.optimizer.extendedOperatorOptimizationRules
    assert(GraftExtensions.optimizerRules.forall(r => rules.exists(_ eq r)))
    val strategies = s.sessionState.planner.strategies
    assert(GraftExtensions.plannerStrategies.forall(st => strategies.exists(_ eq st)))

    val hits = s.createDataFrame(Seq(Row("h1", "u1", 1L, "a.pdf", "text one", "one"),
      Row("h2", "u2", 2L, "b.pdf", "text two", "two")).asJava, StructType(Seq(
      StructField("id", StringType), StructField("url", StringType),
      StructField("pagenumber", org.apache.spark.sql.types.LongType),
      StructField("filename", StringType), StructField("text", StringType),
      StructField("query", StringType))))
    val (events, jobs) = JobCount(s) {
      Summarizer.serveEvents(Summarizer.summarizeDynamic(hits, "text", "query"))
        .select(col("id"), col("ev_seq"), col("payload")).collect()
    }
    assert(jobs == 0 && events.length == 6, s"$jobs jobs, ${events.length} events")
  }
}
