package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, MapPartitions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.pipeline.{ChatClient, DeterministicClient, Summarizer}

/** A chat endpoint that is always down. */
object FailingChatClient extends ChatClient {
  override def completeBatch(pairs: Seq[(String, String)], ctx: Int, maxLen: Int): Seq[String] =
    throw new RuntimeException("endpoint down")
}

class SummarizerSpec extends SparkSpec {

  private val hitSchema = StructType(Seq(
    StructField("id", StringType), StructField("url", StringType),
    StructField("pagenumber", LongType), StructField("filename", StringType),
    StructField("text", StringType), StructField("query", StringType)))

  private val hitRows = Seq(
    Row("h1", "https://x/a.pdf", 1L, "a.pdf", "Spark is an engine; spark runs jobs", "spark"),
    Row("h2", "https://x/b.pdf", 2L, "b.pdf", null, "spark"),
    Row("h3", "https://x/c.pdf", 3L, "c.pdf", "vectors and spark together", null),
    Row("h4", "https://x/d.pdf", 4L, "d.pdf", "no match here", "spark"),
    Row("h5", "https://x/e.pdf", 5L, "e.pdf", "graft serves \"quoted\" spark", "spark"),
    Row("h6", "https://x/f.pdf", 6L, "f.pdf", "", ""),
    Row("h7", "https://x/g.pdf", 7L, "g.pdf", "graft serves graft queries", "graft"))

  /** The hits as a driver-local relation, as a serve request builds them. */
  private def localHits: DataFrame = spark.createDataFrame(hitRows.asJava, hitSchema)

  /** The same hits as a 3-partition RDD-backed frame. */
  private def partitionedHits: DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(hitRows, 3), hitSchema)

  private def mapsPartitions(p: LogicalPlan) = p.collectFirst { case m: MapPartitions => m }.nonEmpty

  private def withFoldRule[T](body: => T): T = {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.LocalGenerateFoldRule
    try body
    finally spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ eq graft.plans.LocalGenerateFoldRule)
  }

  test("KWIC stub: known extraction, truncation, empty on no match") {
    // one hit with full context both sides
    assert(Summarizer.summarizeText("a b c d e spark f g h i j", "spark")
      == "b c d e spark f g h i")
    // two far-apart occurrences → joined with ' ... ' (occurrences closer
    // than the context width are swallowed into one greedy match)
    val two = Summarizer.summarizeText(
      "x spark y " + ("pad " * 10) + "tail spark z", "spark")
    assert(two.contains(" ... "))
    // no occurrence → empty
    assert(Summarizer.summarizeText("nothing here", "spark") == "")
    // truncation to maxLen
    assert(Summarizer.summarizeText(("w " * 20) + "spark " + ("w " * 20),
      "spark", maxLen = 10).length == 10)
    // canonicalization: case-insensitive, whitespace-collapsed
    assert(Summarizer.summarizeText("A  B\nSPARK  C", "spark") == "a b spark c")
  }

  test("batched mapPartitions path == column-expression path") {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      .repartition(3)
    val viaOp = Summarizer.summarize(docs, textCol = "text", query = "spark",
        batchSize = 7)
      .select(col("doc_id"), col("summary"))
    val viaCol = docs.select(col("doc_id"),
      Summarizer.extractiveSummary(col("text"), "spark").as("summary"))
    assert(viaOp.count() == docs.count())
    assert(viaOp.exceptAll(viaCol).isEmpty && viaCol.exceptAll(viaOp).isEmpty)
    // the stub must actually fire on the corpus (non-vacuous)
    assert(viaOp.where(length(col("summary")) > 0).count() > 0)
  }

  test("serveEvents: 3 events per hit in reference emission order") {
    import spark.implicits._
    val hits = Seq(
      ("id1", "https://x/f.pdf#page=2", 2L, "f.pdf", "sum one"),
      ("id2", "https://x/g.pdf#page=5", 5L, "g.pdf", "")
    ).toDF("id", "url", "pagenumber", "filename", "summary")
    val ev = Summarizer.serveEvents(hits).orderBy(col("id"), col("ev_seq"))
    assert(ev.count() == 6)
    val rows = ev.select(col("payload")).collect().map(_.getString(0))
    assert(rows(0) == """{"type":"create","id":"id1"}""")
    assert(rows(1) == """{"type":"createLink","id":"id1","link":"https://x/f.pdf#page=2","pageNumber":2,"fileName":"f.pdf"}""")
    assert(rows(2) == """{"type":"addMessage","id":"id1","content":"sum one"}""")
    assert(rows(5) == """{"type":"addMessage","id":"id2","content":""}""")
  }

  test("serveEventsDelta: reference emission order; masked deltas reassemble the summary") {
    import spark.implicits._
    val sum = "alpha beta gamma delta epsilon zeta eta theta" // 45 chars
    val hits = Seq(
      ("id1", "https://x/f.pdf#page=2", 2L, "f.pdf", sum),
      ("id2", "https://x/g.pdf#page=5", 5L, "g.pdf", "") // empty stream
    ).toDF("id", "url", "pagenumber", "filename", "summary")
    val ev = Summarizer.serveEventsDelta(hits, chunkLen = 10)
      .orderBy(col("id"), col("ev_seq"))
    val byId = ev.select(col("id"), col("ev_seq"), col("payload")).collect()
      .groupBy(_.getString(0)).view.mapValues(_.sortBy(_.getLong(1)).map(_.getString(2)))

    val e1 = byId("id1")
    // create, createLink, ceil(45/10)=5 deltas, complete
    assert(e1.length == 2 + 5 + 1, e1.mkString("\n"))
    assert(e1(0) == """{"type":"create","id":"id1"}""")
    assert(e1(1).startsWith("""{"type":"createLink","id":"id1","""))
    val deltaRe = """\{"type":"addMessage","id":"id1","content":"(.*)"\}""".r
    val deltas = e1.slice(2, 7).map { case deltaRe(c) => c }
    // every delta is space-masked; unmasking + concatenating = summary
    assert(deltas.forall(!_.contains(" ")))
    assert(deltas.map(_.replace("<SPECIAL_WHITE_SPACE>", " ")).mkString == sum)
    assert(e1(7) == s"""{"type":"complete","id":"id1","content":"$sum"}""")

    // empty summary: no addMessage deltas, just create/createLink/complete
    val e2 = byId("id2")
    assert(e2.length == 3, e2.mkString("\n"))
    assert(e2(2) == """{"type":"complete","id":"id2","content":""}""")
  }

  test("summarizeDynamic: driver path == partitioned path (rows, order, schema)") {
    for (client <- Seq[ChatClient](DeterministicClient, FailingChatClient)) {
      // batchSize 2 < 7 rows: several chat batches on both paths
      val onDriver = Summarizer.summarizeDynamic(localHits, "text", "query", batchSize = 2,
        client = client)
      val inTasks = Summarizer.summarizeDynamic(partitionedHits, "text", "query", batchSize = 2,
        client = client)
      assert(onDriver.queryExecution.analyzed.isInstanceOf[LocalRelation])
      assert(mapsPartitions(inTasks.queryExecution.analyzed))
      assert(onDriver.schema == inTasks.schema)
      val (d, t) = (onDriver.collect().toSeq, inTasks.collect().toSeq)
      assert(d == t)
      assert(d.map(_.getString(0)) == hitRows.map(_.getString(0)))
      val sums = d.map(_.getAs[String]("summary"))
      if (client eq FailingChatClient) assert(sums.forall(_ == ""), sums)
      else {
        // null text / null query are summarized as ""
        assert(sums == hitRows.map(r => Summarizer.summarizeText(
          Option(r.getString(4)).getOrElse(""), Option(r.getString(5)).getOrElse(""))))
        assert(sums.exists(_.nonEmpty))
      }
    }
    // summarize (literal query) takes the same driver path
    val lit1 = Summarizer.summarize(localHits.drop("query"), "text", "spark", batchSize = 3)
    val part1 = Summarizer.summarize(partitionedHits.drop("query"), "text", "spark", batchSize = 3)
    assert(lit1.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(lit1.schema == part1.schema && lit1.collect().toSeq == part1.collect().toSeq)
  }

  test("summarizeDynamic: a streaming input still plans mapPartitions") {
    val stream = spark.readStream.format("rate").load()
      .select(col("value").cast("string").as("text"), lit("spark").as("query"))
    val s = Summarizer.summarizeDynamic(stream, "text", "query")
    assert(s.isStreaming)
    assert(mapsPartitions(s.queryExecution.analyzed))
  }

  test("serveEvents over summarized local hits collects with no Spark job") {
    withFoldRule {
      val (events, jobs) = JobCount(spark) {
        Summarizer.serveEvents(Summarizer.summarizeDynamic(localHits, "text", "query"))
          .select(col("id"), col("ev_seq"), col("payload")).collect()
      }
      assert(jobs == 0, s"$jobs jobs")
      assert(events.length == 3 * hitRows.length)
      // same events as the partitioned path, in the same order
      val viaTasks = Summarizer.serveEvents(
          Summarizer.summarizeDynamic(partitionedHits, "text", "query"))
        .select(col("id"), col("ev_seq"), col("payload")).collect()
      assert(events.toSeq == viaTasks.toSeq)
    }
  }
}
