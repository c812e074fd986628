package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.VectorStore
import graft.streaming.DocStream

class StoreStreamSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("vector store: bucketed write, read round-trip, pruned point lookup") {
    val out = tmp("vstore")
    val docs = Tables.documents(spark, sfDir)
    val rows = docs.select(
      md5(concat(col("source"), lit("_"), col("doc_id"))).as("id"),
      expr("transform(sequence(1, 8), x -> cast(x as float))").as("embedding"),
      col("text").as("origntext"),
      concat(col("source"), lit("_"), col("doc_id"), lit(".pdf")).as("filename"),
      lit(1L).as("pagenumber"))
    VectorStore.write(rows, out, numBuckets = 8)
    val back = VectorStore.read(spark, out)
    assert(back.count() == 500)
    assert(back.columns.sorted.toSeq == Seq("embedding", "filename", "id", "origntext", "pagenumber"))

    val anyId = rows.select("id").head().getString(0)
    val hit = VectorStore.lookup(spark, out, anyId, numBuckets = 8)
    assert(hit.count() == 1)
    // partition pruning visible in the plan: the filter list must be
    // NON-empty (an empty "PartitionFilters: []" would mean a full scan)
    val plan = VectorStore.lookup(spark, out, anyId, numBuckets = 8)
      .queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(plan)
    assert(pf.exists(_.group(1).nonEmpty), plan.take(1500))
  }

  test("vector store: write conforms rows to the schema and fails loud on a missing column") {
    import spark.implicits._
    val out = tmp("vstore_schema")
    val rows = Seq(("a", Seq(1f, 2f), "alpha", "f.pdf", 3), ("b", Seq(3f, 4f), "beta", "g.pdf", 4))
      .toDF("id", "embedding", "origntext", "filename", "pagenumber")
    val err = intercept[IllegalArgumentException](
      VectorStore.write(rows.drop("origntext"), out, numBuckets = 4))
    assert(err.getMessage.contains("origntext"), err.getMessage)

    // an int pagenumber and an extra column: stored as the declared
    // bigint, extra column dropped
    VectorStore.write(rows.withColumn("extra", lit(1)), out, numBuckets = 4)
    val files = spark.read.parquet(out)
    assert(files.schema("pagenumber").dataType == org.apache.spark.sql.types.LongType)
    assert(!files.columns.contains("extra"))
    assert(VectorStore.read(spark, out).orderBy("id").select("pagenumber").as[Long]
      .collect().toSeq == Seq(3L, 4L))
  }

  test("vector store: building read and lookup starts no Spark job") {
    val out = tmp("vstore_jobs")
    val rows = spark.range(40).select(col("id").cast("string").as("id"),
      array(col("id").cast("float")).as("embedding"), lit("t").as("origntext"),
      lit("f.pdf").as("filename"), col("id").as("pagenumber"))
    VectorStore.write(rows, out, numBuckets = 8)
    val (back, readJobs) = JobCount(spark)(VectorStore.read(spark, out))
    val (hit, lookupJobs) = JobCount(spark)(VectorStore.lookup(spark, out, "7", numBuckets = 8))
    assert(readJobs == 0 && lookupJobs == 0, s"read: $readJobs, lookup: $lookupJobs jobs")
    assert(back.count() == 40)
    assert(hit.select("pagenumber").collect().map(_.getLong(0)).toSeq == Seq(7L))
  }

  test("streaming curation gates match their batch execution exactly") {
    import graft.operators.Curation
    val in = tmp("curate_in")
    val docs = Tables.documents(spark, sfDir).limit(100)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    docs.write.mode("overwrite").parquet(in)
    // batch-derived boilerplate vocabulary, handed to the stream as a literal
    import spark.implicits._
    val vocab = Curation.boilerplateNgrams(docs, minDfFrac = 0.06)
      .select("ngram").as[String].collect().toSeq

    val stream = spark.readStream.schema(DocStream.inputSchema)
      .parquet(in)
    val curated = DocStream.curate(stream, vocab, maxRatio = 0.6,
      minChars = 100, langs = Set("en", "de"))
    val q = curated.writeStream.format("memory").queryName("curated_docs")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("curated_docs").select("doc_id").as[Long].collect().toSet

    // micro-batch execution must equal batch execution of the same gates
    val expect = DocStream.curate(docs, vocab, maxRatio = 0.6,
      minChars = 100, langs = Set("en", "de")).select("doc_id").as[Long].collect().toSet
    assert(got == expect)
    // and the gates are non-vacuous on this corpus
    assert(got.nonEmpty && got.size < 100)
  }

  test("streaming ingest: file-source backlog → chunk+embed → parquet store") {
    val in = tmp("stream_in"); val out = tmp("stream_out"); val ck = tmp("stream_ck")
    Tables.documents(spark, sfDir).limit(50)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      .write.mode("overwrite").parquet(in)
    val q = DocStream.start(spark, in, out, ck, availableNow = true)
    q.awaitTermination(120000)
    val res = spark.read.parquet(out)
    assert(res.count() >= 50)
    assert(res.columns.sorted.toSeq ==
      Seq("embedding", "filename", "id", "origntext", "pagenumber"))
    assert(res.select(size(col("embedding"))).distinct().collect().map(_.getInt(0)).toSeq == Seq(64))
  }
}
