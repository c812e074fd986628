package perfbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.{Embedder, PdfPipeline}
import graft.sources.VectorStore

/** `ingest_pdf`: the reference's blob trigger at throughput. Set-up
  * writes generated Flate PDFs (a CJK composite-font share among them)
  * to parquet; one operation is a batch run over all of them — decode,
  * normalize and chunk at 7,500/300, embed, write the vector store. */
final class IngestPdf(ctx: Ctx) extends Workload(ctx) {
  import ctx.spark.implicits._
  private val spark = ctx.spark
  private val nDocs = if (ctx.small) 24 else 240
  private val buckets = 2 * ctx.cores
  private val PageStride = 1000L
  /** Every pass writes the same store from the same PDFs; every second
    * one is checked, which leaves room for more passes in the window. */
  private val CheckEvery = 2

  private var blobs = ""
  private var expectMd5 = Map.empty[(Long, Long), String]
  private var expectChunks = Map.empty[Long, Long]
  private var pages = 0L
  private var textBytes = 0L
  private var pdfBytes = 0L
  private var cjkDocs = 0L
  private var pagesLossless = 0L
  private var pagesChecked = 0L
  private var lastStoreBytes = 0L
  private var lastStoreFiles = 0L
  private var lastZero = 0L
  private var lastChunks = 0L
  private var lastEmbedBatches = 0L

  def unit: String = "pages"

  def setup(dir: String): Unit = {
    blobs = new File(dir, "blobs").getPath
    val g = ctx.gen
    spark.range(0, nDocs, 1, 2 * ctx.cores).as[Long].map { id =>
      val d = g.document(id)
      (id, d.pdf, d.pages.map(Gen.md5Hex), d.pages.map(Gen.referenceChunkCount(_).toLong).sum,
        d.textBytes, d.cjk)
    }.toDF("doc_id", "content", "page_md5", "chunks", "text_bytes", "cjk")
      .write.mode("overwrite").parquet(blobs)
  }

  override def prepareChecks(): Unit = {
    val meta = spark.read.parquet(blobs)
      .select($"doc_id", $"page_md5", $"chunks", $"text_bytes", $"cjk", length($"content"))
      .as[(Long, Seq[String], Long, Long, Boolean, Int)].collect()
    expectMd5 = meta.flatMap { case (d, md5s, _, _, _, _) =>
      md5s.zipWithIndex.map { case (m, i) => (d, i + 1L) -> m } }.toMap
    expectChunks = meta.map(m => m._1 -> m._3).toMap
    pages = expectMd5.size.toLong
    textBytes = meta.map(_._4).sum
    cjkDocs = meta.count(_._5).toLong
    pdfBytes = meta.map(_._6.toLong).sum
  }

  /** In a traced run each stage's output is saved at the stage boundary,
    * so each span holds only its own stage's work. */
  private def stage(name: String, df: => DataFrame): DataFrame =
    if (!ctx.tracer.enabled) df
    else ctx.span(name) {
      val p = ctx.dir(s"stage/$name")
      df.write.mode("overwrite").parquet(p)
      spark.read.parquet(p)
    }

  def op(i: Int, warm: Boolean): Op = {
    val store = ctx.dir("store")
    val t0 = System.nanoTime()
    val ok0 = scala.util.Try {
      ctx.span("ingest.pass") {
        val docs = spark.read.parquet(blobs).select($"doc_id", $"content")
        val pageRows = stage("pipeline.decode", PdfPipeline.extractPagesPdf(docs))
        val chunks = stage("pipeline.chunk", PdfPipeline.chunkRows(
          pageRows.select(($"doc_id" * PageStride + $"page_no").as("page_key"),
            concat(lit("doc_"), $"doc_id", lit(".pdf")).as("source"), $"page_text"),
          maxLen = 7500, lookback = 300, idCol = "page_key", textCol = "page_text"))
        val emb = stage("pipeline.embed", Embedder.embed(chunks, textCol = "chunk"))
        ctx.span("sources.store_write") {
          VectorStore.write(emb.select(
            concat($"page_key", lit("_"), $"chunk_idx").as("id"), $"embedding",
            $"chunk".as("origntext"), $"source".as("filename"),
            ($"page_key" % PageStride).as("pagenumber")), store, buckets)
        }
      }
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (ctx.tracer.enabled)
      lastEmbedBatches = spark.read.parquet(ctx.dir("stage/pipeline.chunk")).rdd
        .mapPartitions(it => Iterator((it.size + 31) / 32)).sum().toLong
    val ok = ok0.isSuccess && (i % CheckEvery != 0 || check(store))
    Op("pass", ms, pages.toDouble, ok)
  }

  /** Decode lossless per page, stored rows per document equal to the
    * independent chunk count, and no all-zero embedding. */
  private def check(store: String): Boolean = {
    val decoded = PdfPipeline.extractPagesPdf(spark.read.parquet(blobs).select($"doc_id", $"content"))
      .select($"doc_id", $"page_no", md5(encode($"page_text", "UTF-8")))
      .as[(Long, Long, String)].collect()
    val good = decoded.count { case (d, p, m) => expectMd5.get((d, p)).contains(m) }
    pagesLossless += good
    pagesChecked += pages
    val lossless = ctx.checks("ingest.decode_lossless", good == pages && decoded.length == pages)
    val stored = VectorStore.read(spark, store)
      .groupBy($"filename")
      .agg(count(lit(1)), sum(when(forall($"embedding", x => x === 0f), 1).otherwise(0)))
      .as[(String, Long, Long)].collect()
    val perDoc = stored.map { case (f, n, _) =>
      f.stripPrefix("doc_").stripSuffix(".pdf").toLong -> n }.toMap
    lastChunks = stored.map(_._2).sum
    lastZero = stored.map(_._3).sum
    val counts = ctx.checks("ingest.stored_rows_equal_chunk_count", perDoc == expectChunks)
    val zeros = ctx.checks("ingest.no_zero_embeddings", lastZero == 0)
    val files = listFiles(new File(store))
    lastStoreFiles = files.count(_.getName.endsWith(".parquet")).toLong
    lastStoreBytes = files.filter(_.getName.endsWith(".parquet")).map(_.length).sum
    lossless && counts && zeros
  }

  private def listFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(listFiles) else Seq(f)

  def recall: Double = pagesLossless.toDouble / math.max(1L, pagesChecked)

  def inputs: Seq[(String, Any)] = Seq("documents" -> nDocs, "pages" -> pages,
    "cjk_documents" -> cjkDocs, "text_bytes" -> textBytes, "pdf_bytes" -> pdfBytes,
    "chunks" -> expectChunks.values.sum, "vectors" -> expectChunks.values.sum,
    "planted_pairs" -> 0)

  override def detail(ops: Seq[Op]): Seq[(String, Double)] = Seq(
    "pages_per_s" -> pages / (Stats.median(ops.map(_.ms)) / 1000),
    "stored_bytes_per_text_byte" -> lastStoreBytes.toDouble / textBytes)

  def layers(t: Tracer, ops: Seq[Op]): Map[String, Double] = {
    val decodeS = Stats.median(t.named("pipeline.decode").map(_.ms)) / 1000
    Layers.spanCounters(t) ++ Map(
      "pipeline.decode_s" -> decodeS,
      "pipeline.decode_mb_per_s" -> pdfBytes / 1048576.0 / decodeS,
      "pipeline.chunk_s" -> Stats.median(t.named("pipeline.chunk").map(_.ms)) / 1000,
      "pipeline.chunks" -> lastChunks.toDouble,
      "pipeline.embed_s" -> Stats.median(t.named("pipeline.embed").map(_.ms)) / 1000,
      "pipeline.embed_batches" -> lastEmbedBatches.toDouble,
      "pipeline.embed_zero_vectors" -> lastZero.toDouble,
      "sources.store_write_s" -> Stats.median(t.named("sources.store_write").map(_.ms)) / 1000,
      "sources.store_files" -> lastStoreFiles.toDouble,
      "sources.stored_bytes_per_text_byte" -> lastStoreBytes.toDouble / textBytes)
  }
}
