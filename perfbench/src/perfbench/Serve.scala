package perfbench

import java.io.File
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.IvfIndex
import graft.pipeline.{Embedder, Summarizer}
import graft.sources.VectorStore

/** The serve path as one closed-loop client with no think time: embed the
  * query, `ORDER BY vec_l2(embedding, q) LIMIT 5`, fetch the hits' text,
  * summarize, build the SSE events and collect them.
  *
  * `serve_exact` (ivf = false) scans the plain vector store with only
  * distinct queries. `serve_ivf_append` (ivf = true) asks the same of an
  * IVF store, so the SQL rewrite fires; queries come from a Zipf pool, so
  * some repeat, and every `AppendEvery`-th operation appends a freshly
  * ingested batch to both stores and checks that a search finds it. */
final class Serve(ctx: Ctx, ivf: Boolean) extends Workload(ctx) {
  import ctx.spark.implicits._
  private val spark = ctx.spark
  private val Dim = 64
  private val K = 5
  private val nVectors = if (ctx.small) 2000 else if (ivf) 12000 else 30000
  private val cells = if (ctx.small) 8 else 16
  private val TrainIters = 3
  private val buckets = 2 * ctx.cores
  private val PoolSize = 400
  private val AppendEvery = 5
  private val appendBatch = if (ctx.small) 50 else 400
  /** Share of serve_exact requests whose top-5 is checked against brute
    * force, drawn by the seed. */
  private val ExactCheckPercent = 50

  private var textStore = ""
  private var ivfStore = ""
  private val buildS = ArrayBuffer.empty[Double]
  private var storeBytes = 0L
  private var textBytes = 0L

  // brute-force reference snapshot, grown by every append
  private val refIds = ArrayBuffer.empty[Long]
  private val refVecs = ArrayBuffer.empty[Array[Float]]
  private val refById = scala.collection.mutable.LongMap.empty[Array[Float]]
  private var appended = 0
  private var recallHits = 0L
  private var recallTotal = 0L
  private val seenQueries = scala.collection.mutable.HashSet.empty[Long]
  private var repeats = 0L
  private var poolDraws = 0L

  // traced-phase plan observations, one per request
  private val planPhases = ArrayBuffer.empty[(Double, Double, Double)]
  private val scanFiles = ArrayBuffer.empty[Double]
  private val scanMb = ArrayBuffer.empty[Double]
  private val rowsScanned = ArrayBuffer.empty[Double]
  private val cellsProbed = ArrayBuffer.empty[Double]
  private var rewriteHits = 0L

  def unit: String = "requests"
  override def warmRound: Int = 4

  private def chunks(lo: Long, hi: Long): DataFrame = {
    val g = ctx.gen
    spark.range(lo, hi, 1, 2 * ctx.cores).as[Long].map(id => (id, g.chunkText(id)))
      .toDF("vec_id", "chunk")
  }

  private def storeRows(emb: DataFrame): DataFrame = emb.select(
    $"vec_id".cast("string").as("id"), $"embedding", $"chunk".as("origntext"),
    concat(lit("doc_"), ($"vec_id" / 100).cast("long"), lit(".pdf")).as("filename"),
    ($"vec_id" % 100 + 1).as("pagenumber"))

  def setup(dir: String): Unit = {
    textStore = new File(dir, "store").getPath
    ivfStore = new File(dir, "ivf").getPath
    val emb = Embedder.embed(chunks(0, nVectors), textCol = "chunk")
    if (!ivf) VectorStore.write(storeRows(emb), textStore, buckets)
    else {
      val m = emb.localCheckpoint()
      VectorStore.write(storeRows(m), textStore, buckets)
      val t0 = System.nanoTime()
      val model = IvfIndex.train(m.select($"vec_id", $"embedding"), cells, iters = TrainIters)
      IvfIndex.writeIndex(m, model, ivfStore)
      buildS += (System.nanoTime() - t0) / 1e9
    }
  }

  override def prepareChecks(): Unit = {
    val ref = (if (ivf) spark.read.parquet(ivfStore).select($"vec_id", $"embedding")
      else VectorStore.read(spark, textStore).select($"id".cast("long"), $"embedding"))
      .as[(Long, Array[Float])].collect()
    ref.foreach { case (id, v) => remember(id, v) }
    storeBytes = dirBytes(new File(textStore))
    textBytes = VectorStore.read(spark, textStore)
      .agg(sum(octet_length($"origntext"))).as[Long].head()
  }

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else if (f.getName.endsWith(".parquet")) f.length else 0L

  /** Exact L2 as the program computes it: double accumulation in index
    * order, then sqrt. */
  private def l2(v: Array[Float], q: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < q.length) { val d = v(i).toDouble - q(i); acc += d * d; i += 1 }
    math.sqrt(acc)
  }

  private def remember(id: Long, v: Array[Float]): Unit = {
    refIds += id; refVecs += v; refById(id) = v
  }

  /** (dist, id) order of the query: ties broken by the numeric IVF id or
    * by the string store id. */
  private def before(a: (Long, Double), b: (Long, Double)): Boolean =
    a._2 < b._2 || (a._2 == b._2 &&
      (if (ivf) a._1 < b._1 else a._1.toString.compareTo(b._1.toString) < 0))

  /** Brute-force top-5 over the snapshot. */
  private def bruteTop(q: Array[Double]): Seq[(Long, Double)] = {
    val top = ArrayBuffer.empty[(Long, Double)]
    var i = 0
    while (i < refIds.length) {
      val c = (refIds(i), l2(refVecs(i), q))
      if (top.length < K || before(c, top.last)) {
        val at = top.indexWhere(t => before(c, t))
        top.insert(if (at < 0) top.length else at, c)
        if (top.length > K) top.remove(K)
      }
      i += 1
    }
    top.toSeq
  }

  private val hitSchema = StructType(Seq(
    StructField("id", StringType), StructField("origntext", StringType),
    StructField("filename", StringType), StructField("pagenumber", LongType),
    StructField("url", StringType), StructField("query", StringType)))

  /** One request; returns the timed ms, the hits (id, dist) and whether
    * its hit rows and events came back whole. The exact store answers
    * with the hits' text in the same query, as the reference's one
    * `SELECT … ORDER BY embedding <-> ? LIMIT 5` does; the IVF store holds
    * only ids and vectors, so its hits' text is looked up by id. */
  private def request(qtext: String, qvec: Option[Array[Float]]): (Double, Seq[(Long, Double)], Boolean) = {
    val t0 = System.nanoTime()
    val (hits, df, events, fetched) = ctx.span("serve.request") {
      val qv = ctx.span("pipeline.query_embed") {
        qvec.getOrElse(Embedder.invokeModel(Seq(qtext), Dim).head)
      }
      val vlit = qv.map(x => s"${x.toDouble}D").mkString("array(", ",", ")")
      val df = ctx.span("sources.construct") {
        if (ivf) {
          spark.read.parquet(ivfStore).createOrReplaceTempView("ivf_store")
          spark.sql(s"""SELECT vec_id, vec_l2(embedding, $vlit) AS dist FROM ivf_store
                       |ORDER BY vec_l2(embedding, $vlit), vec_id LIMIT $K""".stripMargin)
        } else {
          VectorStore.read(spark, textStore).createOrReplaceTempView("vec_store")
          spark.sql(s"""SELECT CAST(id AS BIGINT) AS vec_id, vec_l2(embedding, $vlit) AS dist,
                       |  id, origntext, filename, pagenumber
                       |FROM vec_store ORDER BY vec_l2(embedding, $vlit), id LIMIT $K""".stripMargin)
        }
      }
      val top = ctx.span("operators.knn_exec") { df.collect() }
      val hits = top.map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val fetched =
        if (!ivf) top.toSeq
        else ctx.span("sources.lookup") {
          VectorStore.read(spark, textStore).where($"id".isin(hits.map(_._1.toString): _*))
            .collect().toSeq
        }
      val rows = fetched.map(r => Row(r.getAs[String]("id"), r.getAs[String]("origntext"),
        r.getAs[String]("filename"), r.getAs[Long]("pagenumber"),
        "https://blob.local/" + r.getAs[String]("filename"), qtext))
      val summarized = ctx.span("pipeline.summarize") {
        Summarizer.summarizeDynamic(
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), hitSchema), "origntext", "query")
      }
      val events = ctx.span("pipeline.events") {
        Summarizer.serveEvents(summarized).select($"id", $"ev_seq", $"payload").collect()
      }
      (hits, df, events, fetched)
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (ctx.tracer.enabled) observePlan(df)
    val fetchedIds = fetched.map(_.getAs[String]("id")).toSet
    val whole =
      ctx.checks("serve.text_for_every_hit", fetchedIds == hits.map(_._1.toString).toSet &&
        fetched.forall(_.getAs[String]("origntext") != null)) &&
      ctx.checks("serve.three_events_per_hit", events.length == 3 * hits.length &&
        events.forall(e => hits.exists(h => e.getString(2).contains("\"id\":\"" + h._1 + "\""))))
    (ms, hits, whole)
  }

  private def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case other => other.collectLeaves().flatMap {
      case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
      case l => Seq(l)
    }
  }

  private def observePlan(df: DataFrame): Unit = {
    val phases = df.queryExecution.tracker.phases
    def ph(n: String) = phases.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
    planPhases += ((ph("analysis"), ph("optimization"), ph("planning")))
    val scans = leaves(df.queryExecution.executedPlan).collect { case s: FileSourceScanExec => s }
    def metric(n: String) = scans.flatMap(_.metrics.get(n)).map(_.value.toDouble).sum
    scanFiles += metric("numFiles")
    scanMb += metric("filesSize") / 1048576.0
    rowsScanned += metric("numOutputRows")
    val pruned = scans.exists(_.partitionFilters.exists(_.references.exists(_.name == "cell")))
    if (pruned) rewriteHits += 1
    cellsProbed += (if (ivf) metric("numPartitions") else 0.0)
  }

  def op(i: Int, warm: Boolean): Op =
    if (ivf && !warm && i % AppendEvery == AppendEvery - 1) append()
    else {
      val key =
        if (warm) 2000000L + i
        else if (!ivf) 1000000L + i
        else {
          val k = Gen.draw(zipf, Gen.rng(ctx.gen.seed, 7L, i)).toLong
          poolDraws += 1
          if (!seenQueries.add(k)) repeats += 1
          k
        }
      val t0 = System.nanoTime()
      val res = scala.util.Try(request(ctx.gen.queryText(key), None))
      val ok = res.toOption.exists { case (_, hits, whole) =>
        whole && checkHits(ctx.gen.queryText(key), hits, warm, i)
      }
      // a failed request still took its time until the failure
      Op("request", res.map(_._1).getOrElse((System.nanoTime() - t0) / 1e6), 1.0, ok)
    }

  private lazy val zipf = Gen.zipfCdf(PoolSize, 1.1)

  private def checkHits(qtext: String, hits: Seq[(Long, Double)], warm: Boolean, i: Int): Boolean = {
    val q = Embedder.embedText(qtext, Dim).map(_.toDouble)
    if (ivf) {
      val truth = bruteTop(q)
      if (!warm) {
        recallHits += truth.count(t => hits.exists(_._1 == t._1))
        recallTotal += truth.length
      }
      // the rerank inside the probed cells is exact: every returned
      // distance is the true distance of that id
      ctx.checks("serve.ivf_hits_exact_distance", hits.length == K &&
        hits.forall(h => refById.get(h._1).exists(v => l2(v, q) == h._2)))
    } else if (Gen.rng(ctx.gen.seed, 8L, i).nextInt(100) < ExactCheckPercent) {
      val truth = bruteTop(q)
      val same = truth.map(_._1) == hits.map(_._1)
      if (!warm) { recallHits += truth.count(t => hits.exists(_._1 == t._1)); recallTotal += K }
      ctx.checks("serve.exact_top5_equals_brute_force", same)
    } else true
  }

  /** Ingest a fresh batch (generate, embed, write to the text store,
    * append to the IVF store), then search for one of its vectors and
    * look its text up: both must see the write. */
  private def append(): Op = {
    val lo = nVectors.toLong + appended.toLong * appendBatch
    val hi = lo + appendBatch
    appended += 1
    val t0 = System.nanoTime()
    val res = scala.util.Try(ctx.span("serve.append") {
      val emb = ctx.span("pipeline.embed") {
        Embedder.embed(chunks(lo, hi), textCol = "chunk").localCheckpoint()
      }
      ctx.span("sources.store_write") {
        VectorStore.write(storeRows(emb), textStore, buckets, SaveMode.Append)
      }
      ctx.span("operators.ivf_append") {
        IvfIndex.appendIndex(spark, ivfStore, emb.select($"vec_id", $"embedding"))
      }
      emb
    })
    val ms = (System.nanoTime() - t0) / 1e6
    val ok = res.toOption.exists { emb =>
      val fresh = emb.select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
      fresh.foreach { case (id, v) => remember(id, v) }
      val (probeId, probeVec) = fresh(Gen.rng(ctx.gen.seed, 9L, appended).nextInt(fresh.length))
      val q = probeVec.map(_.toDouble)
      val found = scala.util.Try(request("read your writes", Some(probeVec))).toOption
      val zeroDist = refVecs.count(v => l2(v, q) == 0.0)
      val text = VectorStore.lookup(spark, textStore, probeId.toString, buckets)
        .select($"origntext").as[String].collect().toSeq
      ctx.checks("serve.read_your_writes", text == Seq(ctx.gen.chunkText(probeId)) &&
        found.exists { case (_, hits, whole) =>
          whole && (hits.exists(_._1 == probeId) || zeroDist > K)
        })
    }
    Op("append", ms, 0.0, ok)
  }

  def recall: Double = recallHits.toDouble / math.max(1L, recallTotal)

  def inputs: Seq[(String, Any)] = Seq("documents" -> nVectors / 100, "pages" -> nVectors,
    "text_bytes" -> textBytes, "pdf_bytes" -> 0, "vectors" -> refIds.length,
    "initial_vectors" -> nVectors, "ivf_cells" -> (if (ivf) cells else 0),
    "query_pool" -> (if (ivf) PoolSize else 0),
    "query_repeat_share" -> (if (poolDraws == 0) 0.0 else repeats.toDouble / poolDraws),
    "append_batch" -> (if (ivf) appendBatch else 0), "append_every" -> (if (ivf) AppendEvery else 0),
    "planted_pairs" -> 0)

  override def detail(ops: Seq[Op]): Seq[(String, Double)] = {
    val req = ops.filter(_.kind == "request").map(_.ms)
    val apps = ops.filter(_.kind == "append").map(_.ms)
    Seq("request_p50_ms" -> Stats.median(req)) ++
      Stats.tail(req).map { case (p, v) => s"request_${p}_ms" -> v } ++
      (if (ivf) Seq("append_p50_ms" -> Stats.median(apps), "recall_at_5" -> recall) else Nil) ++
      Seq("stored_bytes_per_text_byte" -> storeBytes.toDouble / math.max(1L, textBytes))
  }

  def layers(t: Tracer, ops: Seq[Op]): Map[String, Double] = {
    def med(n: String) = Stats.median(t.named(n).map(_.ms))
    val fileStats = if (ivf) IvfIndex.fileStats(spark, ivfStore) else Nil
    val reqs = ops.count(_.kind == "request")
    Layers.spanCounters(t) ++ Map(
      "pipeline.query_embed_ms" -> med("pipeline.query_embed"),
      "pipeline.summarize_ms" -> med("pipeline.summarize"),
      "pipeline.events_ms" -> med("pipeline.events"),
      "sources.construct_ms" -> med("sources.construct"),
      "sources.lookup_ms" -> med("sources.lookup"),
      "sources.scan_files" -> Stats.median(scanFiles.toSeq),
      "sources.scan_mb" -> Stats.median(scanMb.toSeq),
      "plans.analysis_ms" -> Stats.median(planPhases.map(_._1).toSeq),
      "plans.optimization_ms" -> Stats.median(planPhases.map(_._2).toSeq),
      "plans.planning_ms" -> Stats.median(planPhases.map(_._3).toSeq),
      "plans.cells_probed" -> Stats.median(cellsProbed.toSeq),
      "plans.rewrite_hit_ratio" -> rewriteHits.toDouble / math.max(1, planPhases.length),
      "operators.knn_exec_ms" -> med("operators.knn_exec"),
      "operators.knn_rows_scanned" -> Stats.median(rowsScanned.toSeq),
      "operators.ivf_build_s" -> (if (ivf) Stats.median(buildS.toSeq) else 0.0),
      "operators.ivf_append_s" -> (if (ivf) med("operators.ivf_append") / 1000 else 0.0),
      "operators.ivf_files_per_cell" ->
        (if (fileStats.isEmpty) 0.0 else fileStats.map(_._2).sum.toDouble / fileStats.length),
      "serve.requests" -> reqs.toDouble)
  }
}
