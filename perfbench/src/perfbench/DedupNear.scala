package perfbench

import java.io.File

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** `dedup_near`: the training-data half of the system and its only
  * shuffle-heavy workload. One operation is a batch run of MinHash-LSH
  * near-duplicate detection (band-key exchange, then the exact Jaccard
  * verify join) followed by connected components over the pairs. The
  * corpus plants near-duplicate clusters at a stated rate. */
final class DedupNear(ctx: Ctx) extends Workload(ctx) {
  import ctx.spark.implicits._
  private val spark = ctx.spark
  private val nDocs = if (ctx.small) 300 else 1500
  private val ClusterPercent = 20
  private val Threshold = 0.5

  private var docsPath = ""
  private var texts = Map.empty[Long, String]
  private var planted = Set.empty[(Long, Long)]
  private var textBytes = 0L
  private var found = 0L
  private var expected = 0L
  private var lastCandidates = 0L
  private var lastVerified = 0L

  def unit: String = "docs"

  def setup(dir: String): Unit = {
    docsPath = new File(dir, "docs").getPath
    val g = ctx.gen
    val pct = ClusterPercent
    spark.range(0, nDocs, 1, 2 * ctx.cores).as[Long].map(id => (id, g.dedupText(id, pct)))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(docsPath)
  }

  /** Planted pairs: members of a planted block whose shingle Jaccard
    * reaches the threshold. */
  override def prepareChecks(): Unit = {
    texts = spark.read.parquet(docsPath).as[(Long, String)].collect().toMap
    textBytes = texts.values.map(_.length.toLong).sum
    val blocks = (0L until nDocs.toLong / Gen.ClusterSize).filter(ctx.gen.isPlanted(_, ClusterPercent))
    planted = blocks.flatMap { b =>
      val ids = (0 until Gen.ClusterSize).map(b * Gen.ClusterSize + _)
      for (i <- ids; j <- ids if i < j && Gen.shingleJaccard(texts(i), texts(j)) >= Threshold)
        yield (i, j)
    }.toSet
  }

  def op(i: Int, warm: Boolean): Op = {
    var cand: org.apache.spark.sql.DataFrame = null
    val t0 = System.nanoTime()
    val res = scala.util.Try(ctx.span("dedup.pass") {
      val docs = spark.read.parquet(docsPath)
      val pairs =
        if (!ctx.tracer.enabled) Dedup.minhashLsh(docs, Threshold).localCheckpoint()
        else {
          cand = ctx.span("operators.lsh_candidate") { Dedup.candidatePairs(docs).localCheckpoint() }
          ctx.span("operators.lsh_verify") {
            Dedup.jaccardVerify(cand, docs).where($"jaccard" >= Threshold).localCheckpoint()
          }
        }
      val comps = ctx.span("operators.components") {
        Dedup.components(pairs.select($"id1", $"id2")).as[(Long, Long)].collect()
      }
      (pairs.select($"id1", $"id2").as[(Long, Long)].collect(), comps)
    })
    val ms = (System.nanoTime() - t0) / 1e6
    if (cand != null) lastCandidates = cand.count()
    val ok = res.toOption.exists { case (pairs, comps) =>
      lastVerified = pairs.length
      if (!warm) {
        found += planted.count(pairs.toSet.contains)
        expected += planted.size
      }
      val above = ctx.checks("dedup.pairs_at_or_above_threshold",
        pairs.forall { case (a, b) => Gen.shingleJaccard(texts(a), texts(b)) >= Threshold - 5e-5 })
      val same = ctx.checks("dedup.components_match_union_find", comps.toMap == unionFind(pairs))
      above && same
    }
    Op("pass", ms, nDocs.toDouble, ok)
  }

  /** id → smallest id of its connected component, for every id in a pair. */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  def recall: Double = found.toDouble / math.max(1L, expected)

  def inputs: Seq[(String, Any)] = Seq("documents" -> nDocs, "pages" -> 0,
    "text_bytes" -> textBytes, "pdf_bytes" -> 0, "vectors" -> 0,
    "cluster_percent" -> ClusterPercent, "threshold" -> Threshold,
    "planted_pairs" -> planted.size)

  override def detail(ops: Seq[Op]): Seq[(String, Double)] = Seq(
    "docs_per_s" -> nDocs / (Stats.median(ops.map(_.ms)) / 1000),
    "dup_pair_recall" -> recall)

  def layers(t: Tracer, ops: Seq[Op]): Map[String, Double] = {
    def medS(n: String) = Stats.median(t.named(n).map(_.ms)) / 1000
    Layers.spanCounters(t) ++ Map(
      "operators.lsh_candidate_s" -> medS("operators.lsh_candidate"),
      "operators.lsh_candidates" -> lastCandidates.toDouble,
      "operators.lsh_verify_s" -> medS("operators.lsh_verify"),
      "operators.lsh_precision" -> lastVerified.toDouble / math.max(1L, lastCandidates),
      "operators.components_s" -> medS("operators.components"),
      "operators.components_jobs" ->
        Stats.mean(t.named("operators.components").map(s => t.counters(s).jobs.toDouble)))
  }
}
