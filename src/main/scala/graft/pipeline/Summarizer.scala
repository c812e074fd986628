package graft.pipeline

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Per-hit LLM summary stage — the Spark re-expression of the reference's
  * serving loop: for each KNN hit, build the chat prompt and ask the model
  * to extract the passages about the user's query, then stream the result
  * (PDF-Summarizer/src/main/java/com/yoshio3/SSEOpenAIController.java:142-198,
  * `requestOpenAIToGetSummaryAndSendMessageToClient`).
  *
  * The chat-model call goes through the pluggable [[ChatClient]] seam
  * (default [[DeterministicClient]]; deployments pass
  * [[OpenAiCompatClient]] — swap changes no plan). The default is a KWIC
  * (keyword-in-context) extractive summary: every occurrence of the query
  * token with up to `ctx` words of context on each side, joined with
  * " ... " and truncated to `maxLen` chars. That is exactly the semantics
  * the reference's prompt asks the model for ("こちらのドキュメントの中から
  * "%s" に関して説明している箇所を抜き出してください" = extract the passages
  * about X), made reproducible. The Spark plumbing is real, mirroring
  * `Embedder`: batched `mapPartitions` (one "chat request" per batch),
  * retry shape, no shuffle.
  *
  * Two formulations, verified equal in `SummarizerSpec`:
  *  - [[extractiveSummary]] — pure-column (codegen'd regexp), used by the
  *    oracle-gated queries; replayable in DuckDB byte-for-byte.
  *  - [[summarize]] — the batched external-call shape a live endpoint
  *    needs (swap [[invokeChat]] for a real HTTP call).
  */
object Summarizer {

  /** Canonical text, Scala-side — must match
    * `TextFunctions.canonicalText` (lower ∘ trim ∘ normalize) exactly.
    * Spark's `trim` strips only ' ' (not all ctl chars like Java's
    * String#trim), hence the explicit dropWhile. Lowercasing replicates
    * `UTF8String.toLowerCase` EXACTLY: a bytewise a–z map on pure-ASCII
    * strings (locale-free), `String#toLowerCase()` under the DEFAULT
    * locale otherwise — a flat Locale.ROOT call would diverge from the
    * column twin on a tr_TR executor JVM (dotless-ı) for any non-ASCII
    * string. */
  private def sparkLower(s: String): String =
    if (s.forall(_ < 0x80)) s.map(c => if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
    else s.toLowerCase()

  private def canonical(text: String): String = {
    val norm = text.replaceAll("\n", " ").replaceAll("[\\s\\x0B]{2,}", " ")
    sparkLower(norm.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse)
  }

  private def kwicPattern(query: String, ctx: Int): String =
    s"(\\S+ ){0,$ctx}" + java.util.regex.Pattern.quote(
      query.toLowerCase(java.util.Locale.ROOT)) + s"( \\S+){0,$ctx}"

  /** Deterministic stand-in for the chat model: KWIC extractive summary
    * over canonical text. Identical formula to [[extractiveSummary]]. */
  def summarizeText(docText: String, query: String, ctx: Int = 4, maxLen: Int = 300): String = {
    val m = java.util.regex.Pattern.compile(kwicPattern(query, ctx))
      .matcher(canonical(docText))
    val snippets = Iterator.continually(m).takeWhile(_.find()).map(_.group()).toSeq
    val joined = snippets.mkString(" ... ")
    // truncate by CODE POINTS, matching Spark substring / DuckDB substr —
    // String.take counts UTF-16 units and would cut astral chars short
    if (joined.codePointCount(0, joined.length) <= maxLen) joined
    else joined.substring(0, joined.offsetByCodePoints(0, maxLen))
  }

  /** Chat-completion invocation for one batch of (docText, query)
    * through the pluggable client seam ([[ChatClient]]) — default
    * [[DeterministicClient]] is the offline KWIC stub; a deployment
    * passes [[OpenAiCompatClient]]. Retry-with-backoff lives engine-side
    * so every client gets the reference's OpenAI error-path semantics
    * (SSEOpenAIController.java:176-181). */
  def invokeChat(batch: Seq[(String, String)], ctx: Int = 4, maxLen: Int = 300,
                 maxRetries: Int = 3, client: ChatClient = DeterministicClient): Seq[String] = {
    var attempt = 0
    var lastErr: Throwable = null
    while (attempt < maxRetries) {
      try {
        val out = client.completeBatch(batch, ctx, maxLen)
        require(out.length == batch.length,
          s"ChatClient returned ${out.length} summaries for ${batch.length} pairs")
        return out
      } catch {
        case ie: InterruptedException => Thread.currentThread().interrupt(); throw ie
        case e: Exception =>
          lastErr = e
          attempt += 1
          if (attempt < maxRetries) Thread.sleep(50L * attempt)
      }
    }
    System.err.println(s"[graft.Summarizer] batch of ${batch.length} pairs degraded to " +
      s"empty summaries after $maxRetries failed attempts: ${lastErr}")
    batch.map(_ => "")
  }

  /** Append a `summary` column: batched external-call shape (narrow, no
    * shuffle; one [[invokeChat]] per `batchSize` rows per partition).
    * Delegates to [[summarizeDynamic]] over a literal query column so the
    * batching skeleton exists exactly once. */
  def summarize(df: DataFrame, textCol: String = "text", query: String = "",
                batchSize: Int = 32, outCol: String = "summary",
                ctx: Int = 4, maxLen: Int = 300,
                client: ChatClient = DeterministicClient): DataFrame =
    summarizeDynamic(df.withColumn("__graft_q", lit(query)), textCol, "__graft_q",
      batchSize, outCol, ctx, maxLen, client).drop("__graft_q")

  /** [[summarize]] with a PER-ROW query column (the serving case: each
    * stream row carries its own user query; a regexp column pattern
    * can't express that since Spark requires foldable patterns). Same
    * batched external-call shape, one batching function on two paths:
    *  - a batch LOCAL input (analyzed plan a `LocalRelation`, after
    *    folding projections over it — a request's hits built with
    *    `createDataFrame`/`toDF`) is summarized on the driver and returned
    *    as a `LocalRelation`: the rows are already there, and a Spark job
    *    to batch ~5 of them costs more than the calls themselves;
    *  - any other input, streaming ones included, runs the function
    *    inside `mapPartitions` (one [[invokeChat]] per `batchSize` rows
    *    per partition).
    * Both give the same rows, order and schema (`SummarizerSpec`). */
  def summarizeDynamic(df: DataFrame, textCol: String, queryCol: String,
                       batchSize: Int = 32, outCol: String = "summary",
                       ctx: Int = 4, maxLen: Int = 300,
                       client: ChatClient = DeterministicClient): DataFrame = {
    val schema = StructType(df.schema.fields :+ StructField(outCol, StringType))
    val textIdx = df.schema.fieldIndex(textCol)
    val queryIdx = df.schema.fieldIndex(queryCol)
    val summarizeRows: Iterator[Row] => Iterator[Row] = _.grouped(batchSize).flatMap { batch =>
      val pairs = batch.map(r => (Option(r.getString(textIdx)).getOrElse(""),
        Option(r.getString(queryIdx)).getOrElse("")))
      val sums = invokeChat(pairs, ctx, maxLen, client = client)
      batch.iterator.zip(sums.iterator).map { case (r, s) => Row.fromSeq(r.toSeq :+ s) }
    }
    graft.plans.LocalGenerateFoldRule.toLocal(df.queryExecution.analyzed) match {
      case local: LocalRelation if !local.isStreaming =>
        val toRow = ExpressionEncoder(RowEncoder.encoderFor(local.schema))
          .resolveAndBind().createDeserializer()
        val out = summarizeRows(local.data.iterator.map(toRow)).toSeq
        df.sparkSession.createDataFrame(out.asJava, schema)
      case _ =>
        df.mapPartitions(summarizeRows)(RowEncoder.encoderFor(schema))
    }
  }

  /** Column-level stub — codegen'd regexp, oracle-replayable in DuckDB as
    * `substr(array_to_string(regexp_extract_all(canon, kwic), ' ... '), 1, maxLen)`. */
  def extractiveSummary(docText: Column, query: String, ctx: Int = 4, maxLen: Int = 300): Column =
    substring(array_join(
      regexp_extract_all(graft.functions.TextFunctions.canonicalText(docText),
        lit(kwicPattern(query, ctx)), lit(0)), " ... "), 1, maxLen)

  /** Snippet count (how many query occurrences the summary covers). */
  def snippetCount(docText: Column, query: String, ctx: Int = 4): Column =
    size(regexp_extract_all(graft.functions.TextFunctions.canonicalText(docText),
      lit(kwicPattern(query, ctx)), lit(0)))

  /** The per-hit SSE event sequence the reference emits
    * (SSEOpenAIController.java:188-247): a `create`-area event, a
    * `createLink` event, then the summary as an `addMessage` event —
    * JSON shapes mirroring the reference's Gson records
    * (entities/CreateAreaInHTML|CreateLinkInHTML|CreateMessageInHTML.java).
    * Input needs columns: id, url, pagenumber, filename, summary (names
    * via args). Emits (…, ev_seq, payload) — 3 rows per hit, ordered by
    * (hit order, ev_seq), exactly the reference's emission order.
    * String payload fields are JSON-escaped via [[jsonEsc]]. */

  /** JSON string-escape for payload string fields — backslash first,
    * then quote (the reference's Gson escaped; raw concat emitted
    * malformed JSON whenever a summary contained a double quote), via
    * the LITERAL `replace` builtin so the DuckDB oracles replay it
    * verbatim. */
  private def jsonEsc(c: Column): Column =
    replace(replace(c, lit("\\"), lit("\\\\")), lit("\""), lit("\\\""))

  def serveEvents(hits: DataFrame, idCol: String = "id", urlCol: String = "url",
                  pageCol: String = "pagenumber", fileCol: String = "filename",
                  summaryCol: String = "summary"): DataFrame = {
    val id = jsonEsc(col(idCol))
    val events = array(
      struct(lit(0L).as("ev_seq"),
        concat(lit("{\"type\":\"create\",\"id\":\""), id, lit("\"}")).as("payload")),
      struct(lit(1L).as("ev_seq"),
        concat(lit("{\"type\":\"createLink\",\"id\":\""), id,
          lit("\",\"link\":\""), jsonEsc(col(urlCol)),
          lit("\",\"pageNumber\":"), col(pageCol),
          lit(",\"fileName\":\""), jsonEsc(col(fileCol)), lit("\"}")).as("payload")),
      struct(lit(2L).as("ev_seq"),
        concat(lit("{\"type\":\"addMessage\",\"id\":\""), id,
          lit("\",\"content\":\""), jsonEsc(col(summaryCol)), lit("\"}")).as("payload")))
    hits.select((hits.columns.map(col) :+ explode(events).as("ev")): _*)
      .select((hits.columns.map(col) :+ col("ev.ev_seq").as("ev_seq") :+
        col("ev.payload").as("payload")): _*)
  }

  /** TOKEN-DELTA variant of [[serveEvents]] — the reference forwards each
    * chat-completion delta to the client as its own `addMessage` event,
    * spaces masked as `<SPECIAL_WHITE_SPACE>`
    * (SSEOpenAIController.java:157-187 subscribe →
    * `sendChatCompletionMessages` :221-247). With the deterministic
    * KWIC summary standing in for the model, the "deltas" are fixed
    * `chunkLen`-codepoint slices of the summary — same emission order:
    *
    *   ev_seq 0              create        (doOnSubscribe, :169-172)
    *   ev_seq 1              createLink    (doOnSubscribe)
    *   ev_seq 2 … 2+n-1      addMessage    one per delta chunk
    *   ev_seq 2+n            complete      full concatenation
    *
    * The trailing `complete` event is graft's addition (the reference's
    * stream just terminates, :182-184): it carries the unmasked
    * concatenation so a consumer — and the oracle gate — can verify the
    * deltas reassemble losslessly. Everything is pure-column
    * (substring/replace/sequence), so the whole emission replays in
    * DuckDB byte-for-byte. */
  def serveEventsDelta(hits: DataFrame, idCol: String = "id", urlCol: String = "url",
                       pageCol: String = "pagenumber", fileCol: String = "filename",
                       summaryCol: String = "summary", chunkLen: Int = 16): DataFrame = {
    require(chunkLen >= 1, s"serveEventsDelta: chunkLen must be >= 1, got $chunkLen")
    val id = jsonEsc(col(idCol))
    val nChunks = ceil(length(col(summaryCol)).cast("double") / lit(chunkLen)).cast("long")
    val head = array(
      struct(lit(0L).as("ev_seq"),
        concat(lit("{\"type\":\"create\",\"id\":\""), id, lit("\"}")).as("payload")),
      struct(lit(1L).as("ev_seq"),
        concat(lit("{\"type\":\"createLink\",\"id\":\""), id,
          lit("\",\"link\":\""), jsonEsc(col(urlCol)),
          lit("\",\"pageNumber\":"), col(pageCol),
          lit(",\"fileName\":\""), jsonEsc(col(fileCol)), lit("\"}")).as("payload")))
    // sequence(0, n-1) is DESCENDING for n = 0 — guard the empty summary
    val deltas = when(nChunks > 0,
      transform(sequence(lit(0L), nChunks - 1), j =>
        struct((j + 2L).as("ev_seq"),
          concat(lit("{\"type\":\"addMessage\",\"id\":\""), id, lit("\",\"content\":\""),
            jsonEsc(regexp_replace(
              col(summaryCol).substr((j * chunkLen + 1).cast("int"), lit(chunkLen)),
              lit(" "), lit("<SPECIAL_WHITE_SPACE>"))),
            lit("\"}")).as("payload"))))
      .otherwise(array().cast("array<struct<ev_seq:bigint,payload:string>>"))
    val fin = array(
      struct((nChunks + 2L).as("ev_seq"),
        concat(lit("{\"type\":\"complete\",\"id\":\""), id,
          lit("\",\"content\":\""), jsonEsc(col(summaryCol)), lit("\"}")).as("payload")))
    hits.select((hits.columns.map(col) :+
        explode(concat(head, deltas, fin)).as("ev")): _*)
      .select((hits.columns.map(col) :+ col("ev.ev_seq").as("ev_seq") :+
        col("ev.payload").as("payload")): _*)
  }
}
