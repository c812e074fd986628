package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The pgvector table re-expressed as a parquet vector store — the sink
  * of the reference's
  * `INSERT INTO … (id, embedding, origntext, fileName, pageNumber)`
  * (BlobUploadDetector/src/main/java/com/yoshio3/Function.java:151-165).
  *
  * Layout for scale: rows are hash-bucketed on `id` into a `bucket=N/`
  * partition tree. Point lookups prune to one directory; KNN scans read
  * only (id, embedding) thanks to parquet column pruning; buckets give
  * bounded file counts at 100 TB (set `numBuckets` ~ cluster cores).
  */
object VectorStore {

  val Schema = "id string, embedding array<float>, origntext string, filename string, pagenumber bigint"

  private val schema = StructType.fromDDL(Schema)

  /** [[Schema]] plus the hash-bucket partition column, as the reader sees
    * the tree: handing it to the reader skips parquet schema inference
    * (a Spark job over the footers) on every `read` / `lookup`. */
  private val stored = StructType.fromDDL(Schema + ", bucket int")

  /** Write `df` as the store's rows. The rows are conformed to [[Schema]]
    * first — its five columns selected in order and cast to their
    * declared types; extra columns are dropped and a missing one fails
    * here, by name — so every file matches the schema `read` declares. */
  def write(df: DataFrame, path: String, numBuckets: Int = 32,
            mode: SaveMode = SaveMode.Overwrite): Unit = {
    val missing = schema.fieldNames.filterNot(f => df.columns.exists(_.equalsIgnoreCase(f)))
    require(missing.isEmpty, s"VectorStore.write: missing column(s) ${missing.mkString(", ")}; " +
      s"the store's schema is $Schema")
    df.select(schema.fields.toIndexedSeq.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
      .withColumn("bucket", pmod(xxhash64(col("id")), lit(numBuckets)))
      .repartition(col("bucket"))
      .write.mode(mode)
      .partitionBy("bucket")
      .parquet(path)
  }

  /** The store as a DataFrame of [[Schema]]. The schema is declared, not
    * inferred, so building the DataFrame starts no Spark job; a column
    * absent from the files (a store not written by [[write]]) reads as
    * null. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(stored).parquet(path).drop("bucket")

  /** Point lookup — partition-pruned to one bucket directory. */
  def lookup(spark: SparkSession, path: String, id: String, numBuckets: Int = 32): DataFrame =
    spark.read.schema(stored).parquet(path)
      .where(col("bucket") === pmod(xxhash64(lit(id)), lit(numBuckets)) && col("id") === id)
      .drop("bucket")

  /** Upsert semantics for re-uploaded blobs: given rows carrying a
    * monotonically increasing `versionCol` (upload batch number), keep
    * only the newest row per id — the reference achieves the same by
    * re-running the blob trigger, which re-INSERTs the replaced pages.
    * One shuffle on id; Catalyst rewrites the rank-1 filter into
    * WindowGroupLimit (per-partition bounded heaps before the exchange). */
  def latestVersion(versions: DataFrame, idCol: String = "id",
                    versionCol: String = "version"): DataFrame =
    versions
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(idCol)).orderBy(col(versionCol).desc)))
      .where(col("__rn") === 1)
      .drop("__rn")
}
