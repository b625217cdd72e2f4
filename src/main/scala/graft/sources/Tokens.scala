package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The input table mandated by BASELINE.json `input_hint`:
  *
  *   (doc_id: string, tokens: array<int>, n_tok: int, source: string)
  *
  * At production scale this arrives pre-tokenized (an Iceberg table of
  * training sequences); in this sandbox it is derived deterministically from
  * the driver's `documents.parquet` (FIXTURES.md §1): whitespace split, with
  * token ids assigned by rank over the lexically-sorted distinct vocabulary.
  *
  * The word→id map is injective, so any *count* query over tokens equals the
  * same count over words — which is what lets the DuckDB oracle check
  * sketch queries without replaying the id assignment (FIXTURES.md §3).
  *
  * The vocabulary of the synthetic corpus is tiny (~40 words), so it is
  * collected once and inlined as a literal map — the tokenization stays a
  * pure, shuffle-free projection over the scan (the same plan shape a real
  * pre-tokenized table would give). This is explicitly a test-fixture path,
  * not a scale path: a 100 TB corpus would come already tokenized.
  */
object Tokens {

  final case class TokenRow(doc_id: String, tokens: Array[Int], n_tok: Int, source: String)

  // cache the vocab MAP per version of the documents file: its path plus
  // its data files' total length and latest modification time, so a file
  // rewritten under the same path is read again (plain data —
  // session-independent, no stopped-session DataFrames pinned, no
  // identityHashCode reuse hazard); the DataFrame is cheap to rebuild from it
  private val vocabCache =
    scala.collection.concurrent.TrieMap.empty[(String, Long, Long), Map[String, Int]]

  def table(spark: SparkSession, sfDir: String): DataFrame = build(spark, sfDir)

  /** The driver's `documents.parquet` schema (FIXTURES.md §1). */
  val DocumentsSchema: StructType =
    StructType.fromDDL("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")

  /** `sfDir`'s documents table, read under [[DocumentsSchema]]: no read
    * starts a schema-inference job. */
  def documents(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.schema(DocumentsSchema).parquet(s"$sfDir/documents.parquet")

  private def vocabOf(spark: SparkSession, sfDir: String): Map[String, Int] = {
    val docs = new Path(s"$sfDir/documents.parquet")
    val files = docs.getFileSystem(spark.sessionState.newHadoopConf()).listStatus(docs)
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
    val version = (sfDir, files.map(_.getLen).sum, files.map(_.getModificationTime).maxOption.getOrElse(0L))
    vocabCache.getOrElseUpdate(version, {
      documents(spark, sfDir)
        .select(explode(split(col("text"), " ")).as("w"))
        .where(col("w") =!= "")
        .distinct()
        .orderBy("w")
        .collect()
        .map(_.getString(0))
        .zipWithIndex.map { case (w, i) => (w, i + 1) }.toMap
    })
  }

  private def build(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = documents(spark, sfDir)
    val idOf = vocabOf(spark, sfDir)
    val mapCol = map(idOf.toSeq.sortBy(_._1).flatMap { case (w, i) => Seq(lit(w), lit(i)) }: _*)
    docs
      .select(
        col("doc_id").cast("string").as("doc_id"),
        transform(
          filter(split(col("text"), " "), w => w =!= lit("")),
          w => element_at(mapCol, w)).as("tokens"),
        col("source")
      )
      .withColumn("n_tok", size(col("tokens")))
      .select(col("doc_id"), col("tokens"), col("n_tok"), col("source"))
  }

  /** Vocabulary size for a given sf dir (diagnostics / sizing sketches). */
  def vocabSize(spark: SparkSession, sfDir: String): Long =
    table(spark, sfDir).select(explode(col("tokens"))).distinct().count()

  /** Pure synthetic generator at arbitrary scale for benchmarks: no files,
    * fully deterministic from the row index via SipHash (FIXTURES.md §1
    * "pure synthetic"). `zipfSources` makes source frequencies skewed
    * (source s appears with weight ~ 1/(s+1)) to exercise salting.
    */
  def synthetic(
      spark: SparkSession,
      numDocs: Long,
      avgTokens: Int,
      vocabSize: Int,
      numSources: Int,
      partitions: Int
  ): DataFrame = {
    import org.apache.spark.sql.expressions.UserDefinedFunction
    val genTokens: UserDefinedFunction = udf { (i: Long) =>
      val n = 1 + ((graft.core.SipHash.hashLong(42L, 1L, i) >>> 1) % (2L * avgTokens - 1)).toInt
      Array.tabulate(n) { j =>
        1 + ((graft.core.SipHash.hashLong(42L, 2L + j, i) >>> 1) % vocabSize).toInt
      }
    }
    val hN = (1 to numSources).map(1.0 / _).sum
    val genSource: UserDefinedFunction = udf { (i: Long) =>
      // Zipf-ish skew: P(source s) ~ 1/(s+1)
      val u = (graft.core.SipHash.hashLong(42L, 3L, i) >>> 11).toDouble / (1L << 53).toDouble
      var cum = 0.0
      var s = 0
      while (s < numSources - 1 && cum + 1.0 / ((s + 1) * hN) < u) { cum += 1.0 / ((s + 1) * hN); s += 1 }
      s"src$s"
    }
    spark
      .range(0, numDocs, 1, partitions)
      .select(
        concat(lit("doc-"), col("id")).as("doc_id"),
        genTokens(col("id")).as("tokens"),
        genSource(col("id")).as("source")
      )
      .withColumn("n_tok", size(col("tokens")))
      .select(col("doc_id"), col("tokens"), col("n_tok"), col("source"))
  }
}
