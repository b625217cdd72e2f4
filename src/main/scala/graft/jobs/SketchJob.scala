package graft.jobs

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.core._
import graft.operators.SketchKinds.{Bloom, Cms, FusedTokens, HllKind}
import graft.plans.NativeAggs

/** Production-shape sketch-build job (north rule: "resumable from checkpoint
  * with per-partition lineage + metrics, salt-based skew mitigation").
  *
  * The input is bucketed deterministically by `doc_id` (SipHash — stable
  * across executors/JVMs/runs, so a bucket always contains the same docs;
  * the sandbox stand-in for Iceberg snapshot+partition lineage). Each run:
  *
  *   1. reads the checkpoint dir, determines which buckets already have
  *      committed partial sketches,
  *   2. aggregates ONLY the missing buckets into per-(bucket, source)
  *      partial sketch rows with lineage + metrics columns
  *      (rows/tokens/build wall-clock/commit timestamp),
  *   3. appends them to the checkpoint (bucket = the commit unit),
  *   4. `finalize` merges all partials per source — pure sketch merges,
  *      the same monoid the aggregation itself uses.
  *
  * Both halves run on the native `SketchAgg`, which reads rows in place,
  * and each plan has a single exchange: the increment is ONE build of
  * `SketchKinds.FusedTokens` (bloom + HLL + CMS; its partial buffers hold
  * token ids until the dense sketches would be smaller, so small
  * (bucket, source) groups shuffle ids, not sketches), finalize is one
  * merge-mode `SketchAgg` per sketch column plus plain aggregates. The
  * job's parameters travel in the expressions (`cfg`), never through the
  * session-global `NativeAggs.register`.
  *
  * Because merge is associative+commutative and buckets are disjoint,
  * resume-then-finalize is byte-identical to a single uninterrupted build
  * (tested in SketchJobSpec).
  *
  * The bucket level doubles as salt-based skew mitigation: a hot source is
  * split across all buckets, so no single task aggregates a whole hot
  * source — two-level aggregation (bucket,source) -> (source), the explicit
  * form of the salting SURVEY.md §4 calls for.
  */
object SketchJob {

  final case class JobConfig(
      k0: Long,
      k1: Long,
      bloomK: Int,
      bloomLog2l: Int,
      hllP: Int,
      cmsDepth: Int,
      cmsLog2Width: Int,
      numBuckets: Int) {
    def bloomCfg: BloomConfig = BloomConfig(k0, k1, bloomK, bloomLog2l)
    def cmsCfg: CmsConfig = CmsConfig(k0, k1, cmsDepth, cmsLog2Width)
  }

  val DefaultConfig: JobConfig = JobConfig(
    k0 = graft.SketchQueries.K0, k1 = graft.SketchQueries.K1,
    bloomK = 3, bloomLog2l = 12, hllP = 12, cmsDepth = 5, cmsLog2Width = 11,
    numBuckets = 64)

  /** Deterministic bucket id from doc_id via the NATIVE SipHash expression
    * (codegen, no UDF encoder boundary). Same value as the previous UDF:
    * `(hashString(coalesce(doc_id, "")) >>> 1) % buckets` — the shifted hash
    * is non-negative, so `%` == `pmod`. */
  private def bucketCol(k0: Long, k1: Long, buckets: Int) =
    (shiftrightunsigned(
      graft.plans.GraftFunctions.sipHash64(coalesce(col("doc_id"), lit("")), k0, k1), 1)
      % buckets).cast(IntegerType)

  /** The checkpoint's parquet schema, one row per (bucket, source): every
    * increment writes it and every reader reads with it, so no read infers
    * a schema (a one-task Spark job per read). */
  val CheckpointSchema: StructType = StructType(Seq(
    StructField("bucket", IntegerType),
    StructField("source", StringType),
    StructField("bloom", BinaryType),
    StructField("hll", BinaryType),
    StructField("cms", BinaryType),
    StructField("n_rows", LongType),
    StructField("n_tokens", LongType),
    StructField("committed_at_ms", LongType),
    StructField("build_host", StringType)))

  /** Run directories with a completed (_SUCCESS-marked) parquet commit.
    * Each runIncrement writes its own run dir, so commits are atomic at
    * run granularity: a crashed run leaves no _SUCCESS and is ignored
    * entirely on resume (no partially-visible buckets). Hadoop FS APIs so
    * checkpoints can live on HDFS/S3, not only the local FS. Each run dir's
    * schema is checked against [[CheckpointSchema]] from one parquet footer,
    * read on the driver. */
  private def committedRunDirs(spark: SparkSession, ckptDir: String): Seq[String] = {
    val path = new Path(ckptDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Seq.empty
    else
      fs.listStatus(path).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("run_"))
        .filter(st => fs.exists(new Path(st.getPath, "_SUCCESS")))
        .map { st =>
          fs.listStatus(st.getPath).map(_.getPath).find(_.getName.endsWith(".parquet"))
            .foreach(file => checkRunSchema(spark, st.getPath, file))
          st.getPath.toString
        }
  }

  /** Fails unless `file`'s footer holds every [[CheckpointSchema]] column
    * with its type: reading a dir that lacks one with the declared schema
    * would yield nulls instead of an error. */
  private def checkRunSchema(spark: SparkSession, dir: Path, file: Path): Unit = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, spark.sparkContext.hadoopConfiguration))
    val found = try new ParquetToSparkSchemaConverter(spark.sessionState.conf)
      .convert(reader.getFooter.getFileMetaData.getSchema)
    finally reader.close()
    CheckpointSchema.fields.foreach { f =>
      found.find(_.name == f.name) match {
        case None => throw new IllegalStateException(s"checkpoint run $dir has no column ${f.name}")
        case Some(g) if g.dataType != f.dataType => throw new IllegalStateException(
          s"checkpoint run $dir column ${f.name} is ${g.dataType.catalogString}, " +
            s"expected ${f.dataType.catalogString}")
        case _ =>
      }
    }
  }

  /** All committed partial-sketch rows across run dirs. */
  private def committedPartials(spark: SparkSession, ckptDir: String): Option[org.apache.spark.sql.DataFrame] = {
    val dirs = committedRunDirs(spark, ckptDir)
    if (dirs.isEmpty) None else Some(spark.read.schema(CheckpointSchema).parquet(dirs: _*))
  }

  /** Buckets already committed to the checkpoint. */
  def committedBuckets(spark: SparkSession, ckptDir: String): Set[Int] =
    committedPartials(spark, ckptDir)
      .map(_.select("bucket").distinct().collect().map(_.getInt(0)).toSet)
      .getOrElse(Set.empty)

  /** Run one (resumable) pass: aggregate partial sketches for every bucket
    * not yet in the checkpoint. Returns the number of buckets processed. */
  def runIncrement(spark: SparkSession, tokens: DataFrame, ckptDir: String,
      cfg: JobConfig = DefaultConfig,
      failAfterBuckets: Option[Int] = None): Int = {
    val done = committedBuckets(spark, ckptDir)
    // one fused native build (rows read in place, sparse partial buffers);
    // the config travels in the expression, not in a session-global name
    val fused = NativeAggs.column(FusedTokens(cfg.bloomCfg, cfg.hllP, cfg.cmsCfg), col("tokens"))

    val withBucket = tokens.withColumn("bucket", bucketCol(cfg.k0, cfg.k1, cfg.numBuckets))
    val todoAll = (0 until cfg.numBuckets).filterNot(done)
    // simulate a mid-job crash for resume tests: only commit a prefix
    val todo = failAfterBuckets.fold(todoAll)(n => todoAll.take(n))
    if (todo.isEmpty) return 0

    val t0 = System.currentTimeMillis()
    val partials = withBucket
      .where(col("bucket").isin(todo: _*))
      .groupBy(col("bucket"), col("source"))
      .agg(
        fused.as("f"),
        count(lit(1)).as("n_rows"),
        sum(col("n_tok")).cast(LongType).as("n_tokens"))
      .select(col("bucket"), col("source"), col("f.bloom").as("bloom"), col("f.hll").as("hll"),
        col("f.cms").as("cms"), col("n_rows"), col("n_tokens"),
        lit(t0).as("committed_at_ms"), lit(java.net.InetAddress.getLocalHost.getHostName).as("build_host"))
      .select(CheckpointSchema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
    // fresh run dir per increment: the parquet job writes _SUCCESS only on
    // full commit, so a crash mid-run leaves an ignorable junk dir instead
    // of partially-visible buckets in a shared append
    partials.write.mode(SaveMode.ErrorIfExists).parquet(s"$ckptDir/run_${t0}_${todo.min}")
    todo.size
  }

  /** Merge the checkpointed per-(bucket,source) partials into final
    * per-source sketches (plus rolled-up lineage metrics). */
  def finalizeSketches(spark: SparkSession, ckptDir: String,
      cfg: JobConfig = DefaultConfig): DataFrame = {
    committedPartials(spark, ckptDir)
      .getOrElse(throw new IllegalStateException(s"no committed runs under $ckptDir"))
      .groupBy(col("source"))
      .agg(
        NativeAggs.column(Bloom(cfg.bloomCfg), col("bloom")).as("bloom"),
        NativeAggs.column(HllKind(cfg.k0, cfg.k1, cfg.hllP), col("hll")).as("hll"),
        NativeAggs.column(Cms(cfg.cmsCfg), col("cms")).as("cms"),
        sum(col("n_rows")).as("n_rows"),
        sum(col("n_tokens")).as("n_tokens"),
        // == countDistinct for the non-null int bucket, but a plain
        // aggregate: one exchange instead of countDistinct's two
        size(collect_set(col("bucket"))).cast(LongType).as("n_buckets"))
  }

  /** Per-bucket lineage view (what resumed, when, how much). */
  def lineage(spark: SparkSession, ckptDir: String): DataFrame =
    committedPartials(spark, ckptDir)
      .getOrElse(throw new IllegalStateException(s"no committed runs under $ckptDir"))
      .groupBy(col("bucket"))
      .agg(
        sum(col("n_rows")).as("n_rows"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("committed_at_ms")).as("committed_at_ms"),
        first(col("build_host")).as("build_host"))
      .orderBy(col("bucket"))
}
