package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Fixture-table loader: presents the driver-generated parquet tables
  * (TESTDATA.md) as clean logical DataFrames.
  *
  * The only physical quirk handled here: `events.ts` is parquet
  * TIMESTAMP(NANOS), which Spark's vectorized reader rejects unless
  * `spark.sql.legacy.parquet.nanosAsLong=true` (see GraftSession). We read
  * the nanos as a long and floor-truncate to microseconds as TIMESTAMP_NTZ
  * — the same truncation DuckDB applies when reading ns into its us-
  * precision naive timestamp, so oracle comparisons stay exact.
  */
object Fixtures {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet schema per fixture path, read once per JVM with
    * [[parquetSchema]]. Metadata only (never data): a
    * `spark.read.parquet` without an explicit schema infers it with a
    * one-task Spark job, and a bench session builds ~10⁴ fixture
    * DataFrames, so that inference is pure per-query floor (guide §7.3:
    * driver-side single-threaded work). Production pipelines pass
    * explicit schemas for the same reason.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** The schema `spark.read.parquet(path).schema` infers, read on the
    * driver from one file footer with no Spark job.
    *
    * The file is the one Spark's non-merging inference reads
    * (`ParquetUtils.inferSchema`): `_common_metadata`, else `_metadata`,
    * else the first data file by path, skipping the names Spark's file
    * listing hides (a leading `.`, or a leading `_` other than the two
    * summary files, or a `._COPYING_` suffix). A bare file path is its
    * own file. Spark's row-metadata key wins over the Parquet schema
    * when present; otherwise the footer is converted under the
    * session's conf (`nanosAsLong`, `inferTimestampNTZ`, binary as
    * string), and every field is made nullable as Spark does for a
    * file source.
    *
    * An empty directory, or one with subdirectories (a partitioned
    * layout, whose partition columns only Spark's inference adds),
    * fails with the path in the message.
    */
  def parquetSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val status = fs.getFileStatus(root)
    val file =
      if (!status.isDirectory) status
      else {
        val (dirs, files) = fs.listStatus(root).toSeq
          .filterNot(s => hiddenName(s.getPath.getName))
          .sortBy(_.getPath.toString)
          .partition(_.isDirectory)
        if (dirs.nonEmpty)
          throw new IllegalArgumentException(s"$path has subdirectories " +
            s"(${dirs.map(_.getPath.getName).mkString(", ")}); a " +
            "partitioned Parquet layout has no single-footer schema")
        def named(n: String) = files.find(_.getPath.getName == n)
        named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
          .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
          .orElse(files.find(f => !summaryName(f.getPath.getName)))
          .getOrElse(throw new IllegalArgumentException(
            s"$path has no Parquet data file to read a schema from"))
      }
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromStatus(file, conf),
      HadoopReadOptions.builder(conf)
        .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build())
    val footer = try reader.getFooter finally reader.close()
    nullable(ParquetFileFormat.readSchemaFromFooter(
      new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
      .asInstanceOf[StructType]
  }

  private def summaryName(n: String): Boolean =
    n == ParquetFileWriter.PARQUET_COMMON_METADATA_FILE ||
      n == ParquetFileWriter.PARQUET_METADATA_FILE

  /** Spark's listing filter (`HadoopFSUtils.shouldFilterOutPathName`). */
  private def hiddenName(n: String): Boolean =
    ((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
      n.endsWith("._COPYING_")) &&
      !(n.startsWith("_common_metadata") || n.startsWith("_metadata"))

  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f =>
        f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(nullable(m.keyType), nullable(m.valueType),
        valueContainsNull = true)
    case other => other
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val sch = schemaCache.computeIfAbsent(path, parquetSchema(spark, _))
    val df = spark.read.schema(sch).parquet(path)
    if (name == "events" && df.schema("ts").dataType == LongType) {
      // ns → us integer floor division (values are all positive; `/` would
      // be double division and lose precision above 2^53 ns). The NTZ value
      // is built by adding the micros to an NTZ epoch literal — no
      // TimestampType hop, so the result is session-timezone-independent.
      df.withColumn(
        "ts", expr("timestampadd(MICROSECOND, ts div 1000, " +
          "TIMESTAMP_NTZ '1970-01-01 00:00:00')"))
    } else df
  }

  /** Scale-adaptive scan spread for HEAVY per-row work rooted at a scan.
    *
    * The driver's fixture files are written as a single parquet row
    * group, so a scan stage is exactly ONE task no matter what
    * `spark.sql.files.maxPartitionBytes` says: Spark splits files into
    * byte ranges, but a row group is processed by the one task owning
    * its byte midpoint. Any expensive per-row work planned into that
    * stage — explode fan-outs, md5/shingle hashing, the Expand of a
    * multi-countDistinct, percentile state building — therefore runs on
    * one core while the other 31 idle (measured: q195's 40× explode ran
    * wall 2.20 s ≈ cpu 2.11 s, i.e. fully serial).
    *
    * spread() inserts one round-robin exchange of the (projected) scan
    * output, but ONLY when the file's byte-range split count at the
    * session's maxPartitionBytes is below the default parallelism — the
    * decision derives from input size (guide §2: scale-adaptive, not a
    * constant). At production file sizes splits ≥ cores, the condition
    * is false and spread() is the identity: the plan keeps the scan's
    * natural partitioning and pays no exchange. Use it only where the
    * work above the first natural exchange is heavy relative to one
    * narrow row shuffle; plain scan→partial-aggregate queries are
    * better off serial than paying a raw-row shuffle.
    */
  def spread(spark: SparkSession, dir: String, name: String): DataFrame =
    spreadDf(spark, dir, name, table(spark, dir, name))

  /** [[spread]] over an already-PROJECTED view of fixture `name` —
    * same input-size gate, but the round-robin exchange carries only
    * the columns the query needs (guide §2.3 "project before the
    * exchange"): the r15 q62 spread was driver-measured slower because
    * it shuffled full orders rows (o_comment included) to parallelize
    * an Expand that reads five narrow columns.
    */
  def spreadDf(spark: SparkSession, dir: String, name: String,
      df: DataFrame): DataFrame = {
    val p = spark.sparkContext.defaultParallelism
    val bytes =
      try new java.io.File(s"$dir/$name.parquet").length
      catch { case _: Throwable => Long.MaxValue }
    val maxSplit =
      try spark.conf.get("spark.sql.files.maxPartitionBytes")
        .stripSuffix("b").stripSuffix("B") match {
          case s if s.endsWith("m") || s.endsWith("M") =>
            s.dropRight(1).toLong << 20
          case s if s.endsWith("g") || s.endsWith("G") =>
            s.dropRight(1).toLong << 30
          case s if s.endsWith("k") || s.endsWith("K") =>
            s.dropRight(1).toLong << 10
          case s => s.toLong
        }
      catch { case _: Throwable => 128L << 20 }
    val splits = math.max(1L, (bytes + maxSplit - 1) / maxSplit)
    if (splits < p) df.repartition(p) else df
  }
}

/** Session defaults shared by Verify / Bench / tests.
  *
  * Scale stance: shuffle partitions sized to local cores here, but every
  * query in the library is written so the same plan scales by raising
  * `spark.sql.shuffle.partitions` — AQE coalesces/splits at runtime.
  */
object GraftSession {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // split single-file fixtures across the local cores: the default
      // 128 MB put a 113 MB sf1 lineitem into ONE scan task and made
      // every consumer of the basket build serial (q373 measured 3x
      // slower at sf1 than sf3 purely from this); production tunes the
      // same knob against executor memory, SURVEY §7.4
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      // protect less cached data from execution-pressure eviction: the
      // round-13 sf3 canary showed cached subplan blocks pinning
      // old-gen in a single 8g JVM until one heavy aggregation OOM'd
      // and wedged the heap for every query after it; with
      // MEMORY_AND_DISK persists (PlanCache.freeze) an evicted block
      // just drops to disk, so a small protected fraction trades a
      // re-read for not OOMing the canary
      .config("spark.memory.storageFraction", "0.3")
      // skew-split trigger sized to local-mode data: the default 256m
      // threshold never fires on bench-scale partitions (hot keys here
      // are 5–50 MB of shuffle bytes), so neither Spark's
      // OptimizeSkewedJoin nor the graft AsOfSkewMitigation rule would
      // ever demonstrate the mitigation they exist for; production
      // keeps the default (its partitions are gigabytes). The factor×
      // median condition still guards against splitting uniform loads.
      .config("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "4m")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.enableNestedColumnVectorizedReader", "true")
      .config("spark.ui.enabled", "false")
}
