package graft

import graft.etl.{FileCheckpointStore, ParquetDirSource, SchemaDump}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** `Fixtures.parquetSchema` reads the schema Spark's inference would, from
  * one footer on the driver, and a cold fixture load or schema dump runs
  * no Spark job.
  */
class ParquetSchemaSpec extends SparkSpec {

  private def tmpDir(tag: String): Path =
    Files.createTempDirectory(s"graft_pqschema_$tag")

  private def sameAsSpark(path: String): Unit =
    assert(Fixtures.parquetSchema(spark, path) ==
      spark.read.parquet(path).schema, path)

  /** `body`'s value and the Spark jobs started while it runs. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    GraftListenerBridge.waitUntilEmpty(sc)
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet(): Unit
    }
    sc.addSparkListener(l)
    try {
      val a = body
      GraftListenerBridge.waitUntilEmpty(sc)
      (a, n.get)
    } finally sc.removeSparkListener(l)
  }

  /** A Parquet file written without Spark (no row-metadata key), as the
    * benchmark's DuckDB/pyarrow generator writes them.
    */
  private def writePlain(f: Path, schema: String, rows: Int = 1): Unit = {
    val conf = new Configuration()
    val t = MessageTypeParser.parseMessageType(schema)
    val w = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new HPath(f.toString), conf))
      .withType(t).withConf(conf).build()
    try (1 to rows).foreach { i =>
      w.write(new SimpleGroupFactory(t).newGroup().append("id", i.toLong))
    } finally w.close()
  }

  private val benchSchema =
    """message bench {
      |  required int64 id;
      |  optional binary name (STRING);
      |  optional int64 created_at (TIMESTAMP(MICROS,false));
      |  optional int64 updated_at (TIMESTAMP(MICROS,false));
      |  optional int64 seen_at (TIMESTAMP(MICROS,true));
      |  optional int64 ts_ns (TIMESTAMP(NANOS,false));
      |  optional int32 day (DATE);
      |  optional int64 amount (DECIMAL(12,2));
      |  optional binary raw;
      |}""".stripMargin

  test("every fixture table: footer schema equals Spark's inference") {
    Fixtures.names.foreach(n => sameAsSpark(s"$sf/$n.parquet"))
    assert(Fixtures.parquetSchema(spark, s"$sf/embeddings.parquet").fields
      .exists(_.dataType.isInstanceOf[ArrayType]))
  }

  test("a directory of part files without Spark metadata (TIMESTAMP_NTZ " +
    "columns) equals Spark's inference; hidden and summary files follow " +
    "Spark's file choice") {
    val d = tmpDir("bench")
    (0 until 3).foreach(i => writePlain(d.resolve(s"part-$i.parquet"), benchSchema))
    sameAsSpark(d.toString)
    val sch = Fixtures.parquetSchema(spark, d.toString)
    assert(sch("created_at").dataType == TimestampNTZType)
    // TIMESTAMP(NANOS) reads as long under the session's nanosAsLong
    assert(sch("ts_ns").dataType == LongType)

    // first data file by path string: part-10 sorts before part-2, hidden
    // and underscore names are skipped
    val other = "message o { required int64 id; optional double score; }"
    val e = tmpDir("order")
    writePlain(e.resolve("part-2.parquet"), benchSchema)
    writePlain(e.resolve("part-10.parquet"), other)
    writePlain(e.resolve(".part-0.parquet"), benchSchema)
    writePlain(e.resolve("_part-0.parquet"), benchSchema)
    sameAsSpark(e.toString)
    assert(Fixtures.parquetSchema(spark, e.toString).fieldNames.toSeq
      == Seq("id", "score"))

    // a summary file wins over every data file
    writePlain(e.resolve("_common_metadata"), benchSchema, rows = 0)
    sameAsSpark(e.toString)
    assert(Fixtures.parquetSchema(spark, e.toString).fieldNames.contains("ts_ns"))
  }

  test("a Spark-written directory: _SUCCESS, row-metadata key, decimal, " +
    "timestamp_ntz, array, struct and map columns") {
    val d = tmpDir("spark").resolve("t")
    val comment = new MetadataBuilder().putString("comment", "kept").build()
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("amount", DecimalType(18, 4), nullable = true, comment),
      StructField("at", TimestampNTZType),
      StructField("at_ltz", TimestampType),
      StructField("tags", ArrayType(StringType, containsNull = false)),
      StructField("addr", StructType(Seq(
        StructField("city", StringType, nullable = false),
        StructField("zip", IntegerType)))),
      StructField("attrs", MapType(StringType, DoubleType,
        valueContainsNull = false))))
    val rows = Seq(
      Row(1L, BigDecimal("12.3400").bigDecimal,
        java.time.LocalDateTime.parse("2024-03-10T02:30:00"),
        java.sql.Timestamp.valueOf("2024-03-10 02:30:00"),
        Seq("a", "b"), Row("x", 1), Map("k" -> 1.0)),
      Row(2L, null, null, null, Seq.empty[String], Row("y", null), Map.empty))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.parquet(d.toString)
    assert(Files.exists(d.resolve("_SUCCESS")))
    val part = Files.list(d).filter(_.getFileName.toString.startsWith("part-"))
      .findFirst().get
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new HPath(part.toString), new Configuration()))
    try assert(r.getFooter.getFileMetaData.getKeyValueMetaData
      .containsKey("org.apache.spark.sql.parquet.row.metadata"))
    finally r.close()
    sameAsSpark(d.toString)
    // a bare file path is its own file
    sameAsSpark(part.toString)
  }

  test("an empty directory and a partitioned one fail with the path") {
    val empty = tmpDir("empty")
    Files.writeString(empty.resolve("_SUCCESS"), "")
    val e1 = intercept[IllegalArgumentException](
      Fixtures.parquetSchema(spark, empty.toString))
    assert(e1.getMessage.contains(empty.toString), e1.getMessage)

    val parted = tmpDir("parted").resolve("t")
    spark.range(4).selectExpr("id", "id % 2 AS k")
      .write.partitionBy("k").parquet(parted.toString)
    val e2 = intercept[IllegalArgumentException](
      Fixtures.parquetSchema(spark, parted.toString))
    assert(e2.getMessage.contains(parted.toString), e2.getMessage)
  }

  test("a cold Fixtures.table and a cold schema dump run no Spark job") {
    def copyTables(tag: String): Path = {
      val d = tmpDir(tag)
      Seq("region", "nation", "events", "embeddings").foreach(t =>
        Files.copy(Paths.get(s"$sf/$t.parquet"), d.resolve(s"$t.parquet")))
      d
    }
    val d = copyTables("cold")
    val (_, tableJobs) =
      jobsDuring(Fixtures.table(spark, d.toString, "region"))

    val e = copyTables("cold_dump")
    val out = tmpDir("cold_dump_out")
    val store = FileCheckpointStore(out.resolve("ckpt.json").toString)
    val (res, dumpJobs) = jobsDuring(SchemaDump.run(
      new ParquetDirSource(spark, e.toString), out.toString, store))
    // (table, dump) jobs; inferring schemas with Spark costs (1, 4)
    assert((tableJobs, dumpJobs) == ((0, 0)))
    assert(res.changed)
    // the loader still normalizes events.ts to TIMESTAMP_NTZ
    assert(Fixtures.table(spark, e.toString, "events").schema("ts").dataType
      == TimestampNTZType)
  }
}
