package graft

import graft.etl._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Unit tests for the ETL parity layer: JSON coercions (reference
  * db_extractor_full.py:151-170), identifier hygiene (:463-473),
  * watermark routing (:355-414), checkpoint round-trip (README.md:32-45).
  */
class EtlSpec extends SparkSpec {

  private def df(rows: Seq[Row], schema: StructType) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)

  test("jsonRow emits explicit null fields like orjson.dumps") {
    val d = df(
      Seq(Row(1L, null), Row(2L, "x")),
      StructType(Seq(
        StructField("id", LongType),
        StructField("name", StringType))))
    val out = Coercions.jsonRow(d).orderBy("json").collect().map(_.getString(0))
    assert(out.contains("""{"id":1,"name":null}"""),
      s"null field dropped: ${out.mkString(";")}")
    assert(out.contains("""{"id":2,"name":"x"}"""))
  }

  test("jsonRow coerces timestamp to Python str(datetime) form") {
    val d = df(
      Seq(
        Row(java.time.LocalDateTime.parse("2024-01-02T03:04:05.123456")),
        Row(java.time.LocalDateTime.parse("2024-01-02T03:04:05"))),
      StructType(Seq(StructField("ts", TimestampNTZType))))
    val out = Coercions.jsonRow(d).orderBy("json").collect().map(_.getString(0))
    assert(out.contains("""{"ts":"2024-01-02 03:04:05.123456"}"""), out.mkString(";"))
    assert(out.contains("""{"ts":"2024-01-02 03:04:05"}"""), out.mkString(";"))
  }

  test("uuid coercion matches Python uuid.hex") {
    val d = df(
      Seq(Row("123E4567-E89B-12D3-A456-426614174000")),
      StructType(Seq(StructField("u", StringType))))
    val out = Coercions.coerceForJson(d, uuidCols = Set("u"))
      .head().getString(0)
    assert(out == "123e4567e89b12d3a456426614174000")
  }

  test("decimal coercion is the exact decimal string") {
    val d = df(
      Seq(Row(new java.math.BigDecimal("1234.50"))),
      StructType(Seq(StructField("d", DecimalType(10, 2)))))
    assert(Coercions.jsonRow(d).head().getString(0) == """{"d":"1234.50"}""")
  }

  test("JdbcSource name whitelist rejects injection-shaped names") {
    assert(JdbcSource.isSafeName("orders"))
    assert(JdbcSource.isSafeName("audit_history_2024"))
    assert(!JdbcSource.isSafeName("orders; DROP TABLE x"))
    assert(!JdbcSource.isSafeName("orders--"))
    assert(!JdbcSource.isSafeName("""orders" (SELECT 1)"""))
    assert(!JdbcSource.isSafeName(""))
    assert(!JdbcSource.isSafeName("tablé")) // non-ASCII letter
  }

  test("events ts is timezone-independent TIMESTAMP_NTZ") {
    val d = Fixtures.table(spark, sf, "events")
    assert(d.schema("ts").dataType == TimestampNTZType)
    val utcFirst = d.orderBy("event_id").select("ts")
      .head().getAs[java.time.LocalDateTime](0)
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Asia/Kathmandu")
      val ktmFirst = Fixtures.table(spark, sf, "events")
        .orderBy("event_id").select("ts")
        .head().getAs[java.time.LocalDateTime](0)
      assert(ktmFirst == utcFirst, "ts shifted with session timezone")
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("watermark routing: 4-way dispatch") {
    import Watermark._
    assert(route(Seq("id", "created_at")) == CreatedOnly)
    assert(route(Seq("id", "created_at", "updated_at")) == CreatedAndUpdated)
    assert(route(Seq("id", "updated_at")) == SkipUpdatedOnly)
    assert(route(Seq("id", "x")) == FullDump)
    // deviation from reference (SURVEY.md §1.4): exact match, not substring
    assert(route(Seq("id", "legacy_created_at_backup")) == FullDump)
  }

  test("checkpoint JSON round-trips through the SSM document shape") {
    val st = CheckpointState("2024-05-06 07:08:09.123456", 7L, 3L, "abc123")
    val rt = CheckpointState.fromJson(st.toJson)
    assert(rt == st)
    // a present document missing its fields is torn, not the seed
    intercept[IllegalArgumentException](CheckpointState.fromJson("{}"))
  }
}
