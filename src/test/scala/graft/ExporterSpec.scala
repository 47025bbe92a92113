package graft

import graft.etl._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}

/** End-to-end specs for the export pipeline: schema dump (MD5 gate),
  * JSON-array sink (single object, `[]` for empty), run loop (routing,
  * ignore list, serial layout, checkpoint gating).
  */
class ExporterSpec extends SparkSpec {

  private def df(rows: Seq[Row], schema: StructType) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  private def ts(s: String) = java.time.LocalDateTime.parse(s)

  private def fixtureSource = new MapSource(Map(
    // created_at only: incremental path
    "users" -> df(
      Seq(
        Row(1L, "a", ts("2024-01-01T00:00:00")),
        Row(2L, "b", ts("2024-02-01T00:00:00")),
        Row(3L, "c", ts("2024-03-01T00:00:00"))),
      StructType(Seq(
        StructField("id", LongType),
        StructField("name", StringType),
        StructField("created_at", TimestampNTZType)))),
    // updated_at only: must be skipped
    "ledger" -> df(
      Seq(Row(1L, ts("2024-01-01T00:00:00"))),
      StructType(Seq(
        StructField("id", LongType),
        StructField("updated_at", TimestampNTZType)))),
    // no timestamps: full dump every run
    "codes" -> df(
      Seq(Row(10L, null), Row(20L, "y")),
      StructType(Seq(
        StructField("code", LongType),
        StructField("label", StringType)))),
    // on the ignore list: never exported
    "schema_migration" -> df(
      Seq(Row(1L)),
      StructType(Seq(StructField("v", LongType))))))

  private def tmpDir(tag: String) =
    Files.createTempDirectory(s"graft_$tag").toString

  test("export run: routing, serial layout, ignore list, checkpoint") {
    val out = tmpDir("export")
    val store = FileCheckpointStore(s"$out/ckpt.json")
    val r1 = Exporter.run(fixtureSource, out, store,
      runTime = "2024-02-15 00:00:00")

    assert(r1.serial == 1L)
    assert(r1.checkpointAdvanced)
    assert(r1.exported.map(_.table).sorted == Seq("codes", "users"))
    assert(r1.outcomes.collect { case s: Exporter.Skipped => s.table }
      == Seq("ledger"))
    // ignore list dropped before routing
    assert(!r1.outcomes.exists {
      case Exporter.Exported(t, _) => t == "schema_migration"
      case _ => false
    })

    // seed watermark = epoch → all 3 users rows, explicit nulls, ordered
    val users1 = Files.readString(Paths.get(s"$out/db_data/000001/users.json"))
    assert(users1.startsWith("[") && users1.endsWith("]"))
    assert(users1.contains(""""created_at":"2024-01-01 00:00:00""""))
    assert(users1.split("\\},\\{").length == 3)
    val codes1 = Files.readString(Paths.get(s"$out/db_data/000001/codes.json"))
    assert(codes1.contains(""""label":null"""), codes1)

    // run 2: watermark = 2024-02-15 → only the March row (strict >)
    val r2 = Exporter.run(fixtureSource, out, store,
      runTime = "2024-03-15 00:00:00")
    assert(r2.serial == 2L)
    assert(r2.watermark == "2024-02-15 00:00:00")
    val users2 = Files.readString(Paths.get(s"$out/db_data/000002/users.json"))
    assert(users2.split("\\},\\{").length == 1)
    assert(users2.contains(""""id":3"""))
    // full-dump table re-exports everything
    val codes2 = Files.readString(Paths.get(s"$out/db_data/000002/codes.json"))
    assert(codes2.split("\\},\\{").length == 2)
  }

  test("empty result writes a literal [] (reference K2)") {
    val out = tmpDir("empty")
    val store = FileCheckpointStore(s"$out/ckpt.json")
    store.write(CheckpointState("2030-01-01 00:00:00", 0L, 0L, ""))
    Exporter.run(fixtureSource, out, store, runTime = "2030-01-02 00:00:00")
    val users = Files.readString(Paths.get(s"$out/db_data/000001/users.json"))
    assert(users == "[]")
  }

  test("checkpoint does not advance on table failure unless flagged") {
    val boom = new TableSource {
      override def tableNames: Seq[String] = Seq("good", "bad")
      override def read(table: String) =
        if (table == "bad") throw new RuntimeException("no such table")
        else fixtureSource.read("codes")
    }
    val out = tmpDir("fail")
    val store = FileCheckpointStore(s"$out/ckpt.json")
    val r = Exporter.run(boom, out, store, runTime = "2024-01-01 00:00:00")
    assert(r.outcomes.exists(_.isInstanceOf[Exporter.Failed]))
    assert(!r.checkpointAdvanced)
    assert(store.read().dataSerial == 0L)

    val r2 = Exporter.run(boom, out, store,
      advanceOnPartialFailure = true, runTime = "2024-01-01 00:00:00")
    assert(r2.checkpointAdvanced)
    assert(store.read().dataSerial == 1L)
  }

  test("sanitize matches the reference transform") {
    assert(Exporter.sanitize("Weird-Name!") == "weirdname")
    assert(Exporter.sanitize("UPPER_case_9") == "upper_case_9")
  }

  test("tables are read under their ORIGINAL name; sanitize only shapes " +
    "the output key (deviation from the reference's sanitized read)") {
    val src = new TableSource {
      override def tableNames: Seq[String] = Seq("Weird-Name")
      override def read(table: String) = {
        assert(table == "Weird-Name", s"read called with sanitized '$table'")
        fixtureSource.read("codes")
      }
    }
    val out = tmpDir("orig")
    val store = FileCheckpointStore(s"$out/ckpt.json")
    val r = Exporter.run(src, out, store, runTime = "2024-01-01 00:00:00")
    assert(r.exported.map(_.table) == Seq("weirdname"))
    assert(Files.exists(Paths.get(s"$out/db_data/000001/weirdname.json")))
  }

  test("GraftJob runs schema dump then export in one invocation, " +
    "containing phase failures (lambda_handler twin)") {
    val out = tmpDir("job")
    val store = FileCheckpointStore(s"$out/ckpt.json")
    val r = GraftJob.run(fixtureSource, out, store)
    assert(r.schema.exists(_.changed))
    assert(r.data.exists(_.exported.nonEmpty))
    // a schema-phase failure never blocks the data phase
    val boom = new TableSource {
      override def tableNames: Seq[String] =
        throw new RuntimeException("catalog down")
      override def read(table: String) = fixtureSource.read("codes")
    }
    val r2 = GraftJob.run(boom, out, store)
    assert(r2.schema.isLeft && r2.data.isLeft) // both phases contained
  }

  test("schema dump: MD5 gate writes only on change") {
    val out = tmpDir("schema")
    val store = FileCheckpointStore(s"$out/ckpt.json")
    val r1 = SchemaDump.run(fixtureSource, out, store)
    assert(r1.changed && r1.path.exists(_.endsWith("000001_db_schema.json")))
    val doc = Files.readString(Paths.get(r1.path.get))
    assert(doc.contains(""""users":[["id","bigint"],["name","string"]"""))
    // schema ignore list ≠ data ignore list: schema_migration IS dumped
    assert(doc.contains("schema_migration"))

    val r2 = SchemaDump.run(fixtureSource, out, store)
    assert(!r2.changed && r2.path.isEmpty)
    assert(store.read().schemaSerial == 1L)

    val r3 = SchemaDump.run(fixtureSource, out, store,
      ignore = Set("codes"))
    assert(r3.changed && r3.path.exists(_.endsWith("000002_db_schema.json")))
  }

  test("JSON array sink round-trips a real fixture table") {
    val out = tmpDir("roundtrip")
    val nation = Fixtures.table(spark, sf, "nation")
    JsonArraySink.write(nation, s"$out/nation.json")
    val txt = Files.readString(Paths.get(s"$out/nation.json"))
    // parse back with Spark's JSON reader and compare row count
    import spark.implicits._
    val parsed = spark.read.json(
      Seq(txt.stripPrefix("[").stripSuffix("]")
        .split("\\},\\{").toSeq.map {
          s => ("{" + s.stripPrefix("{").stripSuffix("}") + "}")
        }: _*).toDS)
    assert(parsed.count() == nation.count())
  }

  test("PartList composer: one part-list call, ordered, no driver reads") {
    // recording fake: captures the completion call shape and proves the
    // SINK issued exactly one completeByParts with fragments in
    // partition order — the reference's single complete_multipart_upload
    // (db_extractor_full.py:289-296). Fragment bytes never move through
    // the sink: the store receives PATHS (UploadPartCopy refs in the
    // real S3 binding), and this fake never opens them.
    var calls = List.empty[(java.nio.file.Path, Seq[PartSpec])]
    val recorder = new PartStore {
      def completeByParts(out: java.nio.file.Path,
          parts: Seq[PartSpec]): Unit = calls ::= (out, parts)
    }
    val out = tmpDir("partlist")
    val nation = Fixtures.table(spark, sf, "nation").repartition(4)
    JsonArraySink.write(nation, s"$out/nation.json",
      composer = Composer.PartList(recorder))
    assert(calls.length == 1)
    val specs = calls.head._2
    // framing literals bracket the list; fragments between, in order
    assert(specs.head.literal.contains("[")
      && specs.last.literal.contains("]"))
    val frags = specs.filter(_.path.isDefined)
    assert(frags.nonEmpty)
    // exactly the first fragment drops its baked-in framing comma
    // (UploadPartCopy byte-range offset 1 in the real binding)
    assert(frags.head.skipLeadingByte
      && frags.tail.forall(!_.skipLeadingByte))
    // partition order: the part-index sort partFiles guarantees
    val idx = frags.map(_.path.get.getFileName.toString
      .split('-')(1).toLong)
    assert(idx == idx.sorted)
  }

  test("PartList completion parses to the same array as LocalByteSplice") {
    val out = tmpDir("partlist_eq")
    val nation = Fixtures.table(spark, sf, "nation").repartition(3)
    JsonArraySink.write(nation, s"$out/splice.json")
    JsonArraySink.write(nation, s"$out/parts.json",
      composer = Composer.PartList(LocalConcatStore))
    // byte shapes differ only by interstitial newlines (legal JSON
    // whitespace); the parsed arrays must be identical
    def parse(p: String) = spark.read
      .option("multiLine", "true").json(p)
      .orderBy("n_nationkey").collect().toSeq
    assert(parse(s"$out/splice.json") == parse(s"$out/parts.json"))
    // empty table: completion list is just the framing -> literal []
    val empty = Fixtures.table(spark, sf, "nation").where("n_nationkey < 0")
    JsonArraySink.write(empty, s"$out/empty.json",
      composer = Composer.PartList(LocalConcatStore))
    assert(Files.readString(Paths.get(s"$out/empty.json")) == "[]")
  }

  test("part stitching stays numeric past the 5-digit part index") {
    // Spark's part-%05d widens to 6 digits after partition 99999; a
    // lexicographic sort would put part-100000 before part-99999 and
    // scramble the stitched row order at the 100 TB design scale.
    val dir = Paths.get(tmpDir("parts6"))
    val names = Seq("part-100001-x.txt", "part-00000-a.txt",
      "part-99999-b.txt", "part-100000-c.txt", "part-00010-d.txt")
    names.foreach(n => Files.writeString(dir.resolve(n), ""))
    Files.writeString(dir.resolve("_SUCCESS"), "") // must be ignored
    val ordered = JsonArraySink.partFiles(dir).map(_.getFileName.toString)
    assert(ordered == Seq("part-00000-a.txt", "part-00010-d.txt",
      "part-99999-b.txt", "part-100000-c.txt", "part-100001-x.txt"))
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The elements of a JSON-array file, parsed (either composer). */
  private def elements(p: String): Seq[com.fasterxml.jackson.databind.JsonNode] = {
    import scala.jdk.CollectionConverters._
    mapper.readTree(Files.readString(Paths.get(p))).elements().asScala.toSeq
  }

  test("ordered merge: sorted runs emit orderBy(created_at) order for " +
    "every key type; uncovered types take the global sort") {
    val rnd = new scala.util.Random(11)
    val base = java.time.LocalDateTime.of(1969, 12, 31, 23, 59, 59)
    // values from a small domain, so created_at ties are common
    val types: Seq[(DataType, Int => Any)] = Seq(
      TimestampType -> ((i: Int) => java.sql.Timestamp.valueOf(
        base.plusNanos(i * 987654321000L))),
      // pre-epoch, micros, and wall times a US time zone skips or repeats
      TimestampNTZType -> ((i: Int) => ts(Seq("1969-12-31T23:59:59.999999",
        "1970-01-01T00:00:00", "1900-01-01T00:00:00.5", "2024-03-10T01:59:59",
        "2024-03-10T02:30:00", "2024-03-10T03:15:00", "2024-03-10T03:00:00.000001",
        "2024-11-03T01:30:00", "2024-11-03T01:15:00",
        "9999-12-31T23:59:59.999999")(i))),
      DateType -> ((i: Int) => java.sql.Date.valueOf(
        java.time.LocalDate.of(1969, 12, 31).plusDays(i * 400L))),
      LongType -> ((i: Int) => Seq(Long.MinValue, -5000000000L, -256L, -1L, 0L, 1L,
        255L, 256L, 5000000000L, Long.MaxValue)(i)),
      // UTF-8 byte order, which Spark sorts by, is not UTF-16 order:
      // the emoji (4 UTF-8 bytes, a surrogate pair) sorts after U+FF21
      StringType -> ((i: Int) => Seq("", "a", "ab", "Z", "é", "É", "日本",
        "\uFF21", "\uD83D\uDE00", "zz")(i)),
      DecimalType(12, 2) -> ((i: Int) => new java.math.BigDecimal(
        Seq("-1000.50", "-1.00", "0.00", "0.01", "7.25", "99.99", "100.00",
          "3.14", "-0.01", "12345.67")(i))))
    val out = tmpDir("merge")
    // a session zone with DST: no key may read the wall clock through it
    val prevZone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try types.foreach { case (t, value) =>
      // 6 partitions: two empty, one holding most rows; null created_at
      // rows reach the sink only through the created-and-updated route
      var id = 0L
      val parts = Seq(0, 70, 3, 0, 9, 1).map(n => (0 until n).map { _ =>
        id += 1
        Row(id, if (rnd.nextInt(8) == 0) null else value(rnd.nextInt(10)),
          ts("2024-06-01T00:00:00"))
      })
      val src = spark.createDataFrame(
        spark.sparkContext.parallelize(parts, parts.size).flatMap(identity),
        StructType(Seq(StructField("id", LongType),
          StructField("created_at", t), StructField("updated_at",
            TimestampNTZType))))
      val (df, order) = t match {
        case TimestampType | TimestampNTZType =>
          Watermark(src, "1960-01-01 00:00:00").get
        case _ => (src, Some("created_at"))
      }
      assert(order == Some("created_at"))
      assert(df.rdd.getNumPartitions == 6)
      assert(JsonArraySink.sortKey(df, "created_at").isDefined
        == !t.isInstanceOf[DecimalType], t)
      val want = Coercions.jsonRow(df.orderBy("created_at")).collect()
        .map(r => mapper.readTree(r.getString(0))).toSeq
      assert(want.length == parts.map(_.size).sum)
      val splice = s"$out/${t.typeName}.json"
      val listed = s"$out/${t.typeName}_parts.json"
      JsonArraySink.write(df, splice, orderBy = order)
      JsonArraySink.write(df, listed, orderBy = order,
        composer = Composer.PartList(LocalConcatStore))
      for (p <- Seq(splice, listed)) {
        val got = elements(p)
        assert(got.map(_.get("created_at")) == want.map(_.get("created_at")),
          s"$t: $p")
        assert(got.sortBy(_.get("id").asLong) == want.sortBy(_.get("id").asLong),
          s"$t: $p")
      }
      // an empty result is still one array under both composers
      val none = df.where("id < 0")
      JsonArraySink.write(none, s"$out/none.json", orderBy = order)
      JsonArraySink.write(none, s"$out/none_parts.json", orderBy = order,
        composer = Composer.PartList(LocalConcatStore))
      assert(Files.readString(Paths.get(s"$out/none.json")) == "[]")
      assert(Files.readString(Paths.get(s"$out/none_parts.json")) == "[]")
    } finally spark.conf.set("spark.sql.session.timeZone", prevZone)
  }

  test("a stray .part-* attempt file in the staging directory never " +
    "reaches the output") {
    val dir = Paths.get(tmpDir("stray"))
    val lines = spark.range(0, 5, 1, 3).selectExpr(
      "concat('1', lpad(hex(id), 16, '0'), '\t{\"id\":', id, '}')")
    JsonArraySink.stage(lines, dir)
    // what a failed or duplicate task attempt leaves before its rename
    Files.writeString(dir.resolve(".part-00000-999"), "0\t{\"stray\":1}\n")
    Files.writeString(dir.resolve(".part-00007-12"), "0\t{\"stray\":2}\n")
    val parts = JsonArraySink.partFiles(dir)
    assert(parts.map(_.getFileName.toString) ==
      Seq("part-00000", "part-00001", "part-00002"))
    val out = dir.resolveSibling(s"${dir.getFileName}.json")
    JsonArraySink.compose(parts, out, keyed = true)
    assert(Files.readString(out) ==
      """[{"id":0},{"id":1},{"id":2},{"id":3},{"id":4}]""")
    // staging itself leaves no attempt file behind
    assert(dir.toFile.list().filter(_.startsWith(".")).sorted.toSeq ==
      Seq(".part-00000-999", ".part-00007-12"))
  }

  test("torn checkpoint fails the run without exporting; a leftover " +
    "temp file beside a valid checkpoint is ignored") {
    val torn = Seq(
      "",
      "{}",
      """{"data":{"lastRunTime":"2024-01-01 00:00:00","serialNumber":3},"sch""",
      """{"data":{"lastRunTime":"2024-01-01 00:00:00","serialNumber":3}}""",
      """{"data":{"serialNumber":3},"schema":{"serialNumber":1,"lastMD5Hash":""}}""")
    torn.foreach { doc =>
      val out = tmpDir("torn")
      val ckpt = Paths.get(s"$out/ckpt.json")
      Files.writeString(ckpt, doc)
      val store = FileCheckpointStore(ckpt.toString)
      intercept[Exception](store.read())
      intercept[Exception](Exporter.run(fixtureSource, out, store,
        runTime = "2024-02-15 00:00:00"))
      assert(GraftJob.run(fixtureSource, out, store).data.isLeft, doc)
      // nothing exported or overwritten; the torn document stays for an
      // operator to inspect
      assert(!Files.exists(Paths.get(s"$out/db_data")), doc)
      assert(Files.readString(ckpt) == doc)
    }

    // a crash between writing the temp file and the rename
    val out = tmpDir("torn_tmp")
    val store = FileCheckpointStore(s"$out/ckpt.json")
    val st = CheckpointState("2024-02-15 00:00:00", 4L, 2L, "abc")
    store.write(st)
    Files.writeString(Paths.get(s"$out/.ckpt.json.123.tmp"), """{"data":""")
    assert(store.read() == st)
    val r = Exporter.run(fixtureSource, out, store,
      runTime = "2024-03-15 00:00:00")
    assert(r.serial == 5L && store.read().dataSerial == 5L)
    // the store's own writes leave no temp file behind
    assert(new java.io.File(out).list().filter(_.startsWith(".")).toSeq
      == Seq(".ckpt.json.123.tmp"))
    // an absent checkpoint is still the seed
    assert(FileCheckpointStore(s"$out/absent.json").read()
      == CheckpointState.seed)
  }

  test("an advancing run writes the serial's manifest after the " +
    "checkpoint; a failed run writes none") {
    val boom = new TableSource {
      override def tableNames: Seq[String] = Seq("codes", "bad", "ledger")
      override def read(table: String) =
        if (table == "bad") throw new RuntimeException("no such table")
        else fixtureSource.read(table)
    }
    val out = tmpDir("manifest")
    val store = FileCheckpointStore(s"$out/ckpt.json")
    val manifest = Paths.get(s"$out/db_data/000001/_manifest.json")
    Exporter.run(boom, out, store, runTime = "2024-01-01 00:00:00")
    assert(!Files.exists(manifest))
    val r = Exporter.run(boom, out, store, advanceOnPartialFailure = true,
      runTime = "2024-01-02 00:00:00")
    assert(r.runTime == "2024-01-02 00:00:00")
    assert(Files.readString(manifest) ==
      """{"serial":1,"watermark":"1970-01-01 00:00:00",""" +
      """"runTime":"2024-01-02 00:00:00","tables":[""" +
      s"""{"table":"codes","outcome":"exported",""" +
      s""""path":"$out/db_data/000001/codes.json"},""" +
      """{"table":"bad","outcome":"failed","error":"no such table"},""" +
      """{"table":"ledger","outcome":"skipped",""" +
      """"reason":"updated_at-only table (reference semantics)"}]}""")
    assert(Files.readString(manifest) == r.manifestJson)
  }

  test("a restarted numbering fails loudly and leaves the completed " +
    "serial byte-identical") {
    val out = tmpDir("restart")
    val store = FileCheckpointStore(s"$out/ckpt.json")
    val r1 = GraftJob.run(fixtureSource, out, store)
    assert(r1.schema.exists(_.changed) && r1.data.exists(_.checkpointAdvanced))
    val manifest = Paths.get(s"$out/db_data/000001/_manifest.json")
    assert(Files.exists(manifest))
    def snapshot: Map[String, Seq[Byte]] = {
      import scala.jdk.CollectionConverters._
      val s = Files.walk(Paths.get(out))
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(_.getFileName.toString == "ckpt.json")
        .map(p => p.toString -> Files.readAllBytes(p).toSeq).toMap
      finally s.close()
    }
    val before = snapshot
    assert(before.keySet.exists(_.endsWith("000001_db_schema.json")))

    // the checkpoint is lost and reseeded
    store.write(CheckpointState.seed)
    val e = intercept[IllegalStateException](Exporter.run(fixtureSource,
      out, store, runTime = "2030-01-01 00:00:00"))
    assert(e.getMessage.contains(manifest.toString), e.getMessage)
    assert(store.read() == CheckpointState.seed)
    // a different schema document under the same serial is refused
    val e2 = intercept[IllegalStateException](
      SchemaDump.run(fixtureSource, out, store, ignore = Set("codes")))
    assert(e2.getMessage.contains("000001_db_schema.json"), e2.getMessage)
    assert(store.read() == CheckpointState.seed)
    // through the job: the identical schema dump is a retry that only
    // advances the checkpoint; the data phase fails
    val r2 = GraftJob.run(fixtureSource, out, store)
    assert(r2.schema.exists(_.changed))
    assert(r2.data.left.exists(_.contains(manifest.toString)), r2.data)
    assert(store.read().schemaSerial == 1L && store.read().dataSerial == 0L)
    assert(snapshot == before)
  }

  test("parquet sink mode: sharded columnar output, same routing") {
    val out = tmpDir("pq")
    val store = FileCheckpointStore(s"$out/ckpt.json")
    val r = Exporter.run(fixtureSource, out, store,
      sink = Exporter.Parquet, runTime = "2024-02-15 00:00:00")
    assert(r.exported.map(_.table).sorted == Seq("codes", "users"))
    val users = spark.read.parquet(s"$out/db_data/000001/users.parquet")
    assert(users.count() == 3)
    // native types survive (no JSON string coercion in the parquet path)
    assert(users.schema("created_at").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
  }

  test("sanitized-name collisions surface as Skipped, never vanish") {
    val src = new TableSource {
      override def tableNames: Seq[String] = Seq("Codes", "codes!")
      override def read(table: String) = fixtureSource.read("codes")
    }
    val out = tmpDir("collide")
    val store = FileCheckpointStore(s"$out/ckpt.json")
    val r = Exporter.run(src, out, store, runTime = "2024-01-01 00:00:00")
    assert(r.exported.map(_.table) == Seq("codes"))
    val skips = r.outcomes.collect { case s: Exporter.Skipped => s }
    assert(skips.exists(s => s.table == "codes!"
      && s.reason.contains("collision") && s.reason.contains("Codes")))
    // a collision is not a failure: the checkpoint still advances
    assert(r.checkpointAdvanced)
  }

  test("source-excluded catalog names surface as Skipped") {
    val src = new TableSource {
      override def tableNames: Seq[String] = Seq("codes")
      override def excludedTableNames: Seq[(String, String)] =
        Seq(("bad;drop", "unsafe catalog identifier"))
      override def read(table: String) = fixtureSource.read("codes")
    }
    val out = tmpDir("excl")
    val store = FileCheckpointStore(s"$out/ckpt.json")
    val r = Exporter.run(src, out, store, runTime = "2024-01-01 00:00:00")
    assert(r.outcomes.collect { case s: Exporter.Skipped => s }
      .exists(s => s.table == "bad;drop" && s.reason.contains("unsafe")))
  }

  test("X7 memory telemetry: every run reports peak memory") {
    val out = tmpDir("mem")
    val store = FileCheckpointStore(s"$out/ckpt.json")
    val r = Exporter.run(fixtureSource, out, store,
      runTime = "2024-01-01 00:00:00")
    assert(r.memoryLog.matches(
      """graft\.Exporter - DEBUG - Memory usage: \d+\.\d{2} MB"""),
      r.memoryLog)
  }

  test("CloudStorage maps the reference's S3 semantics to fs.s3a.*") {
    val opts = CloudStorage.s3aOptions()
    assert(opts("fs.s3a.server-side-encryption-algorithm") == "AES256")
    assert(opts("fs.s3a.multipart.size") == (50L * 1024 * 1024).toString)
    assert(opts("fs.s3a.connection.maximum") == "64")
    assert(opts("fs.s3a.fast.upload.active.blocks") == "4")
    // extra overrides win (custom endpoint, per-bucket settings)
    val custom = CloudStorage.s3aOptions(CloudStorage.S3Config(
      extra = Map("fs.s3a.multipart.size" -> "134217728")))
    assert(custom("fs.s3a.multipart.size") == "134217728")
    // configure() lands the keys on the live session's Hadoop conf
    CloudStorage.configure(spark)
    assert(spark.sparkContext.hadoopConfiguration
      .get("fs.s3a.server-side-encryption-algorithm") == "AES256")
  }

  test("IamAuthTokenProvider caches until near-expiry, then re-mints") {
    var now = 0L
    var mints = 0
    val p = new IamAuthTokenProvider(
      mint = () => { mints += 1; s"token-$mints" },
      ttlMs = 14 * 60 * 1000L,
      clock = () => now)
    assert(p() == "token-1" && p() == "token-1" && mints == 1)
    now = 13 * 60 * 1000L // inside TTL: still cached
    assert(p() == "token-1" && mints == 1)
    now = 14 * 60 * 1000L // TTL reached: re-mint
    assert(p() == "token-2" && mints == 2)
    // concurrent callers share one mint per window
    now = 15 * 60 * 1000L
    val tokens = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (1 to 16).map(_ => new Thread(() => { tokens.add(p()); () }))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(tokens.stream().distinct().count() == 1 && mints == 2)
  }

  test("SsmCheckpointStore: seed on absence, round-trip via transport") {
    val params = scala.collection.mutable.Map.empty[String, String]
    val store = new SsmCheckpointStore("/graft/checkpoint",
      params.get, (k, v) => params(k) = v)
    assert(store.read() == CheckpointState.seed)
    val st = CheckpointState("2024-05-01 00:00:00", 7L, 3L, "abc")
    store.write(st)
    // the wire format is the reference's exact JSON document shape
    assert(params("/graft/checkpoint").contains(""""serialNumber":7"""))
    assert(store.read() == st)
    // full export run against the SSM-backed store
    val out = tmpDir("ssm")
    val r = Exporter.run(fixtureSource, out, store,
      runTime = "2024-06-01 00:00:00")
    assert(r.checkpointAdvanced && store.read().dataSerial == 8L)
  }

  test("parallel table export produces identical outputs") {
    val out1 = tmpDir("par1"); val out2 = tmpDir("par2")
    val s1 = FileCheckpointStore(s"$out1/ckpt.json")
    val s2 = FileCheckpointStore(s"$out2/ckpt.json")
    Exporter.run(fixtureSource, out1, s1, runTime = "2024-06-01 00:00:00")
    Exporter.run(fixtureSource, out2, s2, tableParallelism = 4,
      runTime = "2024-06-01 00:00:00")
    for (t <- Seq("users", "codes")) {
      val a = Files.readString(Paths.get(s"$out1/db_data/000001/$t.json"))
      val b = Files.readString(Paths.get(s"$out2/db_data/000001/$t.json"))
      assert(a == b, s"parallel export diverged for $t")
    }
  }
}
