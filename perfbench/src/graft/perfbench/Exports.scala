package graft.perfbench

import com.fasterxml.jackson.core.{JsonFactory, JsonToken}
import graft.etl._
import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Catalog and read calls of a [[TableSource]], wrapped in spans. Each
  * `read` also opens the span of the table the Exporter is now working
  * on, which stays open until the next `read` or the end of the run, and
  * counts the watermark route of the table's schema.
  */
final class TracedSource(inner: TableSource, t: Tracer) extends TableSource {
  val routes = mutable.Map[String, Int]().withDefaultValue(0)
  private var table: Option[Span] = None

  private def catalog[A](a: => A): A = t.span("etl.Source.catalog")(a)
  override def tableNames: Seq[String] = catalog(inner.tableNames)
  override def columns(table: String): Seq[(String, String)] = catalog(inner.columns(table))
  override def excludedTableNames: Seq[(String, String)] = catalog(inner.excludedTableNames)

  override def read(name: String): DataFrame = {
    closeTable()
    table = Some(t.open("etl.Exporter.table"))
    val df = t.span("etl.Source.read")(inner.read(name))
    routes(Watermark.route(df.schema.fieldNames.toSeq) match {
      case Watermark.FullDump => "full"
      case Watermark.CreatedOnly => "created"
      case Watermark.CreatedAndUpdated => "created_updated"
      case Watermark.SkipUpdatedOnly => "skipped"
    }) += 1
    df
  }

  def closeTable(): Unit = { table.foreach(t.close); table = None }
}

final class TracedStore(inner: CheckpointStore, t: Tracer) extends CheckpointStore {
  override def read(): CheckpointState = t.span("etl.Checkpoint.read")(inner.read())
  override def write(st: CheckpointState): Unit = t.span("etl.Checkpoint.write")(inner.write(st))
}

object Exports {

  /** One invocation of what `GraftJob.run` does: the schema dump, then the
    * data export with the JSON-array sink and one table at a time.
    */
  def invoke(ctx: Ctx, src: TracedSource, out: Path, store: CheckpointStore,
      runTime: String): (SchemaDump.Result, Exporter.RunResult) = {
    val t = ctx.tracer
    val schema = t.span("etl.SchemaDump.run")(SchemaDump.run(src, out.toString, store))
    val data = t.span("etl.Exporter.run") {
      try Exporter.run(src, out.toString, store, tableParallelism = 1, runTime = runTime)
      finally src.closeTable()
    }
    (schema, data)
  }

  /** Parses one JSON array file: (elements, sum of the top-level "id"
    * fields). Throws on anything that is not one well-formed array.
    */
  def parseArray(p: Path): (Long, Long) = {
    val jp = new JsonFactory().createParser(p.toFile)
    try {
      require(jp.nextToken() == JsonToken.START_ARRAY, s"$p: not a JSON array")
      var n = 0L; var ids = 0L
      var tok = jp.nextToken()
      while (tok == JsonToken.START_OBJECT) {
        n += 1
        tok = jp.nextToken()
        while (tok == JsonToken.FIELD_NAME) {
          val f = jp.getCurrentName
          tok = jp.nextToken()
          if (f == "id" && tok == JsonToken.VALUE_NUMBER_INT) ids += jp.getLongValue
          else jp.skipChildren()
          tok = jp.nextToken()
        }
        require(tok == JsonToken.END_OBJECT, s"$p: malformed row")
        tok = jp.nextToken()
      }
      require(tok == JsonToken.END_ARRAY, s"$p: unterminated array")
      require(jp.nextToken() == null, s"$p: trailing content")
      (n, ids)
    } finally jp.close()
  }

  private def setupSource(ctx: Ctx, dir: Path) =
    new TracedSource(new ParquetDirSource(ctx.spark, dir.toString), ctx.tracer)

  /** Operations come in groups of one cold and three warm invocations, so
    * the median invocation sits inside the warm cluster instead of between
    * the cold and the warm one.
    */
  private val Group = 4
  private def isCold(i: Int): Boolean = i % Group == 0

  /** A run is a fixed number of operations (`ops`, whole groups), sized to
    * take about `seconds` on 4 cores, so every run, traced or not, and both
    * sides of a comparison do the same work. A box more than four times
    * slower stops early at a group boundary.
    */
  private def keepGoing(ctx: Ctx, start: Long, i: Int): Boolean = {
    val el = (System.nanoTime() - start) / 1e9
    (i % Group != 0) ||
      (i < ctx.cfg.get("ops").asInt() && !(el > 4 * ctx.num("seconds") && i >= Group))
  }

  /** In a traced run, groups go traced, untraced, untraced, traced, ... so
    * JIT warm-up over the run does not bias the overhead.
    */
  private def tracedOp(ctx: Ctx, i: Int): Boolean =
    ctx.traced && Set(0, 3)((i / Group) % 4)

  /** Per-layer counts gathered from the traced invocations. */
  final class Counts {
    val routes = mutable.Map[String, Int]().withDefaultValue(0)
    val outcomes = mutable.Map[String, Int]().withDefaultValue(0)
    var schemaChanged = 0
    def add(src: TracedSource, schema: SchemaDump.Result, data: Exporter.RunResult): Unit = {
      src.routes.foreach { case (k, v) => routes(k) += v }
      if (schema.changed) schemaChanged += 1
      data.outcomes.foreach {
        case _: Exporter.Exported => outcomes("exported") += 1
        case _: Exporter.Skipped => outcomes("skipped") += 1
        case _: Exporter.Failed => outcomes("failed") += 1
      }
    }
  }

  def incremental(ctx: Ctx): Outcome = {
    val out = new Outcome
    val t0 = System.nanoTime()
    val stage = java.nio.file.Paths.get(ctx.str("stage_dir"))
    val runTimes = ctx.cfg.get("run_times").elements().asScala.map(_.asText()).toIndexedSeq
    val expected = ctx.cfg.get("expected").elements().asScala.toIndexedSeq
    val tables = Seq("inc_created", "inc_created_updated", "inc_updated", "inc_full")
    val dst = ctx.work.resolve("inc_out")
    val store = new TracedStore(FileCheckpointStore(dst.resolve("ckpt.json").toString), ctx.tracer)
    val incBase = java.nio.file.Paths.get(ctx.str("inc_dir"))
    var srcDir = ctx.work.resolve("inc_src_0")
    Trees.linkTree(incBase, srcDir)
    // bootstrap, which is also the warm-up: the first invocation from the
    // seed checkpoint dumps every table
    val (_, boot) = invoke(ctx, setupSource(ctx, srcDir), dst, store, runTimes(0))
    out.check(boot.serial == 1 && boot.checkpointAdvanced, s"bootstrap: ${boot.outcomes}")
    out.info("warmup_s") = (System.nanoTime() - t0) / 1e9

    val ops = mutable.ArrayBuffer[Op]()
    val counts = new Counts
    val start = System.nanoTime()
    var i = 0
    while (keepGoing(ctx, start, i) && i + 1 < runTimes.size) {
      val k = i + 1
      val cold = isCold(i)
      if (cold) {
        val next = ctx.work.resolve(s"inc_src_$k")
        Trees.linkTree(srcDir, next)
        Trees.deleteTree(srcDir)
        srcDir = next
      }
      // the source receives delta k between invocation k-1 and k
      tables.foreach { t =>
        Files.move(stage.resolve(s"$t/$k.parquet"),
          srcDir.resolve(s"$t.parquet/part-$k.parquet"), StandardCopyOption.ATOMIC_MOVE)
      }
      val serialDir = dst.resolve(f"db_data/${k + 1}%06d")
      val existedBefore = Files.exists(serialDir)
      val before = Trees.listing(dst.resolve("db_data"))
      val src = setupSource(ctx, srcDir)
      val traced = tracedOp(ctx, i)
      val ((schema, data), wall, cpu) =
        ctx.op("invocation", traced)(invoke(ctx, src, dst, store, runTimes(k)))
      // output checks, outside the timed region
      val st = FileCheckpointStore(dst.resolve("ckpt.json").toString).read()
      out.check(!existedBefore, s"invocation $k: serial directory existed before the run")
      out.check(data.serial == k + 1 && data.checkpointAdvanced && st.dataSerial == k + 1 &&
        st.lastRunTime == runTimes(k), s"invocation $k: serial ${data.serial} -> ${st.dataSerial}")
      out.check(!schema.changed, s"invocation $k: schema dump rewritten without a schema change")
      out.check(Trees.listing(dst.resolve("db_data")).filterNot(_._1.startsWith(f"${k + 1}%06d"))
        == before, s"invocation $k: an earlier serial directory changed")
      out.check(data.outcomes.exists {
        case Exporter.Skipped("inc_updated", _) => true
        case _ => false
      } && data.exported.size == 3, s"invocation $k: outcomes ${data.outcomes}")
      var exported = 0L; var bytes = 0L
      val exp = expected(i)
      Seq("inc_created", "inc_created_updated", "inc_full").foreach { t =>
        val f = serialDir.resolve(s"$t.json")
        val (n, ids) = try parseArray(f) catch { case _: Exception => (-1L, 0L) }
        val (en, eids) = (exp.get(t).get(0).asLong(), exp.get(t).get(1).asLong())
        out.check(n == en && ids == eids,
          s"invocation $k: $t exported $n rows (id sum $ids), expected $en ($eids)")
        exported += math.max(n, 0L)
        if (Files.exists(f)) bytes += Files.size(f)
      }
      out.check(!Files.exists(serialDir.resolve("inc_updated.json")),
        s"invocation $k: updated_at-only table was exported")
      if (traced) counts.add(src, schema, data)
      ops += Op(cold, traced, wall, cpu, exported, bytes)
      i += 1
    }
    Trees.deleteTree(srcDir)
    finish(ctx, out, ops.toSeq, counts)
    out
  }

  /** End-to-end values from the untraced operations; per-layer values
    * from the traced ones and their spans.
    */
  private def finish(ctx: Ctx, out: Outcome, ops: Seq[Op], counts: Counts): Unit = {
    val plain = ops.filterNot(_.traced)
    val walls = plain.map(_.wallS)
    out.e2e ++= Seq(
      "invocation_p50_s" -> Stats.median(walls),
      "cold_pass_s" -> Stats.median(plain.filter(_.cold).map(_.wallS)),
      "warm_pass_s" -> Stats.median(plain.filterNot(_.cold).map(_.wallS)),
      "executor_cpu_s" -> Stats.median(plain.map(_.cpuS)))
    out.info("invocations") = ops.size
    out.info("walls") = ops.map(o => f"${if (o.cold) "c" else "w"}:${o.wallS}%.3f").mkString(" ")

    val tr = ops.filter(_.traced)
    val n = tr.size.toDouble
    def per(v: Double) = if (n > 0) v / n else 0.0
    val rowsOut = plain.map(_.rows).sum.toDouble
    out.layer ++= Seq(
      "export_rows_per_s" -> (if (walls.sum > 0) rowsOut / walls.sum else 0.0),
      "bytes_written_per_row" -> (if (rowsOut > 0) plain.map(_.bytes).sum / rowsOut else 0.0),
      "ops_failed_ratio" -> (if (out.attempted > 0) out.failed.toDouble / out.attempted else 0.0),
      "trace.overhead_ratio" -> Layers.overhead(tr.map(_.wallS), walls))
    if (n > 0) {
      val t = ctx.tracer
      val spans = t.synchronized(t.spans.toList)
      val byId = spans.map(s => s.id -> s).toMap
      def under(s: Span, name: String): Boolean = {
        var p = byId.get(s.parent)
        while (p.isDefined && p.get.name != name) p = byId.get(p.get.parent)
        p.isDefined
      }
      val tableS = Stats.spanSum(spans, "etl.Exporter.table")
      val jobS = spans.filter(s => s.name == "spark.job" && under(s, "etl.Exporter.table"))
        .map(s => (s.end - s.start) / 1e9).sum
      val sums = t.synchronized(t.stageSums.toList)
      val rowsRead = sums.map(_._2.inRows).sum.toDouble
      val facts = t.synchronized(t.executions.toList)
      val rowsTraced = tr.map(_.rows).sum.toDouble
      out.layer ++= Seq(
        "etl.Checkpoint.read_s" -> per(Stats.spanSum(spans, "etl.Checkpoint.read")),
        "etl.Checkpoint.write_s" -> per(Stats.spanSum(spans, "etl.Checkpoint.write")),
        "etl.Source.catalog_s" -> per(Stats.spanSum(spans, "etl.Source.catalog")),
        "etl.Source.read_calls" -> per(spans.count(_.name == "etl.Source.read")),
        "etl.SchemaDump.s" -> per(Stats.spanSum(spans, "etl.SchemaDump.run")),
        "etl.SchemaDump.changed" -> per(counts.schemaChanged),
        "etl.Watermark.route.full" -> per(counts.routes("full")),
        "etl.Watermark.route.created" -> per(counts.routes("created")),
        "etl.Watermark.route.created_updated" -> per(counts.routes("created_updated")),
        "etl.Watermark.route.skipped" -> per(counts.routes("skipped")),
        "etl.scan.rows_read" -> per(rowsRead),
        "etl.scan.bytes_read" -> per(sums.map(_._2.inBytes).sum),
        "etl.Watermark.selectivity" -> (if (rowsRead > 0) rowsTraced / rowsRead else 0.0),
        "etl.Exporter.table_s" -> per(tableS),
        "etl.sink.job_s" -> per(jobS),
        "etl.sink.driver_s" -> per(tableS - jobS),
        "etl.sink.part_files" -> per(facts.map(_.getOrElse("written_files", 0.0)).sum),
        "etl.sink.bytes" -> per(tr.map(_.bytes).sum),
        "etl.Exporter.tables_exported" -> per(counts.outcomes("exported")),
        "etl.Exporter.tables_skipped" -> per(counts.outcomes("skipped")),
        "etl.Exporter.tables_failed" -> per(counts.outcomes("failed")))
      Layers.spark(ctx, n, tr.map(_.wallS).sum, facts, out)
    }
    Layers.fill(ctx, out)
  }
}
