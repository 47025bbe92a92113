package graft.etl

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}

/** The data-export run loop — the reference's `db_extractor`
  * (db_extractor_full.py:426-563): discover tables, sanitize names, drop
  * the ignore list, route each table through the watermark dispatch, write
  * one JSON array per table under a serial-numbered prefix, then advance
  * the checkpoint.
  *
  * Fidelity notes (SURVEY.md §2.9 / §7.4):
  *  - the run watermark is captured BEFORE extraction starts (the
  *    reference captures it at module import, db_extractor_full.py:24-26)
  *    so mid-run commits re-export next run — at-least-once, no gaps;
  *  - watermark comparison is strict `>` (db_extractor_full.py:389,403);
  *  - `updated_at`-only tables are skipped (db_extractor_full.py:409-414);
  *  - DEVIATION (flagged): the reference advances the checkpoint even when
  *    individual tables failed (errors swallowed per-worker, :418-421),
  *    losing those tables' missed window. We gate on all-success by
  *    default; `advanceOnPartialFailure = true` restores the reference
  *    behavior;
  *  - DEVIATION: once the checkpoint has advanced, the run writes the
  *    prefix's [[ManifestName]], and a later run whose checkpoint points
  *    at a prefix that has one fails instead of overwriting it (the
  *    reference would silently overwrite after a lost or reset
  *    checkpoint).
  *
  * Per table, [[Watermark]] filters and names the order column, and the
  * sink delivers that order. The JSON-array sink costs one Spark job per
  * table: its tasks sort their own partitions and stage them as part
  * files, and the driver k-way merges the sorted runs while it writes the
  * one array ([[JsonArraySink]]). The Parquet sink keeps a global
  * `orderBy` before its write: its shards are the output, read directly
  * by downstream consumers, so the order must be in the files
  * themselves and no driver step exists to merge it.
  *
  * Scale: table-level fan-out is the reference's (accidentally serial)
  * process-per-table loop (db_extractor_full.py:508-537). Here each
  * table's scan/encode already parallelizes across executors, and tables
  * can additionally run concurrently via `tableParallelism` (driver
  * threads submitting independent Spark jobs — FAIR-scheduler friendly).
  */
object Exporter {

  /** Data-export ignore list (db_extractor_full.py:477-492). */
  val DataIgnore: Set[String] = Set(
    "zip3_distances", "transportation_service_provider_performances",
    "move", "move_to_gbloc", "archived_access_codes", "schema_migration",
    "audit_history_tableslist", "v_locations")

  /** Schema-dump ignore list — intentionally different
    * (db_schema_dump.py:47).
    */
  val SchemaIgnore: Set[String] = Set("audit_history", "v_locations")

  /** Reference sanitization: keep [alnum_], lowercase
    * (db_extractor_full.py:463-473). Lowercasing happens BEFORE the
    * filter (unlike the reference, which filters first): one-to-many
    * lowercase expansions (e.g. U+0130 → "i" + combining dot) would
    * otherwise re-introduce non-alnum characters, making the transform
    * non-idempotent. Result contract: lowercase letters/digits/_ only
    * (Unicode letters allowed, as in the reference's isalnum()).
    */
  def sanitize(name: String): String =
    name.toLowerCase.filter(c =>
      (c.isLetterOrDigit && !c.isUpper) || c == '_')

  /** Output format of the run loop. The reference only emits JSON
    * arrays (K1); Parquet is the engine's primary production sink
    * (SURVEY.md §7.1 — columnar, splittable, predicate-pushdown-able by
    * every downstream consumer), sharded per table with no
    * driver-serial completion step.
    */
  sealed trait SinkMode
  case object JsonArray extends SinkMode
  case object Parquet extends SinkMode

  sealed trait TableOutcome
  final case class Exported(table: String, path: String) extends TableOutcome
  final case class Skipped(table: String, reason: String) extends TableOutcome
  final case class Failed(table: String, error: String) extends TableOutcome

  final case class RunResult(
      serial: Long,
      watermark: String,
      runTime: String,
      outcomes: Seq[TableOutcome],
      checkpointAdvanced: Boolean,
      memoryLog: String) {
    def exported: Seq[Exported] =
      outcomes.collect { case e: Exported => e }

    /** The [[ManifestName]] document: serial, watermark, run time and one
      * entry per table outcome, in outcome order.
      */
    def manifestJson: String = {
      val m = new ObjectMapper()
      val root = m.createObjectNode()
      root.put("serial", serial)
      root.put("watermark", watermark)
      root.put("runTime", runTime)
      val tables = root.putArray("tables")
      outcomes.foreach { o =>
        val (table, outcome, key, value) = o match {
          case Exported(t, p) => (t, "exported", "path", p)
          case Skipped(t, r) => (t, "skipped", "reason", r)
          case Failed(t, e) => (t, "failed", "error", e)
        }
        tables.addObject().put("table", table).put("outcome", outcome)
          .put(key, value): Unit
      }
      m.writeValueAsString(root)
    }
  }

  /** Written into a serial prefix after the checkpoint has advanced past
    * it, so its presence marks the prefix as a completed export.
    */
  val ManifestName = "_manifest.json"

  /** X7 memory telemetry (reference db_extractor_full.py:53-58, which
    * prints `ru_maxrss` after each run): the driver process's peak RSS
    * from /proc/self/status VmHWM, falling back to current JVM heap
    * where /proc isn't available. Emitted (and returned on RunResult)
    * at the end of every export run.
    */
  private[etl] def memoryLogLine(): String = {
    val hwmMb: Option[Double] =
      try {
        val src = scala.io.Source.fromFile("/proc/self/status")
        try src.getLines()
          .collectFirst { case l if l.startsWith("VmHWM:") =>
            l.trim.split("\\s+")(1).toDouble / 1024.0 }
        finally src.close()
      } catch { case _: Exception => None }
    val mb = hwmMb.getOrElse(
      (Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory)
        / 1048576.0)
    f"graft.Exporter - DEBUG - Memory usage: $mb%.2f MB"
  }

  /** One export run. `runTime` is injectable for deterministic tests;
    * callers default it to "now", captured before extraction begins.
    */
  def run(
      source: TableSource,
      outDir: String,
      store: CheckpointStore,
      ignore: Set[String] = DataIgnore,
      uuidCols: Set[String] = Set.empty,
      advanceOnPartialFailure: Boolean = false,
      tableParallelism: Int = 1,
      sink: SinkMode = JsonArray,
      runTime: String = Coercions.nowPyString()): RunResult = {

    val st = store.read()
    val serial = st.dataSerial + 1
    val prefix = f"$outDir/db_data/$serial%06d"
    // A prefix without a manifest is a retry after a partial failure (the
    // checkpoint did not advance) and is reused; one with a manifest was
    // completed by an earlier run, so the checkpoint is behind it.
    val manifest = Paths.get(prefix, ManifestName)
    if (Files.exists(manifest))
      throw new IllegalStateException(s"$manifest exists: serial $serial " +
        s"is a completed export, but the checkpoint's data serial is " +
        s"${st.dataSerial}; refusing to overwrite it")

    // DEVIATION (flagged, SURVEY.md §1.4): the reference reads via the
    // SANITIZED name (db_extractor_full.py:377 interpolates it into
    // SQL), so a name that changes under sanitization silently breaks.
    // Here the source is read under the ORIGINAL name; sanitization
    // only shapes the output key. When two originals collide on the
    // same sanitized output name, the first wins and the rest are
    // surfaced as Skipped outcomes — never silently dropped (the loser
    // would otherwise vanish from the export while the checkpoint still
    // advanced past its data).
    val mapped: Seq[(String, String)] = source.tableNames
      .map(t => (t, sanitize(t)))
      .filter(_._2.nonEmpty)
    val winners: Map[String, String] =
      mapped.distinctBy(_._2).map(_.swap).toMap
    val collisionOutcomes: Seq[TableOutcome] = mapped
      .filter { case (orig, clean) => winners(clean) != orig }
      .map { case (orig, clean) =>
        Skipped(orig, s"sanitized-name collision: '$clean' already " +
          s"claimed by '${winners(clean)}'")
      } ++ source.excludedTableNames.map { case (n, reason) =>
        Skipped(n, s"excluded by source: $reason")
      }
    val tables: Seq[(String, String)] = mapped
      .distinctBy(_._2)
      .filterNot { case (_, clean) => ignore.contains(clean) }

    val outcomes: Seq[TableOutcome] = collisionOutcomes ++ {
      def one(tc: (String, String)): TableOutcome = {
        val (orig, t) = tc
        try {
          Watermark(source.read(orig), st.lastRunTime) match {
            case None =>
              Skipped(t, "updated_at-only table (reference semantics)")
            case Some((df, order)) => sink match {
              case JsonArray =>
                val path = s"$prefix/$t.json"
                JsonArraySink.write(df, path, uuidCols, orderBy = order)
                Exported(t, path)
              case Parquet =>
                val path = s"$prefix/$t.parquet"
                order.fold(df)(df.orderBy(_))
                  .write.mode("overwrite").parquet(path)
                Exported(t, path)
            }
          }
        } catch {
          case e: Exception => Failed(t, String.valueOf(e.getMessage))
        }
      }
      if (tableParallelism <= 1) tables.map(one)
      else {
        import scala.concurrent._
        import scala.concurrent.duration.Duration
        val pool = java.util.concurrent.Executors
          .newFixedThreadPool(tableParallelism)
        implicit val ec: ExecutionContext =
          ExecutionContext.fromExecutor(pool)
        try Await.result(
          Future.sequence(tables.map(t => Future(one(t)))), Duration.Inf)
        finally pool.shutdown()
      }
    }

    val ok = !outcomes.exists(_.isInstanceOf[Failed])
    val advance = ok || advanceOnPartialFailure
    val memLog = memoryLogLine()
    val result =
      RunResult(serial, st.lastRunTime, runTime, outcomes, advance, memLog)
    if (advance) {
      store.write(st.copy(lastRunTime = runTime, dataSerial = serial))
      AtomicFile.write(manifest, result.manifestJson)
    }
    println(memLog)
    result
  }
}
