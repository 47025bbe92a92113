package graft.etl

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.io.{BufferedOutputStream, BufferedReader, BufferedWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** The reference's signature sink: ONE JSON **array** per table
  * (db_extractor_full.py:121-297 — multipart S3 upload of `[` + comma-
  * joined row objects + `]`; empty table → literal `[]`,
  * db_extractor_full.py:262-278).
  *
  * Each table is one Spark action with no shuffle, then one driver step,
  * mirroring the reference's multipart mechanics:
  *  - **stage**: a single `foreachPartition` job encodes the rows (coercion
  *    + JSON inside whole-stage codegen) and every task writes its own
  *    partition as one "part" file — the reference's encoded fragments,
  *    which its 4-thread pool uploads as S3 parts. No Hadoop write command
  *    and no commit protocol: a task writes under a dot-prefixed name
  *    unique to its attempt and renames the finished file into place;
  *  - **complete**: the driver turns the parts into one object, the
  *    analogue of CompleteMultipartUpload's ordered part list
  *    (db_extractor_full.py:289-296); see [[Composer]].
  *
  * Row order. The reference streams `ORDER BY created_at` from Postgres
  * (db_extractor_full.py:389,403). With the default
  * [[Composer.LocalByteSplice]] every byte already streams through the
  * driver, so the sink buys the order there instead of with a global sort:
  * the tasks sort their partitions (coalesced to at most one per core, no
  * shuffle), stage each line as `<key>\t<json>` with a byte-ordered key,
  * and completion k-way merges those sorted runs. [[Composer.PartList]]
  * never reads a fragment on the driver, and a `created_at` type the key
  * does not cover has no key, so both keep Spark's global `orderBy`
  * (a range exchange) and concatenate the parts in partition order.
  *
  * Production output at 100 TB should be sharded Parquet/JSONL + manifest
  * (SURVEY.md §7.4 risk 2); this sink exists for reference fidelity and is
  * exercised by golden tests.
  */
object JsonArraySink {

  /** Write `df` as a single JSON-array file at `outPath`. Rows appear in
    * ascending `orderBy` order (nulls first, ties in no set order), or
    * without `orderBy` in partition order, then row order within each
    * partition — the reference's `next_to_write` submission-order
    * stitching (db_extractor_full.py:243-258). Completion strategy per
    * [[Composer]]: local byte-splice (default, golden byte shape) or
    * object-store part-list completion (framing baked into the
    * distributed encode; zero fragment bytes through the driver).
    */
  def write(df: DataFrame, outPath: String,
      uuidCols: Set[String] = Set.empty,
      composer: Composer = Composer.LocalByteSplice,
      orderBy: Option[String] = None): Unit = {
    val out = Paths.get(outPath)
    Files.createDirectories(out.toAbsolutePath.getParent)
    val tmp = Files.createTempDirectory(
      out.toAbsolutePath.getParent, ".json_parts_")
    try {
      val json = Coercions.jsonColumn(df, uuidCols)
      def sorted = orderBy.fold(df)(df.orderBy(_))
      composer match {
        case Composer.LocalByteSplice =>
          orderBy.flatMap(c => sortKey(df, c).map(c -> _)) match {
            case Some((c, key)) =>
              val runs = df
                .coalesce(df.sparkSession.sparkContext.defaultParallelism)
                .sortWithinPartitions(c)
              stage(runs.select(concat(key, lit("\t"), json)), tmp)
              compose(partFiles(tmp), out, keyed = true)
            case None =>
              stage(sorted.select(json), tmp)
              compose(partFiles(tmp), out, keyed = false)
          }
        case Composer.PartList(store) =>
          // framing baked in distributedly: every row `,{obj}` —
          // uniform, so the projection stays one codegen'd concat and
          // no partition needs global first-ness
          stage(sorted.select(concat(lit(","), json)), tmp)
          val specs = PartSpec.lit("[") +:
            partFiles(tmp).zipWithIndex.map { case (p, i) =>
              PartSpec.fragment(p, skipLeadingByte = i == 0)
            } :+ PartSpec.lit("]")
          store.completeByParts(out, specs)
      }
    } finally deleteRecursively(tmp)
  }

  /** `<key>` of the staged line `<key>\t<json>`: a string whose byte
    * order is Spark's ascending order of `c`, nulls first — `0` for null,
    * else `1` + the value in hex. Integral, date and timestamp values
    * become a sign-flipped 64-bit integer in 16 hex digits; strings of the
    * default (byte-ordered) collation the hex of their UTF-8 bytes. None
    * for any other type.
    */
  private[graft] def sortKey(df: DataFrame, c: String): Option[Column] = {
    val v = col(c)
    def int64(x: Column) =
      lpad(hex(x.cast(LongType).bitwiseXOR(lit(Long.MinValue))), 16, "0")
    val key = df.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType => Some(int64(v))
      case DateType => Some(int64(unix_date(v)))
      case TimestampType => Some(int64(unix_micros(v)))
      // microseconds since the epoch from fields that, on TIMESTAMP_NTZ,
      // never consult the session time zone (unix_micros would cast
      // through it, which is not monotonic across a DST gap)
      case TimestampNTZType => Some(int64(
        unix_date(v.cast(DateType)).cast(LongType) * 86400000000L +
          (hour(v) * 3600 + minute(v) * 60).cast(LongType) * 1000000L +
          (date_part(lit("SECOND"), v) * 1000000).cast(LongType)))
      case StringType => Some(hex(v)) // the default, byte-ordered collation
      case _ => None
    }
    key.map(k => when(v.isNull, lit("0")).otherwise(concat(lit("1"), k)))
  }

  /** One Spark action: each task writes the lines of its partition (the
    * one string column of `lines`) to `part-<partition %05d>` in `dir`,
    * first under a dot-prefixed name unique to the task attempt, then
    * renamed into place — a failed or duplicate attempt never leaves a
    * torn `part-*`. Empty partitions write nothing.
    */
  private[graft] def stage(lines: DataFrame, dir: Path): Unit = {
    val d = dir.toString
    lines.toDF("line").select(col("line").cast(BinaryType))
      .as(Encoders.BINARY)
      .foreachPartition((rows: Iterator[Array[Byte]]) => writePart(d, rows))
  }

  private def writePart(dir: String, rows: Iterator[Array[Byte]]): Unit =
    if (rows.hasNext) {
      val ctx = TaskContext.get()
      val name = f"part-${ctx.partitionId()}%05d"
      val tmp = Paths.get(dir, s".$name-${ctx.taskAttemptId()}")
      try {
        val os = new BufferedOutputStream(Files.newOutputStream(tmp), 1 << 16)
        try rows.foreach { r => os.write(r); os.write('\n') }
        finally os.close()
        Files.move(tmp, tmp.resolveSibling(name),
          StandardCopyOption.ATOMIC_MOVE): Unit
      } catch {
        case e: Throwable => Files.deleteIfExists(tmp): Unit; throw e
      }
    }

  /** part-NNNNN files in partition order — sorted by the PARSED part
    * index, not the raw name: part-%05d widens to 6 digits past
    * partition 99999, where a lexicographic sort would place
    * part-100000 before part-99999 and scramble the stitching order.
    * Dot-prefixed attempt files are never parts.
    */
  private[graft] def partFiles(dir: Path): Seq[Path] = {
    val d = dir.toFile
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.startsWith("part-"))
      .sortBy(f => f.getName.split('-')(1).toLong)
      .map(_.toPath).toSeq
  }

  /** Ordered completion: `[` + the staged rows comma-joined + `]`,
    * streamed with one bounded reader buffer per open part. Keyed parts
    * (sorted runs of `<key>\t<json>` lines) are merged on (key, part
    * index), all open at once — at most one per core, see [[write]].
    * Unkeyed parts are concatenated in part order, one open at a time.
    */
  private[graft] def compose(parts: Seq[Path], out: Path,
      keyed: Boolean): Unit = {
    val w = new BufferedWriter(Files.newBufferedWriter(out, UTF_8), 1 << 20)
    try {
      w.write("[")
      var first = true
      def emit(r: Run): Unit = {
        if (!first) w.write(",")
        first = false
        r.writeJson(w)
      }
      if (keyed) {
        val runs = parts.zipWithIndex.map { case (p, i) => new Run(p, i, keyed) }
        try {
          val heap = new java.util.PriorityQueue[Run](
            math.max(1, runs.size), Run.byKeyThenIndex)
          runs.foreach(r => if (r.advance()) heap.add(r))
          while (!heap.isEmpty) {
            val r = heap.poll()
            emit(r)
            if (r.advance()) heap.add(r)
          }
        } finally runs.foreach(_.close())
      } else parts.foreach { p =>
        val r = new Run(p, 0, keyed)
        try while (r.advance()) emit(r)
        finally r.close()
      }
      w.write("]")
    } finally w.close()
  }

  /** A staged part read line by line; `key` is empty when unkeyed. */
  private final class Run(p: Path, val index: Int, keyed: Boolean) {
    private val r = new BufferedReader(Files.newBufferedReader(p, UTF_8),
      1 << 16)
    private var line: String = _
    private var tab = -1
    var key = ""

    def advance(): Boolean = {
      line = r.readLine()
      if (line != null && keyed) {
        tab = line.indexOf('\t')
        key = line.substring(0, tab)
      }
      line != null
    }
    def writeJson(w: java.io.Writer): Unit =
      w.write(line, tab + 1, line.length - tab - 1)
    def close(): Unit = r.close()
  }

  private object Run {
    val byKeyThenIndex: Ordering[Run] = (a, b) => {
      val c = a.key.compareTo(b.key)
      if (c != 0) c else Integer.compare(a.index, b.index)
    }
  }

  private def deleteRecursively(p: Path): Unit = {
    val f = p.toFile
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty)
      .foreach(c => deleteRecursively(c.toPath))
    f.delete(): Unit
  }
}
