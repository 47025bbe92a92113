package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Abstraction over "a database with discoverable tables" — the reference
  * discovers its table set from Postgres `information_schema` at runtime
  * (reference: src/db_extractor_full.py:457-460) and per-table column
  * lists (src/db_extractor_full.py:349-353). The engine programs against
  * this trait; tests and the fixture environment use [[ParquetDirSource]],
  * a real deployment uses [[JdbcSource]].
  */
trait TableSource {
  /** Catalog scan: all exportable table names (reference S1). */
  def tableNames: Seq[String]

  /** Catalog scan: ordered (columnName, typeName) pairs (reference S2/S3). */
  def columns(table: String): Seq[(String, String)] =
    read(table).schema.fields.toSeq
      .map(f => (f.name, f.dataType.simpleString))

  /** Full scan as a DataFrame; Catalyst pushes watermark predicates into
    * the scan (reference S4-S6 build WHERE clauses by hand; here pushdown
    * is free and visible in the plan's PushedFilters). Pushed is not
    * pruned: a Parquet source skips row groups on a TIMESTAMP (LTZ)
    * watermark but reads every row group on a TIMESTAMP_NTZ one
    * (Spark 4.1), so the filter then runs row by row after the scan.
    */
  def read(table: String): DataFrame

  /** Catalog names discovered but excluded from [[tableNames]]
    * (name → reason), e.g. unsafe identifiers. Exporter.run surfaces
    * these as Skipped outcomes so no table vanishes invisibly (the
    * reference would still export such a table under its sanitized
    * name; we refuse, but record the refusal).
    */
  def excludedTableNames: Seq[(String, String)] = Seq.empty
}

/** Directory-of-parquet source: each `<dir>/<name>.parquet` is a table.
  * Stands in for the JDBC catalog in tests and the fixture environment.
  */
final class ParquetDirSource(spark: SparkSession, dir: String)
    extends TableSource {
  override def tableNames: Seq[String] = {
    val d = new java.io.File(dir)
    Option(d.list()).getOrElse(Array.empty[String])
      .toSeq.filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted
  }
  override def read(table: String): DataFrame =
    graft.Fixtures.table(spark, dir, table)
}

/** In-memory source for unit tests of routing/coercion/export semantics. */
final class MapSource(tables: Map[String, DataFrame]) extends TableSource {
  override def tableNames: Seq[String] = tables.keys.toSeq.sorted
  override def read(table: String): DataFrame = tables(table)
}

/** Thin JDBC mapping of the reference's connection semantics
  * (src/db_conn.py:13-29, src/db_extractor_full.py:314-377): server-side
  * streaming becomes `fetchsize`; the read-only transaction becomes
  * `sessionInitStatement`; IAM-token auth would plug in as the password
  * provider. Config-mapping only — no live DB exists in this environment,
  * so this class is deliberately untested beyond construction (SURVEY.md
  * §7.4 risk 5).
  *
  * Scale note: `partitionColumn/numPartitions` is how a 100 TB table scan
  * fans out across executors; the reference's single server-side cursor
  * (one stream per table) is the degenerate numPartitions=1 case.
  */
final class JdbcSource(
    spark: SparkSession,
    url: String,
    props: Map[String, String] = Map.empty,
    fetchSize: Int = 20000,
    statementTimeoutSec: Int = 600,
    partitionColumn: Option[(String, Long, Long, Int)] = None,
    passwordProvider: Option[() => String] = None)
    extends TableSource {

  private def reader = {
    val base = spark.read.format("jdbc")
      .option("url", url)
      .option("fetchsize", fetchSize)
      .option("sessionInitStatement",
        s"SET statement_timeout = '${statementTimeoutSec}s'")
    val withProps = props.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }
    // evaluated per reader construction, so a fresh (or still-cached)
    // token is picked up on every scan — see IamAuthTokenProvider
    passwordProvider.fold(withProps)(p => withProps.option("password", p()))
  }

  private def catalogNames: Seq[String] = {
    import spark.implicits._
    reader.option("query",
      "SELECT table_name FROM information_schema.tables " +
        "WHERE table_schema = 'public'")
      .load().as[String].collect().toSeq
  }

  override def tableNames: Seq[String] =
    catalogNames.filter(JdbcSource.isSafeName)

  override def excludedTableNames: Seq[(String, String)] =
    catalogNames.filterNot(JdbcSource.isSafeName)
      .map(n => (n, "unsafe catalog identifier (outside [A-Za-z0-9_])"))

  override def read(table: String): DataFrame = {
    // `dbtable` is interpolated into `SELECT * FROM <name>` by the JDBC
    // source; reject anything outside [A-Za-z0-9_] rather than trusting
    // information_schema (the reference sanitizes to the same class,
    // db_extractor_full.py:463-473).
    require(JdbcSource.isSafeName(table),
      s"unsafe table name rejected: $table")
    val r = reader.option("dbtable", table)
    partitionColumn match {
      case Some((c, lo, hi, n)) => r
        .option("partitionColumn", c)
        .option("lowerBound", lo).option("upperBound", hi)
        .option("numPartitions", n).load()
      case None => r.load()
    }
  }
}

object JdbcSource {
  /** Identifier whitelist matching the reference's sanitization class. */
  def isSafeName(name: String): Boolean =
    name.nonEmpty && name.forall(c => c.isLetterOrDigit && c < 128 || c == '_')
}

/** The reference's IAM database auth (src/db_conn.py:13-29): a
  * short-lived RDS auth token minted as the connection password. The
  * SDK call (`generate_db_auth_token` / v2 `RdsUtilities
  * .generateAuthenticationToken`) is INJECTED as `mint` — no SDK in
  * this offline build — and this class adds the caching policy a
  * long-lived Spark driver needs where the reference's Lambda mints
  * once per 15-min invocation: the token is reused until `ttlMs`
  * before expiry, then re-minted. Thread-safe so concurrent table
  * exports share one token instead of hammering the STS signer.
  */
final class IamAuthTokenProvider(
    mint: () => String,
    ttlMs: Long = 14 * 60 * 1000L, // refresh 1 min before RDS's 15-min expiry
    clock: () => Long = () => System.currentTimeMillis())
    extends (() => String) {

  private var cached: Option[(String, Long)] = None

  override def apply(): String = synchronized {
    val now = clock()
    cached match {
      case Some((tok, at)) if now - at < ttlMs => tok
      case _ =>
        val tok = mint()
        cached = Some((tok, now))
        tok
    }
  }
}
