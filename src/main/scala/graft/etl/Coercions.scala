package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's JSON type coercions, applied at encode time by its
  * `_default` hook (src/db_extractor_full.py:151-158):
  *   UUID     → `uuid.hex`          (32-char lowercase hex, no dashes)
  *   datetime → `str(o)`            (space separator; fractional seconds
  *                                   omitted when exactly zero — Python
  *                                   str() behavior)
  *   Decimal  → `str(o)`            (exact decimal string)
  *   other    → `str(o)` fallback; JSON natives pass through.
  *
  * Expressed here as column transforms so they run inside whole-stage
  * codegen on executors — no driver-side row loop (the reference encodes
  * row-at-a-time in Python; SURVEY.md §1.1).
  */
object Coercions {

  /** Driver-side `str(datetime.now())` — the reference's watermark capture
    * (db_extractor_full.py:24-26, :543): space separator, microseconds,
    * fractional part omitted when exactly zero.
    */
  def nowPyString(): String =
    pyString(java.time.LocalDateTime.now())

  def pyString(t: java.time.LocalDateTime): String = {
    val base = t.format(
      java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    val micros = t.getNano / 1000
    if (micros == 0) base else f"$base.$micros%06d"
  }

  /** UUID string (with dashes) → Python `uuid.hex` form. */
  def uuidHex(c: Column): Column = lower(regexp_replace(c, "-", ""))

  /** Timestamp → Python `str(datetime)`: microsecond precision, space
    * separator, fractional part dropped entirely when zero.
    */
  def pyTimestampString(c: Column): Column =
    when(date_format(c, "SSSSSS") === "000000",
      date_format(c, "yyyy-MM-dd HH:mm:ss"))
      .otherwise(date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS"))

  /** Decimal → exact decimal string (scale preserved). */
  def decimalString(c: Column): Column = c.cast(StringType)

  /** Apply the reference coercions across a whole row by schema type,
    * returning a DataFrame whose JSON encoding matches the reference's
    * document shape: timestamps/dates/decimals as strings, everything
    * else native.
    */
  def coerceForJson(df: DataFrame, uuidCols: Set[String] = Set.empty)
      : DataFrame =
    df.select(coerced(df, uuidCols): _*)

  private def coerced(df: DataFrame, uuidCols: Set[String]): Seq[Column] =
    df.schema.fields.toSeq.map { f =>
      val c = col(f.name)
      val coerced = f.dataType match {
        case _ if uuidCols.contains(f.name) => uuidHex(c)
        case _: TimestampType | _: TimestampNTZType => pyTimestampString(c)
        case _: DateType => c.cast(StringType)
        case _: DecimalType => decimalString(c)
        case _ => c
      }
      coerced.as(f.name)
    }

  /** Row → JSON object string, field order = column order (the reference
    * zips catalog column order into a dict and orjson preserves insertion
    * order; src/db_extractor_full.py:169-170). orjson emits explicit
    * `"col": null` for NULL values, so Spark's default null-dropping
    * (spark.sql.jsonGenerator.ignoreNullFields=true) must be overridden.
    * A column, so a sink can project it beside other columns of `df`.
    */
  def jsonColumn(df: DataFrame, uuidCols: Set[String] = Set.empty): Column =
    to_json(struct(coerced(df, uuidCols): _*),
      Map("ignoreNullFields" -> "false"))

  /** `df` as one [[jsonColumn]] named `json`. */
  def jsonRow(df: DataFrame, uuidCols: Set[String] = Set.empty): DataFrame =
    df.select(jsonColumn(df, uuidCols).as("json"))
}
