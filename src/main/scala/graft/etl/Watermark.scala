package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's 4-way incremental-export dispatch
  * (src/db_extractor_full.py:355-414):
  *   - neither timestamp column        → full dump, unordered
  *   - `created_at` only               → created_at > wm, ORDER BY created_at
  *   - both                            → (created_at > wm OR updated_at > wm),
  *                                       ORDER BY created_at
  *   - `updated_at` only               → table skipped with an error log
  *
  * Deviation (documented, SURVEY.md §1.4): the reference detects the
  * columns by substring containment (`"updated_at" in column`), which
  * counts `legacy_created_at_backup` as a hit and then errors at query
  * time; we match names exactly.
  *
  * Watermark comparison is strict `>` — rows stamped exactly at the
  * checkpoint are excluded (src/db_extractor_full.py:389,403).
  */
object Watermark {
  val CreatedCol = "created_at"
  val UpdatedCol = "updated_at"

  sealed trait Route
  case object FullDump extends Route
  case object CreatedOnly extends Route
  case object CreatedAndUpdated extends Route
  case object SkipUpdatedOnly extends Route

  def route(fieldNames: Seq[String]): Route = {
    val hasCreated = fieldNames.contains(CreatedCol)
    val hasUpdated = fieldNames.contains(UpdatedCol)
    (hasCreated, hasUpdated) match {
      case (true, true)   => CreatedAndUpdated
      case (true, false)  => CreatedOnly
      case (false, true)  => SkipUpdatedOnly
      case (false, false) => FullDump
    }
  }

  /** Apply the routed incremental filter; None = skip table. Returns the
    * filtered frame and the column the route orders by (`created_at` on
    * both incremental routes, None for a full dump). The order is not
    * applied here: the sink chooses how to deliver it ([[JsonArraySink]]
    * merges sorted runs on the driver, Parquet sorts globally).
    *
    * The `>` predicates are plain Catalyst comparisons, so they push into
    * the scan: a JDBC source puts them in its WHERE clause, and the
    * Parquet reader gets them as PushedFilters. Parquet row-group pruning
    * on them holds for TIMESTAMP (LTZ) columns only: Spark 4.1 does not
    * prune row groups on a TIMESTAMP_NTZ watermark (a 103,009-row file
    * read whole for a 1,000-row delta, where its LTZ copy reads 1,003).
    */
  def apply(df: DataFrame, wm: String): Option[(DataFrame, Option[String])] =
    route(df.schema.fieldNames.toSeq) match {
      case FullDump => Some((df, None))
      case CreatedOnly =>
        Some((df.filter(col(CreatedCol) > lit(wm)), Some(CreatedCol)))
      case CreatedAndUpdated => Some((
        df.filter(col(CreatedCol) > lit(wm) || col(UpdatedCol) > lit(wm)),
        Some(CreatedCol)))
      case SkipUpdatedOnly => None
    }
}
