package graft.core

import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Which date sub-ranges of [start, end] are NOT covered yet?
  * (reference: R/DiseasystoreBase.R:522-605 `determine_missing_ranges` —
  * log-parsing → date set difference → contiguous segments.)
  *
  * Coverage is a few compute-log rows per (loader, slice_ts), so this is
  * a driver sweep over inclusive ranges sorted by start, carrying the
  * first day not yet known covered. */
object MissingRanges {

  /** Uncovered inclusive ranges of [start, endInclusive], sorted; `covered`
    * ranges may come in any order, overlap or reach outside the period. */
  def apply(covered: Seq[(LocalDate, LocalDate)], start: LocalDate,
            endInclusive: LocalDate): Seq[(LocalDate, LocalDate)] = {
    val (next, gaps) = covered.sortBy(_._1.toEpochDay)
      .foldLeft((start, Vector.empty[(LocalDate, LocalDate)])) {
        case ((next, gaps), (s, e)) =>
          if (e.isBefore(next) || s.isAfter(endInclusive)) (next, gaps)
          else {
            val gap = if (s.isAfter(next)) Some(next -> s.minusDays(1)) else None
            (e.plusDays(1), gaps ++ gap)
          }
      }
    if (next.isAfter(endInclusive)) gaps else gaps :+ (next -> endInclusive)
  }

  /** DataFrame form: collects the covered dates ("date") inside the
    * period — at most one per day — and returns (`start_date`, `end_date`). */
  def apply(covered: DataFrame, start: String, endInclusive: String): DataFrame = {
    val spark = covered.sparkSession
    import spark.implicits._
    val (s, e) = (LocalDate.parse(start), LocalDate.parse(endInclusive))
    val days = covered.select(to_date(col("date")).as("date"))
      .filter(col("date").between(lit(s), lit(e)))
      .distinct().as[LocalDate].collect().toSeq
    apply(days.map(d => d -> d), s, e).toDF("start_date", "end_date")
  }
}
