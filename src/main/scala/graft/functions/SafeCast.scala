package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Exception-free malformed→NULL casts for malformed-HEAVY columns.
  *
  * Spark's `try_cast` evaluates the ANSI cast and catches the per-row
  * exception; each malformed row costs ~17 µs of throw/fill-in-stack
  * (measured: 1.36 s vs 0.20 s over 150k all-malformed rows, by a
  * since-removed isolation main (git history)). On a mostly-VALID
  * column that cost never materializes and `try_cast` is the right
  * tool (the mart cast projection keeps it). On a column where
  * malformed is the COMMON case — free-text fields probed for numbers,
  * the q03 status column — a regex guard rejects without ever
  * throwing, ~7x faster per malformed row.
  *
  * Contract vs `try_cast(s AS INT)`: identical for integer strings of
  * ≤18 digits (optional sign/surrounding whitespace), including int
  * overflow → NULL. Differences, both documented: decimal strings
  * ('3.7') are NULL here and in Spark's try_cast but ROUND in DuckDB's
  * TRY_CAST — this form removes that cross-engine disagreement; valid
  * values zero-padded past 18 digits ('00…012') are NULL here.
  */
object SafeCast {

  private val intLike = "^\\s*[+-]?[0-9]{1,18}\\s*$"

  /** Guarded string→int: NULL for anything but an in-range integer
    * string, with no exception on any path.
    */
  def tryInt(c: Column): Column = {
    val l = when(c.rlike(intLike), c.cast("long"))
    when(l.between(Int.MinValue.toLong, Int.MaxValue.toLong), l.cast("int"))
  }

  /** The same guard as DuckDB SQL, for oracle interpolation. */
  def tryIntSql(col: String): String =
    s"""CASE WHEN regexp_matches($col, '^\\s*[+-]?[0-9]{1,18}\\s*$$')
       |  AND TRY_CAST($col AS BIGINT) BETWEEN -2147483648 AND 2147483647
       |  THEN CAST($col AS INTEGER) END""".stripMargin
}
