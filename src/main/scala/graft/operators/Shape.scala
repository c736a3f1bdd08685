package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** The long→wide pivot at the heart of the reference pipeline.
  *
  * Reference semantics (`/root/reference/scripts/shape-data.js`):
  *  - rename long columns to short codes via a dictionary, dropping
  *    unmapped columns (`shape-data.js:33-43`);
  *  - derive a 2-char year suffix from the `year` column
  *    (`shape-data.js:30` — `year.slice(-2)`);
  *  - default a missing `parent_location` to "United States"
  *    (`shape-data.js:44-47`);
  *  - pivot one row per `(id, year)` into one row per id with
  *    `metric-YY` columns; duplicate `(id, year)` rows resolve
  *    last-in-file-wins per cell (`shape-data.js:96-101`);
  *  - emit sorted by GEOID ascending, plain string compare
  *    (`shape-data.js:54-58,105`).
  *
  * Spark-first design notes (100 TB scale):
  *  - the pivot is ONE aggregation (`groupBy(id)`) — a single shuffle on
  *    the id key with map-side partial aggregation; no `Dataset.pivot`
  *    double-pass, no second shuffle for carry columns.
  *  - it carries one row-struct `max_by` per YEAR (the year's whole
  *    metric row), not one `max_by` per metric × year cell: a projection
  *    then fans each struct out into its `metric-YY` columns. Per-cell
  *    aggregates (572 for the raw map: 30 metrics × 19 years + carries)
  *    cost about 7 s of cold generated-code work per region on a 4-core
  *    host, for a 1,900-row input; a region build runs in a fresh JVM,
  *    so that cost recurs every run.
  *  - last-wins is made deterministic with an explicit ordering column
  *    (`max_by(value, ord)`) instead of Spark's order-nondeterministic
  *    `first()`/`last()`.
  *  - the output column set is declared up front (metrics × years), so the
  *    plan's schema is static; the reference's first-row-derived schema
  *    quirk (`shape-data.js:107`) is deliberately NOT replicated
  *    (documented deviation, SURVEY.md §1.4).
  */
object Shape {

  /** P1: dictionary rename; unmapped columns are dropped.
    * `keep` columns pass through unrenamed (e.g. `year`).
    */
  def renameColumns(df: DataFrame, mapping: Seq[(String, String)],
                    keep: Seq[String] = Nil): DataFrame = {
    val present = mapping.filter { case (from, _) => df.columns.contains(from) }
    df.select((keep.map(col) ++ present.map { case (f, t) => col(f).as(t) }): _*)
  }

  /** P9: 4-digit year string -> 2-char suffix (`year.slice(-2)`). */
  def yearSuffix(year: Column): Column = substring(year.cast(StringType), -2, 2)

  /** P6: missing parent_location default (`shape-data.js:44-47`). */
  def defaultParentLocation(pl: Column, default: String): Column =
    coalesce(pl, lit(default))

  /** A1: long→wide pivot in a single aggregation.
    *
    * Per id: `max_by(c, ord)` for each carry column, and per year one
    * `max_by(when(yy = Y, struct(metrics…)), when(yy = Y, ord))` — the
    * last row of (id, Y) as a whole, so every `m-Y` cell takes its value
    * from that row (null there stays null), rows with a null `ord` never
    * win, and a year with no row leaves its cells null. Group state is
    * bounded by |years| structs.
    *
    * @param long     input with one row per (id, year)
    * @param idCol    group key (GEOID)
    * @param carry    per-id columns emitted unsuffixed (n, pl)
    * @param yearCol  column holding the 2-char year suffix
    * @param metrics  metric columns to spread into `metric-YY`
    * @param years    explicit year-suffix list (static schema)
    * @param ordCol   ordering column for last-wins (file position in the
    *                 reference; any monotone id here)
    */
  def pivotWide(long: DataFrame, idCol: String, carry: Seq[String],
                yearCol: String, metrics: Seq[String], years: Seq[String],
                ordCol: String): DataFrame = {
    val row = struct(metrics.map(col): _*)
    val carryAggs = carry.map(c => max_by(col(c), col(ordCol)).as(c))
    val yearAggs = years.map { y =>
      val inYear = col(yearCol) === lit(y)
      max_by(when(inYear, row), when(inYear, col(ordCol))).as(s"__y$y")
    }
    val aggs = carryAggs ++ yearAggs
    val cells = for {
      m <- metrics
      y <- years
    } yield col(s"__y$y").getField(m).as(s"$m-$y")
    long.groupBy(col(idCol))
      .agg(aggs.head, aggs.tail: _*)
      .select((col(idCol) +: carry.map(col)) ++ cells: _*)
      .orderBy(col(idCol)) // O1: ascending binary string order (= LC_ALL=C)
  }

  /** T6/P3: slice a wide table to one decade's column group
    * (`build.sh:177-188,198-209` — csvcut by field list).
    */
  def decadeSlice(wide: DataFrame, fields: Seq[String]): DataFrame =
    wide.select(fields.map(col): _*)
}
