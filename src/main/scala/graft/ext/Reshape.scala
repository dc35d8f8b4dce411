package graft.ext

import org.apache.spark.sql.{Column, DataFrame, functions => F}

/** Relational reshape: pivot (long → wide) and unpivot / melt
  * (wide → long). No reference counterpart (the reference reshapes by
  * projection only — a user would hand-write one conditional
  * aggregation per column); these are the standard warehouse ops, so
  * they ship as first-class extensions.
  */
object Reshape {

  /** Pivot `df` to one row per `groupCols` combination, one column per
    * entry of `values` (in order), each holding `agg` over `valueCol`
    * restricted to the rows whose `pivotCol` equals that value.
    *
    * Compiled as conditional aggregation — one `agg(CASE WHEN
    * pivotCol = v THEN valueCol END)` per value inside a SINGLE hash
    * aggregate: map-side partial combine, exactly one shuffle on
    * `groupCols`, no pre-pass. (Spark's built-in `.pivot(col, values)`
    * plans TWO aggregates — a (group, pivot) pre-agg plus a
    * `pivotfirst` reshape, i.e. two shuffles — and its discover-values
    * mode adds a distinct job before planning; this formulation beats
    * both.) Groups with no row for a value get NULL, same as SQL
    * conditional aggregation; rows whose `pivotCol` matches no listed
    * value contribute nothing.
    */
  def pivot(df: DataFrame, groupCols: Seq[String], pivotCol: String,
            values: Seq[String], agg: Column => Column,
            valueCol: Column): DataFrame = {
    require(groupCols.nonEmpty, "pivot: need at least one group column")
    require(values.nonEmpty, "pivot: need at least one pivot value")
    val cells = values.map { v =>
      agg(F.when(F.col(pivotCol) === F.lit(v), valueCol)).as(v)
    }
    df.groupBy(groupCols.map(F.col): _*)
      .agg(cells.head, cells.tail: _*)
  }

  /** Unpivot / melt: keep `idCols`, turn each of `valueCols` into a
    * (`varName`, `valueName`) row — wide → long. Pure Expand node:
    * zero shuffle, zero join; the only cost is the row multiplication
    * (#valueCols ×), and column pruning still reaches the scan (only
    * ids + values are read). Value columns are cast to `castTo`
    * because the long column must carry one type. NULL cells are
    * KEPT (a missing measurement is still a row) — mirror with a
    * plain UNION ALL, not SQL's null-dropping UNPIVOT.
    */
  def unpivot(df: DataFrame, idCols: Seq[String], valueCols: Seq[String],
              varName: String = "metric", valueName: String = "value",
              castTo: String = "double"): DataFrame = {
    require(valueCols.nonEmpty, "unpivot: need at least one value column")
    df.unpivot(
      idCols.map(F.col).toArray,
      valueCols.map(c => F.col(c).cast(castTo).as(c)).toArray,
      varName, valueName)
  }
}
