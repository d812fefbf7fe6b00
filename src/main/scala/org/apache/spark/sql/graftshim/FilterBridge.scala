package org.apache.spark.sql.graftshim

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.DataSourceStrategy
import org.apache.spark.sql.sources.Filter

/** Catalyst predicate → data-source `Filter` bridge. The translation a
  * file scan pushes down with (`DataSourceStrategy.translateFilter`) is
  * `protected[sql]`; a caller that decides parquet files from their
  * footer statistics needs the same translation, so it is re-exported
  * here — same one-file shim technique as [[ColumnBridge]]; nothing in
  * Spark is modified. The translation is all or nothing: `None` unless
  * every part of the predicate translates, so a `Some` is exact.
  */
object FilterBridge {
  def translate(predicate: Expression): Option[Filter] =
    DataSourceStrategy.translateFilter(predicate, supportNestedPredicatePushdown = false)
}
