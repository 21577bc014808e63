package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.DataSourceStrategy
import org.apache.spark.sql.sources

/** Catalyst predicate → data source filter, exactly as `FileSourceStrategy`
  * translates the filters it hands a file source (the translation is
  * `private[sql]`, hence this package — see [[MicroBatch]]). Lets the
  * table's Catalyst-side file index prune through the same source-filter
  * rule as its DSv2 scan.
  */
object SourceFilters {
  def translate(e: Expression): Option[sources.Filter] =
    DataSourceStrategy.translateFilter(e, supportNestedPredicatePushdown = false)
}
