/*
 * Bridge into Spark's private[sql] Column constructors. This file is the
 * ONLY one in the repo living outside the graft package, and it exists for
 * two reasons: wrapping an already-constructed Catalyst Expression (with
 * non-literal bound state, e.g. a serialized bloom filter's Array[Byte]) in a
 * user-facing Column WITHOUT round-tripping it through SQL text, and calling
 * a Spark-internal function (`Column.internalFn`) by name.
 *
 * Spark 4 made `Column(node)` / `ExpressionUtils.column(e)` private[sql] as
 * part of the Connect-compatible column-node refactor, so libraries that ship
 * native expressions use a one-object shim in the org.apache.spark.sql
 * package — the same pattern as every DSv2 connector that predates a public
 * API for this. Everything referenced here is Spark's own published jar; no
 * behavior is overridden.
 */
package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionColumnNode

/** `Column` from a Catalyst [[Expression]], bypassing the parser. Used by
  * [[graft.operators.Joins.qJ12]] to bind a serialized bloom filter's bytes
  * into [[graft.functions.BloomMightContain]] directly: the bytes ride the
  * expression tree (and reach executors via `addReferenceObj` in codegen), so
  * the PLAN TEXT stays O(1) in filter size — where the SQL-literal
  * convenience path (`expr("bloom_might_contain('<hex>', k)")`) embeds
  * ~2.4 hex bytes per dim key into the parsed plan, multi-MB at a 1M-key dim.
  */
object GraftColumn {
  def of(e: Expression): Column = Column(ExpressionColumnNode(e))

  /** A Spark-internal SQL function by name, one the public `functions`
    * object does not expose: [[graft.core.ContainerMerge]]'s tally calls
    * `collect_top_k`, a collect whose buffer is bounded by its `n`. */
  def internalFn(name: String, args: Column*): Column =
    Column.internalFn(name, args: _*)
}
