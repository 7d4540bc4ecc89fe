package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.{DataFrame => ClassicDataFrame}

/** Lineage-rebase helper for iterative operators (r15), reached through
  * `Scans.checkpointTracked(rebase = true)`.
  *
  * `connectedComponentsStars` re-wraps each round's localCheckpoint in a
  * FRESH logical relation: the checkpoint's own `LogicalRDD` keeps the
  * original plan's inferred constraints, which reference attributes the
  * checkpoint no longer outputs, and re-joining/unioning over it tripped
  * Catalyst's constraint rewrite ("key not found: src#N"). The seam is
  * pinned by SparkInternalsSpec.
  *
  * The r14 form — `spark.createDataFrame(ck.rdd, ck.schema)` — was correct
  * but paid a DOUBLE row conversion on every downstream read: `ck.rdd`
  * deserializes InternalRow → external Row, and `createDataFrame` wraps a
  * converter back Row → InternalRow, so every reference to the rebased
  * relation (three per stars round) re-ran both conversions over the edge
  * relation. This shim lives in `org.apache.spark.sql` so it can hand the
  * checkpoint's InternalRow RDD (`queryExecution.toRdd` — the cached
  * blocks themselves, no recompute for a checkpointed plan) straight back
  * to `internalCreateDataFrame`: fresh lineage, zero per-row conversion.
  */
object DataFrameUtils {
  def rebase(df: DataFrame): DataFrame = {
    val classic = df.asInstanceOf[ClassicDataFrame]
    classic.sparkSession.internalCreateDataFrame(
      classic.queryExecution.toRdd, classic.schema)
  }
}
