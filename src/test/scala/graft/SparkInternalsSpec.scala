package graft

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.operators.Scans

/** Pins the two Spark-internal behaviours the iterative operators'
  * tracked checkpoints (`Scans.checkpointTracked`) rely on. Both are
  * version-locked seams: if a Spark upgrade breaks one, these fail with
  * the revert that restores a working operator.
  */
class SparkInternalsSpec extends SparkSpec {

  test("an Observation below an eager localCheckpoint is published by the checkpoint job") {
    val obs = Observation()
    val ck = spark.range(1000).toDF("x")
      .observe(obs, count(when(col("x") % 2 === 0, 1)).as("c"))
      .localCheckpoint(true)
    // The metrics arrive through the listener bus, so they may land a
    // moment after the call returns — but with no further action run.
    // A publish that never comes fails inside Scans.observed, whose error
    // names the revert.
    val c = Scans.observed(obs, "spec: eager-checkpoint Observation",
      deadlineSec = 30)("c")
    assert(c == 500L, s"the eager checkpoint published c = $c, not the " +
      "checkpointed rows' 500 — revert Scans.checkpointTracked's observed " +
      "metrics (the CC convergence counts, initCentroids' candidate counts " +
      "and cost) to driver-side count/sum actions over the checkpoint")
    ck.unpersist()
  }

  test("a rebased checkpoint self-joins and unions without Catalyst's constraint error") {
    val spark0 = spark
    import spark0.implicits._
    // The connectedComponentsStars shape: a small-star round's output — a
    // UNION of a join and an aggregate, deduplicated — is checkpointed,
    // and the next large-star unions it with its own mirror, aggregates,
    // and joins the aggregate back. Over a bare localCheckpoint the
    // Union's constraint rewrite looks up an attribute of the
    // checkpointed plan and throws "key not found".
    val hiLo = (0L until 6L).map(i => (i + 1, i)).toDF("u", "v")
    val hiMin = hiLo.groupBy("u").agg(min(col("v")).as("m"))
    val ck = org.apache.spark.sql.graft.DataFrameUtils.rebase(
      hiLo.join(hiMin, "u")
        .select(least(col("v"), col("m")).as("src"),
          greatest(col("v"), col("m")).as("dst"))
        .filter(col("src") =!= col("dst"))
        .unionByName(hiMin.select(col("m").as("src"), col("u").as("dst"))
          .filter(col("src") =!= col("dst")))
        .distinct()
        .localCheckpoint(true))
    val nbr = ck.unionByName(ck.select(col("dst").as("src"), col("src").as("dst")))
    val mins = nbr.groupBy("src").agg(least(min(col("dst")), col("src")).as("m"))
    val got =
      try nbr.join(mins, "src").filter(col("dst") > col("src"))
        .select(col("m"), col("dst")).distinct()
        .as[(Long, Long)].collect().toSet
      catch {
        case ex: java.util.NoSuchElementException =>
          fail("a rebased checkpoint tripped Catalyst's constraint rewrite " +
            s"(${ex.getMessage}) — DataFrameUtils.rebase no longer yields " +
            "fresh lineage on this Spark version; revert it to the r14 form " +
            "spark.createDataFrame(ck.rdd, ck.schema)", ex)
      }
    // the chain 0-1-...-6 as the path edges (i, i+1): each edge (u, v > u)
    // rewires to (min(N(u) ∪ u), v)
    assert(got == Set((0L, 1L), (0L, 2L), (1L, 3L), (2L, 4L), (3L, 5L),
      (4L, 6L)))
  }
}
