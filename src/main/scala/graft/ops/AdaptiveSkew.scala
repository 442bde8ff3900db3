package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Adaptive repartitioning by cell density (north rule): measure the
  * per-cell histogram, derive a per-cell salt factor proportional to the
  * cell's share of rows, and run the PIP join salted only where it's hot
  * (`PipPlan.Adaptive`). This is the data-driven version of the uniform
  * `PipPlan.Salted` — uniform salting taxes every cell; adaptive salting
  * only fans out the heavy ones (Zipfian cell distributions at 10^12-doc
  * scale).
  */
object AdaptiveSkew {

  /** Per-cell salt factors for HOT cells only (salt ≥ 2): cold cells are
    * absent and default to 1 via the left join — the broadcast then scales
    * with the number of hot cells, not with the total cell count. */
  def saltFactors(points: DataFrame, level: Int, targetRowsPerTask: Long): DataFrame =
    points
      .withColumn("cell", graft.plans.CellOfExpr.cellOfNative(col("x"), col("y"), lit(level)))
      .groupBy(col("cell")).agg(count(lit(1)).as("rows"))
      .select(col("cell"),
        greatest(lit(1), ceil(col("rows") / targetRowsPerTask)).cast("int").as("salt"))
      .where(col("salt") > 1)

  /** Adaptively salted [[SpatialJoin.pip]]:
    * `pip(..., PipPlan.Adaptive(targetRowsPerTask))`. */
  def pipAdaptive(points: DataFrame, polys: DataFrame, level: Int,
                  targetRowsPerTask: Long): DataFrame =
    SpatialJoin.pip(points, polys, level, PipPlan.Adaptive(targetRowsPerTask))
}
