package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed PREFIX SUM — cumulative totals over a global order
  * WITHOUT the single-task window `SUM(...) OVER (ORDER BY ...)`
  * plans to (PlanAudit rightly flags that shape as critical: one
  * task absorbs every row). The classic two-pass scan:
  *
  *  1. range-partition on the order column (sampled boundaries, the
  *     q49 global-sort machinery) and PIN the layout with an eager
  *     localCheckpoint — the per-partition totals read and the final
  *     pass must see the SAME partitioning, and range partitioning
  *     re-samples per job without the pin;
  *  2. per-partition totals (one row per partition — model-sized) to
  *     the driver, turned into per-partition starting OFFSETS;
  *  3. partition-LOCAL running sums (a window PARTITIONED by the
  *     pinned partition id — parallel, bounded state) plus the
  *     broadcast offset.
  *
  * Exact for integer/decimal values (the offsets are exact sums), so
  * the result is identical to the single-task window — only the plan
  * shape changes. Rows must be UNIQUE on `orderCol` (pre-aggregate to
  * the order key first, as any cumulative metric does anyway);
  * enforced, since duplicate keys would make "running" ambiguous.
  */
object PrefixSum {

  /** Append `outCol` = running total of `valueCol` in `orderCol`
    * order.
    */
  def runningTotal(df: DataFrame, orderCol: String, valueCol: String,
                   outCol: String, partitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    // Size-routed by [[SizeRoute]]: under the row cap the range
    // partition collapses to ONE partition — RangePartitioner skips
    // sampling entirely at n=1, the totals collect is one row, and the
    // window is one small task. Same expressions, so output types and
    // values are identical by construction (the machinery is
    // spec-pinned partition-count-invariant). An explicit
    // partitions > 0 is a REQUESTED distributed layout: no probe runs.
    val r = SizeRoute.decide(df, partitions <= 0, SizeRoute.MaxLocalRows)
    val n = if (partitions > 0) partitions
      else if (r.local) 1
      else spark.sessionState.conf.numShufflePartitions
    val ranged = r.input.repartitionByRange(n, col(orderCol))
      .localCheckpoint(true) // pin the sampled range layout
    val withPid = ranged.withColumn("__pid",
      spark_partition_id().cast("long"))
    // model-sized: one row per partition. The duplicate-key guard
    // rides the SAME aggregate (count vs count_distinct per
    // partition) instead of paying its own full pass over the input:
    // range partitioning never splits equal keys across partitions,
    // so per-partition distinctness is global distinctness.
    val totalRows = withPid.groupBy(col("__pid"))
      .agg(sum(col(valueCol)).as("__t"),
        count(lit(1)).as("__n"),
        count_distinct(col(orderCol)).as("__nd"))
      .collect()
    require(totalRows.forall(r => r.getLong(2) == r.getLong(3)),
      s"PrefixSum: rows must be unique on '$orderCol' — aggregate to " +
        "the order key first (duplicate keys make a running total ambiguous)")
    val totals = totalRows.map(r => r.getLong(0) ->
      Option(r.get(1)).fold(BigDecimal(0))(v => BigDecimal(v.toString)))
      .toMap
    val offsets = (0 until n).map { p =>
      p.toLong -> (0L until p.toLong).map(q =>
        totals.getOrElse(q, BigDecimal(0))).sum
    }
    val offDf = broadcast(
      spark.createDataFrame(offsets.map { case (p, o) =>
        (p, o.toString) }).toDF("__pid", "__off"))
    val w = Window.partitionBy(col("__pid")).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    withPid.join(offDf, Seq("__pid"))
      .withColumn(outCol,
        sum(col(valueCol)).over(w) +
          col("__off").cast("decimal(38,2)"))
      .drop("__pid", "__off")
  }
}
