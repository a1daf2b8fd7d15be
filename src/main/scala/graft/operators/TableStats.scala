package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-scan table profiling — the ANALYZE TABLE shape.
  *
  * Every column's (non-null count, distinct count, min, max) is
  * computed in a SINGLE aggregate over a single scan, then unpivoted
  * to one row per column with `stack` — profiling a 100 TB table
  * costs one pass, not one pass per column. Distinct counts default
  * to HLL `approx_count_distinct` (scan-local partials, constant
  * state per column); `exactNdv = true` switches to exact
  * count-distinct (Catalyst plans the multi-distinct via Expand —
  * k columns multiply the aggregate input k-fold, the documented
  * price of exactness).
  *
  * min/max are cast to string so heterogeneous column types share
  * one output schema — the same trick every stats catalog uses.
  */
object TableStats {

  def profile(df: DataFrame, cols: Seq[String],
              exactNdv: Boolean = false): DataFrame = {
    require(cols.nonEmpty, "TableStats.profile needs at least one column")
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"__cnt_$c"),
        (if (exactNdv) countDistinct(col(c))
         else approx_count_distinct(col(c))).as(s"__ndv_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    val one = df.agg(count(lit(1)).as("__n"), aggs: _*)
    val stackArgs = cols
      .map(c => s"'$c', `__cnt_$c`, `__ndv_$c`, `__min_$c`, `__max_$c`")
      .mkString(", ")
    one.select(col("__n"), expr(
        s"stack(${cols.size}, $stackArgs) AS " +
          "(column_name, n_nonnull, n_distinct, min_value, max_value)"))
      .select(col("column_name"), col("__n").as("n_rows"),
        col("n_nonnull"), (col("__n") - col("n_nonnull")).as("n_nulls"),
        col("n_distinct"), col("min_value"), col("max_value"))
  }

  /** Join-key SKEW advisor — the "will this join/aggregation hot-spot"
    * profile a planner (or an engineer sizing salting) reads before
    * shuffling on a key: exact key cardinality, hottest-key share,
    * mean and p99 per-key multiplicity.
    *
    * Shape at 100 TB: ONE hash aggregate to the per-key count table
    * (map-side combined), then everything else runs at COUNT-OF-COUNTS
    * cardinality — the distinct multiplicities, a near-constant axis
    * (the q93 value-cardinality discipline) — with the p99 order
    * statistic read off a distributed [[PrefixSum]] cumulation, never
    * a window over keys. All integers exact; shares in exact ppm.
    *
    * @return one row: (n_rows, n_keys, max_cnt, max_share_ppm,
    *         avg_cnt, p99_cnt)
    */
  def joinSkewReport(df: DataFrame, keyCol: String): DataFrame = {
    // key count rides the checkpoint (r18): it bounds the
    // count-of-counts for free, so the PrefixSum below can be told
    // its layout outright (n=1 under the cap — RangePartitioner skips
    // sampling there) instead of paying its own probe pin on a table
    // that is cheap to recompute from this checkpoint anyway
    val keyObs = org.apache.spark.sql.Observation()
    val counts = df.groupBy(col(keyCol).as("__k"))
      .agg(count(lit(1)).cast("bigint").as("cnt"))
      .observe(keyObs, count(lit(1)).as("rows"))
      .localCheckpoint(true) // count-of-counts + totals below
    val nKeys = keyObs.get("rows").asInstanceOf[Long]
    val coc = counts.groupBy(col("cnt"))
      .agg(count(lit(1)).cast("bigint").as("n_keys_at"))
    val cum = PrefixSum.runningTotal(coc, "cnt", "n_keys_at", "cum_keys",
      partitions = if (SizeRoute.fits(nKeys, SizeRoute.MaxLocalRows)) 1 else 0)
    val totals = counts.agg(count(lit(1)).cast("bigint").as("n_keys"),
      sum(col("cnt")).cast("bigint").as("n_rows"),
      max(col("cnt")).cast("bigint").as("max_cnt"))
    // p99 = smallest multiplicity whose cumulative key count reaches
    // ceil(0.99·n_keys): integer form 100·cum ≥ 99·n_keys
    val p99 = cum.crossJoin(broadcast(totals.select(col("n_keys").as("__nk"))))
      .filter(col("cum_keys") * 100 >= col("__nk") * 99)
      .agg(min(col("cnt")).cast("bigint").as("p99_cnt"))
    totals.crossJoin(broadcast(p99))
      .select(col("n_rows"), col("n_keys"), col("max_cnt"),
        expr("max_cnt * 1000000 DIV n_rows").cast("bigint")
          .as("max_share_ppm"),
        expr("n_rows DIV n_keys").cast("bigint").as("avg_cnt"),
        col("p99_cnt"))
  }
}
