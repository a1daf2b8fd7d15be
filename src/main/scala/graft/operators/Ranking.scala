package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distributed GLOBAL RANK — dense 1..N row numbering in a total
  * order WITHOUT the single-task `ROW_NUMBER() OVER (ORDER BY ...)`
  * window (PlanAudit flags that shape: one task absorbs every row).
  * Same two-pass discipline as [[PrefixSum]]:
  *
  *  1. range-partition on the order column and PIN the sampled
  *     layout (eager localCheckpoint — the counts pass and the rank
  *     pass must see the same partitioning);
  *  2. per-partition row counts (one row per partition) to the
  *     driver, cumulated into per-partition starting offsets;
  *  3. partition-LOCAL row_number (parallel, bounded state) plus the
  *     broadcast offset.
  *
  * Requires rows unique on `orderCol` (a total order — equal keys
  * would make ranks partition-dependent); range partitioning never
  * splits equal keys, so per-partition distinctness certifies it,
  * checked on the same counts pass.
  */
object Ranking {

  /** Append `outCol` = 1-based dense global rank in `orderCol`
    * order.
    */
  def globalRank(df: DataFrame, orderCol: String, outCol: String,
                 partitions: Int = 0): DataFrame =
    globalRank(df, Seq(orderCol), outCol, partitions)

  /** Composite-key form: global rank in the lexicographic order of
    * `orderCols`. Rows must be unique on the COMPOSITE key (append a
    * unique id as the last column to break ties); range partitioning
    * never splits equal composites, so per-partition distinctness
    * certifies it on the same counts pass. Null keys refuse with
    * their own diagnosis, counted on that same pass.
    *
    * Size-routed by [[SizeRoute]]: with ALL order columns integral
    * and no explicit `partitions` (partitions > 0 is a requested
    * distributed layout, the PrefixSum precedence), an input under
    * the row cap is ranked by one driver sort with the same refusals.
    * Otherwise the sampled-range path runs unchanged.
    */
  def globalRank(df: DataFrame, orderCols: Seq[String], outCol: String,
                 partitions: Int): DataFrame = {
    val spark = df.sparkSession
    val integralKeys =
      orderCols.forall(c => SizeRoute.integral(df.schema(c).dataType))
    val r = SizeRoute.decide(df, integralKeys && partitions <= 0,
      SizeRoute.MaxLocalRows)
    if (r.local) return rankLocal(r.input, orderCols, outCol)
    val n = if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    val ranged = r.input.repartitionByRange(n, orderCols.map(col): _*)
      .localCheckpoint(true)
    val withPid = ranged.withColumn("__pid",
      spark_partition_id().cast("long"))
    val countRows = withPid.groupBy(col("__pid"))
      .agg(count(lit(1)).as("__n"),
        count_distinct(col(orderCols.head), orderCols.tail.map(col): _*)
          .as("__nd"),
        count(when(orderCols.map(col(_).isNull).reduce(_ || _), 1))
          .as("__nn"))
      .collect()
    // null keys first: count_distinct skips any-null key tuples, so
    // they would otherwise trip the uniqueness check with the wrong
    // diagnosis
    require(countRows.forall(_.getLong(3) == 0L), nullKeys(orderCols))
    require(countRows.forall(r => r.getLong(1) == r.getLong(2)),
      duplicateKeys(orderCols))
    val counts = countRows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val offsets = (0 until n).map { p =>
      p.toLong -> (0L until p.toLong).map(counts.getOrElse(_, 0L)).sum
    }
    val offDf = broadcast(spark.createDataFrame(offsets)
      .toDF("__pid", "__off"))
    val w = Window.partitionBy(col("__pid"))
      .orderBy(orderCols.map(col): _*)
    withPid.join(offDf, Seq("__pid"))
      .withColumn(outCol, row_number().over(w).cast("long") + col("__off"))
      .drop("__pid", "__off")
  }

  private def nullKeys(orderCols: Seq[String]): String =
    s"Ranking: null order key in '${orderCols.mkString(",")}' (often a " +
      "failed cast of bad data) — a global rank needs non-null, unique " +
      "keys; filter or fix the cast first"

  private def duplicateKeys(orderCols: Seq[String]): String =
    s"Ranking: rows must be unique on '${orderCols.mkString(",")}' — a " +
      "global rank over duplicate keys is partition-order-dependent"

  /** Driver-local route of [[globalRank]]: one sort over the
    * collected rows on the integral key tuple, the same refusals.
    */
  private def rankLocal(pinned: DataFrame, orderCols: Seq[String],
                        outCol: String): DataFrame = {
    val schema = pinned.schema
    val idx = orderCols.map(schema.fieldIndex)
    val rows = pinned.collect()
    require(rows.forall(r => idx.forall(i => !r.isNullAt(i))),
      nullKeys(orderCols))
    def key(r: Row): Seq[Long] = idx.map(r.getAs[Number](_).longValue)
    implicit val ord: Ordering[Seq[Long]] = {
      import scala.math.Ordering.Implicits.seqOrdering
      seqOrdering(Ordering.Long)
    }
    val sorted = rows.sortBy(key)
    require(sorted.length < 2 || sorted.iterator.zip(
        sorted.iterator.drop(1)).forall { case (a, b) => key(a) != key(b) },
      duplicateKeys(orderCols))
    SizeRoute.rddBacked(pinned.sparkSession,
      StructType(schema.fields :+ StructField(outCol, LongType)),
      sorted.toSeq.zipWithIndex) { case (r, i) =>
      Row.fromSeq(r.toSeq :+ java.lang.Long.valueOf(i + 1L)) }
  }

  /** Reciprocal-rank fusion (Cormack & Clarke SIGIR '09) of several
    * rankings of the same id space: score(id) = Σ_r 1/(k + rank_r(id))
    * — the standard zero-tuning combiner for heterogeneous retrievers
    * (BM25 + ANN + recency…). The reciprocal is FIXED-POINT floored
    * to an exact integer, 10¹² div (k + rank) (the q113 discipline),
    * so the sum is order-free bigint algebra — no float-summation
    * drift across partitionings or engines. Ids absent from a ranking
    * contribute nothing (the standard convention).
    *
    * Shape: one union + one hash aggregate — rankings are
    * (id, rank) tables, nothing else moves.
    *
    * @param rankings (id, rank) frames; ranks 1-based
    * @return (idCol, rrf_score) — exact bigint, callers order/cut
    */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, rankCol: String,
              k: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse: need at least one ranking")
    require(k >= 0, s"rrfFuse: k must be >= 0, got $k")
    val parts = rankings.map(_.select(col(idCol),
      expr(s"1000000000000 DIV ($k + CAST($rankCol AS BIGINT))")
        .as("__rr")))
    parts.reduce(_ unionByName _)
      .groupBy(col(idCol))
      .agg(sum(col("__rr")).cast("bigint").as("rrf_score"))
  }
}
