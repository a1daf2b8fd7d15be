package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed CDC merge.
  *
  * Re-expresses the reference's JDBC merge loop (cda-client
  * JdbcOutputWriter.scala:342-497) as declarative Spark plans:
  *
  *  - the reference finds the latest change per id with a
  *    struct-max groupBy (JdbcOutputWriter.scala:426-437), then
  *    applies inserts/updates/deletes as row-at-a-time prepared
  *    statements iterated ON THE DRIVER
  *    (`df.toLocalIterator`, JdbcOutputWriter.scala:694);
  *  - graft keeps the same semantics but stays distributed: one
  *    shuffle on the entity key (`max_by`), one co-partitioned
  *    anti-join for deletes, no driver iteration.
  *
  * At 100 TB the merge cost is exactly one exchange of the fact data
  * on the key, with map-side partial aggregation (sort-based, see
  * [[latestByKey]]); AQE handles skewed keys.
  */
object CdcMerge {

  /** Reference op codes (JdbcOutputWriter.scala:359,411,475). */
  val InsertOps: Seq[Int] = Seq(2, 0)
  val UpdateOp: Int = 4
  val DeleteOp: Int = 1

  private def structOf(cols: Seq[String]): Column = struct(cols.map(col): _*)

  /** Latest row per key ordered by `seqCols` (lexicographic struct
    * comparison) — the "jdbcApplyLatestUpdatesOnly" semantics. One
    * aggregate over one exchange: the payload rides inside `max_by`, so
    * there is no self-join and no window. The executed plan is a
    * `SortAggregate`, not a hash aggregate, because `max_by` over a
    * struct buffer cannot be hash-aggregated: the partial aggregate
    * sorts on the key before the exchange and the final one sorts
    * again after it.
    */
  def latestByKey(df: DataFrame, keyCols: Seq[String], seqCols: Seq[String]): DataFrame = {
    val payload = structOf(df.columns.toIndexedSeq)
    df.groupBy(keyCols.map(col): _*)
      .agg(max_by(payload, structOf(seqCols)).as("__latest"))
      .select("__latest.*")
  }

  /** Apply a CDC micro-batch to obtain final table state:
    * inserts/updates latest-wins per key, then deletes remove any key
    * with a delete op in the batch (the reference applies deletes
    * last, JdbcOutputWriter.scala:472-495).
    */
  def applyOperations(df: DataFrame,
                      keyCols: Seq[String],
                      seqCols: Seq[String],
                      opCol: String = CdcColumns.OperationCol): DataFrame = {
    val upserts = df.filter(!col(opCol).isin(DeleteOp))
    val state = latestByKey(upserts, keyCols, seqCols)
    val deleted = df.filter(col(opCol) === DeleteOp)
      .select(keyCols.map(col): _*).distinct()
    state.join(deleted, keyCols, "left_anti")
  }

  /** The "apply every update in sequence" mode
    * (jdbcApplyLatestUpdatesOnly=false, JdbcOutputWriter.scala:438-445):
    * the ordered update stream per key, with its apply position. The
    * final state equals latest-wins, but audit/history sinks need the
    * full ordered stream.
    */
  def updatesOrdered(df: DataFrame,
                     keyCols: Seq[String],
                     seqCols: Seq[String],
                     opCol: String = CdcColumns.OperationCol): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(seqCols.map(c => col(c).asc): _*)
    df.filter(col(opCol) === UpdateOp)
      .withColumn("apply_order",
        org.apache.spark.sql.functions.row_number().over(w).cast("bigint"))
  }

  /** Raw-log dedup on the reference's raw PK
    * (id, seqval, operation) — JdbcOutputWriter.scala:639 — or any
    * caller-supplied key; full-row dedup when `keyCols` is empty.
    */
  def dedupRaw(df: DataFrame, keyCols: Seq[String] = Nil): DataFrame =
    if (keyCols.isEmpty) df.dropDuplicates()
    else df.dropDuplicates(keyCols)
}
