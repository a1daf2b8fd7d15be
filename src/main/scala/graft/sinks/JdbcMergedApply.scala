package graft.sinks

import java.sql.{Connection, DriverManager, PreparedStatement, SQLException, Statement, Types}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.cdc.{CdcColumns, CdcMerge}
import graft.config.JdbcConnection

/** Incremental CDC merged apply into a live JDBC table.
  *
  * The reference applies a micro-batch to the merged table with three
  * driver-side prepared-statement loops over `toLocalIterator`
  * (cda-client JdbcOutputWriter.scala:342-497: INSERT for ops 2/0,
  * `UPDATE ... WHERE "id" = ? AND "gwcbi___seqval_hex" < ?` for op 4
  * after a latest-per-id struct-max, DELETE for op 1; row pump at
  * :694). That design single-threads the whole merge through the
  * driver — its README documents the OOM this caused.
  *
  * graft keeps the same end state but stays distributed:
  *
  *  1. ONE shuffle reduces the batch to the latest row per key
  *     ([[CdcMerge.latestByKey]], `max_by`; a `SortAggregate` with a
  *     sort on each side of the exchange, since `max_by` over a struct
  *     cannot be hash-aggregated) — after which every key appears
  *     exactly once, so partitions touch disjoint rows and executors
  *     can write concurrently without cross-partition lock conflicts;
  *  2. `foreachPartition` opens a connection PER EXECUTOR PARTITION
  *     and applies its rows with JDBC-batched statements: DELETE for a
  *     key whose latest op is 1, otherwise an UPDATE guarded by
  *     `seqval < ?` (stale batches never regress the table) with an
  *     INSERT fallback for keys the UPDATE did not hit. A
  *     duplicate-key race on the fallback means the guard blocked a
  *     stale row — swallowed by design, mirroring the reference's
  *     "latest only" semantics.
  *
  * Idempotent: replaying a batch is a no-op (updates guarded, inserts
  * hit duplicate keys). At 100 TB the Spark-side cost is exactly one
  * exchange; the JDBC side is the aggregate write bandwidth of the
  * pool of executor connections instead of one driver connection.
  */
object JdbcMergedApply {

  /** Apply `batch` (a raw CDC frame with operation + seqval columns)
    * to `table`. `seqCol` must be a single lexicographically-ordered
    * column (the reference uses `gwcbi___seqval_hex` zero-padded hex
    * for exactly this reason — JdbcOutputWriter.scala:453).
    */
  def apply(batch: DataFrame, conn: JdbcConnection, table: String,
            keyCols: Seq[String],
            seqCol: String = CdcColumns.SeqValCol,
            opCol: String = CdcColumns.OperationCol,
            batchSize: Int = 500): Unit = {
    val latest = CdcMerge.latestByKey(batch, keyCols, Seq(seqCol))
    val qualified = s"${conn.jdbcSchema}.$table"
    val schema = latest.schema
    val url = conn.jdbcUrl
    val user = conn.jdbcUsername
    val pass = conn.jdbcPassword
    val bs = batchSize

    // written columns = everything except the op marker; the guard
    // column itself IS stored (reference keeps seqval_hex in merged
    // tables as the watermark, JdbcOutputWriter.scala:351)
    val storedCols = schema.fields.filter(_.name != opCol)
    val dataCols = storedCols.filterNot(f => keyCols.contains(f.name))
    val q = JdbcDdl.quote _

    val insertSql = s"INSERT INTO $qualified (${storedCols.map(f => q(f.name)).mkString(", ")}) " +
      s"VALUES (${storedCols.map(_ => "?").mkString(", ")})"
    val updateSql = s"UPDATE $qualified SET ${dataCols.map(f => q(f.name) + " = ?").mkString(", ")} " +
      s"WHERE ${keyCols.map(k => q(k) + " = ?").mkString(" AND ")} AND ${q(seqCol)} < ?"
    val deleteSql = s"DELETE FROM $qualified " +
      s"WHERE ${keyCols.map(k => q(k) + " = ?").mkString(" AND ")}"

    val opIdx = schema.fieldIndex(opCol)
    val seqIdx = schema.fieldIndex(seqCol)
    val keyIdxs = keyCols.map(schema.fieldIndex)
    val storedIdxs = storedCols.map(f => schema.fieldIndex(f.name)).toArray
    val dataIdxs = dataCols.map(f => schema.fieldIndex(f.name)).toArray

    latest.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.hasNext) {
        val c = if (user.isEmpty) DriverManager.getConnection(url)
        else DriverManager.getConnection(url, user, pass)
        try {
          c.setAutoCommit(false)
          val ins = c.prepareStatement(insertSql)
          val upd = c.prepareStatement(updateSql)
          val del = c.prepareStatement(deleteSql)
          try {
            rows.grouped(bs).foreach { chunk =>
              applyChunk(c, chunk, schema, ins, upd, del,
                opIdx, seqIdx, keyIdxs, storedIdxs, dataIdxs)
              c.commit()
            }
          } finally { ins.close(); upd.close(); del.close() }
        } finally c.close()
      }
    }
  }

  private def applyChunk(c: Connection, chunk: Seq[Row], schema: StructType,
                         ins: PreparedStatement, upd: PreparedStatement,
                         del: PreparedStatement, opIdx: Int, seqIdx: Int,
                         keyIdxs: Seq[Int], storedIdxs: Array[Int],
                         dataIdxs: Array[Int]): Unit = {
    val (deletes, upserts) = chunk.partition(r => r.getInt(opIdx) == CdcMerge.DeleteOp)

    deletes.foreach { r =>
      keyIdxs.zipWithIndex.foreach { case (fi, pi) => setValue(del, pi + 1, r, fi, schema) }
      del.addBatch()
    }
    if (deletes.nonEmpty) del.executeBatch()

    // pass 1: guarded updates, JDBC-batched; counts tell us which keys
    // the update missed (row absent OR guard blocked a stale row)
    upserts.foreach { r =>
      var p = 1
      dataIdxs.foreach { fi => setValue(upd, p, r, fi, schema); p += 1 }
      keyIdxs.foreach { fi => setValue(upd, p, r, fi, schema); p += 1 }
      setValue(upd, p, r, seqIdx, schema)
      upd.addBatch()
    }
    val counts = if (upserts.nonEmpty) upd.executeBatch() else Array.empty[Int]

    // pass 2: rows the update provably missed (count 0) AND rows whose
    // driver refused per-statement counts (SUCCESS_NO_INFO — Oracle
    // returns it for every batched statement) go through the insert
    // path row-at-a-time. A duplicate key there means the row already
    // exists (update applied, or the guard blocked a stale replay) and
    // is swallowed — correct in every branch, so batch update counts
    // are never load-bearing for data completeness.
    upserts.zip(counts)
      .filter { case (_, n) => n == 0 || n == Statement.SUCCESS_NO_INFO }
      .foreach { case (r, _) =>
      var p = 1
      storedIdxs.foreach { fi => setValue(ins, p, r, fi, schema); p += 1 }
      try ins.executeUpdate()
      catch { case e: SQLException if isDuplicateKey(e) => () }
    }
  }

  /** Duplicate-key detection across platforms. Derby/Postgres report
    * SQLState 23505 (unique violation). Oracle, SQL Server and MySQL
    * report the generic class code 23000 for EVERY integrity
    * violation, so on 23000 the vendor error code disambiguates
    * (ORA-00001, MSSQL 2627/2601, MySQL 1062). Anything else — NOT
    * NULL (23502), FK (23503), CHECK (23514), or an unknown 23000 —
    * must NOT be swallowed: it does not mean "row already exists" and
    * swallowing it would silently drop data.
    */
  private[graft] def isDuplicateKey(e: SQLException): Boolean = {
    val state = e.getSQLState
    if (state == null) false
    else if (state == "23505") true
    else if (state == "23000")
      e.getErrorCode match {
        case 1 | 2627 | 2601 | 1062 => true // ORA-00001, MSSQL, MySQL
        case _ => false
      }
    else false
  }

  /** Set one Row field on a PreparedStatement by Spark SQL type. */
  private def setValue(ps: PreparedStatement, pos: Int, row: Row,
                       fieldIdx: Int, schema: StructType): Unit = {
    val dt = schema.fields(fieldIdx).dataType
    if (row.isNullAt(fieldIdx)) ps.setNull(pos, sqlType(dt))
    else dt match {
      case LongType => ps.setLong(pos, row.getLong(fieldIdx))
      case IntegerType => ps.setInt(pos, row.getInt(fieldIdx))
      case ShortType => ps.setShort(pos, row.getShort(fieldIdx))
      case ByteType => ps.setByte(pos, row.getByte(fieldIdx))
      case DoubleType => ps.setDouble(pos, row.getDouble(fieldIdx))
      case FloatType => ps.setFloat(pos, row.getFloat(fieldIdx))
      case BooleanType => ps.setBoolean(pos, row.getBoolean(fieldIdx))
      case StringType => ps.setString(pos, row.getString(fieldIdx))
      case TimestampType => ps.setTimestamp(pos, row.getAs[java.sql.Timestamp](fieldIdx))
      case DateType => ps.setDate(pos, row.getAs[java.sql.Date](fieldIdx))
      case _: DecimalType => ps.setBigDecimal(pos, row.getAs[java.math.BigDecimal](fieldIdx))
      case BinaryType => ps.setBytes(pos, row.getAs[Array[Byte]](fieldIdx))
      case other => throw new IllegalArgumentException(
        s"JdbcMergedApply: unsupported type ${other.simpleString}")
    }
  }

  private def sqlType(dt: DataType): Int = dt match {
    case LongType => Types.BIGINT
    case IntegerType => Types.INTEGER
    case ShortType => Types.SMALLINT
    case ByteType => Types.TINYINT
    case DoubleType => Types.DOUBLE
    case FloatType => Types.REAL
    case BooleanType => Types.BOOLEAN
    case StringType => Types.VARCHAR
    case TimestampType => Types.TIMESTAMP
    case DateType => Types.DATE
    case _: DecimalType => Types.DECIMAL
    case BinaryType => Types.BINARY
    case _ => Types.OTHER
  }
}
