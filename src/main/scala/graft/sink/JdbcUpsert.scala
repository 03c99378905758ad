package graft.sink

import java.sql.{Connection, DriverManager, PreparedStatement}
import org.apache.spark.sql.DataFrame

/** Keyed-upsert JDBC sink — the reference's K1 operator
  * (`scripts/pricenow_etl.py:98-112` `upsert_df`: records in 1000-row
  * chunks, `INSERT ... ON CONFLICT (keys) DO UPDATE`, NaN→NULL at the edge
  * `:89-95`).
  *
  * Spark-first shape: `df.foreachPartition` — the sink runs below the
  * planner, one connection per partition, so write parallelism = partition
  * count (`df.repartition(n)` upstream is the throughput knob; the
  * reference's chunk size 1000 survives as `batchSize`). Re-runs are
  * idempotent by construction, mirroring the reference's at-least-once
  * cron semantics (`run_pricenow.yml:5-7` + upsert keys).
  *
  * Two strategies:
  *  - [[Dialect.Postgres]]: single-statement native upsert
  *    (`INSERT ... ON CONFLICT ... DO UPDATE SET c = EXCLUDED.c`), batched
  *    via `addBatch`/`executeBatch` — the production path.
  *  - [[Dialect.Generic]]: portable UPDATE-then-INSERT inside the partition
  *    transaction — works on any JDBC database (integration-tested against
  *    embedded Derby), at the cost of two round trips per miss.
  */
object JdbcUpsert {

  sealed trait Dialect extends Serializable
  object Dialect {
    case object Postgres extends Dialect
    case object Generic extends Dialect
  }

  /** The native-upsert SQL for dialects that support it. */
  def upsertSql(table: String, cols: Seq[String], keys: Seq[String]): String = {
    val updatable = cols.filterNot(keys.contains)
    val sets = updatable.map(c => s"$c = EXCLUDED.$c").mkString(", ")
    s"""INSERT INTO $table (${cols.mkString(", ")})
       |VALUES (${cols.map(_ => "?").mkString(", ")})
       |ON CONFLICT (${keys.mkString(", ")}) DO UPDATE SET $sets""".stripMargin
  }

  /** Upsert `df` into `table` on `keys`.
    *
    * @param batchSize rows per executed batch / commit (reference: 1000)
    * @param writePartitions cap on concurrent writer connections (None =
    *   df's partitioning). Postgres takes full parallelism; embedded
    *   databases with coarse lock escalation (Derby probing absent keys
    *   takes index gap locks) want 1.
    */
  def upsert(
      df: DataFrame, url: String, table: String, keys: Seq[String],
      dialect: Dialect, batchSize: Int = 1000,
      connectionProps: Map[String, String] = Map.empty,
      writePartitions: Option[Int] = None): Unit = {
    val cols = df.schema.fieldNames.toSeq
    require(keys.nonEmpty && keys.forall(cols.contains), s"keys $keys must be columns")
    // row ordinals, resolved once per upsert instead of per cell; a row's
    // own ordinals are `cols`' indices
    val keyIdx = keys.map(cols.indexOf(_)).toArray
    val probeIdx = (cols.filterNot(keys.contains) ++ keys).map(cols.indexOf(_)).toArray

    val writeDf = writePartitions.map(df.coalesce).getOrElse(df)
    writeDf.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
      if (rows.nonEmpty) {
        val props = new java.util.Properties()
        connectionProps.foreach { case (k, v) => props.setProperty(k, v) }
        val conn = DriverManager.getConnection(url, props)
        try {
          conn.setAutoCommit(false)
          dialect match {
            case Dialect.Postgres =>
              writeNative(conn, table, cols, keys, keyIdx, rows, batchSize)
            case Dialect.Generic =>
              writeGeneric(conn, table, cols, keys, keyIdx, probeIdx, rows, batchSize)
          }
          conn.commit()
        } catch { case e: Throwable =>
          // Roll back before close: closing with a transaction still open
          // throws (Derby 25001), and that error would replace the cause.
          try conn.rollback() catch { case r: Throwable => e.addSuppressed(r) }
          try conn.close() catch { case c: Throwable => e.addSuppressed(c) }
          throw e
        }
        conn.close()
      }
    }
  }

  /** NULL/NaN key values would never match ON CONFLICT or the UPDATE probe
    * (SQL NULL != NULL), so reruns would silently insert duplicates —
    * fail loudly instead, mirroring the reference's PK asserts
    * (ref :248-251, :271-274). */
  private def requireKey(row: org.apache.spark.sql.Row, keys: Seq[String],
      keyIdx: Array[Int]): Unit =
    keyIdx.indices.foreach { i =>
      val v = row.get(keyIdx(i))
      val nan = v match {
        case d: Double => d.isNaN
        case f: Float => f.isNaN
        case _ => false
      }
      require(v != null && !nan,
        s"upsert key '${keys(i)}' is null/NaN in $row — duplicates would accumulate")
    }

  /** NaN → NULL at the sink edge (ref `:93` `df.where(pd.notnull(df), None)`)
    * plus java.sql type bridging for the parameter at `idx`.
    */
  private def bind(ps: PreparedStatement, idx: Int, value: Any): Unit =
    value match {
      case null => ps.setNull(idx, java.sql.Types.NULL)
      case d: Double if d.isNaN => ps.setNull(idx, java.sql.Types.DOUBLE)
      case f: Float if f.isNaN => ps.setNull(idx, java.sql.Types.FLOAT)
      case d: Double => ps.setDouble(idx, d)
      case f: Float => ps.setFloat(idx, f)
      case i: Int => ps.setInt(idx, i)
      case l: Long => ps.setLong(idx, l)
      case s: Short => ps.setShort(idx, s)
      case b: Byte => ps.setByte(idx, b)
      case b: Boolean => ps.setBoolean(idx, b)
      case s: String => ps.setString(idx, s)
      case d: java.sql.Date => ps.setDate(idx, d)
      case t: java.sql.Timestamp => ps.setTimestamp(idx, t)
      case d: java.math.BigDecimal => ps.setBigDecimal(idx, d)
      case d: BigDecimal => ps.setBigDecimal(idx, d.bigDecimal)
      case b: Array[Byte] => ps.setBytes(idx, b)
      case other => ps.setObject(idx, other)
    }

  private def writeNative(
      conn: Connection, table: String, cols: Seq[String], keys: Seq[String],
      keyIdx: Array[Int], rows: Iterator[org.apache.spark.sql.Row],
      batchSize: Int): Unit = {
    val ps = conn.prepareStatement(upsertSql(table, cols, keys))
    try {
      var n = 0
      rows.foreach { row =>
        requireKey(row, keys, keyIdx)
        cols.indices.foreach(i => bind(ps, i + 1, row.get(i)))
        ps.addBatch()
        n += 1
        if (n % batchSize == 0) { ps.executeBatch(); conn.commit() }
      }
      if (n % batchSize != 0) ps.executeBatch()
    } finally ps.close()
  }

  private def writeGeneric(
      conn: Connection, table: String, cols: Seq[String], keys: Seq[String],
      keyIdx: Array[Int], probeIdx: Array[Int],
      rows: Iterator[org.apache.spark.sql.Row], batchSize: Int): Unit = {
    val updatable = cols.filterNot(keys.contains)
    // all-key tables degrade to insert-if-absent: probe with SELECT instead
    val updateSql = if (updatable.nonEmpty)
      s"""UPDATE $table SET ${updatable.map(c => s"$c = ?").mkString(", ")}
         |WHERE ${keys.map(c => s"$c = ?").mkString(" AND ")}""".stripMargin
    else
      s"SELECT count(*) FROM $table WHERE ${keys.map(c => s"$c = ?").mkString(" AND ")}"
    val insertSql =
      s"""INSERT INTO $table (${cols.mkString(", ")})
         |VALUES (${cols.map(_ => "?").mkString(", ")})""".stripMargin
    val up = conn.prepareStatement(updateSql)
    val ins = conn.prepareStatement(insertSql)
    try {
      var n = 0
      rows.foreach { row =>
        requireKey(row, keys, keyIdx)
        probeIdx.indices.foreach(i => bind(up, i + 1, row.get(probeIdx(i))))
        val hit = if (updatable.nonEmpty) up.executeUpdate() > 0
          else { val rs = up.executeQuery(); rs.next(); val c = rs.getLong(1); rs.close(); c > 0 }
        if (!hit) {
          cols.indices.foreach(i => bind(ins, i + 1, row.get(i)))
          ins.executeUpdate()
        }
        n += 1
        if (n % batchSize == 0) conn.commit()
      }
    } finally { up.close(); ins.close() }
  }
}
