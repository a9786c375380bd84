package graft.gold

import java.sql.{Connection, DriverManager}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.jdbc.JdbcUtils
import org.apache.spark.sql.jdbc.JdbcDialects
import org.apache.spark.sql.types.StructType

import graft.ops.Exec

/** JDBC warehouse sink (SURVEY.md §2.1 SRC6, §2.4 G4/G5) with the
  * reference's batching behavior (`db/sql.py:10–40`,
  * `load_hicp_to_sql.py:88–101`): a small series loads in one driver-side
  * transaction, a larger frame through the standard Spark JDBC write path.
  * Executed end-to-end by JdbcSinkSpec against embedded Derby (the JDBC
  * engine that ships with Spark); the parquet partition-overwrite path in
  * `GoldWriter` remains the default sink.
  */
object JdbcSink {

  final case class JdbcConfig(
      url: String,
      table: String,
      user: String,
      password: String,
      batchSize: Int = 200, // reference chunksize (`load_hicp_to_sql.py:99`)
      isolationLevel: String = "READ_COMMITTED")

  /** Gold DDL mirroring `ensure_table` (`load_hicp_to_sql.py:32–51`).
    * Idempotence lives in [[ensureTable]]'s catalog guard (the portable
    * JDBC equivalent of the reference's `IF NOT EXISTS`, which e.g. Derby
    * does not parse).
    */
  def createTableDdl(table: String = "fact_hicp"): String =
    s"""CREATE TABLE $table (
       |  time DATE NOT NULL,
       |  geo VARCHAR(10) NOT NULL,
       |  coicop VARCHAR(20) NOT NULL,
       |  unit VARCHAR(20) NOT NULL,
       |  value DOUBLE PRECISION,
       |  processed_at_utc VARCHAR(40) NOT NULL,
       |  raw_blob VARCHAR(300) NOT NULL,
       |  CONSTRAINT ux_$table UNIQUE (time, geo, coicop, unit))""".stripMargin

  /** True iff `table` exists per the connection's catalog metadata. */
  def tableExists(conn: Connection, table: String): Boolean = {
    val rs = conn.getMetaData.getTables(null, null, "%", Array("TABLE"))
    try {
      var found = false
      while (!found && rs.next())
        found = rs.getString("TABLE_NAME").equalsIgnoreCase(table)
      found
    } finally rs.close()
  }

  /** G4: idempotent DDL through a plain driver-side connection. */
  def ensureTable(conn: Connection, table: String = "fact_hicp"): Unit =
    if (!tableExists(conn, table)) {
      val st = conn.createStatement()
      try st.execute(createTableDdl(table)) finally st.close()
    }

  /** G5 first half: driver-side DELETE of the series about to be loaded
    * (`delete_existing_series`, `load_hicp_to_sql.py:54–62`).
    */
  def deleteSeries(conn: Connection, table: String,
                   geo: String, coicop: String, unit: String): Int = {
    val ps = conn.prepareStatement(
      s"DELETE FROM $table WHERE geo = ? AND coicop = ? AND unit = ?")
    try {
      ps.setString(1, geo); ps.setString(2, coicop); ps.setString(3, unit)
      ps.executeUpdate()
    } finally ps.close()
  }

  /** G5 second half: batched executor-parallel append — each task opens its
    * own connection and writes `batchSize`-row batches (the Spark analogue of
    * chunked multi-VALUES + fast_executemany).
    */
  def append(df: DataFrame, cfg: JdbcConfig): Unit =
    df.write
      .format("jdbc")
      .option("url", cfg.url)
      .option("dbtable", cfg.table)
      .option("user", cfg.user)
      .option("password", cfg.password)
      .option("batchsize", cfg.batchSize)
      .option("isolationLevel", cfg.isolationLevel)
      .mode("append")
      .save()

  /** The reference's full warehouse load (`load_hicp_to_sql.py:76–101`):
    * ensure the table, DELETE the series being loaded, then insert it —
    * delete-then-insert makes a replay idempotent (G5). A frame of at most
    * `Exec.SmallInputRows` rows (one bounded collect, `Exec.collectIfSmall`)
    * is loaded on ONE driver connection in ONE transaction, so a failed
    * insert rolls the DELETE back and the old rows survive; a larger frame
    * keeps the executor-parallel append ([[loadDistributed]]).
    */
  def loadSeries(df: DataFrame, cfg: JdbcConfig,
                 geo: String, coicop: String, unit: String): Unit =
    Exec.collectIfSmall(df) match {
      case Some(rows) => loadRows(df.schema, rows, cfg, geo, coicop, unit)
      case None => loadDistributed(df, cfg, geo, coicop, unit)
    }

  /** The above-cap branch of [[loadSeries]]: the driver-side connection
    * handles DDL + delete (committed on its own), then the append fans out to
    * executor tasks. */
  private[gold] def loadDistributed(df: DataFrame, cfg: JdbcConfig,
                                    geo: String, coicop: String, unit: String): Unit = {
    val conn = DriverManager.getConnection(cfg.url, cfg.user, cfg.password)
    try {
      ensureTable(conn, cfg.table)
      deleteSeries(conn, cfg.table, geo, coicop, unit)
    } finally conn.close()
    append(df, cfg)
  }

  /** The small-input branch of [[loadSeries]]: DELETE + `batchSize`-row
    * batched INSERT of the collected `rows` in one transaction at
    * `isolationLevel`. */
  private def loadRows(schema: StructType, rows: Array[Row], cfg: JdbcConfig,
                       geo: String, coicop: String, unit: String): Unit = {
    val conn = DriverManager.getConnection(cfg.url, cfg.user, cfg.password)
    try {
      ensureTable(conn, cfg.table)
      conn.setAutoCommit(false)
      IsolationLevels.get(cfg.isolationLevel).foreach(conn.setTransactionIsolation)
      try {
        deleteSeries(conn, cfg.table, geo, coicop, unit)
        insertRows(conn, cfg, schema, rows)
        conn.commit()
      } catch {
        case e: Throwable => conn.rollback(); throw e
      }
    } finally conn.close()
  }

  /** `isolationLevel` names as Spark's JDBC writer reads them ("NONE" keeps
    * the connection's default level). */
  private val IsolationLevels: Map[String, Int] = Map(
    "READ_UNCOMMITTED" -> Connection.TRANSACTION_READ_UNCOMMITTED,
    "READ_COMMITTED" -> Connection.TRANSACTION_READ_COMMITTED,
    "REPEATABLE_READ" -> Connection.TRANSACTION_REPEATABLE_READ,
    "SERIALIZABLE" -> Connection.TRANSACTION_SERIALIZABLE)

  private def insertRows(conn: Connection, cfg: JdbcConfig, schema: StructType,
                         rows: Array[Row]): Unit = {
    val dialect = JdbcDialects.get(cfg.url)
    val nullTypes = schema.fields.map(f => JdbcUtils.getJdbcType(f.dataType, dialect).jdbcNullType)
    val ps = conn.prepareStatement(
      s"INSERT INTO ${cfg.table} (${schema.fieldNames.mkString(", ")}) " +
        s"VALUES (${schema.fields.map(_ => "?").mkString(", ")})")
    try {
      rows.grouped(cfg.batchSize).foreach { batch =>
        batch.foreach { r =>
          nullTypes.indices.foreach { i =>
            if (r.isNullAt(i)) ps.setNull(i + 1, nullTypes(i))
            else ps.setObject(i + 1, jdbcValue(r.get(i)))
          }
          ps.addBatch()
        }
        ps.executeBatch()
      }
    } finally ps.close()
  }

  /** java.time values (Spark's Java 8 datetime API) as JDBC types. */
  private def jdbcValue(v: Any): Any = v match {
    case d: java.time.LocalDate => java.sql.Date.valueOf(d)
    case t: java.time.Instant => java.sql.Timestamp.from(t)
    case t: java.time.LocalDateTime => java.sql.Timestamp.valueOf(t)
    case other => other
  }
}
