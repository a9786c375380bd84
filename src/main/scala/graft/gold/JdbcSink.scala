package graft.gold

import java.sql.{Connection, DriverManager}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.jdbc.JdbcUtils
import org.apache.spark.sql.jdbc.JdbcDialects
import org.apache.spark.sql.types.StructType

import graft.ops.Exec

/** JDBC warehouse sink (SURVEY.md §2.1 SRC6, §2.4 G4/G5) with the
  * reference's batching behavior (`db/sql.py:10–40`,
  * `load_hicp_to_sql.py:88–101`): one load routine, DELETE plus batched
  * INSERT in one driver-side transaction, the reference's single
  * `engine.begin()`. Its rows come from one of two sources: a small frame's
  * bounded collect, or a larger frame streamed one partition at a time.
  * Table names must be plain SQL identifiers. Executed end-to-end by
  * JdbcSinkSpec against embedded Derby (the JDBC engine that ships with
  * Spark); the parquet partition-overwrite path in `GoldWriter` remains the
  * default sink.
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
    s"""CREATE TABLE ${sqlTable(table)} (
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
    if (!tableExists(conn, sqlTable(table))) {
      val st = conn.createStatement()
      try st.execute(createTableDdl(table)) finally st.close()
    }

  private val SqlIdentifier = "[A-Za-z_][A-Za-z0-9_]*".r

  /** `table`, which every statement here interpolates into its SQL, when it
    * is a plain SQL identifier; anything else (a quote, a `;`, a dotted
    * name) is rejected before it reaches the database. */
  private def sqlTable(table: String): String = {
    require(table != null && SqlIdentifier.matches(table),
      s"JDBC table name must be a plain SQL identifier: '$table'")
    table
  }

  /** G5 first half: driver-side DELETE of the series about to be loaded
    * (`delete_existing_series`, `load_hicp_to_sql.py:54–62`).
    */
  def deleteSeries(conn: Connection, table: String,
                   geo: String, coicop: String, unit: String): Int = {
    val ps = conn.prepareStatement(
      s"DELETE FROM ${sqlTable(table)} WHERE geo = ? AND coicop = ? AND unit = ?")
    try {
      ps.setString(1, geo); ps.setString(2, coicop); ps.setString(3, unit)
      ps.executeUpdate()
    } finally ps.close()
  }

  /** The reference's full warehouse load (`load_hicp_to_sql.py:76–101`):
    * ensure the table, then DELETE the series being loaded and insert it in
    * ONE transaction — delete-then-insert makes a replay idempotent (G5),
    * and a failed insert rolls the DELETE back, so the old rows survive at
    * every size. A frame of at most `Exec.SmallInputRows` rows arrives in
    * one bounded collect (`Exec.collectIfSmall`); a larger one is streamed
    * ([[loadStreamed]]).
    */
  def loadSeries(df: DataFrame, cfg: JdbcConfig,
                 geo: String, coicop: String, unit: String): Unit =
    Exec.collectIfSmall(df, Exec.SmallInputRows) match {
      case Some(rows) => loadRows(df.schema, rows.iterator, cfg, geo, coicop, unit)
      case None => loadStreamed(df, cfg, geo, coicop, unit)
    }

  /** The above-cap row source of [[loadSeries]]: `toLocalIterator` holds one
    * partition in driver memory at a time while [[loadRows]] inserts. */
  private[gold] def loadStreamed(df: DataFrame, cfg: JdbcConfig,
                                 geo: String, coicop: String, unit: String): Unit =
    loadRows(df.schema, df.toLocalIterator().asScala, cfg, geo, coicop, unit)

  /** DELETE + `batchSize`-row batched INSERT of `rows` in one transaction
    * at `isolationLevel`. */
  private def loadRows(schema: StructType, rows: Iterator[Row], cfg: JdbcConfig,
                       geo: String, coicop: String, unit: String): Unit = {
    val table = sqlTable(cfg.table)
    val conn = DriverManager.getConnection(cfg.url, cfg.user, cfg.password)
    try {
      ensureTable(conn, table)
      conn.setAutoCommit(false)
      IsolationLevels.get(cfg.isolationLevel).foreach(conn.setTransactionIsolation)
      try {
        deleteSeries(conn, table, geo, coicop, unit)
        insertRows(conn, table, cfg, schema, rows)
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

  private def insertRows(conn: Connection, table: String, cfg: JdbcConfig,
                         schema: StructType, rows: Iterator[Row]): Unit = {
    val dialect = JdbcDialects.get(cfg.url)
    val nullTypes = schema.fields.map(f => JdbcUtils.getJdbcType(f.dataType, dialect).jdbcNullType)
    val ps = conn.prepareStatement(
      s"INSERT INTO $table (${schema.fieldNames.mkString(", ")}) " +
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
