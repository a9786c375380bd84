package graft.gold

import java.sql.DriverManager

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Executes the JDBC gold path end-to-end against embedded Derby (in-memory,
  * ships with Spark). Proves the reference's delete-then-append contract
  * (`load_hicp_to_sql.py:54–101`) through both row sources of the one load
  * routine: loading the same series twice leaves the warehouse unchanged,
  * and a failed replay leaves the old rows.
  */
class JdbcSinkSpec extends SparkSpec {

  import spark.implicits._

  // unique per-run DB name: an embedded in-memory Derby database lives for
  // the whole JVM, so a rerun in a warm sbt session must not see old rows
  private val url =
    s"jdbc:derby:memory:gold_${java.util.UUID.randomUUID.toString.replace("-", "")};create=true"
  private def conn() = DriverManager.getConnection(url)

  private lazy val rows = Seq(
    ("2024-01-01", "DE", "CP00", "I15", 105.1, "2024-02-01T00:00:00Z", "hicp_de.json"),
    ("2024-02-01", "DE", "CP00", "I15", 105.7, "2024-02-01T00:00:00Z", "hicp_de.json"),
    ("2024-01-01", "FR", "CP00", "I15", 103.2, "2024-02-01T00:00:00Z", "hicp_fr.json"))
    .toDF("time", "geo", "coicop", "unit", "value", "processed_at_utc", "raw_blob")
    .withColumn("time", to_date(col("time")))

  private val cfg = JdbcSink.JdbcConfig(url, "fact_hicp", "", "")

  private def count(where: String = "", table: String = "fact_hicp"): Long = {
    val c = conn()
    try {
      val rs = c.createStatement()
        .executeQuery(s"SELECT COUNT(*) FROM $table $where")
      rs.next(); rs.getLong(1)
    } finally c.close()
  }

  private def deFeb(table: String): Double = {
    val c = conn()
    try {
      val rs = c.createStatement().executeQuery(
        s"SELECT value FROM $table WHERE geo = 'DE' AND time = DATE('2024-02-01')")
      assert(rs.next())
      rs.getDouble(1)
    } finally c.close()
  }

  /** Load DE and FR, replay DE: the warehouse must be unchanged. */
  private def assertReplayIdempotent(table: String)
      (load: (org.apache.spark.sql.DataFrame, JdbcSink.JdbcConfig, String) => Unit): Unit = {
    val cfg = JdbcSink.JdbcConfig(url, table, "", "")
    load(rows.filter(col("geo") === "DE"), cfg, "DE")
    load(rows.filter(col("geo") === "FR"), cfg, "FR")
    assert(count(table = table) == 3)
    // replay the DE series: delete-then-append must leave counts unchanged
    load(rows.filter(col("geo") === "DE"), cfg, "DE")
    assert(count(table = table) == 3, "replaying a series load must not duplicate rows")
    assert(count("WHERE geo = 'DE'", table) == 2)
    // and the values are the replayed ones, not stale
    assert(math.abs(deFeb(table) - 105.7) < 1e-9)
  }

  test("ensureTable is idempotent and creates the gold schema") {
    val c = conn()
    try {
      JdbcSink.ensureTable(c)
      JdbcSink.ensureTable(c) // second call must be a no-op, not an error
      assert(JdbcSink.tableExists(c, "fact_hicp"))
    } finally c.close()
  }

  test("delete-then-append load is idempotent: replaying a series changes nothing") {
    assertReplayIdempotent("fact_hicp") { (df, cfg, geo) =>
      JdbcSink.loadSeries(df, cfg, geo, "CP00", "I15")
    }
  }

  test("the streamed row source is replay-idempotent too") {
    assertReplayIdempotent("fact_hicp_streamed") { (df, cfg, geo) =>
      JdbcSink.loadStreamed(df, cfg, geo, "CP00", "I15")
    }
  }

  /** Load DE, then replay it with a NOT NULL violation on the second row in
    * one-row batches, so the first row's INSERT has run when the second one
    * fails: the old rows must survive. */
  private def assertFailedReplayRollsBack(table: String)
      (load: (org.apache.spark.sql.DataFrame, JdbcSink.JdbcConfig) => Unit): Unit = {
    val cfg = JdbcSink.JdbcConfig(url, table, "", "", batchSize = 1)
    val de = rows.filter(col("geo") === "DE")
    load(de, cfg)
    val bad = de.withColumn("processed_at_utc",
      when(col("time") === to_date(lit("2024-02-01")), lit(null).cast("string"))
        .otherwise(col("processed_at_utc")))
    intercept[Exception](load(bad, cfg))
    assert(count(table = table) == 2, "the failed replay must not delete the series")
    assert(math.abs(deFeb(table) - 105.7) < 1e-9)
  }

  test("a replay that fails mid-insert rolls back: the old rows survive") {
    assertFailedReplayRollsBack("fact_hicp_atomic")(JdbcSink.loadSeries(_, _, "DE", "CP00", "I15"))
  }

  test("a streamed replay that fails mid-insert rolls back too") {
    assertFailedReplayRollsBack("fact_hicp_streamed_atomic")(
      JdbcSink.loadStreamed(_, _, "DE", "CP00", "I15"))
  }

  test("a table name that is not a plain SQL identifier is rejected before any SQL runs") {
    val hostile = "fact_hicp; DROP TABLE x"
    val de = rows.filter(col("geo") === "DE")
    intercept[IllegalArgumentException](JdbcSink.createTableDdl(hostile))
    intercept[IllegalArgumentException](
      JdbcSink.loadSeries(de, JdbcSink.JdbcConfig(url, hostile, "", ""), "DE", "CP00", "I15"))
    Seq(hostile, "gold.fact_hicp", "fact_hicp'", "1fact", "").foreach { name =>
      val c = conn()
      try {
        intercept[IllegalArgumentException](JdbcSink.ensureTable(c, name))
        intercept[IllegalArgumentException](JdbcSink.deleteSeries(c, name, "DE", "CP00", "I15"))
      } finally c.close()
    }
    assert(JdbcSink.createTableDdl("Fact_HICP_2").startsWith("CREATE TABLE Fact_HICP_2 ("))
  }

  test("loadSeries honors a non-default table name end to end") {
    val cfg2 = JdbcSink.JdbcConfig(url, "fact_hicp_v2", "", "")
    JdbcSink.loadSeries(rows.filter(col("geo") === "DE"), cfg2, "DE", "CP00", "I15")
    val c = conn()
    try {
      assert(JdbcSink.tableExists(c, "fact_hicp_v2"))
      val rs = c.createStatement().executeQuery("SELECT COUNT(*) FROM fact_hicp_v2")
      rs.next()
      assert(rs.getLong(1) == 2)
    } finally c.close()
  }

  test("deleteSeries only touches the named series") {
    val c = conn()
    try {
      val n = JdbcSink.deleteSeries(c, "fact_hicp", "DE", "CP00", "I15")
      assert(n == 2, s"expected to delete the 2 DE rows, deleted $n")
      assert(count("WHERE geo = 'FR'") == 1)
    } finally c.close()
    // restore for any later assertions
    JdbcSink.loadSeries(rows.filter(col("geo") === "DE"), cfg, "DE", "CP00", "I15")
  }
}
