package graft.gold

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.quality.QualityChecks.Report

/** Gold-stage sinks and gating (SURVEY.md §2.4 G1–G7, §2.1 SRC5).
  *
  * The reference's delete-then-append warehouse upsert
  * (`load_hicp_to_sql.py:54–62,91–101`) becomes Spark dynamic partition
  * overwrite: writing a frame partitioned by the series key replaces exactly
  * the partitions present in the frame and leaves all others intact — the
  * same idempotence guarantee, but parallel and transactional per partition,
  * and it scales to any number of series. The JDBC warehouse load lives in
  * `JdbcSink`: one routine, the series DELETE plus batched INSERT in one
  * transaction, fed a small frame's collected rows or a larger frame's
  * partitions streamed one at a time (exercised against embedded Derby by
  * `JdbcSinkSpec`).
  *
  * All artifact I/O goes through the Hadoop FileSystem API, so paths work
  * identically on local disk, HDFS, or cloud object stores.
  */
object GoldWriter {

  /** Gold fact-table columns (DDL at `load_hicp_to_sql.py:36–47`). */
  val GoldCols: Seq[String] =
    Seq("time", "geo", "coicop", "unit", "value", "processed_at_utc", "raw_blob")

  /** G2: projection to the warehouse schema + date cast (`:75–79`). */
  def goldProjection(df: DataFrame): DataFrame = {
    val present = GoldCols.filter(df.columns.contains)
    df.select(present.map(col): _*)
      .withColumn("time", to_date(col("time")))
  }

  /** G4+G5: idempotent partition-overwrite load keyed by the series columns.
    * Requires no pre-existing table (create-if-absent is implicit in the file
    * layout, mirroring `ensure_table`).
    */
  def writeGold(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .mode("overwrite")
      .parquet(path)

  /** SCD Type-2 merge — the history-keeping upsert next to G4/G5's
    * overwrite-in-place: `dim` holds versioned rows (`key`, tracked
    * attribute, `valid_from`, nullable `valid_to`, open row = null);
    * `updates` holds (`key`, new attribute value, change timestamp). Open
    * rows whose attribute CHANGED are closed at the change timestamp and a
    * new open row is appended; unchanged keys and closed history pass
    * through untouched; updates for keys ABSENT from the dimension insert a
    * fresh open row (the `WHEN NOT MATCHED THEN INSERT` arm — dim columns
    * outside the SCD2 quartet come back null for such rows). Pure
    * relational: one join of the open slice against the updates keyed by
    * `key` plus one anti-join for the insert arm (both co-partitioned at
    * scale), a union, no driver logic — the MERGE INTO a lakehouse engine
    * runs, expressed in vanilla Spark so any sink (parquet partition
    * overwrite, JDBC) can apply it.
    */
  def scd2Merge(dim: DataFrame, updates: DataFrame, keyCol: String,
                attrCol: String, tsCol: String): DataFrame = {
    val closed = dim.filter(col("valid_to").isNotNull)
    val open = dim.filter(col("valid_to").isNull)
    // CDC compaction: a batch may carry several updates for one key — apply
    // only the LATEST (ties broken on the value for determinism); without
    // this the join below would fan the open row out into duplicates
    val latest = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol))
      .orderBy(col(tsCol).desc, col("new_attr"))
    val upd = updates.select(col(keyCol), col(attrCol).as("new_attr"), col(tsCol))
      .withColumn("rn", row_number().over(latest))
      .filter(col("rn") === 1).drop("rn")
    val joined = open.join(upd, Seq(keyCol), "left")
    // open rows: unchanged (no update or same value) stay open; changed close
    val stillOpen = joined
      .filter(col("new_attr").isNull || col("new_attr") === col(attrCol))
      .select(dim.columns.map(col): _*)
    val nowClosed = joined
      .filter(col("new_attr").isNotNull && col("new_attr") =!= col(attrCol))
    val closedOut = nowClosed
      .withColumn("valid_to", col(tsCol))
      .select(dim.columns.map(col): _*)
    val reopened = nowClosed
      .withColumn(attrCol, col("new_attr"))
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lit(null).cast(dim.schema("valid_to").dataType))
      .select(dim.columns.map(col): _*)
    // WHEN NOT MATCHED: "matched" means matched against the OPEN slice —
    // a key whose versions are all closed must be REOPENABLE by a new
    // update (anti-joining against all dim keys would silently drop it
    // forever, diverging from MERGE-INTO semantics); such keys insert a
    // fresh open row, non-SCD2 dim columns null
    val inserted = upd
      .join(open.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti")
      .select(dim.columns.map {
        case `keyCol`      => col(keyCol)
        case `attrCol`     => col("new_attr").as(attrCol)
        case "valid_from"  => col(tsCol).cast(dim.schema("valid_from").dataType).as("valid_from")
        case "valid_to"    => lit(null).cast(dim.schema("valid_to").dataType).as("valid_to")
        case other         => lit(null).cast(dim.schema(other).dataType).as(other)
      }: _*)
    closed.unionByName(stillOpen).unionByName(closedOut).unionByName(reopened)
      .unionByName(inserted)
  }

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeString(spark: SparkSession, path: String, body: String): Unit = {
    val f = fs(spark, path)
    val out = f.create(new Path(path), true)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  private def readString(f: FileSystem, path: String): String = {
    val in = f.open(new Path(path))
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  /** The file system of the `LATEST.json` pointer: without a checksum
    * sidecar, so replacing the pointer is one rename, not two. */
  private def pointerFs(spark: SparkSession, dir: String): FileSystem =
    fs(spark, dir) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case f => f
    }

  /** Replace `path` with `body` by writing a temp file in the same
    * directory and renaming it over `path`, so a concurrent reader sees the
    * old content or the new, never an empty or partial file. A POSIX
    * rename replaces the target atomically; on a store whose rename refuses
    * an existing target (HDFS) the target is deleted first, and a reader
    * there can find no pointer for that moment. */
  private def replaceString(spark: SparkSession, path: String, body: String): Unit = {
    val f = pointerFs(spark, path)
    val target = new Path(path)
    val tmp = new Path(target.getParent, s".${target.getName}.${java.util.UUID.randomUUID}.tmp")
    val out = f.create(tmp, false)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    if (!f.rename(tmp, target)) {
      f.delete(target, false)
      if (!f.rename(tmp, target)) throw new java.io.IOException(s"cannot replace $path")
    }
  }

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def jsonObj(m: Map[String, String]): String =
    m.map { case (k, v) => s""""${esc(k)}": "${esc(v)}"""" }.mkString("{", ", ", "}")

  /** Q8: write the quality report as `ts=<ts>_{PASS|FAIL}.json` plus a
    * `LATEST.json` pointer (`check_hicp_quality.py:135–158`), the pointer
    * replaced by a rename so [[requirePass]] never reads a partial one.
    * Returns the report path.
    */
  def writeReport(spark: SparkSession, reportDir: String, report: Report,
                  ts: String, processedBlob: String): String = {
    val checksJson = report.checks.map { c =>
      s"""{"name": "${esc(c.name)}", "passed": ${c.passed}, "detail": ${jsonObj(c.detail)}}"""
    }.mkString("[", ", ", "]")
    val body =
      s"""{"meta": ${jsonObj(Map("processed_blob" -> processedBlob, "checked_at_utc" -> ts))},
         | "report": {"passed": ${report.passed}, "checks": $checksJson,
         |            "summary": ${jsonObj(report.summary)}}}""".stripMargin
    val reportPath = s"$reportDir/ts=$ts${report.gateSuffix}.json"
    writeString(spark, reportPath, body)
    replaceString(spark, s"$reportDir/LATEST.json",
      jsonObj(Map("latest_report" -> reportPath)))
    reportPath
  }

  /** G1: quality-gate enforcement (`load_hicp_to_sql.py:18–29`) — resolve the
    * latest report via the pointer and fail-stop unless that report's own
    * verdict (`report.passed`) is true; its file name is not trusted.
    */
  def requirePass(spark: SparkSession, reportDir: String): String = {
    val pointer = s"$reportDir/LATEST.json"
    val path = Option(json.readTree(readString(pointerFs(spark, pointer), pointer))
        .get("latest_report")).filter(_.isTextual).map(_.asText)
      .getOrElse(throw new IllegalStateException("LATEST.json has no latest_report"))
    val verdict = json.readTree(readString(fs(spark, path), path)).path("report").path("passed")
    if (!verdict.isBoolean || !verdict.booleanValue)
      throw new IllegalStateException(s"quality gate: latest report is not PASS: $path")
    path
  }

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** SRC5 as a distributed operator: latest object PER PREFIX from a listing
    * frame `(prefix, path, mtime)` — the same argmax [[latestPath]] performs
    * driver-side on one directory, expressed as a single map-side-combinable
    * `max(struct(mtime, path))` aggregate so a cloud-inventory-scale listing
    * (10^9 objects, many prefixes) resolves in one shuffle of one narrow row
    * per prefix. Ties on mtime break to the lexicographically larger path
    * (deterministic where listing order is not).
    */
  def latestPerPrefix(listing: DataFrame): DataFrame =
    listing
      .groupBy(col("prefix"))
      .agg(max(struct(col("mtime"), col("path"))).as("m"))
      .select(col("prefix"), col("m.path").as("latest_path"),
        col("m.mtime").as("mtime"))
      .orderBy(col("prefix"))

  /** SRC5: latest object under a prefix by modification time
    * (`storage/blob.py:43–60`) — arg-max over `FileSystem.listStatus`.
    */
  def latestPath(spark: SparkSession, dir: String, suffix: String = ""): Option[String] = {
    val f = fs(spark, dir)
    val p = new Path(dir)
    if (!f.exists(p)) None
    else f.listStatus(p).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(suffix))
      .sortBy(_.getModificationTime)
      .lastOption.map(_.getPath.toString)
  }
}
