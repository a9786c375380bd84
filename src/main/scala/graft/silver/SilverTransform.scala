package graft.silver

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.jsonstat.JsonStat
import graft.ops.Exec

/** Silver-stage transformations S3–S6 (SURVEY.md §2.2).
  *
  * All pure built-in compositions — Catalyst-optimizable, null-safe, no UDFs —
  * matching the reference's Pandas behavior:
  *   - S3 time-code parse: `process_hicp_silver.py:41–62`
  *   - S4 canonical projection: `:115`
  *   - S5 multi-column sort: `:116`
  *   - S6 lineage literals: `:138–139`
  */
object SilverTransform {

  /** Canonical silver column order (`process_hicp_silver.py:115`). */
  val CanonicalCols: Seq[String] = Seq("time", "geo", "coicop", "unit", "value")

  private val EurostatMonthly = "^(\\d{4})M(\\d{2})$"

  /** S3: `'2024M01'` → timestamp 2024-01-01; otherwise lenient ISO parse
    * (unparseable ⇒ null, like pandas `errors="coerce"`); any parsed day is
    * normalized to month start. Built-ins only: regexp + make_timestamp +
    * try_to_timestamp + date_trunc — stays in codegen.
    */
  def parseTimeCode(c: Column): Column = {
    val y = regexp_extract(c, EurostatMonthly, 1).cast("int")
    val m = regexp_extract(c, EurostatMonthly, 2).cast("int")
    when(c.rlike(EurostatMonthly),
      make_timestamp(y, m, lit(1), lit(0), lit(0), lit(0)))
      .otherwise(date_trunc("MONTH", coalesce(
        try_to_timestamp(c),
        try_to_timestamp(c, lit("yyyy-MM-dd")),
        try_to_timestamp(c, lit("yyyy-MM")),
        try_to_timestamp(c, lit("yyyy")))))
  }

  /** S4: keep the canonical columns that are present, in canonical order. */
  def project(df: DataFrame): DataFrame = {
    val present = CanonicalCols.filter(df.columns.contains)
    df.select(present.map(col): _*)
  }

  private def seriesKeys(df: DataFrame): Seq[Column] =
    Seq("geo", "coicop", "time").filter(df.columns.contains).map(col)

  /** S5: deterministic series sort (global range-partitioned sort). */
  def sortSeries(df: DataFrame): DataFrame = {
    val keys = seriesKeys(df)
    if (keys.isEmpty) df else df.orderBy(keys: _*)
  }

  /** S5 for a small input: the same order in ONE partition, sorted in
    * place — no range-partition sampling job and no shuffle, and a write of
    * it still yields one file. */
  private def sortSeriesLocal(df: DataFrame): DataFrame = {
    val keys = seriesKeys(df)
    if (keys.isEmpty) df else df.coalesce(1).sortWithinPartitions(keys: _*)
  }

  /** S6: constant lineage columns stamped on every row. */
  def withLineage(df: DataFrame, processedAtUtc: String, rawBlob: String): DataFrame =
    df.withColumn("processed_at_utc", lit(processedAtUtc))
      .withColumn("raw_blob", lit(rawBlob))

  /** E1 silver build: payload JSON → tidy, time-parsed, projected, sorted,
    * lineage-stamped silver DataFrame (`process_hicp_silver.py:121–154`).
    * A cube of at most `Exec.SmallInputRows` cells sorts in one partition
    * ([[sortSeriesLocal]]); larger cubes keep the global sort.
    */
  def silver(spark: SparkSession, payloadJson: String,
             processedAtUtc: String, rawBlob: String): DataFrame = {
    val cube = JsonStat.parse(payloadJson)
    val tidy = JsonStat.densify(spark, cube)
    val timed =
      if (tidy.columns.contains("time"))
        tidy.withColumn("time", parseTimeCode(col("time")))
      else tidy
    val sorted =
      if (Exec.smallInput(cube.n, Exec.SmallInputRows)) sortSeriesLocal(project(timed))
      else sortSeries(project(timed))
    withLineage(sorted, processedAtUtc, rawBlob)
  }
}
