package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-graduation data generator: inflates a driver SF directory by an
  * integer factor while preserving the layout contract (one parquet FILE per
  * table, timestamp[us]) and referential integrity, so the full Verify +
  * DuckDB oracle gate can run unchanged at ~sf1 (6M-row lineitem from sf0.1
  * × 10). Not part of the shipped library — harness-side evidence tooling.
  *
  * Replication discipline:
  *  - every table key is shifted by `copy * KeyOffset`, one consistent
  *    offset per copy, so copy c's orders reference copy c's customers and
  *    the fact/dim ratios stay exactly proportional;
  *  - region/nation are fixed dimensions and are NOT replicated (as in
  *    TPC-H, where nation is 25 rows at every SF);
  *  - document text is token-salted per copy so the corpus does not become
  *    a pathological 10×-all-duplicates pile (which would flood every LSH
  *    band); a deterministic 5% of base docs (doc_id % 20 == 0) stays
  *    UNSALTED across copies, giving genuine duplicate groups of size
  *    `factor` at a realistic rate. n_chars is recomputed where text
  *    changes (driver convention: n_chars == length(text));
  *  - embeddings are angle-perturbed per copy except the same 5% slice, so
  *    ANN cells fill realistically instead of stacking identical vectors.
  *
  *   sbt "runMain graft.GenScale <srcSfDir> <outDir> [factor]"
  */
object GenScale {
  /** Per-copy key offset. Above every sf0.1 key (max 149,999), so copies
    * never collide; and prime, so no key modulus (the graph family's
    * `lineitemEdges(_, 2000)`) folds every copy onto copy 0's residues and
    * sees the same edge set at every factor.
    */
  private[graft] val KeyOffset = 10000019L

  /** Key column `c` of the copy numbered by the replication column `id`. */
  private[graft] def shift(c: String): Column = col(c) + col("id") * KeyOffset

  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val outDir = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      // match the driver's current layout so Tables.events takes the same
      // branch and DuckDB sees the same physical types
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def src(name: String): DataFrame = Tables.table(spark, srcDir, name)
    // cross join against a `factor`-row range: `id` is the copy number
    def replicate(df: DataFrame): DataFrame =
      spark.range(factor).crossJoin(df)

    val keepSlice = col("doc_id") % 20 === 0

    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> src("region"),
      "nation" -> src("nation"),
      "supplier" -> replicate(src("supplier"))
        .withColumn("s_suppkey", shift("s_suppkey")).drop("id"),
      "part" -> replicate(src("part"))
        .withColumn("p_partkey", shift("p_partkey")).drop("id"),
      "customer" -> replicate(src("customer"))
        .withColumn("c_custkey", shift("c_custkey")).drop("id"),
      "orders" -> replicate(src("orders"))
        .withColumn("o_orderkey", shift("o_orderkey"))
        .withColumn("o_custkey", shift("o_custkey")).drop("id"),
      "lineitem" -> replicate(src("lineitem"))
        .withColumn("l_orderkey", shift("l_orderkey"))
        .withColumn("l_partkey", shift("l_partkey"))
        .withColumn("l_suppkey", shift("l_suppkey")).drop("id"),
      "events" -> replicate(src("events"))
        .withColumn("event_id", shift("event_id"))
        .withColumn("user_id", shift("user_id")).drop("id"),
      "documents" -> replicate(src("documents"))
        .withColumn("text",
          when(col("id") === 0 || keepSlice, col("text"))
            .otherwise(regexp_replace(col("text"), lit("(^| )"),
              concat(lit("$1c"), col("id"), lit("_")))))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .withColumn("doc_id", shift("doc_id")).drop("id"),
      "embeddings" -> replicate(src("embeddings"))
        .withColumn("embedding",
          when(col("id") === 0 || col("vec_id") % 20 === 0, col("embedding"))
            .otherwise(expr(
              "transform(embedding, (x, i) -> x + CAST((id % 7 + i % 5) AS FLOAT) * 0.01f)")))
        .withColumn("vec_id", shift("vec_id")).drop("id"))

    new java.io.File(outDir).mkdirs()
    tables.foreach { case (name, df) =>
      val tmp = s"$outDir/_tmp_$name"
      // single file per table: the oracle gate's parquet_scan takes a FILE
      // path, same as the driver layout. 6M rows ≈ 200 MB — fine locally;
      // a real cluster export would keep the directory form.
      df.repartition(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet part written for $name"))
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$outDir/$name.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      println(s"$name: written")
    }
    spark.stop()
  }
}
