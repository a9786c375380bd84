package graft.jsonstat

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** JSON-stat 2.0 cube model + densifier (SURVEY.md §2.2 S1–S2).
  *
  * Semantics mirror the reference's flattener
  * (`src/ingestion/process_hicp_silver.py:21–38` ordered category codes,
  * `:65–118` densification): the cube is a row-major flat `value` vector over
  * the cartesian product of per-dimension category code lists in `id` order;
  * `value` is either a dense JSON array (nulls allowed) or a sparse object
  * keyed by the *string* flat index — missing indices densify to null rows,
  * which are KEPT (`:101–102`), and an index outside `[0, n)` is rejected.
  *
  * Spark-first design: the flat index is decoded into per-dimension positions
  * with pure column arithmetic — `(i / stride_j) % size_j` — and positions map
  * to codes via `element_at` on literal arrays. No join, no shuffle, no UDF;
  * the whole decode stays inside whole-stage codegen, so a cube of any size
  * densifies at scan speed given a distributed `i` column. The driver-side
  * payload parse is O(metadata), not O(cells).
  */
final case class JsonStatCube(
    dims: Seq[(String, IndexedSeq[String])], // (dimName, codes ordered by position), in `id` order
    denseValues: Option[IndexedSeq[Option[Double]]],
    sparseValues: Option[Map[Long, Double]]) {

  val sizes: Seq[Long] = dims.map(_._2.length.toLong)
  val n: Long = sizes.product

  /** Row-major stride for dim j: product of the sizes after j (last dim fastest). */
  val strides: Seq[Long] = sizes.scanRight(1L)(_ * _).tail
}

object JsonStat {

  private val mapper = new ObjectMapper()

  /** Parse a JSON-stat 2.0 payload (optionally inside the reference's bronze
    * `{meta, data}` wrapper — `src/ingestion/ingestion_hicp_raw.py:63–71`).
    * Error branches mirror `process_hicp_silver.py:70–72, 84–89, 38, 104`.
    */
  def parse(payloadJson: String): JsonStatCube = {
    val root0 = mapper.readTree(payloadJson)
    val root = if (root0.has("data")) root0.get("data") else root0
    require(root.has("dimension") && root.has("value"),
      "JSON-stat payload missing 'dimension' or 'value'")
    require(root.has("id") && root.has("size"), "JSON-stat payload missing 'id' or 'size'")

    val ids = root.get("id").elements().asScala.map(_.asText()).toSeq
    val sizes = root.get("size").elements().asScala.map(_.asLong()).toSeq
    require(ids.length == sizes.length, "id/size length mismatch")

    val dims = ids.zip(sizes).map { case (name, size) =>
      val dimNode = root.get("dimension").get(name)
      require(dimNode != null, s"dimension '$name' missing from payload")
      val codes = orderedCodes(dimNode.path("category").path("index"))
      require(codes.length.toLong == size,
        s"dimension '$name': ${codes.length} codes != declared size $size")
      name -> codes
    }

    val total = sizes.product
    val valueNode = root.get("value")
    if (valueNode.isArray) {
      val vs = valueNode.elements().asScala
        .map(v => if (v.isNull) None else Some(v.asDouble())).toIndexedSeq
      require(vs.length.toLong == total,
        s"value length ${vs.length} != product of sizes $total")
      JsonStatCube(dims, Some(vs), None)
    } else if (valueNode.isObject) {
      val m = valueNode.fields().asScala
        .map(e => e.getKey.toLong -> e.getValue.asDouble()).toMap
      val outside = m.keys.filter(i => i < 0 || i >= total).toSeq.sorted
      require(outside.isEmpty, s"sparse value index ${outside.take(5).mkString(", ")} " +
        s"outside [0, $total), the product of sizes")
      JsonStatCube(dims, None, Some(m))
    } else {
      throw new IllegalArgumentException(s"unsupported value type: ${valueNode.getNodeType}")
    }
  }

  /** S1: ordered category-code extraction — `category.index` is either
    * `{code: position}` or already an ordered list
    * (`process_hicp_silver.py:21–38`).
    */
  private def orderedCodes(index: JsonNode): IndexedSeq[String] =
    if (index.isArray) index.elements().asScala.map(_.asText()).toIndexedSeq
    else if (index.isObject)
      index.fields().asScala.toSeq
        .map(e => e.getKey -> e.getValue.asInt()).sortBy(_._2).map(_._1).toIndexedSeq
    else throw new IllegalArgumentException(s"unsupported category.index type: ${index.getNodeType}")

  /** Decode the flat row-major index column `i` into one code column per
    * dimension. Pure column math + `element_at` on literal code arrays —
    * codegen-friendly, no join, no shuffle; this is the piece that scales to
    * arbitrarily large cubes as long as `i` is distributed.
    */
  def decodeIndex(df: DataFrame, cube: JsonStatCube, indexCol: String = "i"): DataFrame =
    cube.dims.zipWithIndex.foldLeft(df) { case (acc, ((name, codes), j)) =>
      val pos = (col(indexCol) / lit(cube.strides(j))).cast("long") % lit(cube.sizes(j))
      acc.withColumn(name, element_at(typedLit(codes), (pos + 1).cast("int")))
    }

  /** S2: densify a parsed cube into a tidy DataFrame with one column per
    * dimension plus `value` (nullable DOUBLE), ordered semantics identical to
    * the reference's `itertools.product` enumeration.
    *
    * Dense payloads distribute the `(i, value)` pairs and decode positions per
    * row. Sparse payloads build a distributed `spark.range(n)` spine; values
    * up to `sparseLiteralMax` entries ride along as a broadcast-sized map
    * literal (`element_at`, no shuffle at all), while larger maps become a
    * distributed `(i, value)` frame LEFT-joined onto the spine — Spark
    * broadcasts it while it fits and falls back to a shuffle join beyond
    * that, so a billion-entry sparse cube densifies without ever
    * materializing a literal in the plan. Missing indices ⇒ null, row KEPT
    * (`process_hicp_silver.py:101–102`) in both shapes.
    */
  def densify(spark: SparkSession, cube: JsonStatCube,
              sparseLiteralMax: Int = 10000): DataFrame = {
    import spark.implicits._
    val indexed = (cube.denseValues, cube.sparseValues) match {
      case (Some(dense), _) =>
        spark.createDataset(dense.zipWithIndex.map { case (v, i) => (i.toLong, v) })
          .toDF("i", "value")
      case (_, Some(sparse)) if sparse.size <= sparseLiteralMax =>
        val m = typedLit(sparse)
        spark.range(cube.n).toDF("i")
          .withColumn("value", element_at(m, col("i")))
      case (_, Some(sparse)) =>
        val kv = spark.createDataset(sparse.toSeq).toDF("i", "value")
        spark.range(cube.n).toDF("i").join(kv, Seq("i"), "left")
      case _ => throw new IllegalStateException("cube has no values")
    }
    decodeIndex(indexed, cube)
      .select(cube.dims.map(d => col(d._1)) :+ col("value"): _*)
  }

  /** Parse + densify in one call. */
  def densify(spark: SparkSession, payloadJson: String): DataFrame =
    densify(spark, parse(payloadJson))

  /** Driver-side reference densification (simple nested enumeration, mirrors
    * the reference row-for-row). Used by tests and to generate oracle rows —
    * NOT the scalable path.
    */
  def densifyLocal(cube: JsonStatCube): Seq[(Map[String, String], Option[Double])] =
    (0L until cube.n).map { i =>
      val codes = cube.dims.zipWithIndex.map { case ((name, cs), j) =>
        name -> cs(((i / cube.strides(j)) % cube.sizes(j)).toInt)
      }.toMap
      val v = cube.denseValues.map(_(i.toInt))
        .getOrElse(cube.sparseValues.get.get(i))
      codes -> v
    }
}
