package graft.sources

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

class AvroFormatSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private def tmp(name: String): String =
    tempDir(s"graft-avro-$name").toString

  test("Avro round-trip is lossless on the documents table across parallel part files") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").repartition(4)
    val dir = tmp("docs")
    AvroFormat.writeAvro(docs, dir)
    // one container per partition — parallel writers, parallel readers
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".avro")) == 4)
    val back = AvroFormat.readAvro(spark, dir, docs.schema)
    assert(back.schema == docs.schema)
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty,
      "Avro round-trip must be lossless on the documents table")
  }

  test("Avro round-trips the full type lattice: nested struct, arrays with nulls, logical types") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StringType, nullable = true),
      StructField("f", FloatType, nullable = true),
      StructField("b", BooleanType, nullable = true),
      StructField("bin", BinaryType, nullable = true),
      StructField("ts", TimestampType, nullable = true),
      StructField("d", DateType, nullable = true),
      StructField("dec", DecimalType(12, 4), nullable = true),
      StructField("arr", ArrayType(LongType, containsNull = true), nullable = true),
      StructField("nested", StructType(Seq(
        StructField("x", DoubleType, nullable = true),
        StructField("tags", ArrayType(StringType, containsNull = false),
          nullable = true))), nullable = true)))
    val microTs = Timestamp.valueOf("2024-03-07 08:30:00.123456")
    val rows = Seq(
      Row(1L, "utf8 Σπάρκ 文", 1.5f, true, Array[Byte](0, -1, 127),
        microTs, Date.valueOf("2024-02-29"),
        new java.math.BigDecimal("12345678.9012"),
        Seq(1L, null, 3L), Row(2.25, Seq("a", "b"))),
      Row(2L, null, null, null, null, null, null, null, null, null),
      Row(3L, "", 0.0f, false, Array.emptyByteArray,
        Timestamp.valueOf("1969-12-31 23:59:59.999999"),
        Date.valueOf("1969-01-01"), new java.math.BigDecimal("-0.0001"),
        Seq.empty[Any], Row(null, null)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val dir = tmp("lattice")
    AvroFormat.writeAvro(df, dir)
    val back = AvroFormat.readAvro(spark, dir, schema)
    assert(back.schema == schema)
    val got = back.collect().sortBy(_.getLong(0))
    val want = rows.sortBy(_.getLong(0))
    got.zip(want).foreach { case (g, w) =>
      (0 until schema.length).foreach { i =>
        (g.get(i), w.get(i)) match {
          case (a: Array[Byte], b: Array[Byte]) => assert(a.sameElements(b))
          case (a, b) => assert(a == b,
            s"field ${schema(i).name}: read $a, wrote $b")
        }
      }
    }
    // micro-precision survives EXACTLY (timestamp-micros logical type)
    assert(got(0).getTimestamp(5) == microTs)
    assert(got(0).getTimestamp(5).getNanos == 123456000)
  }

  test("Avro read fails loudly when the declared schema cannot resolve against the files") {
    import spark.implicits._
    val dir = tmp("failfast")
    AvroFormat.writeAvro(Seq((1L, "x")).toDF("id", "s"), dir)
    // long column declared as string: Avro schema resolution has no such
    // promotion — the read must raise naming the field, never null it out
    val bad = StructType(Seq(
      StructField("id", StringType, nullable = false),
      StructField("s", StringType, nullable = true)))
    val ex = intercept[Exception] {
      AvroFormat.readAvro(spark, dir, bad).collect()
    }
    def msgs(t: Throwable): Seq[String] = Option(t).toSeq
      .flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).nonEmpty, "expected a loud resolution failure")
    // a MISSING field with no default is equally loud
    val missing = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("absent", LongType, nullable = false)))
    intercept[Exception] {
      AvroFormat.readAvro(spark, dir, missing).collect()
    }
  }

  test("Avro interop: long->nullable-long resolution works; unsupported Catalyst types refuse at write") {
    import spark.implicits._
    val dir = tmp("resolve")
    AvroFormat.writeAvro(Seq((7L, "y")).toDF("id", "s"), dir)
    // widening a non-null writer field to a nullable reader field is legal
    // Avro resolution — the declared schema acts as the projection contract
    val relaxed = StructType(Seq(
      StructField("id", LongType, nullable = true),
      StructField("s", StringType, nullable = true)))
    val back = AvroFormat.readAvro(spark, dir, relaxed).collect()
    assert(back.toSeq == Seq(Row(7L, "y")))
    // maps are outside the supported lattice: refuse loudly at write time
    val m = Seq((1L, Map("k" -> 1L))).toDF("id", "m")
    val ex = intercept[IllegalArgumentException] {
      AvroFormat.writeAvro(m, tmp("unsupported"))
    }
    assert(ex.getMessage.contains("unsupported Catalyst type"))
  }
}
