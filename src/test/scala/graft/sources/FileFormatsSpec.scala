package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec

class FileFormatsSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private def tmp(name: String): String =
    tempDir(s"graft-ff-$name").toString

  test("CSV round-trip preserves free text (quotes, delimiters) and longs") {
    import spark.implicits._
    // the real corpus plus adversarial rows: delimiters, quotes, empty vs
    // null — the cases a naive unquoted writer silently corrupts
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .unionByName(Seq(
        (900001L, """comma, separated, "quoted" text""", "en", "inject", 31L),
        (900002L, "", "en", "inject", 0L),
        (900003L, null.asInstanceOf[String], "en", "inject", 0L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val dir = tmp("csv-docs")
    FileFormats.writeCsv(docs, dir)
    val back = FileFormats.readCsv(spark, dir, docs.schema)
    assert(back.schema == docs.schema, "explicit schema must round-trip exactly")
    assert(back.count() == docs.count())
    // cell-exact: anti-join both ways on every column is empty
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty,
      "CSV round-trip must be lossless on the documents table")
  }

  test("multiLine CSV round-trips quoted embedded newlines") {
    import spark.implicits._
    val df = Seq((1L, "line one\nline two"), (2L, "plain")).toDF("id", "text")
    val dir = tmp("csv-ml")
    FileFormats.writeCsv(df, dir)
    val back = FileFormats.readCsv(spark, dir, df.schema, multiLine = true)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
  }

  test("CSV round-trip preserves dates and decimal-ish doubles (orders)") {
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val dir = tmp("csv-orders")
    FileFormats.writeCsv(orders, dir)
    val back = FileFormats.readCsv(spark, dir, orders.schema)
    assert(back.exceptAll(orders).isEmpty && orders.exceptAll(back).isEmpty)
  }

  test("ORC round-trip is lossless and its scan pushes filters + prunes columns") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val dir = tmp("orc-li")
    FileFormats.writeOrc(li, dir)
    val back = FileFormats.readOrc(spark, dir, li.schema)
    assert(back.exceptAll(li).isEmpty && li.exceptAll(back).isEmpty)

    val q = back.filter(col("l_quantity") > 45).select(col("l_orderkey"))
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45"),
      s"ORC scan must push the quantity filter; got:\n$scan")
    // column pruning: the read schema carries only the two referenced cols
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>") ||
      scan.contains("ReadSchema: struct<l_quantity:double,l_orderkey:bigint>"),
      s"ORC scan must prune to the referenced columns; got:\n$scan")
  }

  test("FAILFAST CSV read fails loudly on a malformed row") {
    val dir = tmp("csv-bad")
    Files.write(java.nio.file.Paths.get(dir, "part-0.csv"),
      "a,b\n1,ok\nnot_an_int,broken\n".getBytes)
    val schema = org.apache.spark.sql.types.StructType.fromDDL("a INT, b STRING")
    val ex = intercept[Exception] {
      FileFormats.readCsv(spark, dir, schema).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    assert(msgs(ex).exists(m => m != null &&
      (m.contains("Malformed") || m.contains("FAILFAST") || m.contains("MALFORMED"))))
  }

  test("JSON Lines round-trips nested structs/arrays and keeps explicit nulls") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("tags", ArrayType(StringType)),
      StructField("meta", StructType(Seq(
        StructField("geo", StringType),
        StructField("score", DoubleType)))),
      StructField("note", StringType)))
    val rows = Seq(
      Row(1L, Seq("a", "b"), Row("LU", 0.5), """tricky "quoted", text"""),
      Row(2L, Seq.empty[String], Row(null, 1.25), null),
      Row(3L, null, null, ""))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), schema)
    val dir = tmp("jsonl")
    FileFormats.writeJsonLines(df, dir)
    val back = FileFormats.readJsonLines(spark, dir, schema)
    assert(back.schema == schema)
    // cell-exact round trip, including null vs empty string/array and the
    // nested null struct
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty,
      "JSON Lines round-trip must be lossless")
    // splittability contract: line-delimited output is one object per line
    val lines = Files.list(java.nio.file.Paths.get(dir)).toArray
      .map(_.toString).filter(_.endsWith(".json"))
      .flatMap(p => scala.io.Source.fromFile(p).getLines().toSeq)
    assert(lines.length == 3 && lines.forall(l =>
      l.startsWith("{") && l.endsWith("}")))
    // explicit nulls are WRITTEN (null vs absent key survives)
    assert(lines.exists(_.contains("\"note\":null")),
      s"expected explicit null in: ${lines.mkString(" | ")}")
  }

  test("FAILFAST JSON read fails loudly on malformed lines and type mismatches") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType)))
    val dir = tmp("json-bad")
    Files.writeString(java.nio.file.Paths.get(dir, "part-0.json"),
      "{\"id\": 1}\n{not json at all\n")
    val ex = intercept[Exception] {
      FileFormats.readJsonLines(spark, dir, schema).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    assert(msgs(ex).exists(m => m != null &&
      (m.contains("Malformed") || m.contains("FAILFAST") || m.contains("MALFORMED"))))
  }
}
