package graft.jsonstat

import org.apache.spark.sql.Row
import graft.SparkSpec

/** Fixtures per FIXTURES.md §A1; semantics per the reference flattener
  * (`process_hicp_silver.py:65–118`).
  */
class JsonStatSpec extends SparkSpec {

  private val densePayload =
    """{ "meta": { "dataset": "prc_hicp_midx" },
      |  "data": {
      |    "id":   ["freq", "unit", "coicop", "geo", "time"],
      |    "size": [1, 1, 1, 1, 4],
      |    "dimension": {
      |      "freq":   {"category": {"index": {"M": 0}}},
      |      "unit":   {"category": {"index": {"I15": 0}}},
      |      "coicop": {"category": {"index": {"CP00": 0}}},
      |      "geo":    {"category": {"index": {"LU": 0}}},
      |      "time":   {"category": {"index": {"2024M01": 0, "2024M02": 1,
      |                                        "2024M03": 2, "2024M04": 3}}}
      |    },
      |    "value": [105.1, 105.6, 106.0, 106.2] } }""".stripMargin

  test("dense payload densifies in row-major order") {
    val df = JsonStat.densify(spark, densePayload)
    assert(df.columns.toSeq == Seq("freq", "unit", "coicop", "geo", "time", "value"))
    val rows = df.orderBy("time").collect()
    assert(rows.length == 4)
    assert(rows(0) == Row("M", "I15", "CP00", "LU", "2024M01", 105.1))
    assert(rows(3) == Row("M", "I15", "CP00", "LU", "2024M04", 106.2))
  }

  test("sparse value dict: missing flat indices yield null rows that are KEPT") {
    val payload =
      """{"id": ["geo", "time"], "size": [1, 3],
        |"dimension": {"geo": {"category": {"index": {"LU": 0}}},
        |              "time": {"category": {"index": {"2024M01": 0, "2024M02": 1, "2024M03": 2}}}},
        |"value": {"0": 105.1, "2": 106.0}}""".stripMargin
    val rows = JsonStat.densify(spark, payload).orderBy("time").collect()
    assert(rows.length == 3)
    assert(rows(0).getDouble(2) == 105.1)
    assert(rows(1).isNullAt(2), "missing sparse index must stay as a null row")
    assert(rows(2).getDouble(2) == 106.0)
  }

  test("category.index as list instead of dict") {
    val payload =
      """{"id": ["geo"], "size": [2],
        |"dimension": {"geo": {"category": {"index": ["LU", "DE"]}}},
        |"value": [1.0, 2.0]}""".stripMargin
    val rows = JsonStat.densify(spark, payload).orderBy("geo").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("DE", "LU"))
  }

  test("multi-dimension cube: row-major index arithmetic") {
    // 2 units x 2 geos x 3 months = 12 cells; value[i] = i makes the
    // expected (unit, geo, time) -> i mapping self-describing.
    val payload =
      """{"id": ["unit", "geo", "time"], "size": [2, 2, 3],
        |"dimension": {
        |  "unit": {"category": {"index": {"I15": 0, "I05": 1}}},
        |  "geo":  {"category": {"index": {"LU": 0, "DE": 1}}},
        |  "time": {"category": {"index": {"2024M01": 0, "2024M02": 1, "2024M03": 2}}}},
        |"value": [0,1,2,3,4,5,6,7,8,9,10,11]}""".stripMargin
    val got = JsonStat.densify(spark, payload).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getDouble(3)).toMap
    assert(got(("I15", "LU", "2024M01")) == 0.0)
    assert(got(("I15", "LU", "2024M03")) == 2.0)
    assert(got(("I15", "DE", "2024M01")) == 3.0)
    assert(got(("I05", "LU", "2024M01")) == 6.0)
    assert(got(("I05", "DE", "2024M03")) == 11.0)
  }

  test("scalable decode == local reference enumeration (property)") {
    // Pseudo-random cubes; deterministic seed. The distributed decode must
    // match the driver-side nested-loop reference row for row.
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 5) {
      val nDims = 1 + rnd.nextInt(3)
      val dims = (0 until nDims).map { j =>
        val size = 1 + rnd.nextInt(4)
        s"d$j" -> (0 until size).map(k => s"c${j}_$k").toIndexedSeq
      }
      val n = dims.map(_._2.length).product
      val dense = (0 until n).map(i => if (rnd.nextBoolean()) Some(i.toDouble) else None)
      val cube = JsonStatCube(dims, Some(dense.toIndexedSeq), None)
      val expected = JsonStat.densifyLocal(cube)
        .map { case (codes, v) => dims.map(d => codes(d._1)) -> v }.toMap
      val got = JsonStat.densify(spark, cube).collect().map { r =>
        dims.indices.map(r.getString) ->
          (if (r.isNullAt(nDims)) None else Some(r.getDouble(nDims)))
      }.toMap
      assert(got == expected)
    }
  }

  test("sparse densify over the literal cap: spine join path == literal path") {
    val dims = Seq(
      "geo" -> IndexedSeq("LU", "DE"),
      "time" -> (0 until 6).map(i => f"2024M$i%02d").toIndexedSeq)
    val cube = JsonStatCube(dims, None, Some(Map(0L -> 1.0, 5L -> 2.5, 11L -> 3.0)))
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    val viaLiteral = rowsOf(JsonStat.densify(spark, cube))
    // cap of 0 forces the exploded (i, value) frame + range-spine LEFT join
    val viaJoin = rowsOf(JsonStat.densify(spark, cube, sparseLiteralMax = 0))
    assert(viaJoin == viaLiteral)
    assert(viaJoin.size == 12, "all 12 cells present, missing ones as null rows")
    assert(viaJoin.values.count(_.isEmpty) == 9)
  }

  test("error: missing dimension/value keys") {
    intercept[IllegalArgumentException] {
      JsonStat.parse("""{"id": ["geo"], "size": [1], "value": [1.0]}""")
    }
    intercept[IllegalArgumentException] {
      JsonStat.parse(
        """{"id": ["geo"], "size": [1],
          |"dimension": {"geo": {"category": {"index": {"LU": 0}}}}}""".stripMargin)
    }
  }

  test("error: value length != product of sizes") {
    intercept[IllegalArgumentException] {
      JsonStat.parse(
        """{"id": ["geo"], "size": [2],
          |"dimension": {"geo": {"category": {"index": {"LU": 0, "DE": 1}}}},
          |"value": [1.0]}""".stripMargin)
    }
  }

  test("error: unsupported value type") {
    intercept[IllegalArgumentException] {
      JsonStat.parse(
        """{"id": ["geo"], "size": [1],
          |"dimension": {"geo": {"category": {"index": {"LU": 0}}}},
          |"value": 42}""".stripMargin)
    }
  }

  test("error: a sparse value index outside [0, n) names the index") {
    def sparse(value: String) = JsonStat.parse(
      s"""{"id": ["geo", "time"], "size": [1, 3],
         |"dimension": {"geo": {"category": {"index": {"LU": 0}}},
         |              "time": {"category": {"index": {"2024M01": 0, "2024M02": 1, "2024M03": 2}}}},
         |"value": $value}""".stripMargin)
    assert(sparse("""{"0": 1.0, "2": 3.0}""").sparseValues.get.size == 2)
    Seq("3" -> """{"0": 1.0, "2": 3.0, "3": 4.0}""", "-1" -> """{"-1": 1.0, "1": 2.0}""")
      .foreach { case (key, value) =>
        val e = intercept[IllegalArgumentException](sparse(value))
        assert(e.getMessage.contains(s"index $key outside [0, 3)"), e.getMessage)
      }
  }

  test("error: id/size length mismatch fails loudly at parse time") {
    val e = intercept[IllegalArgumentException] {
      JsonStat.parse(
        """{"id": ["geo", "time"], "size": [1],
          |"dimension": {"geo": {"category": {"index": {"LU": 0}}}},
          |"value": [1.0]}""".stripMargin)
    }
    assert(e.getMessage.contains("id/size length mismatch"))
  }

  test("error: a NAMED dimension absent from the dimension object names itself") {
    // 'time' is declared in id/size but has no entry under "dimension" —
    // the reference's missing-dimension defensive branch
    // (process_hicp_silver.py:70–72); the message must name the culprit so
    // a 100-dim payload fails actionably, not with a bare NPE
    val e = intercept[IllegalArgumentException] {
      JsonStat.parse(
        """{"id": ["geo", "time"], "size": [1, 1],
          |"dimension": {"geo": {"category": {"index": {"LU": 0}}}},
          |"value": [1.0]}""".stripMargin)
    }
    assert(e.getMessage.contains("'time'") && e.getMessage.contains("missing"))
  }

  test("error: category codes != declared size names the dimension and both counts") {
    val e = intercept[IllegalArgumentException] {
      JsonStat.parse(
        """{"id": ["geo"], "size": [3],
          |"dimension": {"geo": {"category": {"index": {"LU": 0, "DE": 1}}}},
          |"value": [1.0, 2.0, 3.0]}""".stripMargin)
    }
    assert(e.getMessage.contains("'geo'") && e.getMessage.contains("2")
      && e.getMessage.contains("3"), e.getMessage)
  }

  test("error: unsupported category.index node type is rejected, not mis-decoded") {
    val e = intercept[IllegalArgumentException] {
      JsonStat.parse(
        """{"id": ["geo"], "size": [1],
          |"dimension": {"geo": {"category": {"index": 7}}},
          |"value": [1.0]}""".stripMargin)
    }
    assert(e.getMessage.contains("category.index"))
  }
}
