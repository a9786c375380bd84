package graft.gold

import java.nio.file.Files
import graft.SparkSpec
import graft.quality.QualityChecks.{CheckResult, Report}

class GoldWriterSpec extends SparkSpec {

  import spark.implicits._

  private def series(geo: String, vs: Double*) =
    vs.zipWithIndex.map { case (v, i) =>
      (java.sql.Date.valueOf(f"2024-${i + 1}%02d-01"), geo, "CP00", "I15", v)
    }

  test("G5: dynamic partition overwrite replaces only the written series") {
    val dir = tempDir("gold").toString
    val cols = Seq("time", "geo", "coicop", "unit", "value")
    GoldWriter.writeGold(
      (series("LU", 1, 2) ++ series("DE", 3, 4)).toDF(cols: _*), dir,
      Seq("geo", "coicop", "unit"))
    // rewrite LU only, with new values; DE must stay intact
    GoldWriter.writeGold(series("LU", 9, 9).toDF(cols: _*), dir,
      Seq("geo", "coicop", "unit"))
    val out = spark.read.parquet(dir)
    val byGeo = out.collect().groupBy(_.getAs[String]("geo"))
    assert(byGeo("LU").map(_.getAs[Double]("value")).sorted.toSeq == Seq(9.0, 9.0))
    assert(byGeo("DE").map(_.getAs[Double]("value")).sorted.toSeq == Seq(3.0, 4.0))
  }

  test("Q8+G1: PASS report opens the gate; FAIL report blocks it") {
    val dir = tempDir("reports").toString
    val pass = Report(passed = true, Seq(CheckResult("x", passed = true, Map())), Map("rows" -> "4"))
    val p = GoldWriter.writeReport(spark, dir, pass, "20260101_000000", "processed/a.parquet")
    assert(p.contains("_PASS"))
    assert(GoldWriter.requirePass(spark, dir) == p)

    val fail = Report(passed = false, Seq(CheckResult("x", passed = false, Map("k" -> "v"))), Map())
    GoldWriter.writeReport(spark, dir, fail, "20260102_000000", "processed/b.parquet")
    intercept[IllegalStateException] { GoldWriter.requirePass(spark, dir) }
  }

  test("G1: the gate never reads a partial pointer while reports are written") {
    val dir = tempDir("pointer").toString
    val pass = Report(passed = true, Seq(CheckResult("x", passed = true, Map())), Map())
    GoldWriter.writeReport(spark, dir, pass, "20260104_000000", "processed/d.parquet")
    val writes = 300
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val writer = new Thread(() =>
      try (1 to writes).foreach { i =>
        GoldWriter.writeReport(spark, dir, pass, f"20260105_$i%06d", "processed/e.parquet")
      } catch { case e: Exception => failures.add(s"writer: $e") })
    var reads = 0
    writer.start()
    while (writer.isAlive || reads == 0) {
      try GoldWriter.requirePass(spark, dir)
      catch { case e: Exception => failures.add(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      reads += 1
    }
    writer.join()
    assert(failures.isEmpty,
      s"${failures.size} of $reads reads failed, e.g. ${failures.peek()}")
  }

  test("G1: the gate reads the report's verdict, not a _PASS in its path") {
    val dir = tempDir("gate").toString + "/reports_PASS_archive"
    val fail = Report(passed = false, Seq(CheckResult("x", passed = false, Map())), Map())
    val p = GoldWriter.writeReport(spark, dir, fail, "20260103_000000", "processed/c.parquet")
    assert(p.contains("_PASS"), "the directory name holds _PASS")
    intercept[IllegalStateException] { GoldWriter.requirePass(spark, dir) }
  }

  test("SRC5: latestPath resolves the most recently modified object") {
    val dir = tempDir("blobs").toString
    val f1 = new java.io.File(dir, "ts=20260101.json")
    val f2 = new java.io.File(dir, "ts=20260102.json")
    Files.writeString(f1.toPath, "a"); Files.writeString(f2.toPath, "b")
    f1.setLastModified(1000000L); f2.setLastModified(2000000L)
    assert(GoldWriter.latestPath(spark, dir, ".json").exists(_.endsWith("ts=20260102.json")))
    assert(GoldWriter.latestPath(spark, dir + "/nope").isEmpty)
  }

  test("SCD2 merge: changed key closes + reopens, no-op and untouched keys pass through") {
    import spark.implicits._
    import java.sql.Date
    def d(s: String) = Date.valueOf(s)
    val dim = Seq(
      // key 1 already has closed history + an open row
      (1L, "old", d("2020-01-01"), Some(d("2022-01-01"))),
      (1L, "a", d("2022-01-01"), None: Option[Date]),
      (2L, "b", d("2020-01-01"), None: Option[Date]),
      (3L, "c", d("2020-01-01"), None: Option[Date]))
      .toDF("k", "attr", "valid_from", "valid_to")
    val upd = Seq(
      (1L, "a2", d("2024-06-01")),  // real change
      (2L, "b", d("2024-06-01")))   // no-op: same value
      .toDF("k", "attr", "changed_at")
    val out = GoldWriter.scd2Merge(dim, upd, "k", "attr", "changed_at")
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getDate(2).toString, Option(r.getDate(3)).map(_.toString)))
      .toSet
    assert(out == Set(
      (1L, "old", "2020-01-01", Some("2022-01-01")),   // history untouched
      (1L, "a", "2022-01-01", Some("2024-06-01")),     // closed at change ts
      (1L, "a2", "2024-06-01", None),                  // new open version
      (2L, "b", "2020-01-01", None),                   // no-op stays open
      (3L, "c", "2020-01-01", None)))                  // untouched stays open
    // idempotence: replaying the same update changes nothing
    val again = GoldWriter.scd2Merge(
      GoldWriter.scd2Merge(dim, upd, "k", "attr", "changed_at"),
      upd, "k", "attr", "changed_at").collect()
    assert(again.length == out.size)
    // CDC compaction: two updates for one key in a batch apply only the
    // latest — no duplicate open rows, and the final value is the newest
    val multi = Seq(
      (3L, "c1", d("2024-01-01")),
      (3L, "c2", d("2024-07-01")))
      .toDF("k", "attr", "changed_at")
    val compacted = GoldWriter.scd2Merge(dim, multi, "k", "attr", "changed_at")
      .filter($"k" === 3L).collect()
      .map(r => (r.getString(1), Option(r.getDate(3)).map(_.toString))).toSet
    assert(compacted == Set(
      ("c", Some("2024-07-01")),  // closed at the LATEST update's ts
      ("c2", None)))              // one new open row with the newest value
  }

  test("SCD2 merge: update for a key absent from dim inserts a new open row") {
    import spark.implicits._
    import java.sql.Date
    def d(s: String) = Date.valueOf(s)
    val dim = Seq((1L, "a", d("2020-01-01"), None: Option[Date]))
      .toDF("k", "attr", "valid_from", "valid_to")
    val upd = Seq(
      (1L, "a", d("2024-06-01")),    // no-op on existing key
      (9L, "fresh", d("2024-06-01"))) // brand-new key → insert arm
      .toDF("k", "attr", "changed_at")
    val out = GoldWriter.scd2Merge(dim, upd, "k", "attr", "changed_at")
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getDate(2).toString, Option(r.getDate(3)).map(_.toString)))
      .toSet
    assert(out == Set(
      (1L, "a", "2020-01-01", None),       // untouched
      (9L, "fresh", "2024-06-01", None)))  // inserted open row, valid_from = ts
    // replay is idempotent: the key now exists, value matches → no-op
    val again = GoldWriter.scd2Merge(
      GoldWriter.scd2Merge(dim, upd, "k", "attr", "changed_at"),
      upd, "k", "attr", "changed_at").collect()
    assert(again.length == out.size)
  }

  test("SCD2 merge: a key whose versions are ALL closed is reopened by a new update") {
    import spark.implicits._
    import java.sql.Date
    def d(s: String) = Date.valueOf(s)
    // key 1 was soft-deleted (every version closed); MERGE-INTO semantics
    // say a fresh update reopens it, not drops it on the floor
    val dim = Seq(
      (1L, "a", d("2020-01-01"), Some(d("2023-01-01"))),
      (2L, "b", d("2020-01-01"), None: Option[Date]))
      .toDF("k", "attr", "valid_from", "valid_to")
    val upd = Seq((1L, "a2", d("2024-06-01"))).toDF("k", "attr", "changed_at")
    val out = GoldWriter.scd2Merge(dim, upd, "k", "attr", "changed_at")
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getDate(2).toString, Option(r.getDate(3)).map(_.toString)))
      .toSet
    assert(out == Set(
      (1L, "a", "2020-01-01", Some("2023-01-01")),  // history untouched
      (1L, "a2", "2024-06-01", None),               // key reopened
      (2L, "b", "2020-01-01", None)))
  }
}
