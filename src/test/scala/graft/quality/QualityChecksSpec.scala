package graft.quality

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.silver.SilverTransform

/** Mutant fixtures per FIXTURES.md §A2 — each mutant must flip exactly its
  * targeted check.
  */
class QualityChecksSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Clean 4-month single series. */
  private def clean = Seq(
    (ts("2024-01-01 00:00:00"), "LU", "CP00", "I15", Some(105.1)),
    (ts("2024-02-01 00:00:00"), "LU", "CP00", "I15", Some(105.6)),
    (ts("2024-03-01 00:00:00"), "LU", "CP00", "I15", Some(106.0)),
    (ts("2024-04-01 00:00:00"), "LU", "CP00", "I15", Some(106.2)))

  /** `runChecks` after asserting that its driver and distributed branches
    * return identical reports, detail maps and summary strings included. */
  private def checked(df: DataFrame, requiredCols: Seq[String], keyCols: Seq[String],
                      timeCol: String, valueCol: String,
                      groupCols: Seq[String]): QualityChecks.Report = {
    val onDriver = QualityChecks.driverChecks(df, requiredCols, keyCols, timeCol, valueCol,
      groupCols)
    val distributed = QualityChecks.distributedChecks(df, requiredCols, keyCols, timeCol,
      valueCol, groupCols)
    assert(onDriver == distributed, s"driver branch:\n$onDriver\ndistributed branch:\n$distributed")
    val r = QualityChecks.runChecks(df, requiredCols, keyCols, timeCol, valueCol, groupCols)
    assert(r == distributed)
    r
  }

  private val Silver = Seq("time", "geo", "coicop", "unit", "value")

  private def runSilver(df: DataFrame) =
    checked(df, requiredCols = Silver, keyCols = Seq("time", "geo", "coicop", "unit"),
      timeCol = "time", valueCol = "value", groupCols = Seq("geo", "coicop", "unit"))

  private def run(rows: Seq[(Timestamp, String, String, String, Option[Double])]) =
    runSilver(rows.toDF(Silver: _*))

  private def failing(r: QualityChecks.Report): Set[String] =
    r.checks.filterNot(_.passed).map(_.name).toSet

  test("clean series passes all checks") {
    val r = run(clean)
    assert(r.passed, failing(r).toString)
    assert(r.summary("rows") == "4")
    assert(r.summary("min_time").startsWith("2024-01-01"))
  }

  test("missing required column fails Q1 and short-circuits") {
    val df = clean.toDF("time", "geo", "coicop", "unit", "value").drop("value")
    val r = checked(df, Seq("time", "value"), Seq("time"), "time", "time", Seq("geo"))
    assert(!r.passed && failing(r) == Set("required_columns"))
  }

  test("null in required column fails Q2 only") {
    val r = run(clean :+ ((ts("2024-05-01 00:00:00"), null: String, "CP00", "I15", Some(1.0))))
    assert(failing(r) == Set("no_nulls"))
  }

  test("duplicate key fails Q3 only") {
    val r = run(clean :+ clean.head.copy(_5 = Some(999.0)))
    assert(failing(r) == Set("no_duplicate_keys"))
  }

  test("non-positive value fails Q4; null value does NOT") {
    assert(failing(run(clean :+ ((ts("2024-05-01 00:00:00"), "LU", "CP00", "I15", Some(-1.0)))))
      == Set("values_positive"))
    // sparse-miss null observation: value-sanity must NOT fail (nulls are
    // excluded from the <= 0 comparison, matching the reference's used behavior)
    val r = run(clean :+ ((ts("2024-05-01 00:00:00"), "LU", "CP00", "I15", None)))
    assert(!failing(r).contains("values_positive"))
  }

  test("null time fails Q5 (and not continuity: nulls excluded from grid)") {
    val r = run(clean :+ ((null: Timestamp, "LU", "CP00", "I15", Some(1.0))))
    assert(failing(r).contains("times_parseable"))
  }

  test("gap in the middle fails Q6 only; 2-point series passes (<3 branch)") {
    val gapped = clean.patch(2, Nil, 1) // drop March -> Jan,Feb,Apr
    assert(failing(run(gapped)) == Set("monthly_continuity"))
    assert(run(clean.take(2)).passed)
  }

  test("multi-series: only the gapped group fails, detail counts groups") {
    val de = Seq(
      (ts("2024-01-01 00:00:00"), "DE", "CP00", "I15", Some(1.0)),
      (ts("2024-02-01 00:00:00"), "DE", "CP00", "I15", Some(2.0)),
      (ts("2024-05-01 00:00:00"), "DE", "CP00", "I15", Some(3.0))) // gap
    val r = run(clean ++ de)
    assert(failing(r) == Set("monthly_continuity"))
    val detail = r.checks.find(_.name == "monthly_continuity").get.detail
    assert(detail("groups") == "2" && detail("failing_groups") == "1")
  }

  /** A single-series JSON-stat payload shaped like the HICP feed: dense
    * values, or a sparse object that leaves out the NaN cells. */
  private def payload(times: Seq[String], values: Seq[Double], sparse: Boolean): String = {
    def index(codes: Seq[String]) =
      codes.zipWithIndex.map { case (c, i) => s""""$c": $i""" }.mkString("{", ", ", "}")
    val value =
      if (sparse) values.zipWithIndex.filterNot(_._1.isNaN)
        .map { case (v, i) => s""""$i": $v""" }.mkString("{", ", ", "}")
      else values.mkString("[", ", ", "]")
    s"""{"id": ["unit", "coicop", "geo", "time"], "size": [1, 1, 1, ${times.size}],
       |"dimension": {"unit": {"category": {"index": {"I15": 0}}},
       |  "coicop": {"category": {"index": {"CP00": 0}}},
       |  "geo": {"category": {"index": {"DE": 0}}},
       |  "time": {"category": {"index": ${index(times)}}}},
       |"value": $value}""".stripMargin
  }

  test("both branches agree on the four HICP defect shapes, read back from silver parquet") {
    val times = (0 until 36).map(k => f"${2000 + k / 12}M${k % 12 + 1}%02d")
    val values = times.indices.map(k => 100.0 + k * 0.25)
    val shapes = Seq(
      "clean" -> payload(times, values, sparse = false),
      // 2001M05 and 2001-05 are the same month: a duplicated key
      "dup_key" -> payload(times :+ "2001-05", values :+ 104.0, sparse = false),
      "non_positive" -> payload(times, values.updated(7, 0.0).updated(6, -101.5), sparse = false),
      "bad_time" -> payload(times.updated(9, "2000X10"), values, sparse = false),
      "gap" -> payload(times, values.updated(20, Double.NaN).updated(21, Double.NaN),
        sparse = true))
    val failed = shapes.map { case (name, p) =>
      val dir = tempDir(s"qc_$name").toString
      SilverTransform.silver(spark, p, "2026-01-01T00:00:00Z", "raw/x.json")
        .write.mode("overwrite").parquet(dir)
      name -> failing(runSilver(spark.read.parquet(dir)))
    }.toMap
    assert(failed("clean").isEmpty)
    assert(failed("dup_key") == Set("no_duplicate_keys"))
    assert(failed("non_positive") == Set("values_positive"))
    assert(failed("bad_time").contains("times_parseable"))
    assert(failed("gap") == Set("no_nulls"))
  }

  test("both branches group like Spark: null keys, NaN == NaN, -0.0 == 0.0, empty input") {
    val schema = StructType(Seq(
      StructField("time", TimestampType), StructField("g", DoubleType),
      StructField("s", StringType), StructField("value", DoubleType)))
    val t = (m: Int) => ts(f"2024-$m%02d-01 00:00:00")
    val rows = Seq(
      // (NaN, a), whatever the NaN bits: months 1, 2, 4 -> failing, and
      // (time, g, s) repeats at month 1 -> one duplicate
      Row(t(1), Double.NaN, "a", 1.0), Row(t(2), Double.NaN, "a", 2.0),
      Row(t(4), Double.NaN, "a", 3.0),
      Row(t(1), java.lang.Double.longBitsToDouble(0x7ff8000000000001L), "a", 9.0),
      // (0.0, a) and (-0.0, a) are one group: months 1..3 -> ok, one duplicate
      Row(t(1), 0.0, "a", Double.NaN), Row(t(2), -0.0, "a", -0.0), Row(t(3), 0.0, "a", 5.0),
      Row(t(1), -0.0, "a", 6.0),
      // (null, null) is one group: months 1, 3, 5 -> failing; a null time
      Row(t(1), null, null, 4.0), Row(t(3), null, null, null), Row(t(5), null, null, 2.5),
      Row(null, null, null, 7.0),
      // (null, a) is its own group; its repeated key is the third duplicate
      Row(t(1), null, "a", 1.5), Row(t(1), null, "a", 1.5))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val r = checked(df, Seq("time", "g"), Seq("time", "g", "s"), "time", "value", Seq("g", "s"))
    val cont = r.checks.find(_.name == "monthly_continuity").get.detail
    assert(cont == Map("groups" -> "4", "failing_groups" -> "2"))
    assert(r.checks.find(_.name == "no_duplicate_keys").get.detail("n_dup_rows") == "3")
    assert(r.summary("value_max") == "NaN")
    // no grouping columns: one global group; empty input
    checked(df, Seq("time"), Seq.empty, "time", "value", Seq.empty)
    checked(df.limit(0), Seq("time"), Seq("time"), "time", "value", Seq("g"))
    checked(df.limit(0), Seq("time"), Seq.empty, "time", "value", Seq.empty)
  }

  test("a required column named time keeps its own null count when timeCol is another") {
    // the distributed branch derives `time_nulls` both for the required
    // column `time` (Q2) and for the time column `t2` (Q5)
    val rows = clean.map { case (t, g, c, u, v) => (t, Option(t), g, c, u, v) }
    val may = ts("2024-05-01 00:00:00")
    val t2Null = (rows :+ ((may, None, "LU", "CP00", "I15", Some(1.0))))
      .toDF("time", "t2", "geo", "coicop", "unit", "value")
    def check(df: DataFrame) = checked(df, requiredCols = Silver,
      keyCols = Seq("t2", "geo", "coicop", "unit"), timeCol = "t2", valueCol = "value",
      groupCols = Seq("geo", "coicop", "unit"))
    val r = check(t2Null)
    assert(r.checks.find(_.name == "no_nulls").get.detail("time") == "0")
    assert(failing(r) == Set("times_parseable"))
    // the reverse: `time` has the null, `t2` none — Q2 must fail
    val timeNull = (rows :+ ((null: Timestamp, Some(may), "LU", "CP00", "I15", Some(1.0))))
      .toDF("time", "t2", "geo", "coicop", "unit", "value")
    val reverse = check(timeNull)
    assert(reverse.checks.find(_.name == "no_nulls").get.detail("time") == "1")
    assert(failing(reverse) == Set("no_nulls"))
  }

  test("both branches agree on qc_report_gate column types: DATE time, DECIMAL value, INT/LONG keys") {
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_suppkey", LongType), StructField("l_shipdate", DateType),
      StructField("l_quantity", DecimalType(15, 2))))
    def row(o: Long, l: Int, s: Long, d: String, q: String) =
      Row(o, l, s, Option(d).map(Date.valueOf).orNull, Option(q).map(BigDecimal(_).bigDecimal).orNull)
    val rows = Seq(
      row(1, 1, 7, "1996-03-13", "17.00"), row(1, 2, 7, "1996-04-12", "36.00"),
      row(1, 3, 7, "1996-05-29", "8.50"), row(2, 1, 9, "1997-01-28", "38.00"),
      row(2, 1, 9, "1997-03-28", "-1.00"), row(3, 1, 9, "1997-02-02", "0.00"),
      row(3, 2, 11, null, "45.25"), row(4, 1, 11, "1995-10-30", null))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val r = checked(df, Seq("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity"),
      Seq("l_orderkey", "l_linenumber"), "l_shipdate", "l_quantity", Seq("l_suppkey"))
    assert(r.summary == Map("rows" -> "8", "min_time" -> "1995-10-30",
      "max_time" -> "1997-03-28", "value_min" -> "-1.00", "value_max" -> "45.25"))
  }

  test("column profiler: one row per column with exact distincts, nulls, min/max") {
    val df = Seq((1L, Some(2.5), "b"), (2L, None, "a"), (3L, Some(2.5), "c"))
      .toDF("id", "v", "s")
    val rows = QualityChecks.profileColumns(df, Seq("id", "v", "s")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getString(3), r.getString(4)))
      .toMap
    assert(rows("id") == (3L, 0L, "1", "3"))
    assert(rows("v") == (1L, 1L, "2.5", "2.5"))
    assert(rows("s") == (3L, 0L, "a", "c"))
  }

  test("PSI drift: identical snapshots score ~0, a shifted snapshot scores high") {
    val before = (1 to 100).map(i => (i % 10) * 10.0 + 5.0).toDF("v")
    // identical distribution -> every psi_term is 0 (p == q exactly)
    val same = QualityChecks.psiDrift(before, before, "v", binWidth = 10.0)
      .collect()
    assert(same.map(_.getDouble(5)).sum == 0.0)
    assert(same.length == 10)
    // shift the whole population two bins up -> strong drift, and bins
    // present on only one side still appear (epsilon floor, no div-by-zero)
    val after = (1 to 100).map(i => (i % 10) * 10.0 + 25.0).toDF("v")
    val drift = QualityChecks.psiDrift(before, after, "v", binWidth = 10.0)
      .collect()
    val psi = drift.map(_.getDouble(5)).sum
    assert(psi > 0.25, s"two-bin shift must exceed the major-drift gate, got $psi")
    assert(drift.exists(r => r.getLong(1) > 0 && r.getLong(2) == 0))
    assert(drift.exists(r => r.getLong(1) == 0 && r.getLong(2) > 0))
  }

  test("mutual information cells: dependent columns sum to ln2, independent to 0") {
    import spark.implicits._
    // x == y on a 50/50 split: MI = H = ln 2; each cell carries .5*ln2
    val dep = Seq(("a", "a"), ("a", "a"), ("b", "b"), ("b", "b")).toDF("x", "y")
    val depRows = QualityChecks.mutualInfoCells(dep, "x", "y").collect()
    assert(depRows.length == 2)
    depRows.foreach(r => assert(r.getDouble(4) == 0.3466, s"cell term ${r.getDouble(4)}"))
    // uniform independent cross: every pointwise term is exactly 0
    val ind = (for (x <- Seq("a", "b"); y <- Seq("c", "d")) yield (x, y)).toDF("x", "y")
    val indRows = QualityChecks.mutualInfoCells(ind, "x", "y").collect()
    assert(indRows.length == 4)
    indRows.foreach(r => assert(r.getDouble(4) == 0.0))
  }

  test("Benford screen: digits from exact cents; non-positives excluded; expectation exact") {
    import spark.implicits._
    // 1.00 -> 100 cents -> digit 1 (x3); 25.50 -> 2550 -> 2; 0.50 -> 50
    // -> 5 (sub-unit values take their cents' leading digit); 999.99 ->
    // 99999 -> 9; zero and negatives are screened out
    val df = Seq(1.0, 1.0, 1.0, 25.5, 0.5, 999.99, 0.0, -7.0).toDF("v")
    val rows = QualityChecks.benfordFirstDigit(df, "v").collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(rows.keySet == Set(1, 2, 5, 9))
    assert(rows(1).getLong(1) == 3L)
    assert(rows(1).getDouble(2) == 0.5, "3 of 6 positive values lead with 1")
    assert(rows(1).getDouble(3) == 0.301, "Benford p(1) = log10(2) to 4dp")
    assert(rows(9).getDouble(3) == 0.0458)
  }

  test("k-anonymity: achieved k is the smallest QID class; at-risk tallies match") {
    import spark.implicits._
    // QID classes: (1,a) x1, (1,b) x2, (2,a) x3 — k=1; below k=3: two
    // classes holding 1+2=3 rows
    val df = Seq((1, "a"), (1, "b"), (1, "b"), (2, "a"), (2, "a"), (2, "a"))
      .toDF("nat", "seg")
    val r = QualityChecks.kAnonymity(df, Seq("nat", "seg"), 3).collect()(0)
    assert(r.getLong(0) == 1L, "k_anonymity")
    assert(r.getLong(1) == 3L, "n_classes")
    assert(r.getLong(2) == 2L, "classes_below_k")
    assert(r.getLong(3) == 3L, "rows_at_risk")
  }

  test("referential integrity: orphans, null FKs, and childless parents tally exactly") {
    import spark.implicits._
    // parents 1,2,3; children reference 1,1,9 (orphan), null (not an
    // orphan); parent 3 is never referenced
    val parent = Seq((1, "p1"), (2, "p2"), (3, "p3")).toDF("pk", "pname")
    val child = Seq((10, Some(1)), (11, Some(1)), (12, Some(9)),
      (13, Option.empty[Int]), (14, Some(2))).toDF("cid", "fk")
    val r = QualityChecks.referentialIntegrity(
      Seq(("child.fk->parent", child, "fk", parent, "pk"))).collect()(0)
    assert(r.getString(0) == "child.fk->parent")
    assert(r.getLong(1) == 1L, s"orphans: $r")      // the fk=9 row
    assert(r.getLong(2) == 1L, s"null fks: $r")     // the null row
    assert(r.getLong(3) == 1L, s"childless: $r")    // parent 3
  }

  test("temporal sanity: a lineitem shipped before its order is counted with its lag") {
    import spark.implicits._
    val o = Seq((1L, java.sql.Date.valueOf("1995-01-10"), "1-URGENT"),
      (2L, java.sql.Date.valueOf("1995-02-01"), "2-HIGH"))
      .toDF("o_orderkey", "o_orderdate", "o_orderpriority")
    val l = Seq((1L, java.sql.Date.valueOf("1995-01-15")), // +5 days
      (1L, java.sql.Date.valueOf("1995-01-05")),           // -5: violation
      (2L, java.sql.Date.valueOf("1995-02-21")))           // +20
      .toDF("l_orderkey", "l_shipdate")
    val got = QualityChecks.temporalSanity(l, o).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getInt(3), r.getInt(4), r.getDouble(5))).toMap
    assert(got("1-URGENT") == ((2L, 1L, -5, 5, 0.0)), s"got $got")
    assert(got("2-HIGH") == ((1L, 0L, 20, 20, 20.0)), s"got $got")
  }

  test("IQR outlier census: hand-computed fences and beyond-fence counts on a planted fixture") {
    import spark.implicits._
    // 1..11 (Q1=3.5, Q3=8.5, IQR=5 → fences [-4, 16]) plus planted
    // outliers -10 and 100; with the outliers the quartiles move to
    // exact interpolated positions — recompute them the textbook way
    val xs = ((1 to 11).map(_.toDouble) ++ Seq(-10.0, 100.0)).sorted
    val df = xs.map(x => (x, 0.0)).toDF("a", "b")
    def quant(p: Double): Double = {
      val h = p * (xs.length - 1)
      val l = h.toInt
      xs(l) + (h - l) * (xs(math.min(l + 1, xs.length - 1)) - xs(l))
    }
    val (q1, q3) = (quant(0.25), quant(0.75))
    val (lo, hi) = (q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1))
    val got = QualityChecks.iqrOutliers(df, Seq("a")).collect()(0)
    def q4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    assert(got.getString(0) == "a")
    assert(got.getDouble(1) == q4(q1) && got.getDouble(2) == q4(q3),
      s"quartiles: $got vs ($q1, $q3)")
    assert(got.getDouble(3) == q4(lo) && got.getDouble(4) == q4(hi))
    assert(got.getLong(5) == 13L)
    assert(got.getLong(6) == xs.count(_ < lo).toLong, s"below: $got")
    assert(got.getLong(7) == xs.count(_ > hi).toLong, s"above: $got")
  }

  test("chi2: proportional table scores exactly 0, zero cells are present and counted") {
    import spark.implicits._
    // proportional: p(x,y) = p(x)p(y) exactly → every contrib 0
    val indep = (Seq.fill(10)(("a", 0L)) ++ Seq.fill(10)(("a", 1L))
      ++ Seq.fill(20)(("b", 0L)) ++ Seq.fill(20)(("b", 1L))).toDF("x", "y")
    val r1 = QualityChecks.chi2Independence(indep, "x", "y").collect()
    assert(r1.length == 4)
    assert(r1.forall(_.getDouble(5) == 0.0), "chi2 must be exactly 0")
    assert(r1.forall(_.getLong(6) == 1L), "dof (2-1)(2-1) = 1")

    // perfect dependence WITH structural zero cells: x=a only ever y=0,
    // x=b only ever y=1 — chi2 = n = 40, and the two zero cells must
    // appear as rows contributing e each
    val dep = (Seq.fill(20)(("a", 0L)) ++ Seq.fill(20)(("b", 1L))).toDF("x", "y")
    val r2 = QualityChecks.chi2Independence(dep, "x", "y").collect()
    assert(r2.length == 4, s"expected 4 cells incl. zeros: ${r2.length}")
    val zeros = r2.filter(_.getLong(2) == 0L)
    assert(zeros.length == 2, "both zero cells present")
    // e = 20·20/40 = 10 for every cell; contrib = 10 for all four
    assert(r2.forall(_.getDouble(3) == 10.0))
    assert(r2.forall(_.getDouble(4) == 10.0))
    assert(r2.forall(_.getDouble(5) == 40.0), s"chi2: ${r2.head.getDouble(5)}")
  }

  test("ksTest: hand-computed D on a shifted sample, zero on identical samples") {
    // a = {1,2,3}, b = {2,3,4}: F_a−F_b is 1/3 at every interior point → D = 1/3
    val df = (Seq(1.0, 2.0, 3.0).map(("a", _)) ++ Seq(2.0, 3.0, 4.0).map(("b", _)))
      .toDF("event_type", "value")
    val r = QualityChecks.ksTest(df).collect()(0)
    def q6(x: Double) = math.floor(x * 1000000 + 0.5) / 1000000
    assert(r.getAs[Long]("n") == 3L && r.getAs[Long]("m") == 3L)
    assert(r.getAs[Double]("d_stat") == q6(1.0 / 3.0), s"D: $r")
    val d = q6(1.0 / 3.0)
    assert(r.getAs[Double]("ln_p_half") == q6(-2.0 * d * d * (9.0 / 6.0)))
    // identical samples (with ties) → D exactly 0
    val same = (Seq(1.0, 2.0, 2.0, 5.0).map(("a", _)) ++
      Seq(1.0, 2.0, 2.0, 5.0).map(("b", _))).toDF("event_type", "value")
    val r2 = QualityChecks.ksTest(same).collect()(0)
    assert(r2.getAs[Double]("d_stat") == 0.0 && r2.getAs[Double]("ln_p_half") == 0.0)
  }

  test("embedding sanity: NaN/Inf/zero-norm/wrong-dim vectors are each counted once") {
    import spark.implicits._
    def vec(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val clean = Array.fill(64)(0.5f)
    val rows = Seq(
      (0L, 1, clean),
      (1L, 1, { val v = clean.clone(); v(3) = Float.NaN; v }),
      (2L, 1, { val v = clean.clone(); v(9) = Float.PositiveInfinity; v }),
      (3L, 1, Array.fill(64)(0.0f)),
      (4L, 2, Array.fill(63)(0.5f)), // wrong dimension
      (5L, 2, clean),
      (6L, 3, { val v = clean.clone(); v(0) = Float.NaN; v })) // no finite vec
      .toDF("vec_id", "label", "embedding")
    val out = QualityChecks.embeddingSanity(rows).collect()
    val got = out
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), if (r.isNullAt(5)) Double.NaN else r.getDouble(5))).toMap
    // label 1: 4 vectors — one NaN, one Inf, one zero-norm; avg_norm over
    // the two FINITE vectors (norm 4.0 and norm 0.0) = 2.0 exactly
    assert(got(1)._1 == 4L && got(1)._3 == 2L && got(1)._4 == 1L, got(1))
    assert(got(1)._2 == 0L)
    assert(got(1)._5 == 2.0, got(1))
    // label 3: only nonfinite vectors -> avg_norm is NULL, not 0/0 garbage
    assert(got(3)._3 == 1L && got(3)._5.isNaN, got(3))
    // label 2: one wrong-dim + one clean; avg_norm of the pair is exact
    assert(got(2)._2 == 1L && got(2)._3 == 0L && got(2)._4 == 0L)
    val n64 = math.floor(math.sqrt(64 * 0.25) * 10000 + 0.5) / 10000
    val n63 = math.floor(math.sqrt(63 * 0.25) * 10000 + 0.5) / 10000
    assert(math.abs(got(2)._5 - (n64 + n63) / 2) < 1e-12, got(2))
  }
}
