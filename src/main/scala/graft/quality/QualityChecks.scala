package graft.quality

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Data-quality checks Q1–Q7 (SURVEY.md §2.3), generalized from the
  * reference's hard-coded HICP silver checks (`check_hicp_quality.py:52–119`)
  * to arbitrary (key, time, value) table shapes.
  *
  * Every check is a DataFrame aggregation — partial+final hash aggregate (the
  * reference's per-group Python loop for continuity, `:89–100`, becomes a
  * single groupBy). The gate, `runChecks`, has two branches with identical
  * reports: a small input (at most `Exec.SmallInputRows` rows, e.g. one
  * series) is collected in ONE bounded job and checked on the driver; a
  * larger one runs the scalar checks, the duplicate-key grouping and the
  * continuity grouping as ONE Spark action (a union of three one-row
  * aggregates, read by position).
  */
object QualityChecks {

  /** Q1: required-column set difference (`check_hicp_quality.py:57–60`).
    * Schema metadata only — no job.
    */
  def missingColumns(df: DataFrame, required: Seq[String]): Seq[String] =
    required.filterNot(df.columns.contains)

  private def nullCountCol(c: String): Column =
    count(when(col(c).isNull, 1)).as(s"${c}_nulls")

  /** Q2: per-column null counts in one aggregate (`:63–66`). One row out. */
  def nullCounts(df: DataFrame, cols: Seq[String]): DataFrame =
    df.agg(nullCountCol(cols.head), cols.tail.map(nullCountCol): _*)

  /** Q3: rows duplicated beyond the first per key = Σ(count−1) over key groups
    * (`:69–73`, pandas `duplicated` semantics). One row out.
    */
  def duplicateKeyCount(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*).count()
      .agg(coalesce(sum(col("count") - 1), lit(0L)).as("n_dup_rows"))

  /** Q4: non-positive-value count (`:76–80`; SQL comparison is already
    * null-excluding, matching the pandas behavior actually used).
    */
  def nonPositiveCount(df: DataFrame, valueCol: String): Column =
    count(when(col(valueCol) <= 0, 1)).as(s"${valueCol}_nonpositive")

  /** Q5: unparseable-time count — after S3 parsing, unparseable == null (`:83–86`). */
  def nullTimeCount(df: DataFrame, timeCol: String): Column =
    count(when(col(timeCol).isNull, 1)).as("time_nulls")

  /** Q6: per-group monthly continuity (`_monthly_frequency_ok`, `:41–49` +
    * grouped loop `:89–100`). A group passes when it has <3 distinct months,
    * or its distinct-month count fills the [min,max] month grid exactly
    * (equivalent to the reference's element-wise grid compare given
    * month-start-normalized times). Returns one row per group.
    */
  def monthlyContinuity(df: DataFrame, groupCols: Seq[String], timeCol: String): DataFrame = {
    val month = date_trunc("month", col(timeCol))
    df.groupBy(groupCols.map(col): _*)
      .agg(
        countDistinct(month).as("n_months"),
        min(month).as("min_month"),
        max(month).as("max_month"))
      .withColumn("expected_months",
        (months_between(col("max_month"), col("min_month")) + 1).cast("long"))
      .withColumn("ok",
        col("n_months") < 3 || col("n_months") === col("expected_months"))
  }

  /** Q7: null-safe global summary (`:103–117`) — min/max already skip nulls. */
  def summary(df: DataFrame, timeCol: String, valueCol: String): DataFrame =
    df.agg(
      count(lit(1)).as("rows"),
      min(col(timeCol)).as("min_time"),
      max(col(timeCol)).as("max_time"),
      min(col(valueCol)).as("value_min"),
      max(col(valueCol)).as("value_max"))

  /** Column profiler — the standard discovery/monitoring query: per column,
    * exact distinct count, null count, and min/max (stringified so
    * heterogeneous types share one output schema). Shaped as a UNION of
    * per-column two-level aggregations inside ONE job: each branch
    * map-side-combines to its distinct values before the (tiny) shuffle and
    * the branches' stages run in parallel — measured ~13× faster (3.9s →
    * 0.3s at sf0.1) than the single multi-distinct aggregate, whose Expand
    * multiplies the scan by |cols|+1 and funnels it through one exchange.
    */
  def profileColumns(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.map { c =>
      df.groupBy(col(c).as("v")).agg(count(lit(1)).as("n"))
        .agg(
          count(when(col("v").isNotNull, 1)).as("n_distinct"),
          coalesce(sum(when(col("v").isNull, col("n"))), lit(0L)).as("n_nulls"),
          min(col("v")).cast("string").as("min_value"),
          max(col("v")).cast("string").as("max_value"))
        .select(lit(c).as("col_name"), col("n_distinct"), col("n_nulls"),
          col("min_value"), col("max_value"))
    }.reduce(_.unionByName(_)).orderBy(col("col_name"))

  /** Benford first-digit conformance — the classic fabricated-data screen
    * for financial columns: observed leading-digit frequencies of positive
    * values vs the Benford expectation log10(1+1/d), per-digit absolute
    * deviation. The leading digit is taken from the STRING of the exact
    * integer cents (round(v*100)) — extracting it numerically via
    * v/10^floor(log10 v) can flip at powers of ten where libm log10
    * differs by an ULP across engines. One scan + a 9-row aggregate.
    */
  /** EMBEDDING-TABLE sanity gate — the vector-store twin of the tabular
    * checks: per label block, counts of wrong-dimension vectors, non-finite
    * components (NaN/±Inf), and exact-zero norms (each one poisons a
    * cosine/dot downstream silently — a zero norm turns similarity into
    * NaN, a stray Inf saturates every dot product it touches), plus the
    * average norm as the drift signal (an embedding-model swap shows up as
    * a norm-scale jump before any retrieval metric moves). All counts are
    * exact integers on row-local predicates (zero shuffle until the
    * |labels|-sized rollup); the norm is per-row floor-quantized to an
    * exact long BEFORE the sum (the repo's no-float-accumulation
    * doctrine), one division at the end. avg_norm averages FINITE vectors
    * only — a NaN/Inf norm has no magnitude to average, and quantizing it
    * would overflow the exact long sum (ANSI addExact) — and is NULL when
    * a label has no finite vector at all. The zero-norm check is
    * order-proof by construction: squares cannot cancel, so Σx² == 0 iff
    * every component is 0, regardless of fold order.
    */
  def embeddingSanity(emb: DataFrame, dim: Int = 64): DataFrame =
    emb
      .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("dim_bad", (size(col("v")) =!= dim).cast("long"))
      .withColumn("nonfinite", expr(
        "CAST(exists(v, x -> isnan(x) OR abs(x) = CAST('Infinity' AS DOUBLE)) AS LONG)"))
      .withColumn("sumsq", expr(
        "aggregate(v, CAST(0.0 AS DOUBLE), (a, x) -> a + x * x)"))
      .withColumn("zero_norm", (col("sumsq") === 0.0).cast("long"))
      .withColumn("norm_q4", when(col("nonfinite") === 0L,
        floor(sqrt(col("sumsq")) * 10000 + 0.5).cast("long"))
        .otherwise(lit(0L)))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("dim_bad")).as("n_dim_bad"),
        sum(col("nonfinite")).as("n_nonfinite"),
        sum(col("zero_norm")).as("n_zero_norm"),
        (sum(col("norm_q4")).cast("double")
          / (nullif(sum(lit(1L) - col("nonfinite")), lit(0L)).cast("double")
            * 10000.0)).as("avg_norm"))
      .orderBy(col("label"))

  def benfordFirstDigit(df: DataFrame, valueCol: String): DataFrame = {
    def q4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
    val digits = df
      .filter(col(valueCol) > 0)
      .select(substring(round(col(valueCol) * 100).cast("long").cast("string"), 1, 1)
        .cast("int").as("digit"))
    val expected = (1 to 9).map(d => (d, math.log10(1.0 + 1.0 / d)))
      .toSeq
    val expectedDf = df.sparkSession.createDataFrame(expected)
      .toDF("digit", "expected_p")
    digits.groupBy(col("digit")).agg(count(lit(1)).as("n"))
      .withColumn("p", col("n").cast("double") / sum(col("n")).over())
      .join(broadcast(expectedDf), Seq("digit"))
      .select(col("digit"), col("n"), q4(col("p")).as("observed_p"),
        q4(col("expected_p")).as("expected_p"),
        q4(abs(col("p") - col("expected_p"))).as("abs_dev"))
      .orderBy(col("digit"))
  }

  /** Mutual information between two categorical columns — the dependence
    * screen for label-leakage / redundant-feature checks. Emitted as
    * PER-CELL pointwise terms p(x,y)·ln(p(x,y)/(p(x)p(y))) rather than one
    * scalar: the cell rows sum to MI, and per-cell output keeps the
    * comparison engine-exact (a single scalar would sum tiny doubles in
    * engine-dependent order). All fractions are exact integer ratios of
    * one scan's counts; joint and marginal counts come from the same
    * aggregate, re-aggregated in-plan (no second scan of the table).
    */
  def mutualInfoCells(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    def q4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
    val joint = graft.ops.Exec.pin(df.groupBy(col(xCol).as("x"), col(yCol).as("y"))
      .agg(count(lit(1)).as("nxy")))
    val mx = joint.groupBy(col("x")).agg(sum(col("nxy")).as("nx"))
    val my = joint.groupBy(col("y")).agg(sum(col("nxy")).as("ny"))
    val total = joint.agg(sum(col("nxy")).as("n"))
    joint.join(broadcast(mx), Seq("x")).join(broadcast(my), Seq("y"))
      .crossJoin(broadcast(total))
      .select(col("x"), col("y"), col("nxy"),
        q4(col("nxy").cast("double") / col("n")).as("p_xy"),
        // counts stay < 2^53 so the double casts are exact; the nx·ny
        // product is computed in double because a long·long product
        // overflows once per-cell counts pass ~3e9 rows
        q4((col("nxy").cast("double") / col("n")) *
          log((col("nxy").cast("double") * col("n")) /
            (col("nx").cast("double") * col("ny"))))
          .as("mi_term"))
      .orderBy(col("x"), col("y"))
  }

  /** Pearson chi-square test of independence over an integer-coded
    * contingency table — the categorical sibling of [[mutualInfoCells]]
    * (MI measures association strength in nats; chi² gives the classical
    * test statistic and its degrees of freedom, the thing a data-quality
    * gate actually thresholds against a critical value). Cells are exact
    * integer counts; expected = row·col/n and the (o−e)²/e contribution
    * are fixed per-cell IEEE expressions; the TOTAL is a left-to-right
    * fold over the (x, y)-sorted contribution array — the one-row
    * collect_list is |cells| structs, and the sequential fold makes the
    * cross-engine sum bit-identical (the sorted-fold doctrine; a plain
    * SUM would float on combine order). Scale: one shuffle on (x, y),
    * marginals broadcast; |cells| = |x|·|y| is category-sized metadata.
    */
  def chi2Independence(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    def q6(c: Column): Column = floor(c * 1000000 + 0.5) / 1000000
    val joint = graft.ops.Exec.pin(df.groupBy(col(xCol).as("x"), col(yCol).as("y"))
      .agg(count(lit(1)).as("o")))
    val mx = joint.groupBy(col("x")).agg(sum(col("o")).as("nx"))
    val my = joint.groupBy(col("y")).agg(sum(col("o")).as("ny"))
    val total = joint.agg(sum(col("o")).as("n"),
      countDistinct(col("x")).as("nxd"), countDistinct(col("y")).as("nyd"))
    // the FULL marginal cross product, not just observed cells — a zero
    // cell (o=0, e>0) contributes e to the statistic, and dropping it
    // understates chi² exactly when the dependence is strongest
    val cells = mx.crossJoin(broadcast(my))
      .join(joint, Seq("x", "y"), "left")
      .na.fill(0L, Seq("o"))
      .crossJoin(broadcast(total))
      .withColumn("e",
        col("nx").cast("double") * col("ny").cast("double") / col("n"))
      .withColumn("contrib",
        (col("o").cast("double") - col("e")) * (col("o").cast("double") - col("e"))
          / col("e"))
    val tot = cells.agg(expr(
      """aggregate(array_sort(collect_list(struct(x, y, contrib))),
        |  CAST(0 AS DOUBLE), (acc, s) -> acc + s.contrib)""".stripMargin)
      .as("chi2"),
      max((col("nxd") - 1) * (col("nyd") - 1)).as("dof"))
    cells.crossJoin(broadcast(tot))
      .select(col("x"), col("y"), col("o"), q6(col("e")).as("e_q"),
        q6(col("contrib")).as("contrib_q"),
        q6(col("chi2")).as("chi2_total"), col("dof"))
      .orderBy(col("x"), col("y"))
  }

  /** Functional-dependency audit — profiling's schema-inference step:
    * for each candidate determinant→dependent column pair, does every
    * determinant value map to exactly ONE dependent value? Reported as
    * the exact violation census (how many determinant groups see >1
    * dependent value, and how many rows sit in violating groups), so a
    * "nearly holds" FD (dirty foreign key, denormalization drift) is
    * visible as a small violation count rather than a boolean flip.
    * Pure integer logic — two narrow aggregates per pair, the first
    * keyed (det, dep), the second keyed det; output is |pairs| rows.
    */
  def fdAudit(df: DataFrame, pairs: Seq[(String, String)]): DataFrame = {
    val spark = df.sparkSession
    val results = pairs.map { case (det, dep) =>
      val groups = df.groupBy(col(det).as("k"))
        .agg(countDistinct(col(dep)).as("ndep"), count(lit(1)).as("nrows"))
      groups.agg(
        lit(det).as("determinant"), lit(dep).as("dependent"),
        count(lit(1)).as("n_groups"),
        sum(when(col("ndep") > 1, 1L).otherwise(0L)).as("n_violating_groups"),
        sum(when(col("ndep") > 1, col("nrows")).otherwise(0L))
          .as("n_violating_rows"),
        max(col("ndep")).as("max_dep_values"))
    }
    results.reduce(_ unionByName _)
      .withColumn("fd_holds", col("n_violating_groups") === 0)
      .orderBy(col("determinant"), col("dependent"))
  }

  /** Distribution drift between two table snapshots via the Population
    * Stability Index: fixed-width bins (data-independent edges, so the
    * binning needs no global pass), per-bin population fractions of each
    * snapshot, psi_term = (p − q)·ln(p/q) with an epsilon floor for empty
    * bins. Σ psi_term is the standard drift gate (<0.1 stable, >0.25 major
    * shift). Two scans + one tiny aggregate — the monitoring query a
    * pipeline runs on every load. Fractions are exact-integer ratios, so
    * both engines compute identical doubles; terms are 4dp-quantized.
    */
  def psiDrift(before: DataFrame, after: DataFrame, valueCol: String,
               binWidth: Double, epsilon: Double = 1e-6): DataFrame = {
    def binned(df: DataFrame, n: String): DataFrame =
      df.withColumn("bin", floor(col(valueCol) / binWidth).cast("long"))
        .groupBy(col("bin")).agg(count(lit(1)).as(n))
    val q4 = (c: Column) => floor(c * 10000 + 0.5) / 10000
    val p = binned(before, "n_before")
    val q = binned(after, "n_after")
    val totals = p.agg(sum(col("n_before")).as("t_before"))
      .crossJoin(q.agg(sum(col("n_after")).as("t_after")))
    p.join(q, Seq("bin"), "full_outer")
      .na.fill(0L, Seq("n_before", "n_after"))
      .crossJoin(broadcast(totals))
      .withColumn("p_frac", greatest(col("n_before") / col("t_before"), lit(epsilon)))
      .withColumn("q_frac", greatest(col("n_after") / col("t_after"), lit(epsilon)))
      .select(col("bin"), col("n_before"), col("n_after"),
        q4(col("p_frac")).as("p_frac"), q4(col("q_frac")).as("q_frac"),
        q4((col("p_frac") - col("q_frac")) * log(col("p_frac") / col("q_frac")))
          .as("psi_term"))
      .orderBy(col("bin"))
  }

  /** One check outcome (reference report entry shape, `:53–54`). */
  final case class CheckResult(name: String, passed: Boolean, detail: Map[String, String])

  /** Full report (reference `:119,135–144`): global gate = AND of checks. */
  final case class Report(passed: Boolean, checks: Seq[CheckResult],
                          summary: Map[String, String]) {
    def gateSuffix: String = if (passed) "_PASS" else "_FAIL"
  }

  /** Flatten a report into a single-row DataFrame (one boolean column per
    * check + row count + global gate) — the driver-facing, oracle-comparable
    * shape of Q8.
    */
  def reportRow(spark: org.apache.spark.sql.SparkSession, report: Report): DataFrame = {
    import spark.implicits._
    def check(name: String): Boolean = report.checks.find(_.name == name).exists(_.passed)
    Seq((
      report.summary.getOrElse("rows", "0").toLong,
      check("required_columns"), check("no_nulls"), check("no_duplicate_keys"),
      check("values_positive"), check("times_parseable"), check("monthly_continuity"),
      report.passed))
      .toDF("n_rows", "required_columns", "no_nulls", "no_duplicate_keys",
        "values_positive", "times_parseable", "monthly_continuity", "passed")
  }

  /** E2: run Q1–Q7 over a silver-shaped table. Q1 reads the schema only;
    * Q2–Q7 take one of two branches that give identical reports
    * (`QualityChecksSpec` runs both on every fixture):
    *
    *   - small input — at most `Exec.SmallInputRows` rows, e.g. one series —
    *     ONE bounded job collects the columns the checks read
    *     ([[driverChecks]] has the details) and Q2–Q7 are computed from
    *     those rows on the driver;
    *   - larger input, a column type the driver branch does not handle, or
    *     `SPARK_GRAFT_DRIVER_GATE=off`: [[distributedChecks]], one Spark
    *     action over three aggregations.
    */
  def runChecks(df: DataFrame, requiredCols: Seq[String], keyCols: Seq[String],
                timeCol: String, valueCol: String, groupCols: Seq[String]): Report =
    withRequired(df, requiredCols) { q1 =>
      driverProbe(df, requiredCols, keyCols, timeCol, valueCol, groupCols)
        .flatMap(p => graft.ops.Exec.collectIfSmall(p, graft.ops.Exec.SmallInputRows).map(
          reportFromRows(p, _, q1, requiredCols, keyCols, timeCol, valueCol, groupCols)))
        .getOrElse(distributedReport(df, q1, requiredCols, keyCols, timeCol, valueCol, groupCols))
    }

  /** Q1, then `rest` only when every required column is present. */
  private def withRequired(df: DataFrame, requiredCols: Seq[String])
                          (rest: CheckResult => Report): Report = {
    val missing = missingColumns(df, requiredCols)
    val q1 = CheckResult("required_columns", missing.isEmpty,
      Map("missing" -> missing.mkString(",")))
    if (missing.nonEmpty) Report(passed = false, Seq(q1), Map.empty) else rest(q1)
  }

  /** The distributed branch of [[runChecks]]: ONE Spark action. The scalar
    * aggregate, the duplicate-key aggregate and the continuity aggregate are
    * one-row frames of one shape (branch tag, counts, summary strings); their
    * union is collected once and each value is read by its position, never
    * by a column name that a checked column's derived name could shadow.
    * The three branches keep their own aggregations, so AQE still runs
    * their shuffle stages concurrently.
    */
  private[quality] def distributedChecks(df: DataFrame, requiredCols: Seq[String],
      keyCols: Seq[String], timeCol: String, valueCol: String,
      groupCols: Seq[String]): Report =
    withRequired(df, requiredCols)(
      distributedReport(df, _, requiredCols, keyCols, timeCol, valueCol, groupCols))

  private def distributedReport(df: DataFrame, q1: CheckResult, requiredCols: Seq[String],
      keyCols: Seq[String], timeCol: String, valueCol: String,
      groupCols: Seq[String]): Report = {
    val noStrings = typedLit(Seq.empty[String])
    // counts: one null count per required column, then the non-positive
    // values, the null times and the rows; strings: SummaryKeys' order
    val scalars = df.agg(lit(0),
      array(requiredCols.map(nullCountCol) ++ Seq(nonPositiveCount(df, valueCol),
        nullTimeCount(df, timeCol), count(lit(1))): _*),
      array(Seq(min(col(timeCol)), max(col(timeCol)), min(col(valueCol)), max(col(valueCol)))
        .map(_.cast("string")): _*))
    val dups = duplicateKeyCount(df, keyCols).select(lit(1), array(col("n_dup_rows")), noStrings)
    val continuity = monthlyContinuity(df, groupCols, timeCol)
      .agg(lit(2), array(count(lit(1)), count(when(!col("ok"), 1))), noStrings)
    val byBranch = scalars.union(dups).union(continuity).collect()
      .map(r => r.getInt(0) -> r).toMap
    def counts(branch: Int): Seq[Long] = byBranch(branch).getSeq[Long](1)
    val n = requiredCols.size
    val scalarCounts = counts(0)
    report(q1, requiredCols.zip(scalarCounts), counts(1)(0), scalarCounts(n),
      scalarCounts(n + 1), counts(2)(0), counts(2)(1), scalarCounts(n + 2),
      byBranch(0).getSeq[String](2).map(v => Option(v).getOrElse("null")))
  }

  /** The driver branch of [[runChecks]] without its row cap (the gate in
    * [[runChecks]] keeps it to small inputs). One job collects the checked
    * columns plus two row-level predicates Spark evaluates in that same job
    * — `value <= 0` and the month of `time` as `year * 12 + month` of
    * `date_trunc('month', time)` — so Q4 and Q6 keep Spark's comparison and
    * calendar semantics exactly. Grouping then follows Spark's rules: null
    * keys form one group, NaN equals NaN and -0.0 equals 0.0; min/max
    * follow Spark's ordering (NaN largest, strings by UTF-8 bytes); and the
    * summary strings come from Spark's own `cast(... as string)` on a
    * one-row local frame, which Spark folds without a job.
    */
  private[quality] def driverChecks(df: DataFrame, requiredCols: Seq[String],
      keyCols: Seq[String], timeCol: String, valueCol: String,
      groupCols: Seq[String]): Report =
    withRequired(df, requiredCols) { q1 =>
      val probe = driverProbe(df, requiredCols, keyCols, timeCol, valueCol, groupCols)
        .getOrElse(throw new IllegalArgumentException(
          "a key, group, time or value column type the driver branch does not handle"))
      reportFromRows(probe, probe.collect(), q1, requiredCols, keyCols, timeCol, valueCol,
        groupCols)
    }

  private val NonPositiveCol = "__qc_nonpositive"
  private val MonthCol = "__qc_month"
  private val SummaryKeys = Seq("min_time", "max_time", "value_min", "value_max")

  /** Atomic types whose grouping and ordering the driver branch reproduces;
    * strings only with the default (binary) collation. */
  private def driverType(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | DateType | TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case st: StringType => st.collationId == StringType.collationId
    case _ => false
  }

  /** The checked columns (each once) + the two predicates, or None when a
    * key, group, time or value column has a type outside [[driverType]]. */
  private def driverProbe(df: DataFrame, requiredCols: Seq[String], keyCols: Seq[String],
      timeCol: String, valueCol: String, groupCols: Seq[String]): Option[DataFrame] = {
    val typed = df.select((keyCols ++ groupCols :+ timeCol :+ valueCol).distinct.map(col): _*)
    if (!typed.schema.forall(f => driverType(f.dataType))) None
    else {
      val cols = (requiredCols ++ keyCols ++ groupCols :+ timeCol :+ valueCol).distinct
      val monthStart = date_trunc("month", col(timeCol))
      Some(df.select(cols.map(col) ++ Seq(
        (col(valueCol) <= 0).as(NonPositiveCol),
        (year(monthStart) * 12 + month(monthStart)).as(MonthCol)): _*))
    }
  }

  /** A grouping-key atom with Spark's equality: floating values by their
    * bits after mapping -0.0 to 0.0 (NaN bits are canonical), so NaN equals
    * NaN; nulls stay null and so form one group. */
  private def keyAtom(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)
    case f: Float => java.lang.Float.floatToIntBits(if (f == 0.0f) 0.0f else f)
    case other => other
  }

  /** Spark's ordering of two non-null values of one [[driverType]]. */
  private def sparkCompare(a: Any, b: Any): Int = (a, b) match {
    case (x: Double, y: Double) => if (x == y) 0 else java.lang.Double.compare(x, y)
    case (x: Float, y: Float) => if (x == y) 0 else java.lang.Float.compare(x, y)
    case (x: String, y: String) =>
      java.util.Arrays.compareUnsigned(x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        y.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    case (x: Comparable[_], y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
  }

  private def reportFromRows(probe: DataFrame, rows: Array[Row], q1: CheckResult,
      requiredCols: Seq[String], keyCols: Seq[String], timeCol: String, valueCol: String,
      groupCols: Seq[String]): Report = {
    val at = probe.columns.zipWithIndex.toMap
    def key(r: Row, cols: Seq[String]): Seq[Any] = cols.map(c => keyAtom(r.get(at(c))))
    def countRows(p: Row => Boolean): Long = rows.count(p).toLong
    // a global groupBy (no columns) is one group even over no rows
    def groups(cols: Seq[String]): Long =
      if (cols.isEmpty) 1L else rows.iterator.map(key(_, cols)).distinct.size.toLong
    def extreme(c: String, sign: Int): Any = rows.iterator.map(_.get(at(c)))
      .filter(_ != null)
      .foldLeft(null: Any)((m, v) => if (m == null || sign * sparkCompare(v, m) < 0) v else m)

    val mi = at(MonthCol)
    val months = scala.collection.mutable.HashMap.empty[Seq[Any], Set[Int]]
    rows.foreach { r =>
      val k = key(r, groupCols)
      val ms = months.getOrElse(k, Set.empty[Int])
      months(k) = if (r.isNullAt(mi)) ms else ms + r.getInt(mi)
    }
    val failing = months.values.count(ms => ms.size >= 3 && ms.size != ms.max - ms.min + 1)

    val spark = probe.sparkSession
    val fields = SummaryKeys.zip(Seq(timeCol, timeCol, valueCol, valueCol))
      .map { case (n, c) => StructField(n, probe.schema(at(c)).dataType) }
    val extremes = Row(extreme(timeCol, 1), extreme(timeCol, -1),
      extreme(valueCol, 1), extreme(valueCol, -1))
    val summary = spark.createDataFrame(java.util.Collections.singletonList(extremes),
        StructType(fields))
      .select(fields.map(f => col(f.name).cast("string")): _*).collect()(0)
      .toSeq.map(v => Option(v).fold("null")(_.toString))

    report(q1, requiredCols.map(c => c -> countRows(_.isNullAt(at(c)))),
      rows.length - groups(keyCols),
      countRows(r => !r.isNullAt(at(NonPositiveCol)) && r.getBoolean(at(NonPositiveCol))),
      countRows(_.isNullAt(at(timeCol))),
      if (groupCols.isEmpty) 1L else months.size.toLong, failing.toLong,
      rows.length.toLong, summary)
  }

  /** Assemble Q1–Q7 from the branch-independent counts; `summary` is in
    * [[SummaryKeys]] order. */
  private def report(q1: CheckResult, nullsByCol: Seq[(String, Long)], dupRows: Long,
      nonPositive: Long, timeNulls: Long, groups: Long, failingGroups: Long, rows: Long,
      summary: Seq[String]): Report = {
    val checks = Seq(
      q1,
      CheckResult("no_nulls", nullsByCol.forall(_._2 == 0L),
        nullsByCol.map { case (c, n) => c -> n.toString }.toMap),
      CheckResult("no_duplicate_keys", dupRows == 0L, Map("n_dup_rows" -> dupRows.toString)),
      CheckResult("values_positive", nonPositive == 0L,
        Map("n_nonpositive" -> nonPositive.toString)),
      CheckResult("times_parseable", timeNulls == 0L,
        Map("n_unparseable" -> timeNulls.toString)),
      CheckResult("monthly_continuity", failingGroups == 0L,
        Map("groups" -> groups.toString, "failing_groups" -> failingGroups.toString)))
    Report(checks.forall(_.passed), checks,
      Map("rows" -> rows.toString) ++ SummaryKeys.zip(summary))
  }

  /** k-anonymity screen over a quasi-identifier tuple — the privacy check a
    * training corpus gets before release: a record is re-identifiable when
    * its QID equivalence class is small. One groupBy on the QID columns
    * (the only shuffle) then a single-row rollup: the achieved k (smallest
    * class), class count, and how many classes / rows fall below the
    * `k` threshold. Scales as an ordinary aggregation — the QID class
    * count, not the row count, bounds the second stage.
    */
  /** Tukey IQR-fence outlier census — the robust univariate screen a
    * profile pass runs beside the z-score (which a heavy tail corrupts;
    * quartiles don't move): per audited column, exact interpolated Q1/Q3,
    * the 1.5×IQR fences, and the row counts beyond each fence. ALL
    * columns' quartiles come from ONE sort-based `percentile` aggregate
    * (one pass), broadcast back as a single row; the census is then ONE
    * conditional-count aggregate over the fact scan — two passes total
    * for any number of audited columns, no join wider than the 1-row
    * broadcast, long-form output via `stack`.
    *
    * Scale note: exact `percentile` merges every distinct value into one
    * final buffer (a single-task reduction) — correct here because the
    * oracle contract demands exactness, but at true 100-TB scale the
    * fences don't: `useApprox = true` swaps in `approx_percentile` (the
    * mergeable GK sketch, constant memory per partition, fully
    * distributed merge) whose quantile error is far inside the 1.5×IQR
    * slack — the production setting; the exact default is the oracle
    * anchor. `qc_outlier_iqr_approx` proves the two agree within
    * tolerance on real data.
    *
    * Plan evidence (r12 explain audit): with useApprox the quartile
    * subtree is `partial_approx_percentile → approx_percentile`
    * (ObjectHashAggregate, mergeable sketch buffers — no exact
    * percentile buffer anywhere in that branch); the registered
    * `qc_outlier_iqr_approx` query still *also* runs the exact subtree
    * because it IS the exact-vs-approx agreement audit, which is why its
    * bench cost ≈ exact + approx, not approx alone.
    */
  /** The exact-quartile 1-row frame (q1_c, q3_c per requested column): one
    * aggregate, checkpointed (both fence reads below use the row) and
    * tracked for release at the next [[graft.ops.Exec.clearPinned]]. */
  private def exactQuartiles(df: DataFrame, cols: Seq[String]): DataFrame =
    graft.ops.Exec.checkpoint(df
      .agg(expr(s"percentile(${cols.head}, array(0.25D, 0.75D))")
          .as(s"qq_${cols.head}"),
        cols.tail.map(c =>
          expr(s"percentile($c, array(0.25D, 0.75D))").as(s"qq_$c")): _*)
      .select(cols.flatMap(c => Seq(
        expr(s"element_at(qq_$c, 1)").as(s"q1_$c"),
        expr(s"element_at(qq_$c, 2)").as(s"q3_$c"))): _*))

  def iqrOutliers(df: DataFrame, cols: Seq[String],
                  useApprox: Boolean = false,
                  accuracy: Int = 10000): DataFrame = {
    def q4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
    // ONE percentile buffer per column (the array form), not one per
    // quantile: the buffer is a map of every distinct value, so doubling
    // it doubled the dominant cost (measured 5.4 s at sf0.1 pre-fix)
    val q =
      if (useApprox) {
        val quartiles = cols.map(c =>
          expr(s"cast(approx_percentile($c, array(0.25D, 0.75D), $accuracy)" +
            " as array<double>)").as(s"qq_$c"))
        df.agg(quartiles.head, quartiles.tail: _*)
          .select(cols.flatMap(c => Seq(
            expr(s"element_at(qq_$c, 1)").as(s"q1_$c"),
            expr(s"element_at(qq_$c, 2)").as(s"q3_$c"))): _*)
      } else exactQuartiles(df, cols)
    def lo(c: String): Column =
      col(s"q1_$c") - (col(s"q3_$c") - col(s"q1_$c")) * 1.5
    def hi(c: String): Column =
      col(s"q3_$c") + (col(s"q3_$c") - col(s"q1_$c")) * 1.5
    val census = count(lit(1)).as("n_rows") +: cols.flatMap(c => Seq(
      sum(when(col(c) < lo(c), 1L).otherwise(0L)).as(s"nb_$c"),
      sum(when(col(c) > hi(c), 1L).otherwise(0L)).as(s"na_$c")))
    val stackExpr = s"stack(${cols.length}, " + cols.map(c =>
      s"'$c', q1_$c, q3_$c, nb_$c, na_$c").mkString(", ") +
      ") AS (column_name, q1r, q3r, n_below, n_above)"
    df.crossJoin(broadcast(q))
      .agg(census.head, census.tail: _*)
      .crossJoin(broadcast(q))
      .select(col("n_rows"), expr(stackExpr))
      .select(col("column_name"),
        q4(col("q1r")).as("q1"), q4(col("q3r")).as("q3"),
        q4(col("q1r") - (col("q3r") - col("q1r")) * 1.5).as("lo_fence"),
        q4(col("q3r") + (col("q3r") - col("q1r")) * 1.5).as("hi_fence"),
        col("n_rows"), col("n_below"), col("n_above"))
      .orderBy(col("column_name"))
  }

  /** Exact-vs-approx IQR agreement audit in TWO passes instead of four
    * (r17): the registered `qc_outlier_iqr_approx` query composed
    * [[iqrOutliers]] twice — exact and approx legs each paid their own
    * quartile aggregate AND census scan over the fact table. Here ONE
    * aggregate carries both quartile buffers (exact percentile + GK
    * sketch) and ONE census scan counts both fence sets; every value
    * expression (quartiles, raw fences, q4 displays, tolerance bands) is
    * the same as the two-leg composition, so the output is identical —
    * proven by the oracle hash at every SF.
    */
  def iqrApproxAudit(df: DataFrame, cols: Seq[String],
                     accuracy: Int = 10000): DataFrame = {
    def q4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
    // the fused 1-row quartile frame is checkpointed (both fence reads
    // below use it) and lives exactly this query (transient drain)
    val aggs =
      cols.map(c => expr(s"percentile($c, array(0.25D, 0.75D))").as(s"eq_$c")) ++
      cols.map(c => expr(s"cast(approx_percentile($c, array(0.25D, 0.75D)," +
        s" $accuracy) as array<double>)").as(s"aq_$c"))
    val q = graft.ops.Exec.checkpoint(df.agg(aggs.head, aggs.tail: _*)
      .select(cols.flatMap(c => Seq(
        expr(s"element_at(eq_$c, 1)").as(s"q1_$c"),
        expr(s"element_at(eq_$c, 2)").as(s"q3_$c"),
        expr(s"element_at(aq_$c, 1)").as(s"a1_$c"),
        expr(s"element_at(aq_$c, 2)").as(s"a3_$c"))): _*))
    def lo(q1: String, q3: String): Column =
      col(q1) - (col(q3) - col(q1)) * 1.5
    def hi(q1: String, q3: String): Column =
      col(q3) + (col(q3) - col(q1)) * 1.5
    val census = count(lit(1)).as("n_rows") +: cols.flatMap(c => Seq(
      sum(when(col(c) < lo(s"q1_$c", s"q3_$c"), 1L).otherwise(0L)).as(s"nb_$c"),
      sum(when(col(c) > hi(s"q1_$c", s"q3_$c"), 1L).otherwise(0L)).as(s"na_$c"),
      sum(when(col(c) < lo(s"a1_$c", s"a3_$c"), 1L).otherwise(0L)).as(s"anb_$c"),
      sum(when(col(c) > hi(s"a1_$c", s"a3_$c"), 1L).otherwise(0L)).as(s"ana_$c")))
    val stackExpr = s"stack(${cols.length}, " + cols.map(c =>
      s"'$c', q1_$c, q3_$c, a1_$c, a3_$c, nb_$c, na_$c, anb_$c, ana_$c")
      .mkString(", ") +
      ") AS (column_name, q1r, q3r, a1r, a3r, n_below, n_above, anb, ana)"
    df.crossJoin(broadcast(q))
      .agg(census.head, census.tail: _*)
      .crossJoin(broadcast(q))
      .select(col("n_rows"), expr(stackExpr))
      .select(col("column_name"),
        q4(col("q1r")).as("q1"), q4(col("q3r")).as("q3"), col("n_rows"),
        col("n_below"), col("n_above"),
        (abs(q4(col("a1r")) - q4(col("q1r")))
          <= greatest(abs(q4(col("q1r"))) * 0.05, lit(1.0)) &&
          abs(q4(col("a3r")) - q4(col("q3r")))
            <= greatest(abs(q4(col("q3r"))) * 0.05, lit(1.0)))
          .as("quartiles_within_tol"),
        (abs(col("anb") - col("n_below"))
          <= greatest(col("n_rows") * 0.005, lit(10.0)) &&
          abs(col("ana") - col("n_above"))
            <= greatest(col("n_rows") * 0.005, lit(10.0)))
          .as("census_within_tol"))
      .orderBy(col("column_name"))
  }

  /** Cross-table temporal sanity — the referential-integrity check's
    * TEMPORAL sibling: facts whose event time precedes their parent's
    * creation time are corrupt joins, clock skew, or backfill bugs (here:
    * lineitems shipped before their order was placed). One fact-parent
    * join keyed on the FK + one rollup: per group, the violation census
    * and the lag distribution (min/max/mean days from order to ship) —
    * the same two-exchange shape as any fact-dim aggregate.
    */
  def temporalSanity(li: DataFrame, orders: DataFrame): DataFrame = {
    def q4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
    li.select(col("l_orderkey").as("o_orderkey"), col("l_shipdate"))
      .join(orders.select(col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority")), Seq("o_orderkey"))
      .withColumn("lag_days", datediff(col("l_shipdate"), col("o_orderdate")))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lineitems"),
        sum(when(col("lag_days") < 0, 1L).otherwise(0L)).as("n_violations"),
        min(col("lag_days")).as("min_lag_days"),
        max(col("lag_days")).as("max_lag_days"),
        q4(avg(col("lag_days"))).as("avg_lag_days"))
      .orderBy(col("o_orderpriority"))
  }

  def kAnonymity(df: DataFrame, qidCols: Seq[String], k: Int): DataFrame =
    df.groupBy(qidCols.map(col): _*)
      .agg(count(lit(1)).as("sz"))
      .agg(
        min(col("sz")).as("k_anonymity"),
        count(lit(1)).as("n_classes"),
        sum(when(col("sz") < k, 1L).otherwise(0L)).as("classes_below_k"),
        sum(when(col("sz") < k, col("sz")).otherwise(0L)).as("rows_at_risk"))

  /** Two-sample Kolmogorov–Smirnov test between the value distributions of
    * every pair of categories — the distribution-drift test to run when
    * PSI's binning is too coarse. D = max over sample points of
    * |F_a(v) − F_b(v)| is computed EXACTLY: cumulative counts ride one
    * RANGE-frame window per pair (ties land together by construction), the
    * max is taken over the INTEGER cross-difference |a_le·m − b_le·n|, and
    * only the final D = max_scaled/(n·m) touches floats (q6). The
    * significance readout is the EXPONENT of the asymptotic p-value,
    * ln(p/2) = −2D²·nm/(n+m) — pure arithmetic over already-quantized
    * values, so no libm exp() sits between the engines (reject at 5 % when
    * the exponent < ln(0.025) ≈ −3.69). Scale shape: pairs×values rows
    * through one window exchange per pair key — the same plan KS-tests
    * thousands of segment pairs.
    */
  def ksTest(events: DataFrame, catCol: String = "event_type",
             valCol: String = "value"): DataFrame = {
    def q6(c: Column): Column = floor(c * 1000000 + 0.5) / 1000000
    val vals = events.select(col(catCol).as("cat"), col(valCol).as("v"))
    val cats = vals.select(col("cat")).distinct()
    val pairs = cats.select(col("cat").as("ta"))
      .join(cats.select(col("cat").as("tb")), col("ta") < col("tb"))
    val tagged = pairs.join(vals,
        col("cat") === col("ta") || col("cat") === col("tb"))
      .select(col("ta"), col("tb"), col("v"),
        when(col("cat") === col("ta"), 1L).otherwise(0L).as("is_a"),
        when(col("cat") === col("tb"), 1L).otherwise(0L).as("is_b"))
    val w = Window.partitionBy(col("ta"), col("tb")).orderBy(col("v"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = tagged
      .select(col("ta"), col("tb"),
        sum(col("is_a")).over(w).as("a_le"),
        sum(col("is_b")).over(w).as("b_le"))
    val counts = tagged.groupBy(col("ta"), col("tb"))
      .agg(sum(col("is_a")).as("n"), sum(col("is_b")).as("m"))
    cum.join(broadcast(counts), Seq("ta", "tb"))
      .groupBy(col("ta"), col("tb"), col("n"), col("m"))
      .agg(max(abs(col("a_le") * col("m") - col("b_le") * col("n")))
        .as("d_scaled"))
      .withColumn("d_stat",
        q6(col("d_scaled").cast("double")
          / (col("n") * col("m")).cast("double")))
      .select(col("ta"), col("tb"), col("n"), col("m"), col("d_stat"),
        q6(lit(-2.0) * col("d_stat") * col("d_stat")
          * ((col("n") * col("m")).cast("double")
            / (col("n") + col("m")).cast("double"))).as("ln_p_half"))
      .orderBy(col("ta"), col("tb"))
  }

  /** l-diversity audit — k-anonymity's companion: a QID class can be large
    * (k-anonymous) yet still leak if every member shares one sensitive
    * value. Per QID class, count DISTINCT sensitive values; report the
    * corpus minimum (the l the table actually achieves), how many classes
    * fall below the target, and how many rows sit in them. Same plan shape
    * as [[kAnonymity]]: one two-level aggregate (distinct-inside-group via
    * countDistinct — partial-aggregated, no self-join), metadata-sized
    * output.
    */
  def lDiversity(df: DataFrame, qidCols: Seq[String], sensitiveCol: Column,
                 l: Int): DataFrame =
    df.groupBy(qidCols.map(col): _*)
      .agg(count(lit(1)).as("sz"),
        countDistinct(sensitiveCol).as("n_sensitive"))
      .agg(
        min(col("n_sensitive")).as("l_diversity"),
        count(lit(1)).as("n_classes"),
        sum(when(col("n_sensitive") < l, 1L).otherwise(0L)).as("classes_below_l"),
        sum(when(col("n_sensitive") < l, col("sz")).otherwise(0L)).as("rows_at_risk"))

  /** Referential-integrity audit across FK edges — the cross-table check a
    * warehouse load runs after every batch (the reference loads star-ish
    * tables with no constraint enforcement at all; cf. `/root/reference`
    * src/db/load_hicp_to_sql.py). Each edge reports child rows whose FK
    * value misses every parent key ("orphans", left-anti semantics: a NULL
    * FK is not an orphan match — surfaced separately as the classic
    * three-valued-logic trap) and parent rows no child references
    * ("childless" — not an error, but the cardinality drift signal).
    * Per edge: two anti-join counts + a null count, each one narrow
    * shuffle; parent key sides are dimension-sized and broadcast.
    */
  def referentialIntegrity(edges: Seq[(String, DataFrame, String, DataFrame, String)])
      : DataFrame =
    edges.map { case (name, child, fk, parent, pk) =>
      val pkeys = parent.select(col(pk).as(fk)).distinct()
      val orphans = child.filter(col(fk).isNotNull)
        .join(pkeys, Seq(fk), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
      val nulls = child
        .agg(coalesce(sum(when(col(fk).isNull, 1L).otherwise(0L)), lit(0L))
          .as("n_null_fk"))
      val childless = pkeys
        .join(child.select(col(fk)).distinct(), Seq(fk), "left_anti")
        .agg(count(lit(1)).as("n_childless_parents"))
      orphans.crossJoin(nulls).crossJoin(childless)
        .select(lit(name).as("edge"), col("n_orphans"), col("n_null_fk"),
          col("n_childless_parents"))
    }.reduce(_.unionByName(_)).orderBy(col("edge"))
}
