package graft.perfbench

import java.time.LocalDate

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col

import graft.bronze.Ingest
import graft.gold.{GoldWriter, JdbcSink}
import graft.jsonstat.JsonStat
import graft.quality.QualityChecks
import graft.silver.SilverTransform

/** Seeded JSON-stat 2.0 HICP payloads shaped like Eurostat's
  * `prc_hicp_midx` responses: dimensions `freq, unit, coicop, geo, time`,
  * a row-major `value` vector that is either a dense list or a sparse
  * object keyed by flat index, and `category.index` as either a
  * code→position map or an ordered list. Defects make the quality gate
  * FAIL: a month present twice (`2001M05` and `2001-05`), non-positive
  * values, an unparseable time code, and observations missing from a
  * sparse vector.
  */
object HicpGen {
  val Geos: IndexedSeq[String] = IndexedSeq("AT", "BE", "BG", "CY", "CZ", "DE", "DK",
    "EE", "EL", "ES", "FI", "FR", "HR", "HU", "IE", "IT", "LT", "LU", "LV", "MT",
    "NL", "PL", "PT", "RO", "SE", "SI", "SK", "EA20", "EU27_2020", "IS", "NO",
    "CH", "TR", "RS", "MK", "AL", "ME", "XK", "US", "UK")
  val Coicops: IndexedSeq[String] = IndexedSeq("CP00") ++
    (1 to 12).map(i => f"CP$i%02d") ++
    (1 to 12).flatMap(i => (1 to 3).map(j => f"CP$i%02d$j"))
  val Defects: IndexedSeq[String] = IndexedSeq("dup_key", "non_positive", "bad_time", "gap")

  final case class Cube(coicops: IndexedSeq[String], geos: IndexedSeq[String],
                        times: IndexedSeq[String], values: Array[Double],
                        indexAsList: Boolean, sparse: Boolean) {
    def cells: Long = values.length.toLong
  }

  def monthCodes(firstYear: Int, n: Int): IndexedSeq[String] =
    (0 until n).map(k => f"${firstYear + k / 12}M${k % 12 + 1}%02d")

  /** Month-start date of a well-formed `2024M01` or `2024-01` code. */
  def monthOf(code: String): LocalDate =
    if (code.length == 7 && code(4) == 'M')
      LocalDate.of(code.take(4).toInt, code.drop(5).toInt, 1)
    else LocalDate.of(code.take(4).toInt, code.slice(5, 7).toInt, 1)

  /** A positive index series: a random walk of monthly rates around 0.2%. */
  def walk(rng: java.util.SplittableRandom, n: Int): Array[Double] = {
    var level = 60.0 + 40.0 * rng.nextDouble()
    Array.fill(n) {
      level *= 1.0 + (rng.nextDouble() - 0.45) * 0.01
      math.round(level * 100.0) / 100.0
    }
  }

  private def category(codes: Seq[String], asList: Boolean): String =
    if (asList) codes.map(c => "\"" + c + "\"").mkString("{\"category\": {\"index\": [", ", ", "]}}")
    else codes.zipWithIndex.map { case (c, i) => "\"" + c + "\": " + i }
      .mkString("{\"category\": {\"index\": {", ", ", "}}}")

  /** JSON-stat payload; NaN cells are left out of a sparse vector. */
  def payload(c: Cube): String = {
    val sb = new java.lang.StringBuilder(c.values.length * 10 + 4096)
    sb.append("{\"version\": \"2.0\", \"class\": \"dataset\", \"label\": \"HICP - monthly data (index)\", ")
    sb.append("\"id\": [\"freq\", \"unit\", \"coicop\", \"geo\", \"time\"], ")
    sb.append(s"""\"size\": [1, 1, ${c.coicops.size}, ${c.geos.size}, ${c.times.size}], """)
    sb.append("\"dimension\": {")
    sb.append("\"freq\": ").append(category(Seq("M"), c.indexAsList)).append(", ")
    sb.append("\"unit\": ").append(category(Seq("I15"), c.indexAsList)).append(", ")
    sb.append("\"coicop\": ").append(category(c.coicops, c.indexAsList)).append(", ")
    sb.append("\"geo\": ").append(category(c.geos, c.indexAsList)).append(", ")
    sb.append("\"time\": ").append(category(c.times, c.indexAsList)).append("}, ")
    if (c.sparse) {
      sb.append("\"value\": {")
      var first = true
      var i = 0
      while (i < c.values.length) {
        if (!c.values(i).isNaN) {
          if (!first) sb.append(", ")
          sb.append('"').append(i).append("\": ").append(c.values(i))
          first = false
        }
        i += 1
      }
      sb.append("}}")
    } else {
      sb.append("\"value\": [")
      var i = 0
      while (i < c.values.length) {
        if (i > 0) sb.append(", ")
        sb.append(c.values(i))
        i += 1
      }
      sb.append("]}")
    }
    sb.toString
  }

  /** Applies one gate-failing defect to a single-series cube. */
  def withDefect(c: Cube, defect: String, rng: java.util.SplittableRandom): Cube = {
    val k = 1 + rng.nextInt(c.times.size - 2)
    defect match {
      case "dup_key" =>
        val iso = c.times(k).take(4) + "-" + c.times(k).drop(5)
        c.copy(times = c.times :+ iso, values = c.values :+ c.values(k))
      case "non_positive" =>
        val v = c.values.clone(); v(k) = 0.0; v(k - 1) = -v(k - 1); c.copy(values = v)
      case "bad_time" =>
        c.copy(times = c.times.updated(k, c.times(k).take(4) + "X" + c.times(k).drop(5)))
      case "gap" =>
        val v = c.values.clone(); v(k) = Double.NaN; v(k + 1) = Double.NaN
        c.copy(values = v, sparse = true)
    }
  }
}

/** The medallion chain one payload goes through, every stage a public
  * function of the program: bronze wrap + land, silver build + Parquet
  * write, the six-check quality gate on the written silver, the report +
  * gate, then the gold partition-overwrite and the JDBC warehouse load.
  */
final class Medallion(ctx: Ctx) {
  import ctx.spark

  val dataset = "prc_hicp_midx"
  private def root = s"${ctx.work}/hicp"
  def goldDir = s"$root/gold"
  private def reportDir = s"$root/reports"
  private val jdbcUrl =
    s"jdbc:derby:memory:perfbench_${ctx.seed}_${System.nanoTime()};create=true"
  val Required: Seq[String] = Seq("time", "geo", "coicop", "unit", "value")
  val Keys: Seq[String] = Seq("time", "geo", "coicop", "unit")

  def cfg(table: String): JdbcSink.JdbcConfig = JdbcSink.JdbcConfig(jdbcUrl, table, "", "")

  def reset(): Unit = {
    val p = new Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  def withConn[T](f: java.sql.Connection => T): T = {
    val c = java.sql.DriverManager.getConnection(jdbcUrl)
    try f(c) finally c.close()
  }

  def dropTable(table: String): Unit = withConn { c =>
    if (JdbcSink.tableExists(c, table)) { val st = c.createStatement(); try st.execute(s"DROP TABLE $table") finally st.close() }
  }

  final case class Outcome(passed: Boolean, gateHeld: Boolean, driverBytes: Long)

  /** One payload through the whole chain. `jdbcLoad` loads the gold frame
    * into the warehouse; the gate decides whether gold is reached at all.
    */
  def load(payload: String, geo: String, coicop: String, ts: String)
          (jdbcLoad: org.apache.spark.sql.DataFrame => Unit): Outcome = {
    val (wrapped, rawPath) = ctx.span("bronze") {
      val w = Ingest.wrap(payload, dataset, Seq("geo" -> geo, "coicop" -> coicop, "unit" -> "I15"),
        "2026-01-01T00:00:00+00:00")
      (w, Ingest.land(spark, s"$root/raw", dataset, geo, coicop, ts, w))
    }
    val silverPath = s"$root/silver/$dataset/geo=$geo/coicop=$coicop/ts=$ts"
    ctx.span("silver") {
      SilverTransform.silver(spark, wrapped, "2026-01-01T00:00:00+00:00", rawPath)
        .write.mode("overwrite").parquet(silverPath)
    }
    val (silver, report) = ctx.span("quality") {
      val s = spark.read.parquet(silverPath)
      (s, QualityChecks.runChecks(s, Required, Keys, "time", "value", Seq("geo", "coicop", "unit")))
    }
    val (reportBytes, gate) = ctx.span("gold.report") {
      val path = GoldWriter.writeReport(spark, reportDir, report, ts, silverPath)
      val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
      (fs.getFileStatus(new Path(path)).getLen, Try(GoldWriter.requirePass(spark, reportDir)))
    }
    // the gate holds when its verdict matches the report it points at
    val gateHeld = gate.isSuccess == report.passed
    if (gate.isSuccess) {
      val gold = GoldWriter.goldProjection(silver)
      ctx.span("gold.write") { GoldWriter.writeGold(gold, goldDir, Seq("geo", "coicop")) }
      ctx.span("gold.jdbc") { jdbcLoad(gold) }
    }
    Outcome(report.passed, gateHeld, wrapped.length.toLong + reportBytes)
  }

  /** (geo, coicop) → rows sorted by time, as the program's reference
    * densifier enumerates them; rows with a null value are dropped, which
    * only a FAIL payload can have.
    */
  def expected(payload: String): Map[(String, String), Seq[(LocalDate, Double)]] =
    JsonStat.densifyLocal(JsonStat.parse(payload))
      .collect { case (codes, Some(v)) =>
        (codes("geo"), codes("coicop")) -> (HicpGen.monthOf(codes("time")) -> v)
      }
      .groupMap(_._1)(_._2).map { case (k, rows) => k -> rows.sortBy(_._1.toEpochDay) }

  def goldRows(keys: Seq[(String, String)]): Map[(String, String), Seq[(LocalDate, Double)]] = {
    val paths = keys.map { case (g, c) => s"$goldDir/geo=$g/coicop=$c" }
    spark.read.option("basePath", goldDir).parquet(paths: _*)
      .select(col("geo"), col("coicop"), col("time"), col("value")).collect().toSeq
      .map(r => (r.getString(0), r.getString(1)) -> (r.getDate(2).toLocalDate -> r.getDouble(3)))
      .groupMap(_._1)(_._2).map { case (k, rows) => k -> rows.sortBy(_._1.toEpochDay) }
  }

  def goldExists(geo: String, coicop: String): Boolean = {
    val p = new Path(s"$goldDir/geo=$geo/coicop=$coicop")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  def goldFiles(keys: Seq[(String, String)]): Int = {
    val fs = new Path(goldDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    keys.map { case (g, c) =>
      val p = new Path(s"$goldDir/geo=$g/coicop=$c")
      if (fs.exists(p)) fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet")) else 0
    }.sum
  }

  def jdbcRows(table: String, where: String): Map[(String, String), Seq[(LocalDate, Double)]] =
    withConn { c =>
      if (!JdbcSink.tableExists(c, table)) Map.empty
      else {
        val st = c.createStatement()
        try {
          val rs = st.executeQuery(s"SELECT geo, coicop, time, value FROM $table $where")
          val b = Seq.newBuilder[((String, String), (LocalDate, Double))]
          while (rs.next())
            b += (rs.getString(1), rs.getString(2)) -> (rs.getDate(3).toLocalDate -> rs.getDouble(4))
          b.result().groupMap(_._1)(_._2).map { case (k, rows) => k -> rows.sortBy(_._1.toEpochDay) }
        } finally st.close()
      }
    }

  def corruptJdbcValue(table: String, geo: String, coicop: String): Unit = withConn { c =>
    val ps = c.prepareStatement(s"UPDATE $table SET value = value + 1 WHERE geo = ? AND coicop = ?")
    try { ps.setString(1, geo); ps.setString(2, coicop); ps.executeUpdate() } finally ps.close()
  }
}

/** Many small single-series payloads, one per (geo, coicop): the
  * reference pipeline's own traffic, where per-op fixed cost dominates.
  * A ten-op cycle mixes dense and sparse payloads, map and list indexes,
  * two revisions of already-loaded series (an idempotent replay) and one
  * defect that must FAIL the gate and never reach gold or the warehouse.
  */
final class HicpSeries(ctx: Ctx) extends Workload {
  import HicpGen._

  private val Months = 360
  private val MaxOps = 600
  private val Warmups = 6
  private val table = "fact_hicp"
  private val m = new Medallion(ctx)
  private val cellsOf = scala.collection.mutable.Map.empty[Int, Long]
  private val jdbcRowsOf = scala.collection.mutable.Map.empty[Int, Long]
  private val filesOf = scala.collection.mutable.Map.empty[Int, Long]
  private val gateFailOf = scala.collection.mutable.Map.empty[Int, Boolean]

  final case class Spec(kind: String, geo: String, coicop: String, payload: String,
                        expectPass: Boolean, revises: Option[Int]) {
    val cells: Long = Months.toLong + (if (kind == "dup_key") 1 else 0)
  }
  private var specs: IndexedSeq[Spec] = IndexedSeq.empty

  private val Cycle = IndexedSeq("dense", "dense_list", "sparse", "dense", "revision",
    "dense_list", "defect", "sparse_list", "dense", "revision")

  def setup(): Unit = {
    m.reset()
    m.dropTable(table)
    m.withConn(c => JdbcSink.ensureTable(c, table))
    val rng = new java.util.SplittableRandom(ctx.seed)
    val keys = scala.util.Random.javaRandomToRandom(new java.util.Random(ctx.seed))
      .shuffle(for (g <- Geos; c <- Coicops) yield (g, c))
    val firstYear = 1996
    val latest = scala.collection.mutable.Map.empty[Int, Cube] // spec index -> cube loaded
    var nextKey = 0
    var defects = 0
    // warm-up specs first (one of each kind), then the measured sequence
    val kinds = IndexedSeq("dense", "sparse_list", "defect", "revision", "dense_list", "sparse") ++
      Iterator.continually(Cycle).flatten.take(MaxOps)
    specs = kinds.zipWithIndex.map { case (kind0, i) =>
      val loaded = latest.keys.filter(j => (j < Warmups) == (i < Warmups)).toIndexedSeq.sorted
      val kind = if (kind0 == "revision" && loaded.isEmpty) "dense" else kind0
      if (kind == "revision") {
        val j = loaded(rng.nextInt(loaded.size))
        val prev = latest(j)
        // revise the last year of the series
        val v = prev.values.clone()
        (v.length - 12 until v.length).foreach(k => v(k) = math.round(v(k) * (101.0 + rng.nextInt(50) / 10.0)) / 100.0)
        val cube = prev.copy(values = v)
        latest(i) = cube
        latest.remove(j)
        Spec(kind, prev.geos.head, prev.coicops.head, payload(cube), expectPass = true, Some(j))
      } else {
        val (g, c) = keys(nextKey); nextKey += 1
        val base = Cube(IndexedSeq(c), IndexedSeq(g), monthCodes(firstYear, Months), walk(rng, Months),
          indexAsList = kind.endsWith("_list"), sparse = kind.startsWith("sparse"))
        if (kind == "defect") {
          val d = Defects(defects % Defects.size); defects += 1
          Spec(d, g, c, payload(withDefect(base, d, rng)), expectPass = false, None)
        } else {
          latest(i) = base
          Spec(kind, g, c, payload(base), expectPass = true, None)
        }
      }
    }
  }

  private def runSpec(i: Int, s: Spec): Op = new Op {
    private var outcome: m.Outcome = _
    private var priorRows = 0
    def records: Long = s.cells
    def inputBytes: Long = s.payload.length.toLong
    override def driverBytesWritten: Long = if (outcome == null) 0L else outcome.driverBytes
    def run(): Unit = {
      outcome = m.load(s.payload, s.geo, s.coicop, f"20260101T$i%06d") { gold =>
        JdbcSink.loadSeries(gold, m.cfg(table), s.geo, s.coicop, "I15")
      }
    }
    // the program parses and densifies inside `SilverTransform.silver`, so
    // the traced run times the two on their own, outside the op, with a
    // no-op sink forcing the densify
    override def probe(): Unit = if (ctx.tracer.on) {
      val cube = ctx.span("jsonstat.parse")(JsonStat.parse(s.payload))
      ctx.span("jsonstat.densify") {
        JsonStat.densify(ctx.spark, cube).write.format("noop").mode("overwrite").save()
      }
    }
    def corrupt(): Unit =
      if (s.expectPass) m.corruptJdbcValue(table, s.geo, s.coicop)
      else m.withConn { c =>
        // a FAIL series leaking into the warehouse
        val st = c.createStatement()
        try st.execute(s"INSERT INTO $table VALUES (DATE('2001-01-01'), '${s.geo}', '${s.coicop}', " +
          "'I15', 100.0, 'x', 'x')") finally st.close()
      }
    def check(): Boolean = {
      cellsOf(i) = s.cells
      gateFailOf(i) = !outcome.passed
      val key = (s.geo, s.coicop)
      val where = s"WHERE geo = '${s.geo}' AND coicop = '${s.coicop}'"
      val db = m.jdbcRows(table, where)
      val ok =
        if (!s.expectPass) !outcome.passed && outcome.gateHeld && !m.goldExists(s.geo, s.coicop) && db.isEmpty
        else {
          val want = m.expected(s.payload)
          jdbcRowsOf(i) = want(key).size.toLong
          filesOf(i) = m.goldFiles(Seq(key)).toLong
          outcome.passed && outcome.gateHeld && m.goldRows(Seq(key)) == want && db == want &&
            s.revises.forall(_ => db(key).size == Months)
        }
      if (!ok) System.err.println(s"hicp_series op $i (${s.kind} ${s.geo}/${s.coicop}) failed its check")
      ok
    }
  }

  def warmup(): Unit = (0 until Warmups).foreach { i =>
    val op = runSpec(-1 - i, specs(i)); op.run(); op.check()
    graft.ops.Exec.clearPinned(ctx.spark)
  }

  def op(i: Int): Op = runSpec(i, specs(Warmups + (i % MaxOps)))
  override def cycle: Int = Cycle.size

  override def layerExtras(traced: Seq[Int]): Map[String, Double] = {
    val n = math.max(1, traced.size).toDouble
    Map(
      "jsonstat.cells" -> traced.map(cellsOf.getOrElse(_, 0L)).sum / n,
      "gold.jdbc_rows" -> traced.map(jdbcRowsOf.getOrElse(_, 0L)).sum / n,
      "gold.files_written" -> traced.map(filesOf.getOrElse(_, 0L)).sum / n,
      "quality.gate_fail" -> traced.count(gateFailOf.getOrElse(_, false)) / n)
  }
}
