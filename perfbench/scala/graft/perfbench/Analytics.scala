package graft.perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** Seeded star-schema warehouse in the layout of the project's sf test
  * tables (TESTDATA.md: `region nation customer supplier part orders
  * lineitem events`, same columns and types, timestamps without time
  * zone). Row counts scale with `sf` as in TPC-H; values are uniform over
  * the ranges those tables use, drawn from a hash of (seed, row id,
  * column) so the same seed gives the same tables whatever the
  * partitioning.
  */
object WarehouseGen {

  def write(spark: SparkSession, dir: String, seed: Long, sf: Double): Unit = {
    var salt = 0
    def u(): Column = {
      salt += 1
      pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(1000000007L)) / lit(1000000007.0)
    }
    def pick(xs: String*): Column = element_at(array(xs.map(lit): _*), (floor(u() * xs.size) + 1).cast("int"))
    def upto(n: Long): Column = floor(u() * n).cast("long")
    def ntz(daysFrom: String, days: Int): Column =
      date_add(lit(java.sql.Date.valueOf(daysFrom)), floor(u() * days).cast("int")).cast("timestamp_ntz")
    def rows(n: Double): DataFrame = spark.range(math.max(1L, math.round(n))).toDF()
    val nCust = math.round(150000 * sf)
    val nSupp = math.round(10000 * sf)
    val nPart = math.round(200000 * sf)
    val nOrd = math.round(1500000 * sf)
    val nEv = math.round(1000000 * sf)
    val evSpanUs = 30L * 86400L * 1000000L
    val tables = Seq(
      "region" -> rows(5).select(col("id").cast("int").as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
          (col("id") + 1).cast("int")).as("r_name")),
      "nation" -> rows(25).select(col("id").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey")),
      "customer" -> rows(nCust).select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        upto(25).cast("int").as("c_nationkey"), round(u() * 10999.65 - 999.85, 2).as("c_acctbal"),
        pick("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING").as("c_mktsegment")),
      "supplier" -> rows(nSupp).select(col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        upto(25).cast("int").as("s_nationkey"), round(u() * 10964.05 - 976.02, 2).as("s_acctbal")),
      "part" -> rows(nPart).select(col("id").as("p_partkey"),
        concat(pick("large", "hot", "blue", "old", "cold", "green", "small", "red"), lit(" "),
          pick("ring", "bolt", "plate", "gear", "pipe", "nut")).as("p_name"),
        concat(lit("Brand#"), upto(25) + 1).as("p_brand"),
        pick("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO").as("p_type"),
        (upto(50) + 1).cast("int").as("p_size"),
        round(lit(900.0) + (col("id") % 1000) / 10.0, 1).as("p_retailprice")),
      "orders" -> rows(nOrd).select(col("id").as("o_orderkey"), upto(nCust).as("o_custkey"),
        pick("O", "F", "P").as("o_orderstatus"), round(u() * 499000 + 1000, 2).as("o_totalprice"),
        ntz("1995-01-01", 2404).as("o_orderdate"),
        pick("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").as("o_orderpriority")),
      "lineitem" -> rows(nOrd * 4).select(upto(nOrd).as("l_orderkey"), upto(nPart).as("l_partkey"),
        upto(nSupp).as("l_suppkey"), (upto(7) + 1).cast("int").as("l_linenumber"),
        (upto(50) + 1).cast("double").as("l_quantity"), round(u() * 104100 + 900, 2).as("l_extendedprice"),
        (upto(11) / 100.0).as("l_discount"), (upto(9) / 100.0).as("l_tax"),
        pick("A", "N", "R").as("l_returnflag"), pick("O", "F").as("l_linestatus"),
        ntz("1995-01-02", 2498).as("l_shipdate")),
      "events" -> rows(nEv).select(col("id").as("event_id"),
        timestamp_micros(lit(java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L) +
          col("id") * (evSpanUs / nEv) + upto(evSpanUs / nEv)).cast("timestamp_ntz").as("ts"),
        upto(math.round(15000 * sf)).as("user_id"),
        pick("signup", "click", "error", "view", "purchase").as("event_type"),
        round(-log(lit(1.0) - u()) * 50, 2).as("value"),
        concat(lit("{\"k\": "), upto(100), lit("}")).as("props")))
    tables.foreach { case (name, df) => df.write.mode("overwrite").parquet(s"$dir/$name.parquet") }
  }
}

/** Read-only warehouse consumers: a fixed set of registered queries from
  * the relational, event, time-series and graph families, replayed in a
  * seed-drawn order (each cycle a fresh permutation of the set) as one
  * long-lived session would: `Exec.releaseAll` at run start and
  * `Exec.clearPinned` after every query.
  */
final class AnalyticsMix(ctx: Ctx) extends Workload {
  import ctx.spark

  private val Sf = 0.03
  private val MaxOps = 800
  // one query per family, each well under a second warm at this scale, so
  // a run measures every query several times over whole cycles
  val Queries: IndexedSeq[String] = IndexedSeq(
    "rel_q5_region_revenue", "ev_sessionize", "ts_holt_forecast", "graph_jaccard_links")
  override def cycle: Int = Queries.size
  override def kind(i: Int): Int = Queries.indexOf(sequence(i % MaxOps))

  private def dir = s"${ctx.work}/warehouse_sf"
  private var sequence: IndexedSeq[String] = IndexedSeq.empty
  private var warehouseBytes = 0L
  private val firstDigest = scala.collection.mutable.Map.empty[String, (Int, Int)]

  def layerOf(q: String): String = q.takeWhile(_ != '_') match {
    case "rel" => "ops.relational"
    case "ev" => "ops.event"
    case "ts" => "ops.timeseries"
    case "graph" => "ops.graph"
  }

  def setup(): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    WarehouseGen.write(spark, dir, ctx.seed, Sf)
    warehouseBytes = fs.getContentSummary(p).getLength
    val rnd = new scala.util.Random(ctx.seed)
    sequence = Iterator.continually(()).flatMap(_ => rnd.shuffle(Queries)).take(MaxOps).toIndexedSeq
  }

  private def digest(rows: Array[Row]): (Int, Int) =
    rows.length -> scala.util.hashing.MurmurHash3.orderedHash(rows.iterator.map(_.toString))

  private def queryOp(i: Int, q: String): Op = new Op {
    private var rows: Array[Row] = Array.empty
    def records: Long = rows.length.toLong
    def inputBytes: Long = warehouseBytes
    def run(): Unit = rows = ctx.span(layerOf(q)) { SparkEntry.queries(q)(spark, dir).collect() }
    def check(): Boolean = {
      val d = digest(rows)
      val ok = rows.nonEmpty && firstDigest.getOrElseUpdate(q, d) == d
      if (!ok) System.err.println(s"analytics_mix op $i ($q): ${rows.length} rows, digest $d vs ${firstDigest(q)}")
      ok
    }
    def corrupt(): Unit = rows = rows.dropRight(1)
  }

  def warmup(): Unit = {
    graft.ops.Exec.releaseAll(spark)
    Queries.zipWithIndex.foreach { case (q, k) =>
      val op = queryOp(-1 - k, q); op.run()
      require(op.check(), s"$q returned no rows on the generated warehouse")
      graft.ops.Exec.clearPinned(spark)
    }
  }

  def op(i: Int): Op = queryOp(i, sequence(i % MaxOps))
}
