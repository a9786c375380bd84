package graft.perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** One closed-loop operation: `run` is the timed part, `check` verifies
  * its outputs afterwards (untimed).
  */
trait Op {
  def run(): Unit
  def check(): Boolean
  /** Input records the op consumed: cells, documents, or rows returned. */
  def records: Long
  /** Bytes of generated input the op consumed. */
  def inputBytes: Long
  /** Bytes the op wrote from the driver, outside Spark tasks. */
  def driverBytesWritten: Long = 0L
  /** Traced run only: extra spans timed outside the op. */
  def probe(): Unit = ()
  /** Damages this op's output so that `check` must now fail. */
  def corrupt(): Unit
}

/** A workload builds its inputs in `setup` (called several times; only
  * the last build is used) and hands out operations by index.
  */
trait Workload {
  def setup(): Unit
  /** Untimed first executions (JIT, codegen, file-system caches). */
  def warmup(): Unit
  def op(i: Int): Op
  /** Ops per cycle of the workload's mix; a run measures whole cycles. */
  def cycle: Int = 1
  /** Which op of the mix op `i` is, in `0 until cycle`; each cycle runs
    * every one once, in the order this gives.
    */
  def kind(i: Int): Int = i % cycle
  /** End-of-run checks spanning several ops; returns the failed op ids. */
  def finish(ops: Seq[Int]): Set[Int] = Set.empty
  /** Workload-specific per-layer numbers for the traced run. */
  def layerExtras(tracedOps: Seq[Int]): Map[String, Double] = Map.empty
}

final case class Ctx(spark: SparkSession, work: String, seed: Long,
                     tracer: Tracer, cores: Int) {
  def span[T](name: String)(body: => T): T = tracer(name)(body)
}

object Main {

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Driver heap in use after the timed loop, in MB, once full collections
    * have run. The context cleaner releases the last ops' blocks only after
    * a collection finds them unreachable, so this collects three times,
    * 100 ms apart, and keeps the lowest reading. Taken once, after the loop,
    * so no op starts on a freshly collected heap.
    */
  private def liveHeapMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(100)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  private val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val work = arg(args, "work")
    val launchMs = arg(args, "launch-ms").toLong
    val cores = arg(args, "cores").toInt

    System.setProperty("derby.stream.error.file", s"$work/derby.log")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new EngineListener
    spark.sparkContext.addSparkListener(listener)
    val sparkStartS = (System.currentTimeMillis() - launchMs) / 1000.0

    val tracer = new Tracer(spark.sparkContext)
    val ctx = Ctx(spark, work, seed, tracer, cores)
    val w: Workload = workload match {
      case "hicp_series" => new HicpSeries(ctx)
      case "corpus_ingest" => new CorpusIngest(ctx)
      case "analytics_mix" => new AnalyticsMix(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val setups = (1 to SetupReps).map(_ => timed(w.setup()))
    val warmupS = timed(w.warmup())
    val setupS = sparkStartS + median(setups) + warmupS
    graft.ops.Exec.clearPinned(spark)

    // Closed loop, one client: the next op starts when the previous one
    // and its checks are done. Only the ops themselves are timed; the
    // loop stops at the first cycle boundary after the timed total
    // reaches `seconds`, so every run measures the same mix. The traced
    // run measures twice as many cycles and traces half of the ops in a
    // checkerboard (each cycle position traced once in two cycles), so the
    // untraced half gives the tracing overhead on the same mix. The
    // checkerboard is over the op's kind, not its position, so a workload
    // that reorders its mix each cycle still traces every kind.
    val times = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Boolean)]
    var okIds = Set.empty[Int]
    var records = 0L
    var inBytes = 0L
    var driverBytes = 0L
    // tasks of the jobs the ops themselves started; checks are left out
    val opTasks = scala.collection.mutable.ArrayBuffer.empty[TaskRec]
    var lastOk: Option[Op] = None
    var busy = 0.0
    var i = 0
    val span = if (trace) 2 * w.cycle else w.cycle
    while (busy < (if (trace) 2 * seconds else seconds) || i % span != 0) {
      val op = w.op(i)
      val traced = trace && (w.kind(i) + i / w.cycle) % 2 == 0
      tracer.on = traced
      tracer.opId = i
      op.probe()
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      val before = listener.mark
      val t = timed(tracer("op")(op.run()))
      tracer.on = false
      spark.sparkContext.clearJobGroup()
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      opTasks ++= listener.tasksBetween(before, listener.mark)
      val ok = try op.check() catch {
        case e: Throwable =>
          System.err.println(s"check of op $i threw: $e"); false
      }
      if (ok) { okIds += i; lastOk = Some(op) }
      graft.ops.Exec.clearPinned(spark)
      times += ((i, t, traced))
      records += op.records
      inBytes += op.inputBytes
      driverBytes += op.driverBytesWritten
      busy += t
      i += 1
    }
    val liveHeap = liveHeapMb()
    val cachedEnd = spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum
    val ids = times.map(_._1).toSeq
    val lateFailed = w.finish(ids)
    val failed = ids.count(id => !okIds(id) || lateFailed(id))
    // negative self-test: a damaged output must fail the same check
    val selfTestOk = lastOk.exists { op =>
      System.err.println("self-test: corrupting the last checked op's output; its check must now fail")
      op.corrupt(); !op.check()
    }

    val n = times.size
    val opSecs = times.map(_._2).toSeq
    val written = driverBytes + opTasks.map(t => t.outputBytes + t.shuffleWriteBytes).sum
    val info = scala.collection.mutable.LinkedHashMap[String, String](
      "ops" -> n.toString,
      "failed_op_frac" -> (failed.toDouble / n).toString,
      "self_test_detected_corruption" -> selfTestOk.toString,
      "spark_start_s" -> sparkStartS.toString,
      "setup_reps_s" -> setups.mkString("[", ",", "]"),
      "warmup_s" -> warmupS.toString,
      "timed_s" -> busy.toString,
      "op_s" -> opSecs.map(t => f"$t%.3f").mkString("[", ",", "]"),
      "bytes_written" -> written.toString,
      "input_bytes" -> inBytes.toString)
    // the highest percentile reported is the one with >= 10 samples beyond it
    if (n >= 100) info("op_p90_s") = quantile(opSecs, 0.9).toString
    else info("op_p90_s") = s"not emitted: $n samples, 100 needed"

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("ops_per_s", n / busy, "1/s"),
        ("records_per_s", records / busy, "1/s"),
        ("op_p50_s", median(opSecs), "s"),
        ("bytes_written_per_input_byte", written.toDouble / inBytes, "B/B"),
        ("driver_live_heap_mb", liveHeap, "MB"))
      else {
        val traced = times.filter(_._3)
        val untraced = times.filterNot(_._3)
        val overhead = traced.map(_._2).sum / untraced.map(_._2).sum - 1.0
        val layers = Layers.metrics(tracer, listener, traced.map(_._1).toSeq, cores,
          cachedEnd) ++ w.layerExtras(traced.map(_._1).toSeq)
        val (sumSelf, opS) = (layers("trace.layer_self_sum_s"), layers("trace.op_s"))
        info("trace_identity") = s"layer self times + unattributed_s = $sumSelf s; traced op time = $opS s"
        tracer.writeJsonl(s"$work/../spans/$workload-seed$seed.jsonl")
        PerLayer.all.map { case (name, unit) =>
          (name, if (name == "trace.overhead_frac") overhead else layers.getOrElse(name, 0.0), unit)
        }
      }

    val metricsJson = metrics.map { case (k, v, u) =>
      s""""$k": {"value": $v, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    val infoJson = info.map { case (k, v) => s""""$k": "${v.replace("\"", "'")}"""" }
      .mkString("{", ", ", "}")
    println(s"""RESULT {"correct": ${failed == 0 && selfTestOk}, "attempted": $n, "failed": $failed, """ +
      s""""metrics": $metricsJson, "info": $infoJson}""")
    spark.stop()
  }
}
