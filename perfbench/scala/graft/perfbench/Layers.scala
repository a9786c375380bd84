package graft.perfbench

/** The per-layer metrics of the traced run, in output order. Every
  * workload prints all of them; a layer a workload never calls reads 0.
  * Times, counts and bytes are per traced operation.
  */
object PerLayer {
  val all: Seq[(String, String)] = Seq(
    "spark.jobs_per_op" -> "count",
    "spark.tasks_per_op" -> "count",
    "spark.sched_wait_s" -> "s",
    "spark.task_busy_frac" -> "frac",
    "spark.spill_bytes" -> "B",
    "spark.cached_bytes_end" -> "B",
    "bronze.busy_s" -> "s",
    "jsonstat.parse_s" -> "s",
    "jsonstat.densify_s" -> "s",
    "jsonstat.cells" -> "count",
    "silver.busy_s" -> "s",
    "silver.shuffle_bytes" -> "B",
    "silver.output_bytes" -> "B",
    "quality.busy_s" -> "s",
    "quality.task_s" -> "s",
    "quality.jobs" -> "count",
    "quality.gate_fail" -> "frac",
    "gold.report_s" -> "s",
    "gold.write_s" -> "s",
    "gold.files_written" -> "count",
    "gold.output_bytes" -> "B",
    "gold.jdbc_s" -> "s",
    "gold.jdbc_rows" -> "count",
    "ops.text.busy_s" -> "s",
    "ops.text.shuffle_bytes" -> "B",
    "stream.batch_s" -> "s",
    "stream.index_bytes" -> "B",
    "stream.pairs" -> "count",
    "ops.vector.busy_s" -> "s",
    "ops.vector.shuffle_bytes" -> "B",
    "ops.relational.busy_s" -> "s",
    "ops.relational.shuffle_bytes" -> "B",
    "ops.event.busy_s" -> "s",
    "ops.event.shuffle_bytes" -> "B",
    "ops.timeseries.busy_s" -> "s",
    "ops.timeseries.shuffle_bytes" -> "B",
    "ops.graph.busy_s" -> "s",
    "ops.graph.shuffle_bytes" -> "B",
    "unattributed_s" -> "s",
    "trace.op_s" -> "s",
    "trace.overhead_frac" -> "frac")
}

/** Turns the spans of the traced ops and the listener's records into the
  * per-layer numbers: self time per span name, and the jobs, tasks and
  * bytes of every Spark stage attributed to the span that submitted it.
  */
object Layers {

  private final class Acc {
    var jobs = 0L; var tasks = 0L; var runMs = 0L; var schedMs = 0L
    var shuffle = 0L; var output = 0L; var spill = 0L
  }

  def metrics(tracer: Tracer, listener: EngineListener, tracedOps: Seq[Int],
              cores: Int, cachedEnd: Long): Map[String, Double] = {
    val opSet = tracedOps.toSet
    val n = math.max(1, tracedOps.size).toDouble
    val spans = tracer.spans.filter(s => opSet(s.opId) && s.endNs >= 0)
    val childSecs = spans.filter(_.parent >= 0).groupMapReduce(_.parent)(_.seconds)(_ + _)
    def self(s: Span): Double = s.seconds - childSecs.getOrElse(s.id, 0.0)
    def root(s: Span): Span =
      if (s.parent < 0) s else root(tracer.spans(s.parent))
    val selfBy = spans.groupMapReduce(_.name)(self)(_ + _)

    // attribute engine work to spans; only work caused inside an op span
    // counts towards the op's layers (the jsonstat probes are separate roots)
    val acc = scala.collection.mutable.Map.empty[String, Acc]
    def at(name: String) = acc.getOrElseUpdate(name, new Acc)
    def inOp(s: Span) = opSet(s.opId) && root(s).name == "op"
    listener.allJobs.foreach { j =>
      tracer.resolve(j.group, j.timeMs).filter(inOp).foreach(s => at(s.name).jobs += 1)
    }
    listener.allTasks.foreach { t =>
      listener.stageStamp(t.stageId)
        .flatMap(st => tracer.resolve(st.group, st.timeMs)).filter(inOp).foreach { s =>
          val a = at(s.name)
          a.tasks += 1; a.runMs += t.runMs; a.schedMs += t.schedDelayMs
          a.shuffle += t.shuffleWriteBytes; a.output += t.outputBytes; a.spill += t.spillBytes
        }
    }
    val total = new Acc
    acc.values.foreach { a =>
      total.jobs += a.jobs; total.tasks += a.tasks; total.runMs += a.runMs
      total.schedMs += a.schedMs; total.spill += a.spill
    }
    def a(name: String) = acc.getOrElse(name, new Acc)
    def s(name: String) = selfBy.getOrElse(name, 0.0) / n
    val opSecs = spans.filter(_.name == "op").map(_.seconds).sum

    val layerSpans = Seq("bronze", "silver", "quality", "gold.report", "gold.write",
      "gold.jdbc", "ops.text", "stream", "ops.vector", "ops.relational",
      "ops.event", "ops.timeseries", "ops.graph")
    Map(
      "spark.jobs_per_op" -> total.jobs / n,
      "spark.tasks_per_op" -> total.tasks / n,
      "spark.sched_wait_s" -> total.schedMs / 1000.0 / n,
      "spark.task_busy_frac" -> (if (opSecs > 0) total.runMs / 1000.0 / (cores * opSecs) else 0.0),
      "spark.spill_bytes" -> total.spill / n,
      "spark.cached_bytes_end" -> cachedEnd.toDouble,
      "bronze.busy_s" -> s("bronze"),
      "jsonstat.parse_s" -> s("jsonstat.parse"),
      "jsonstat.densify_s" -> s("jsonstat.densify"),
      "silver.busy_s" -> s("silver"),
      "silver.shuffle_bytes" -> a("silver").shuffle / n,
      "silver.output_bytes" -> a("silver").output / n,
      "quality.busy_s" -> s("quality"),
      "quality.task_s" -> a("quality").runMs / 1000.0 / n,
      "quality.jobs" -> a("quality").jobs / n,
      "gold.report_s" -> s("gold.report"),
      "gold.write_s" -> s("gold.write"),
      "gold.output_bytes" -> a("gold.write").output / n,
      "gold.jdbc_s" -> s("gold.jdbc"),
      "ops.text.busy_s" -> s("ops.text"),
      "ops.text.shuffle_bytes" -> a("ops.text").shuffle / n,
      "stream.batch_s" -> s("stream"),
      "ops.vector.busy_s" -> s("ops.vector"),
      "ops.vector.shuffle_bytes" -> a("ops.vector").shuffle / n,
      "ops.relational.busy_s" -> s("ops.relational"),
      "ops.relational.shuffle_bytes" -> a("ops.relational").shuffle / n,
      "ops.event.busy_s" -> s("ops.event"),
      "ops.event.shuffle_bytes" -> a("ops.event").shuffle / n,
      "ops.timeseries.busy_s" -> s("ops.timeseries"),
      "ops.timeseries.shuffle_bytes" -> a("ops.timeseries").shuffle / n,
      "ops.graph.busy_s" -> s("ops.graph"),
      "ops.graph.shuffle_bytes" -> a("ops.graph").shuffle / n,
      "unattributed_s" -> s("op"),
      "trace.op_s" -> opSecs / n,
      "trace.layer_self_sum_s" -> (layerSpans.map(s).sum + s("op")))
  }
}
