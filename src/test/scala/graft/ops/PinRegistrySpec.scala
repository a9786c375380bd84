package graft.ops

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** Pins belong to the client that made them. Every frame an operator
  * persists or checkpoints goes through [[Exec.pin]] or [[Exec.checkpoint]],
  * which register it with the calling thread, and [[Exec.clearPinned]]
  * releases only that thread's frames. So two clients of one session, each
  * on its own thread, can interleave queries and releases: one client's
  * `clearPinned` leaves the frames another client's lazy result still
  * reads.
  */
class PinRegistrySpec extends SparkSpec {

  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def storedIds: Set[Int] = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
  private def sorted(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  private val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()

  /** `body` started on a new thread; what it throws lands in `failures`. */
  private def onThread(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, name)
    t.setUncaughtExceptionHandler((_, e) => failures.add(e))
    t.start()
    t
  }

  test("two clients on one session: one client's clearPinned leaves the other's frames") {
    import spark.implicits._
    val sp = spark
    def edges(n: Long): DataFrame =
      (0L until n).flatMap(i => Seq((i, i + 1), (i, (i * 7 + 3) % n)))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
        .toDF("a", "b")
    def orders(scale: Double): DataFrame = (0 until 24).map { i =>
      (Seq("1-URGENT", "2-HIGH")(i % 2),
        java.sql.Date.valueOf(f"1995-${i / 2 + 1}%02d-01"), scale * (1000 + i * 7919 % 1009))
    }.toDF("o_orderpriority", "o_orderdate", "o_totalprice")
    val ranked = (1 to 500).map(i => (i.toLong, (i % 9).toLong)).toDF("id", "v")
    // client A's three frames: two read an Exec.checkpoint, one an Exec.pin
    def clientA(): Seq[DataFrame] = Seq(
      Exec.globalRank(ranked, "r", col("v"), col("id")),
      GraphOps.jaccardLinkPrediction(edges(40)),
      TimeSeriesOps.holtForecast(orders(1.0)))

    Exec.clearPinned(sp)
    val single = clientA().map(sorted)
    Exec.clearPinned(sp)
    assert(persistentIds.isEmpty, s"single-client run left ${persistentIds.toSeq.sorted}")

    val aBuilt, bCleared = new CountDownLatch(1)
    @volatile var aRows: Seq[Seq[Row]] = Nil
    @volatile var aBlocks, aBlocksAfterB = Set.empty[Int]
    @volatile var aCachedAfterB = false
    @volatile var bRows = 0L
    val a = onThread("client-a") {
      try {
        val frames = clientA()
        aBlocks = storedIds
        aBuilt.countDown()
        assert(bCleared.await(120, TimeUnit.SECONDS), "client B did not finish")
        aBlocksAfterB = storedIds
        aCachedAfterB = !sp.sharedState.cacheManager.isEmpty
        aRows = frames.map(sorted)
        Exec.clearPinned(sp)
      } finally aBuilt.countDown()
    }
    val b = onThread("client-b") {
      try {
        assert(aBuilt.await(120, TimeUnit.SECONDS), "client A did not build its frames")
        // a different query that pins and checkpoints frames of its own
        bRows = GraphOps.jaccardLinkPrediction(edges(30)).count() +
          TimeSeriesOps.holtForecast(orders(2.0)).count()
        Exec.clearPinned(sp)
      } finally bCleared.countDown()
    }
    a.join(); b.join()
    failures.asScala.headOption.foreach(e => throw e)

    assert(bRows > 0, "client B's query returned no rows")
    assert(aBlocks.nonEmpty, "client A's checkpoints should hold blocks")
    assert(aBlocks.subsetOf(aBlocksAfterB),
      s"client B's clearPinned dropped client A's blocks " +
        (aBlocks -- aBlocksAfterB).toSeq.sorted.mkString(", "))
    assert(aCachedAfterB, "client B's clearPinned dropped client A's persisted frame")
    aRows.zip(single).zipWithIndex.foreach { case ((got, want), i) =>
      assert(got == want, s"client A's frame $i differs from the single-client run")
    }
    assert(persistentIds.isEmpty,
      s"RDD blocks left after both clients' clearPinned: ${persistentIds.toSeq.sorted}")
    assert(sp.sharedState.cacheManager.isEmpty,
      "cached plans left after both clients' clearPinned")
  }

  test("a stream helper that throws between its pin and its release leaks nothing past clearPinned") {
    import spark.implicits._
    Exec.clearPinned(spark)
    val corpus = (1L to 40L)
      .map(i => (i, (0 until 12).map(j => s"w${i % 7}x$j").mkString(" ")))
      .toDF("doc_id", "text")
    val index = tempDir("pin-stream").resolve("index")
    // the sets table's directory is a plain file: seedIndex writes the
    // bands (computing its pinned signatures), then fails on the sets
    Files.createDirectories(index)
    Files.write(index.resolve("sets"), Array[Byte](1))
    intercept[Exception](graft.stream.DedupStream.seedIndex(corpus, index.toString))
    assert(persistentIds.nonEmpty, "the failed batch should have left its pinned signatures")
    Exec.clearPinned(spark)
    assert(persistentIds.isEmpty, s"blocks left after clearPinned: ${persistentIds.toSeq.sorted}")
    assert(spark.sharedState.cacheManager.isEmpty, "cached plans left after clearPinned")
  }

  test("main code pins frames only through Exec.pin and Exec.checkpoint") {
    val root = Paths.get("src/main/scala")
    val pinCall = """\.(persist\(|cache\(\)|localCheckpoint\(|checkpoint\()""".r
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Exec.scala")
      .toList
    val offenders = files.flatMap { p: Path =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i)
            if !line.trim.startsWith("*")    // scaladoc mention
              && !line.trim.startsWith("//") // comment mention
              && pinCall.findAllMatchIn(line.split("//")(0)).exists(m =>
                !line.substring(0, m.start).endsWith("Exec")) =>
          s"$p:${i + 1}: ${line.trim}"
      }
    }
    assert(files.nonEmpty, s"no sources found under $root")
    assert(offenders.isEmpty,
      "pin through Exec.pin / Exec.checkpoint, which register the frame for " +
        "the calling thread's clearPinned:\n" + offenders.mkString("\n"))
  }
}
