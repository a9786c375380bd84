package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.{LocalTableScanExec, SQLExecution}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{broadcast, coalesce, col, count, lit,
  row_number, spark_partition_id, sum}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.Platform

/** Execution-shape helpers shared by the operator families.
  *
  * Every driver-resident fast path decides by one gate,
  * [[collectInternalIfSmall]] (or [[collectIfSmall]]): one bounded job that
  * is also the collect the driver branch needs. Its row cap is one of two
  * named constants, [[SmallInputRows]] for the medallion and corpus paths
  * and [[DriverLoopRows]] for the iterative operator loops. Where the size
  * is known without a job (a cube's cell count, a parameter-bounded
  * shortlist) the decision is [[smallInput]]. `SPARK_GRAFT_DRIVER_GATE=off`
  * forces every distributed branch.
  *
  * No helper here runs a job to choose a join strategy. The families hint
  * `broadcast` where a side is small by construction (a filtered dimension,
  * a one-row scalar) or was already counted for the family's own loop;
  * every other side goes into the join bare, and Spark picks the strategy:
  * the planner from a scan's static size, AQE from a computed side's
  * runtime size. [[broadcastIfKnownSmall]] covers the computed sides that
  * measured slower that way, from the measured size of a side the family
  * materializes anyway. */
object Exec {

  /** Largest side the families hint `broadcast` on a size they measured
    * (the random-walk adjacency estimate, [[broadcastIfKnownSmall]]). */
  private[ops] val MaxBroadcastBytes: Long = 128L << 20

  /** `df`, hinted `broadcast` when it is a materialized frame whose
    * [[measuredBytes]] are at most [[MaxBroadcastBytes]]: the broadcast
    * decision for a computed join side that is usually small but may be
    * past AQE's 10 MiB runtime threshold. Runs no Spark job. A frame that
    * is not materialized is returned unhinted: the optimizer's estimate
    * misses row-multiplying generators (it gives a `posexplode` its
    * input's row count), so it never forces a broadcast. */
  def broadcastIfKnownSmall(df: DataFrame): DataFrame =
    if (measuredBytes(df).exists(_ <= MaxBroadcastBytes)) broadcast(df) else df

  /** A frame over the persisted `df`'s cached relation itself, for reading
    * one cache from both arms of a self-join. Joining a persisted frame with
    * a frame derived from it gives the second arm's leaf fresh attribute ids;
    * a `localCheckpoint` leaf (the families' checkpointed inputs) does not
    * canonicalize them away, so that arm misses the cache and recomputes
    * `df`. Copies of the
    * cached relation share one cache however their ids are renewed. */
  def cachedScan(df: DataFrame): DataFrame =
    new org.apache.spark.sql.classic.Dataset[Row](
      df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.queryExecution.withCachedData, org.apache.spark.sql.Encoders.row(df.schema))

  /** Byte budget of the driver gate ([[collectInternalIfSmall]]): 1/16 of
    * the driver heap, capped at 256 MiB, priced on the rows' binary
    * (`UnsafeRow`) size. The decoded rows plus any boxed index a driver
    * loop builds run a small constant factor larger, which the 1/16 margin
    * absorbs. */
  val DefaultDriverCollectBytes: Long =
    math.min(256L << 20, Runtime.getRuntime.maxMemory / 16)

  /** Measured bytes of a MATERIALIZED frame: a `localCheckpoint` frame
    * reports the sum of its RDD blocks' memory + disk sizes from the block
    * manager; a cacheManager-persisted frame whose every partition is
    * cached reports its in-memory relation's accumulated batch stats
    * (actual bytes). None otherwise, including a persisted frame not yet
    * computed, whose relation stats are still the optimizer's estimate —
    * never an optimizer ESTIMATE, which would let a mis-estimated frame
    * into a broadcast. */
  def measuredBytes(df: DataFrame): Option[Long] =
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        df.sparkSession.sparkContext.getRDDStorageInfo
          .find(_.id == lr.rdd.id)
          .map(i => i.memSize + i.diskSize)
      case _ =>
        df.queryExecution.withCachedData match {
          case im: org.apache.spark.sql.execution.columnar.InMemoryRelation
              if im.cacheBuilder.isCachedColumnBuffersLoaded =>
            Some(im.stats.sizeInBytes.toLong)
          case _ => None
        }
    }

  /** Kill-switch for every driver-resident fast path: with
    * `SPARK_GRAFT_DRIVER_GATE=off` every gate answers "distributed" — for
    * drivers smaller than [[DefaultDriverCollectBytes]] assumes, and to run
    * the distributed branches at inputs the gates would keep on the driver.
    * [[distributedOnly]] sets it for a block of code. */
  private val distributed =
    new scala.util.DynamicVariable[Boolean](
      sys.env.get("SPARK_GRAFT_DRIVER_GATE").exists(_.equalsIgnoreCase("off")))

  /** `body` with every gate answering "distributed", as under
    * `SPARK_GRAFT_DRIVER_GATE=off` (the parity specs' distributed runs). */
  private[graft] def distributedOnly[A](body: => A): A =
    distributed.withValue(true)(body)

  /** Row cap of the small-input paths through the medallion (one-partition
    * silver sort, driver-side quality gate, collected JDBC rows) and the
    * corpus batch paths. A single series is a few hundred rows; there every
    * Spark stage, query and commit is fixed overhead, while above the cap
    * the distributed plans keep their scaling. */
  val SmallInputRows: Long = 100000L

  /** Row cap of the driver-resident iterative loops (graph rounds, the
    * dedup union-find, the time-series recursions, TextRank, MMR): their
    * input is bounded metadata once the data-sized work has run, and each
    * distributed round is a few Spark jobs of fixed latency. */
  val DriverLoopRows: Long = 4000000L

  /** True when an input known to hold `rows` rows takes its driver path:
    * the gate for a size known without a job (false under
    * `SPARK_GRAFT_DRIVER_GATE=off`). */
  def smallInput(rows: Long, maxRows: Long): Boolean =
    !distributed.value && rows <= maxRows

  /** The driver gate: ONE bounded job returns every row of `df` when it
    * has at most `maxRows` of them AND they fit [[DefaultDriverCollectBytes]],
    * otherwise None and the caller runs its distributed branch. Callers
    * project `df` to the columns they need first. Always None under
    * `SPARK_GRAFT_DRIVER_GATE=off`. */
  def collectIfSmall(df: DataFrame, maxRows: Long): Option[Array[Row]] =
    collectInternalIfSmall(df, maxRows).map { rows =>
      val fromRow = ExpressionEncoder(df.schema).resolveAndBind().createDeserializer()
      rows.map(fromRow)
    }

  /** [[collectIfSmall]] without the decode: the rows stay in Spark's
    * internal form, so driver code reads strings as `UTF8String` (Spark's
    * byte equality) and arrays as `ArrayData` (what the native kernels such
    * as `DotProduct.compute` take) exactly as the distributed plan sees them.
    *
    * Bounded before anything reaches the driver, and width-proof: each of
    * the plan's P partitions serializes its rows as length-prefixed
    * `UnsafeRow` bytes and stops, shipping nothing, at the first row past
    * its share — `maxRows / P` rows (rounded up) or `maxBytes / P` bytes.
    * So the job computes at most about `maxRows` rows of `df` (a cached
    * input fills its cache partitions whole) and the driver receives at most
    * `maxBytes` whatever the input's size, and a few very wide rows (long
    * texts, fat arrays) fall back although the row cap would pass them. An
    * input near either cap whose rows crowd one partition also falls back.
    * A plan that is already a local relation is read without a job. */
  def collectInternalIfSmall(df: DataFrame, maxRows: Long,
      maxBytes: Long = DefaultDriverCollectBytes): Option[Array[InternalRow]] =
    if (distributed.value) None
    else {
      val qe = df.queryExecution
      val schema = df.schema
      def fits(rows: Int, bytes: Long) = rows <= maxRows && bytes <= maxBytes
      qe.executedPlan match {
        case local: LocalTableScanExec =>
          val rows = local.executeCollect()
          lazy val toUnsafe = UnsafeProjection.create(schema)
          val bytes = rows.iterator.map {
            case u: UnsafeRow => 4L + u.getSizeInBytes
            case r => 4L + toUnsafe(r).getSizeInBytes
          }.sum
          if (fits(rows.length, bytes)) Some(rows) else None
        case plan =>
          val parts = SQLExecution.withNewExecutionId(qe, Some("collectIfSmall")) {
            val rdd = plan.execute()
            val p = math.max(1, rdd.getNumPartitions)
            val (rowShare, byteShare) = ((maxRows + p - 1) / p, maxBytes / p)
            rdd.mapPartitions { it =>
              Iterator.single(boundedPartition(it, schema, rowShare, byteShare))
            }.collect()
          }
          if (parts.exists(_.isEmpty)) None
          else {
            val chunks = parts.flatten
            val rows = chunks.flatMap(decodeRows(_, schema.length))
            if (fits(rows.length, chunks.map(_.length.toLong).sum)) Some(rows) else None
          }
      }
    }

  /** One partition of [[collectInternalIfSmall]]: its rows as
    * length-prefixed `UnsafeRow` bytes, or None at the first row past
    * `maxRows` rows or `maxBytes` bytes (the rows after it are never
    * computed). */
  private def boundedPartition(it: Iterator[InternalRow], schema: StructType,
      maxRows: Long, maxBytes: Long): Option[Array[Byte]] = {
    lazy val toUnsafe = UnsafeProjection.create(schema)
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bytes)
    val buf = new Array[Byte](4096)
    var rows = 0L
    while (it.hasNext) {
      val u = it.next() match {
        case u: UnsafeRow => u
        case r => toUnsafe(r)
      }
      rows += 1
      if (rows > maxRows || bytes.size.toLong + 4 + u.getSizeInBytes > maxBytes) return None
      out.writeInt(u.getSizeInBytes)
      u.writeToStream(out, buf)
    }
    Some(bytes.toByteArray)
  }

  /** The rows of one [[boundedPartition]] chunk, read in place. */
  private def decodeRows(chunk: Array[Byte], numFields: Int): Array[InternalRow] = {
    val in = java.nio.ByteBuffer.wrap(chunk)
    val rows = Array.newBuilder[InternalRow]
    while (in.hasRemaining) {
      val size = in.getInt()
      val row = new UnsafeRow(numFields)
      row.pointTo(chunk, Platform.BYTE_ARRAY_OFFSET + in.position(), size)
      in.position(in.position() + size)
      rows += row
    }
    rows.result()
  }

  /** Distributed EXACT global rank — the scalable replacement for an
    * unpartitioned `row_number().over(Window.orderBy(...))`, which funnels
    * the whole frame through ONE task (the r12 plan-audit finding).
    *
    * Mechanics: range-partition on the sort key (so partition i's keys all
    * precede partition i+1's in the sort order), `row_number` within each
    * partition, then add broadcast per-partition row-count offsets — local
    * rank + offset IS the global rank, to the row, with no single-partition
    * stage anywhere. The offsets frame is ≤ `spark.sql.shuffle.partitions`
    * rows (its own ordering window is bounded by that, whitelisted). The
    * range layout is pinned with a tracked `localCheckpoint` so the offset
    * job and the rank job read the SAME partitioning.
    *
    * `sortCols` must end in a unique tie-break column (every call site
    * does) — equal sort keys land in one range partition, but their
    * relative `row_number` order would otherwise be nondeterministic.
    */
  def globalRank(df: DataFrame, rankCol: String, sortCols: Column*): DataFrame = {
    val parted = checkpoint(
      df.repartitionByRange(sortCols: _*)
        .withColumn("__gr_pid", spark_partition_id()))
    val offsets = parted.groupBy(col("__gr_pid"))
      .agg(count(lit(1)).as("__gr_cnt"))
      .withColumn("__gr_off",
        // bounded: ≤ spark.sql.shuffle.partitions rows (one per partition)
        coalesce(sum(col("__gr_cnt")).over(Window.orderBy(col("__gr_pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__gr_pid"), col("__gr_off"))
    val localW = Window.partitionBy(col("__gr_pid")).orderBy(sortCols: _*)
    parted
      .withColumn("__gr_lrank", row_number().over(localW))
      .join(broadcast(offsets), Seq("__gr_pid"))
      .withColumn(rankCol, col("__gr_off") + col("__gr_lrank"))
      .drop("__gr_pid", "__gr_lrank", "__gr_off")
  }

  /** The releases of the frames each thread (each client of the session)
    * pinned with [[pin]] or [[checkpoint]] since its last [[clearPinned]]. */
  private val pinned = ThreadLocal.withInitial[java.util.ArrayList[() => Unit]](
    () => new java.util.ArrayList[() => Unit]())

  /** `df.persist()`, registered for release at the calling thread's next
    * [[clearPinned]]. */
  def pin[T](df: Dataset[T]): Dataset[T] = {
    pinned.get.add(() => df.unpersist(false))
    df.persist()
  }

  /** `df.localCheckpoint(eager)`, registered for release at the calling
    * thread's next [[clearPinned]]. */
  def checkpoint[T](df: Dataset[T], eager: Boolean = true): Dataset[T] = {
    val cut = df.localCheckpoint(eager)
    pinned.get.add(() => unpersistCheckpointed(cut))
    cut
  }

  /** Release every frame the calling thread pinned ([[pin]],
    * [[checkpoint]]) since its last call.
    *
    * Operators pin intermediate frames (hashed shingle sets, signatures,
    * deduplicated edge lists, token counts) that two or more downstream
    * reads of the SAME query share — the pin is load-bearing there, and the
    * returned DataFrame is lazy, so the operator itself has no point at
    * which it could safely release it. A client that runs many queries in
    * one session (the bench, the verify dump, a notebook) calls this after
    * each query has run; no frame outlives it, and the next query rebuilds
    * what it reads from its inputs. The pins belong to the thread that
    * made them, so clients that share a session on their own threads
    * release only their own frames. A frame an operator already released
    * inline is released again as a no-op. Single-query applications never
    * need it — executor storage is reclaimed when the session ends.
    */
  def clearPinned(spark: org.apache.spark.sql.SparkSession): Unit = {
    val releases = pinned.get
    releases.forEach { release =>
      try release()
      catch { case scala.util.control.NonFatal(_) => () } // a stopped session has no blocks
    }
    releases.clear()
  }

  /** Drop the RDD blocks behind a `localCheckpoint`ed frame. After this the
    * frame is dead (localCheckpoint truncates lineage, so the blocks ARE the
    * data) — callers must also drop every reference to it.
    */
  def unpersistCheckpointed(df: Dataset[_]): Unit =
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }

  /** [[clearPinned]], kept for the callers that still use this name. */
  def releaseAll(spark: org.apache.spark.sql.SparkSession): Unit = clearPinned(spark)
}
