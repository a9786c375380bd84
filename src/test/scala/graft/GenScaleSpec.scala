package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, greatest, max}

import graft.ops.GraphOps

/** GenScale's per-copy key shift must give each copy new keys modulo the
  * graph family's vertex count, or the graph queries see the same edge set
  * at every scale factor.
  */
class GenScaleSpec extends SparkSpec {

  test("shifted lineitem copies add edges to lineitemEdges(_, 2000)") {
    val li = Tables.table(spark, "/root/testdata/sf0.001", "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey").limit(500)
    def copies(factor: Int): DataFrame = spark.range(factor).crossJoin(li)
      .select(GenScale.shift("l_orderkey").as("l_orderkey"),
        GenScale.shift("l_partkey").as("l_partkey"),
        GenScale.shift("l_suppkey").as("l_suppkey"))
    val one = GraphOps.lineitemEdges(copies(1), 2000).count()
    val two = GraphOps.lineitemEdges(copies(2), 2000).count()
    assert(one > 0)
    assert(two > one, s"two copies give $two distinct edges, one copy $one")
    // copies never collide: the offset lies above every sf0.1 key
    val maxKey = Tables.table(spark, "/root/testdata/sf0.1", "lineitem")
      .select(greatest(max(col("l_orderkey")), max(col("l_partkey")),
        max(col("l_suppkey"))).cast("long"))
      .collect()(0).getLong(0)
    assert(GenScale.KeyOffset > maxKey, s"offset ${GenScale.KeyOffset} <= key $maxKey")
  }
}
