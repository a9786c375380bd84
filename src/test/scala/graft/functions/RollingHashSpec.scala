package graft.functions

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import graft.SparkSpec

/** Direct (non-rolling) polynomial hash — the formulation the SQL oracle
  * replays: Σ byte_j · B^{L-1-j} mod M via BigInt, no clever arithmetic.
  */
object RollingHashReference {
  def direct(s: String, l: Int): Seq[Long] = {
    val bytes = s.getBytes("US-ASCII")
    val m = BigInt(RollingHash.M)
    val pw = RollingHash.powers(l).map(BigInt(_))
    (0 to bytes.length - l).map { i =>
      (0 until l).map(j => pw(j) * (bytes(i + j) & 0xFF)).sum.mod(m).toLong
    }
  }
}

/** The rolling-update arithmetic (multiplyHigh + Mersenne folding) must be
  * indistinguishable from the direct per-window polynomial for arbitrary
  * ASCII inputs and window lengths.
  */
object RollingHashProps extends Properties("RollingHash") {
  private val asciiStr = Gen.chooseNum(0, 200).flatMap(n =>
    Gen.listOfN(n, Gen.chooseNum(32, 126).map(_.toChar)).map(_.mkString))

  property("rolling == direct polynomial") =
    forAll(asciiStr, Gen.chooseNum(1, 50)) { (s: String, l: Int) =>
      RollingHash.compute(
          org.apache.spark.unsafe.types.UTF8String.fromString(s), l)
        .toLongArray().toSeq == RollingHashReference.direct(s, l)
    }

  property("mulmod matches BigInt on extremes and randoms") =
    forAll(Gen.chooseNum(0L, RollingHash.M - 1), Gen.chooseNum(0L, RollingHash.M - 1)) {
      (a: Long, b: Long) =>
        RollingHash.mulmod(a, b) ==
          (BigInt(a) * BigInt(b)).mod(BigInt(RollingHash.M)).toLong
    }
}

class RollingHashSpec extends SparkSpec {

  test("registered SQL function matches the reference, empty below L") {
    import spark.implicits._
    RollingHash.register(spark)
    val df = Seq("hello rolling world", "tiny", "").toDF("text")
    val rows = df.select(col("text"), expr("rolling_hashes(text, 8)").as("hs")).collect()
    rows.foreach { r =>
      val t = r.getString(0)
      val expected = if (t.length < 8) Seq.empty else RollingHashReference.direct(t, 8)
      assert(r.getSeq[Long](1) == expected, s"text '$t'")
    }
    assert(RollingHash.mulmod(RollingHash.M - 1, RollingHash.M - 1) ==
      ((BigInt(RollingHash.M) - 1) * (BigInt(RollingHash.M) - 1))
        .mod(BigInt(RollingHash.M)).toLong)
  }

  test("codegen'd kernels compile under CODEGEN_ONLY (no silent interpreter fallback)") {
    // only the scalar per-pair kernels carry doGenCode — the array kernels
    // stay CodegenFallback by measurement (see CODEGEN NOTE in MinHash.scala)
    graft.functions.CosineSim.register(spark)
    graft.functions.SqL2.register(spark)
    graft.functions.DotProduct.register(spark)
    graft.functions.MinHashFunctions.register(spark)
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    // CODEGEN_ONLY turns a broken doGenCode into a hard failure instead of
    // a quiet (and slower) interpreted fallback
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      // spark.range keeps this off the constant-folding / LocalRelation
      // path, so the expressions really evaluate inside generated code
      graft.functions.RollingHash.register(spark)
      val r = spark.range(1, 4).selectExpr(
        "cosine_sim(array(CAST(id AS DOUBLE), 1.0D), array(CAST(id AS DOUBLE), 1.0D)) AS c",
        "sq_l2(array(CAST(id AS DOUBLE)), array(CAST(id AS DOUBLE) + 3.0D)) AS d2",
        "sorted_intersect_count(array(id, id + 2), array(id + 2, id + 4)) AS i",
        "dot_product(array(CAST(id AS DOUBLE), 3.0D), array(0.0D, 2.0D)) AS dp",
        "size(rolling_hashes(concat('abcdef', CAST(id AS STRING)), 3)) AS rh")
        .collect()
      assert(r.forall(row => math.abs(row.getDouble(0) - 1.0) < 1e-12))
      assert(r.forall(_.getDouble(1) == 9.0))
      assert(r.forall(_.getInt(2) == 1))
      assert(r.forall(_.getDouble(3) == 6.0))
      assert(r.forall(_.getInt(4) == 5))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }
}
