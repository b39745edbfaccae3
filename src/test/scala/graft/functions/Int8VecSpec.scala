package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.operators.Similarity

/** The int8 ANN physical-path contract:
  *  - the scan-side quantized column is REALLY BinaryType (1 byte per
  *    component — the 8x-vs-double storage cut is physical, not a
  *    comment);
  *  - ByteCosine over packed vectors is bit-identical to ArrayCosine
  *    over the same integers as doubles (what lets the DuckDB oracle
  *    keep scoring DOUBLE[] while Spark scans bytes);
  *  - the malformed-input contracts (mismatch/null) match ArrayCosine's.
  */
class Int8VecSpec extends AnyFunSuite with SparkSpec {

  import testImplicits._
  private lazy val testImplicits = spark.implicits

  // deterministic pseudo-random int8 vectors (seeded — reproducible runs)
  private def int8Vec(rnd: scala.util.Random): Seq[Int] = {
    val n = 1 + rnd.nextInt(16)
    val xs = Seq.fill(n)(rnd.nextInt(255) - 127)
    if (xs.exists(_ != 0)) xs else xs.updated(0, 1)
  }

  test("quantizedVectors stores the scan-side vector as BinaryType") {
    val df = Seq((1L, Seq(0.5, -1.0, 2.0)), (2L, Seq(1.0, 1.0, 1.0)))
      .toDF("id", "v")
    val q = Similarity.quantizedVectors(df, col("id"), col("v"))
    assert(q.schema("q8").dataType == BinaryType)
    // and the physical size is 1 byte per component
    val bytes = q.filter(col("vec_id") === 1L)
      .select(col("q8")).head().getAs[Array[Byte]](0)
    assert(bytes.length == 3)
    // quantizeInt8 values: scale 127/2 → (32, -64, 127) after half-up round
    assert(bytes.toSeq == Seq[Byte](32, -64, 127))
  }

  test("ByteCosine(pack(a), pack(b)) == ArrayCosine(a, b) bit-for-bit") {
    val rnd = new scala.util.Random(42)
    // one batched round-trip for 50 random pairs (one Spark job, not 50)
    val cases = Seq.fill(50) {
      val a = int8Vec(rnd)
      val b = int8Vec(rnd)
      val n = math.min(a.size, b.size)
      (a.take(n), b.take(n))
    }
    val rows = cases.toDF("a", "b").select(
      col("a"), col("b"),
      Int8Vec.byteCosine(Int8Vec.pack(col("a")), Int8Vec.pack(col("b")))
        .as("byte_cos"),
      graft.functions.ArrayCosine.cosine(
        col("a").cast("array<double>"),
        col("b").cast("array<double>")).as("dbl_cos")).collect()
    rows.foreach { r =>
      val (bc, dc) = (r.getDouble(2), r.getDouble(3))
      assert(java.lang.Double.doubleToRawLongBits(bc) ==
        java.lang.Double.doubleToRawLongBits(dc),
        s"byte=$bc double=$dc for a=${r.get(0)} b=${r.get(1)}")
    }
  }

  test("unpack(pack(a)) round-trips, sign-extending") {
    val rnd = new scala.util.Random(7)
    val cases = Seq.fill(30)(int8Vec(rnd))
    val rows = cases.toDF("a").select(col("a"),
      Int8Vec.unpack(Int8Vec.pack(col("a"))).as("back")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Int](0) === r.getSeq[Int](1))
    }
  }

  test("length mismatch yields NULL; out-of-range component throws") {
    val df = Seq((Seq(1, 2, 3), Seq(1, 2))).toDF("a", "b")
    val r = df.select(
      Int8Vec.byteCosine(Int8Vec.pack(col("a")), Int8Vec.pack(col("b")))
        .as("c")).head()
    assert(r.isNullAt(0))
    val bad = Seq(Tuple1(Seq(1, 200))).toDF("a")
    val ex = intercept[Exception] {
      bad.select(Int8Vec.pack(col("a"))).collect()
    }
    assert(ex.getMessage != null)
  }

  test("quantizedTopK ranks by byte-domain scores equal to the double path") {
    // deterministic small corpus: 20 vectors of dim 8
    val rows = (0L until 20L).map { i =>
      (i, (0 until 8).map(j => math.sin(i * 8 + j + 1).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val out = Similarity.quantizedTopK(df, col("vec_id"), col("embedding"),
      queryId = 0L, k = 5, tol = 0.05).collect()
    assert(out.length == 5)
    // replay the double-domain formulation on the same quantized ints
    val quantized = df
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), col("v"),
        VectorFunctions.quantizeInt8(col("v")).cast("array<double>").as("q8"))
      .filter(col("q8").isNotNull)
    import graft.functions.ArrayCosine.cosine
    val q = quantized.filter(col("vec_id") === 0L)
      .select(col("q8").as("qq"))
    val ref = quantized.filter(col("vec_id") =!= 0L)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(cosine(col("q8"), col("qq")), 4).as("qcos_sim"))
      .orderBy(col("qcos_sim").desc, col("vec_id"))
      .limit(5).collect()
    assert(out.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      ref.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
  }
}
