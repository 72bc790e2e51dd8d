package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, VectorOps}
import graft.plans.{DistanceExpressions => DE}

/** The SQL distance surface is the native expressions themselves: after
  * `registerAll` (and nothing else) every `vector_*_distance` name
  * resolves to its Catalyst expression, never to a ScalaUDF. */
class NativeDistanceSqlSpec extends SparkSpecBase {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    super.beforeAll()
    GraftFunctions.registerAll(spark)
    Tables.read(spark, dir, "embeddings").createOrReplaceTempView("emb_native")
  }

  // the reference's distance names (neurondb--1.0.sql), minus cosine
  // similarity and mahalanobis, which stay UDFs; each SQL call must plan
  // as its native expression and put the query vector at distance 0
  private def assertNative(names: Seq[String], zeroAt: Seq[String]): Unit = {
    val q = "(SELECT first(embedding) FROM emb_native WHERE vec_id = 0)"
    val calls = names.map { n =>
      val p = if (n == "vector_minkowski_distance") ", 3" else ""
      s"$n(embedding, $q$p) AS $n"
    }
    val df = spark.sql(s"SELECT vec_id, ${calls.mkString(", ")} FROM emb_native")
    val optimized = df.queryExecution.optimizedPlan
    assert(optimized.collectFirst {
      case p if p.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF])) => p
    }.isEmpty, optimized.toString)
    for (n <- names) assert(optimized.toString.contains(n), s"$n missing: $optimized")
    val row0 = df.filter($"vec_id" === 0).head()
    for (n <- zeroAt) assert(row0.getAs[Double](n) == 0.0, n)
  }

  test("SQL calls of the core distance names plan with no ScalaUDF") {
    assertNative(Seq("vector_l2_distance", "vector_cosine_distance",
      "vector_inner_product", "vector_dot", "vector_l1_distance",
      "vector_minkowski_distance"),
      zeroAt = Seq("vector_l2_distance", "vector_minkowski_distance"))
  }

  test("SQL calls of the long-tail distance names plan with no ScalaUDF") {
    assertNative(Seq("vector_squared_l2_distance", "vector_chebyshev_distance",
      "vector_hamming_distance", "vector_jaccard_distance", "vector_dice_distance",
      "vector_bray_curtis_distance", "vector_canberra_distance",
      "vector_sokal_michener_distance", "vector_rogers_tanimoto_distance",
      "vector_russell_rao_distance", "vector_matching_coefficient"),
      zeroAt = Seq("vector_squared_l2_distance", "vector_chebyshev_distance"))
  }

  test("VectorOps and DistanceExpressions agree bit-for-bit") {
    val e = Tables.read(spark, dir, "embeddings")
    val q = Tables.queryVector(spark, dir, 7L)
    val qc = lit(q)
    val v = $"embedding"
    val metrics: Seq[(String, (Array[Float], Array[Float]) => Double, org.apache.spark.sql.Column)] = Seq(
      ("l2", VectorOps.l2, DE.l2(v, qc)),
      ("sq_l2", VectorOps.squaredL2, DE.squaredL2(v, qc)),
      ("cosine", VectorOps.cosineDistance, DE.cosine(v, qc)),
      ("inner_product", VectorOps.innerProductDistance, DE.innerProduct(v, qc)),
      ("dot", VectorOps.dot, DE.dot(v, qc)),
      ("l1", VectorOps.l1, DE.l1(v, qc)))
    val rows = e.select(v +: metrics.map { case (n, _, c) => c.as(n) }: _*).collect()
    assert(rows.length > 0)
    val bits = java.lang.Double.doubleToRawLongBits _
    for (r <- rows; ((name, kernel, _), i) <- metrics.zipWithIndex) {
      val a = r.getSeq[Float](0).toArray
      assert(bits(kernel(a, q)) == bits(r.getDouble(i + 1)),
        s"$name diverges: ${kernel(a, q)} vs ${r.getDouble(i + 1)}")
    }
  }

  test("native distances keep the error contract") {
    val short = Seq((1L, Seq(1.0f, 2.0f))).toDF("id", "v")
    val exDim = intercept[Exception] {
      short.select(DE.jaccard($"v", lit(Array(1.0f, 2.0f, 3.0f)))).collect()
    }
    assert(exDim.getMessage.contains("vector dimensions must match: 2 vs 3"),
      exDim.getMessage)
    val holed = Seq((1L, Seq(Some(1.0f), None))).toDF("id", "v")
    val exNull = intercept[Exception] {
      holed.select(DE.hamming($"v", lit(Array(1.0f, 2.0f)))).collect()
    }
    assert(exNull.getMessage.contains("null element at index 1"), exNull.getMessage)
    // bray-curtis zero denominator / canberra all-zero stay loud
    val zeros = Seq((1L, Seq(0.0f, 0.0f))).toDF("id", "v")
    val z = lit(Array(0.0f, 0.0f))
    val exBc = intercept[Exception](zeros.select(DE.brayCurtis($"v", z)).collect())
    assert(exBc.getMessage.contains("zero denominator"), exBc.getMessage)
    val exCan = intercept[Exception](zeros.select(DE.canberra($"v", z)).collect())
    assert(exCan.getMessage.contains("all-zero"), exCan.getMessage)
    val exP = intercept[Exception](zeros.select(DE.minkowski($"v", z, lit(0.0))).collect())
    assert(exP.getMessage.contains("p must be positive and finite"), exP.getMessage)
  }

  test("a wrong argument count fails analysis; vector_norm stays a UDF") {
    intercept[AnalysisException](
      spark.sql("SELECT vector_l2_distance(array(1.0F, 2.0F))").collect())
    intercept[AnalysisException](
      spark.sql("SELECT vector_minkowski_distance(array(1.0F), array(2.0F))").collect())
    assert(spark.sql("SELECT vector_norm(array(3.0F, 4.0F))").head().getDouble(0) == 5.0)
  }
}
