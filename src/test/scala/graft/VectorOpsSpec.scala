package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.catalyst.util.ArrayData

import graft.functions.{Embeddings, VectorOps => V}
import graft.plans.{DistanceExpressions => DE}

class VectorOpsSpec extends AnyFunSuite {

  private val a = Array(1f, 2f, 3f)
  private val b = Array(4f, 5f, 6f)

  // Golden pair from NeuronDB/sql/00_create.sql:117-120.
  test("l2 golden") { assert(math.abs(V.l2(a, b) - 5.196152) < 1e-6) }
  test("cosine golden") { assert(math.abs(V.cosineDistance(a, b) - 0.025368154) < 1e-6) }

  test("inner product is negated dot (distance.c:95-106)") {
    assert(V.innerProductDistance(a, b) == -(4.0 + 10.0 + 18.0))
  }

  test("cosine zero-norm returns 1.0 (distance.c:151-153)") {
    assert(V.cosineDistance(Array(0f, 0f), Array(1f, 2f)) == 1.0)
  }

  test("cosine similarity zero vector errors (operators.c:224-228)") {
    intercept[IllegalArgumentException](V.cosineSimilarity(Array(0f, 0f), Array(1f, 2f)))
  }

  test("dimension mismatch errors (distance.c:27-36)") {
    intercept[IllegalArgumentException](V.l2(Array(1f), Array(1f, 2f)))
    intercept[IllegalArgumentException](V.add(Array(1f), Array(1f, 2f)))
  }

  // The long-tail metrics have one kernel, the ArrayData one the SQL
  // and Column surfaces evaluate; these goldens pin it directly.
  private def ad(v: Array[Float]): ArrayData = ArrayData.toArrayData(v)
  private val (ad1, ad2) = (ad(a), ad(b))

  test("hamming counts unequal coords") {
    assert(DE.hammingData(ad(Array(1f, 2f, 3f)), ad(Array(1f, 0f, 3f))) == 1.0)
  }

  test("minkowski shortcuts and p<=0 error (distance.c:290-369)") {
    assert(math.abs(DE.minkowskiData(ad1, ad2, 1.0) - DE.l1Data(ad1, ad2)) < 1e-12)
    assert(math.abs(DE.minkowskiData(ad1, ad2, 2.0) - DE.l2Data(ad1, ad2)) < 1e-12)
    assert(math.abs(DE.minkowskiData(ad1, ad2, 1e11) - DE.chebyshevData(ad1, ad2)) < 1e-12)
    // general p: (3³ + 3³ + 3³)^(1/3)
    assert(math.abs(DE.minkowskiData(ad1, ad2, 3.0) - math.cbrt(81.0)) < 1e-12)
    intercept[IllegalArgumentException](DE.minkowskiData(ad1, ad2, 0.0))
    intercept[IllegalArgumentException](DE.minkowskiData(ad1, ad2, -1.0))
  }

  test("jaccard support semantics; both-zero -> 0 (vector_distance.c:453-496)") {
    assert(math.abs(DE.jaccardData(ad(Array(1f, 1f, 0f)), ad(Array(1f, 0f, 1f))) -
      (1.0 - 1.0 / 3.0)) < 1e-12)
    assert(DE.jaccardData(ad(Array(0f, 0f)), ad(Array(0f, 0f))) == 0.0)
  }

  test("dice (vector_distance.c:497-543)") {
    assert(math.abs(DE.diceData(ad(Array(1f, 1f, 0f)), ad(Array(1f, 0f, 1f))) - 0.5) < 1e-12)
  }

  test("bray-curtis / canberra all-zero error (sql/03_distance_metrics.sql:142-168)") {
    val z = ad(Array(0f, 0f))
    intercept[IllegalArgumentException](DE.brayCurtisData(z, z))
    intercept[IllegalArgumentException](DE.canberraData(z, z))
    assert(math.abs(DE.brayCurtisData(ad(Array(1f, 2f)), ad(Array(3f, 4f))) - 4.0 / 10.0) < 1e-12)
  }

  test("mahalanobis: null cov -> l2; bad inv-var errors (vector_distance.c:545-595)") {
    assert(V.mahalanobis(a, b, null) == V.l2(a, b))
    intercept[IllegalArgumentException](V.mahalanobis(a, b, Array(1f, -1f, 1f)))
  }

  test("normalize produces unit norm; zero vector unchanged") {
    val n = V.normalize(a)
    assert(math.abs(V.norm(n) - 1.0) < 1e-6)
    assert(V.normalize(Array(0f, 0f)).toSeq == Seq(0f, 0f))
  }

  test("element access is 1-based (core/vector_ops.c:31-90)") {
    assert(V.get(a, 1) == 1f && V.get(a, 3) == 3f)
    intercept[IndexOutOfBoundsException](V.get(a, 0))
    assert(V.slice(a, 2, 3).toSeq == Seq(2f, 3f))
    assert(V.set(a, 2, 9.0).toSeq == Seq(1f, 9f, 3f))
  }

  test("per-vector stats") {
    assert(V.mean(a) == 2.0)
    assert(math.abs(V.variance(a) - 2.0 / 3.0) < 1e-12)
    assert(V.minElem(a) == 1f && V.maxElem(a) == 3f)
    assert(V.median(a) == 2.0)
    assert(V.quantile(Array(1f, 2f, 3f, 4f), 0.5) == 2.5)
  }

  test("standardize/minmax of constant vector -> zeros") {
    assert(V.standardize(Array(5f, 5f)).toSeq == Seq(0f, 0f))
    assert(V.minmaxNormalize(Array(5f, 5f)).toSeq == Seq(0f, 0f))
  }

  test("where / filter / cross product") {
    assert(V.where(Array(1f, 0f), Array(10f, 20f), Array(30f, 40f)).toSeq == Seq(10f, 40f))
    assert(V.filterThreshold(Array(0.5f, -0.01f), 0.1).toSeq == Seq(0.5f, 0f))
    assert(V.crossProduct(Array(1f, 0f, 0f), Array(0f, 1f, 0f)).toSeq == Seq(0f, 0f, 1f))
  }

  // Distance axioms the reference implies but never tests (SURVEY §5).
  test("property: l2/l1 symmetry, identity, triangle (seeded random)") {
    val rnd = new scala.util.Random(42)
    def vec(): Array[Float] = Array.fill(8)(rnd.nextFloat() * 200f - 100f)
    for (_ <- 1 to 200) {
      val x = vec(); val y = vec(); val z = vec()
      assert(math.abs(V.l2(x, y) - V.l2(y, x)) < 1e-9)
      assert(V.l2(x, x) == 0.0)
      assert(V.l2(x, z) <= V.l2(x, y) + V.l2(y, z) + 1e-9)
      assert(V.l1(x, z) <= V.l1(x, y) + V.l1(y, z) + 1e-9)
    }
  }

  test("embedText matches reference djb2 fallback shape (embeddings.c:399-441)") {
    val e = Embeddings.embedText("hello world", "all-MiniLM-L6-v2")
    assert(e.length == 384)
    assert(e.forall(v => v >= -1.0f && v <= 0.999f))
    // deterministic
    assert(e.toSeq == Embeddings.embedText("hello world", "all-MiniLM-L6-v2").toSeq)
    // sensitive to text and model
    assert(e.toSeq != Embeddings.embedText("hello worlds", "all-MiniLM-L6-v2").toSeq)
    assert(e.toSeq != Embeddings.embedText("hello world", "other-model").toSeq)
    // values quantized to 1/1000 grid
    assert(e.forall(v => math.abs(v * 1000 - math.round(v * 1000)) < 1e-3))
  }

  test("chunkText stride = size - overlap (neurondb--1.0.sql:6032-6062)") {
    val doc = "abcdefghij"
    assert(Embeddings.chunkText(doc, 4, 2) == Seq("abcd", "cdef", "efgh", "ghij", "ij"))
    assert(Embeddings.chunkText("", 4, 2).isEmpty)
    intercept[IllegalArgumentException](Embeddings.chunkText(doc, 4, 4))
  }
}
