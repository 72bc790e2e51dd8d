package graft.perfbench

import java.util.SplittableRandom

/** Seeded input generation. Every generator is a pure function of
  * (seed, sizes): the same seed yields byte-identical inputs
  * ([[Inputs.digest]] pins that), and the program under test sees only
  * the generated rows, never the seed. */
object Inputs {

  val Dim = 128

  /** A clustered corpus: ids 0..n-1, vectors drawn from a Gaussian
    * mixture with skewed component weights and per-component spread,
    * plus topical text (most words from the component's topic). */
  final case class VecCorpus(ids: Array[Long], vecs: Array[Array[Float]],
                             texts: Array[String], comp: Array[Int])

  final case class Mixture(centers: Array[Array[Float]], sigma: Array[Double],
                           cdf: Array[Double], topics: Array[Array[String]])

  private val Syllables = Array("ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi",
    "pa", "de", "gu", "ro", "zen", "bi", "fa", "tor", "ul", "qua", "sy", "em")

  /** `n` distinct pseudo-words, deterministic in `r`. */
  def vocabulary(r: SplittableRandom, n: Int): Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    while (seen.size < n) {
      val len = 2 + r.nextInt(3)
      seen += (0 until len).map(_ => Syllables(r.nextInt(Syllables.length))).mkString
    }
    seen.toArray
  }

  def mixture(r: SplittableRandom, components: Int, vocab: Array[String]): Mixture = {
    val centers = Array.fill(components)(Array.fill(Dim)((r.nextGaussian() * 1.0).toFloat))
    val sigma = Array.fill(components)(0.45 + 0.35 * r.nextDouble())
    // Zipf-like component weights: a few large clusters, a long tail
    val w = Array.tabulate(components)(i => 1.0 / math.pow(i + 1, 0.8))
    val cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    val topics = Array.fill(components)(Array.fill(40)(vocab(r.nextInt(vocab.length))))
    Mixture(centers, sigma, cdf, topics)
  }

  def drawComponent(m: Mixture, r: SplittableRandom): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(m.cdf, u)
    math.min(if (i >= 0) i else -i - 1, m.cdf.length - 1)
  }

  def drawVector(m: Mixture, c: Int, r: SplittableRandom): Array[Float] = {
    val ctr = m.centers(c); val s = m.sigma(c)
    Array.tabulate(Dim)(d => (ctr(d) + r.nextGaussian() * s).toFloat)
  }

  def drawText(m: Mixture, c: Int, vocab: Array[String], r: SplittableRandom,
               words: Int): String =
    (0 until words).map { _ =>
      if (r.nextDouble() < 0.7) m.topics(c)(r.nextInt(m.topics(c).length))
      else vocab(r.nextInt(vocab.length))
    }.mkString(" ")

  /** Corpus of `n` rows with ids starting at `firstId`. */
  def vecCorpus(m: Mixture, vocab: Array[String], r: SplittableRandom,
                n: Int, firstId: Long = 0L): VecCorpus = {
    val comp = Array.fill(n)(drawComponent(m, r))
    val vecs = comp.map(c => drawVector(m, c, r))
    val texts = comp.map(c => drawText(m, c, vocab, r, 12 + r.nextInt(20)))
    VecCorpus(Array.tabulate(n)(i => firstId + i), vecs, texts, comp)
  }

  // ---------------- ann_query ----------------

  final case class Query(vec: Array[Float], text: String)

  /** Query pool + a seeded request stream with skewed popularity
    * (Zipf s=1.1 over the pool): the repeat share is a property of the
    * stream and is reported with the run. */
  final case class AnnInputs(corpus: VecCorpus, pool: Array[Query],
                             stream: Array[Int])

  def annQuery(seed: Long, n: Int, poolSize: Int, streamLen: Int): AnnInputs = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    val vocab = vocabulary(r, 3000)
    val m = mixture(r, 48, vocab)
    val corpus = vecCorpus(m, vocab, r, n)
    val pool = Array.fill(poolSize) {
      val c = drawComponent(m, r)
      Query(drawVector(m, c, r), drawText(m, c, vocab, r, 3))
    }
    val w = Array.tabulate(poolSize)(i => 1.0 / math.pow(i + 1, 1.1))
    val cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    val stream = Array.fill(streamLen) {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, poolSize - 1)
    }
    AnnInputs(corpus, pool, stream)
  }

  // ---------------- vector_batch ----------------

  /** Batch corpus with planted near-duplicate vectors (a copy plus a
    * tiny perturbation, cosine distance far below the dedup threshold)
    * and a query set drawn from the same mixture. */
  final case class BatchInputs(corpus: VecCorpus, queries: Array[Array[Float]],
                               plantedDups: Set[Long])

  def vectorBatch(seed: Long, n: Int, dupShare: Double, queries: Int): BatchInputs = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 2)
    val vocab = vocabulary(r, 3000)
    val m = mixture(r, 48, vocab)
    val base = vecCorpus(m, vocab, r, n)
    val dups = scala.collection.mutable.LinkedHashSet[Long]()
    val vecs = base.vecs.clone()
    var i = 1
    while (i < n) {
      if (r.nextDouble() < dupShare) {
        val src = r.nextInt(i)
        if (!dups.contains(src.toLong)) {
          vecs(i) = vecs(src).map(x => (x + r.nextGaussian() * 1e-3).toFloat)
          dups += i.toLong
        }
      }
      i += 1
    }
    val qs = Array.fill(queries)(drawVector(m, drawComponent(m, r), r))
    BatchInputs(base.copy(vecs = vecs), qs, dups.toSet)
  }

  // ---------------- corpus_curate ----------------

  /** Documents with planted exact duplicates, near-duplicates (one word
    * substituted in one content line: word-3-shingle Jaccard stays far
    * above the LSH threshold) and boilerplate lines shared by many
    * documents. `dupOf(id)` is the planted source of a copy. */
  final case class CurateInputs(ids: Array[Long], texts: Array[String],
                                exactDupOf: Map[Long, Long],
                                nearDupOf: Map[Long, Long],
                                boilerplate: Array[String])

  def corpusCurate(seed: Long, n: Int, exactShare: Double,
                   nearShare: Double): CurateInputs = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 3)
    val vocab = vocabulary(r, 5000)
    val boiler = Array.tabulate(24)(b =>
      (0 until 6 + r.nextInt(6)).map(_ => vocab(r.nextInt(vocab.length))).mkString(" ") +
        s" footer $b")
    def contentLine(): String =
      (0 until 10 + r.nextInt(10)).map(_ => vocab(r.nextInt(vocab.length))).mkString(" ")
    val texts = new Array[String](n)
    val exact = scala.collection.mutable.LinkedHashMap[Long, Long]()
    val near = scala.collection.mutable.LinkedHashMap[Long, Long]()
    // a planted copy's source is always an ORIGINAL document, so every
    // duplicate family is a star around its smallest id
    val original = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      val u = r.nextDouble()
      val originals = if (i > 0) (0 until 4).map(_ => r.nextInt(i)).find(original) else None
      if (u < exactShare && originals.nonEmpty) {
        texts(i) = texts(originals.get); exact(i.toLong) = originals.get.toLong
      } else if (u < exactShare + nearShare && originals.nonEmpty) {
        val src = originals.get
        val lines = texts(src).split("\n")
        val content = lines.indices.filterNot(j => boiler.contains(lines(j)))
        val j = content(r.nextInt(content.length))
        val ws = lines(j).split(" ")
        ws(r.nextInt(ws.length)) = "edited" + i
        lines(j) = ws.mkString(" ")
        texts(i) = lines.mkString("\n"); near(i.toLong) = src.toLong
      } else {
        val lines = scala.collection.mutable.ArrayBuffer.fill(4 + r.nextInt(5))(contentLine())
        val nb = 1 + r.nextInt(3)
        (0 until nb).foreach(_ =>
          lines.insert(r.nextInt(lines.length + 1), boiler(r.nextInt(boiler.length))))
        texts(i) = lines.mkString("\n"); original(i) = true
      }
      i += 1
    }
    CurateInputs(Array.tabulate(n)(_.toLong), texts, exact.toMap, near.toMap, boiler)
  }

  // ---------------- index_churn ----------------

  /** Initial index corpus + a stream of fresh vectors to ingest + the
    * seeded retraction/search choices. */
  final case class ChurnInputs(initial: VecCorpus, fresh: VecCorpus,
                               queries: Array[Array[Float]], choiceSeed: Long)

  def indexChurn(seed: Long, n: Int, freshRows: Int, queries: Int): ChurnInputs = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 4)
    val vocab = vocabulary(r, 3000)
    val m = mixture(r, 48, vocab)
    val init = vecCorpus(m, vocab, r, n)
    val fresh = vecCorpus(m, vocab, r, freshRows, firstId = n.toLong)
    val qs = Array.fill(queries)(drawVector(m, drawComponent(m, r), r))
    ChurnInputs(init, fresh, qs, r.nextLong())
  }

  // ---------------- digest ----------------

  /** SHA-256 over a canonical byte encoding of any generated input. */
  def digest(x: Any): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val bb = java.nio.ByteBuffer.allocate(8)
    def long(v: Long): Unit = { bb.clear(); bb.putLong(v); md.update(bb.array()) }
    def go(v: Any): Unit = v match {
      case a: Array[Float] => long(a.length); a.foreach(f => long(java.lang.Float.floatToIntBits(f)))
      case a: Array[_] => long(a.length); a.foreach(go)
      case s: String => val b = s.getBytes("UTF-8"); long(b.length); md.update(b)
      case l: Long => long(l)
      case i: Int => long(i)
      case d: Double => long(java.lang.Double.doubleToLongBits(d))
      case s: Set[_] => go(s.toSeq.map(_.toString).sorted.toArray)
      case m: Map[_, _] => go(m.toSeq.map { case (k, v) => s"$k=$v" }.sorted.toArray)
      case p: Product => long(p.productArity); p.productIterator.foreach(go)
      case other => go(other.toString)
    }
    go(x)
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
