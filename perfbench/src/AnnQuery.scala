package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.functions.{Embeddings, VectorOps}
import graft.operators.{Bm25, Hnsw, Hybrid, Ivf, IvfPq, Knn, Pq, Rag}

/** Single interactive searches, each collected to the driver, over a
  * clustered corpus with topical text. Indexes are built in set-up. */
final class AnnQuery(ctx: Ctx) extends Workload {
  import ctx.spark

  val n: Int = math.max(2000, (6000 * ctx.args.scale).toInt)
  val K = 10
  val Nlists = 24
  val Nprobe = 8
  val PqNprobe = 8
  val RerankPool = 200
  val HnswShards = 4
  val HnswEf = 64
  val Ops = Seq("knn", "ivf", "ivfpq", "hnsw", "hybrid", "rag")
  override def period: Int = Ops.length
  /** One untimed round first: each op's first plan compiles cold. */
  override def warmup: Int = Ops.length
  /** One round of the op mix per second of budget, at least seven
    * rounds (42 searches), so the tail is a real p75. */
  def iterations(seconds: Double): Int = Ops.length * math.max(7, math.round(seconds).toInt)

  var in: Inputs.AnnInputs = _
  var corpus: DataFrame = _
  var ivf: Ivf.IvfModel = _
  var pq: IvfPq.IvfPqModel = _
  var hnswPath: String = _
  var chunks: DataFrame = _
  private var listSize: Map[Int, Long] = Map.empty

  def setup(rep: Int): Unit = {
    Option(corpus).foreach(_.unpersist())
    Option(chunks).foreach(_.unpersist())
    in = ctx.phase("inputs")(Inputs.annQuery(ctx.args.seed, n, poolSize = 256, streamLen = 1 << 16))
    corpus = Frames.vectors(spark, in.corpus).persist()
    ctx.phase("corpus")(corpus.count())
    // IVF and IVF-PQ serve from cached frames, HNSW from its on-disk
    // layout (the graph cache is keyed by the files' fingerprint)
    Option(ivf).foreach(_.assigned.unpersist()); Option(pq).foreach(_.encoded.unpersist())
    ctx.phase("ivf+pq") {
      val built = Frames.sampledIvf(corpus, in.corpus, Nlists, ctx.args.seed)
      ivf = built.copy(assigned = built.assigned.persist())
      ivf.assigned.count()
      // IVFADC on the same coarse quantizer: 16 subspaces of 64 codes
      val cb = Pq.train(ivf.assigned, "vec", m = 16, k = 64, sampleSize = 2000, iters = 6)
      pq = IvfPq.IvfPqModel(ivf, cb, Pq.encodeTable(ivf.assigned, "vec", cb).persist(), "id")
      pq.encoded.count()
    }
    hnswPath = ctx.path(s"ann/hnsw$rep")
    ctx.phase("hnsw")(Hnsw.write(Hnsw.build(corpus, "id", "vec", HnswShards, Hnsw.Params(m = 12, efConstruction = 48)),
      hnswPath))
    chunks = Rag.buildChunkIndex(Frames.texts(spark, in.corpus), "id", "text").persist()
    ctx.phase("rag")(chunks.count())
  }

  // ---- driver-side truth, memoized per pool query ----
  private lazy val chunkRows: Array[(Long, Int, Array[Float])] = {
    val t = System.nanoTime()
    val rows = in.corpus.ids.indices.flatMap { i =>
      Embeddings.chunkText(in.corpus.texts(i)).zipWithIndex.map { case (c, j) =>
        (in.corpus.ids(i), j, Embeddings.embedText(c, "all-MiniLM-L6-v2"))
      }
    }.toArray
    ctx.note("functions.Embeddings.embedText_us", (System.nanoTime() - t) / 1e3 / rows.length)
    rows
  }
  private val l2Truth = mutable.HashMap[Int, Seq[(Long, Double)]]()
  private def exactL2(qi: Int): Seq[(Long, Double)] = l2Truth.getOrElseUpdate(qi, {
    val q = in.pool(qi).vec; val vs = in.corpus.vecs
    val t = System.nanoTime()
    val r = Stats.topK(in.corpus.ids, i => VectorOps.l2(q, vs(i)), K)
    ctx.note("functions.VectorOps.l2_ns_per_pair", (System.nanoTime() - t).toDouble / vs.length)
    r
  })

  private val annRecall = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private def recall(op: String, got: Seq[(Long, Double)], qi: Int): Unit =
    annRecall.getOrElseUpdate(op, mutable.ArrayBuffer()) +=
      Stats.recallAtK(got.map(_._1), exactL2(qi).map(_._1), K)
  private val seen = mutable.HashSet[Int]()
  private var repeats = 0
  private var graphLookups = 0L
  private var graphBuilds = 0L

  override def prepare(): Unit = if (ctx.trace.isDefined) {
    listSize = ivf.assigned.groupBy("cluster_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
  }

  private def pairs(rows: Array[Row], score: String): Seq[(Long, Double)] =
    rows.map(r => (r.getAs[Long]("id"), r.getAs[Double](score))).toSeq

  /** Every returned (id, distance) must carry the id's true distance. */
  private def distancesHold(what: String, q: Array[Float], got: Seq[(Long, Double)]): Unit = {
    ctx.check(s"$what returned ${got.length} rows, want $K", got.length == K)
    ctx.check(s"$what distances", got.forall { case (id, d) =>
      math.abs(VectorOps.l2(q, in.corpus.vecs(id.toInt)) - d) <= 1e-6 * math.max(1.0, d) })
  }

  def step(i: Int, traced: Boolean): Unit = {
    val qi = in.stream(i % in.stream.length)
    if (!seen.add(qi)) repeats += 1
    val q = in.pool(qi)
    Ops(i % Ops.length) match {
      case "knn" =>
        val got = ctx.timed("search.knn", traced) {
          ctx.span("operators.Knn.search") {
            pairs(Knn.search(corpus, "vec", q.vec, K, tieBreak = Seq("id"))
              .select("id", "distance").collect(), "distance")
          }
        }
        ctx.check(s"Knn.search q$qi equals brute force", Stats.sameTopK(got, exactL2(qi)))
      case "ivf" =>
        val got = ctx.timed("search.ivf", traced) {
          if (traced) {
            val t = System.nanoTime()
            val probes = ctx.span("operators.Ivf.route")(ivf.route(q.vec, Nprobe))
            ctx.note("operators.Ivf.route_us", (System.nanoTime() - t) / 1e3)
            val cand = probes.map(listSize.getOrElse(_, 0L)).sum.toDouble
            ctx.note("operators.Ivf.candidates_per_query", cand)
            ctx.note("operators.Ivf.useful_ratio", if (cand > 0) K / cand else 0.0)
          }
          ctx.span("operators.Ivf.search") {
            pairs(ivf.search(q.vec, K, Nprobe).select("id", "distance").collect(), "distance")
          }
        }
        distancesHold("Ivf.search", q.vec, got)
        recall("ivf", got, qi)
      case "ivfpq" =>
        val got = ctx.timed("search.ivfpq", traced) {
          ctx.span("operators.IvfPq.search") {
            pairs(IvfPq.search(pq, q.vec, K, PqNprobe, RerankPool).select("id", "distance").collect(), "distance")
          }
        }
        distancesHold("IvfPq.search", q.vec, got)
        recall("ivfpq", got, qi)
      case "hnsw" =>
        val b0 = Hnsw.graphBuilds.get()
        val got = ctx.timed("search.hnsw", traced) {
          ctx.span("operators.Hnsw.searchBatchFromDisk") {
            Hnsw.searchBatchFromDisk(spark, hnswPath, Array((0L, q.vec)), K, HnswEf)
              .orderBy("rank").select("id", "distance").collect()
              .map(r => (r.getLong(0), r.getDouble(1))).toSeq
          }
        }
        graphLookups += HnswShards; graphBuilds += Hnsw.graphBuilds.get() - b0
        distancesHold("Hnsw.searchBatchFromDisk", q.vec, got)
        recall("hnsw", got, qi)
      case "hybrid" =>
        val got = ctx.timed("search.hybrid", traced) {
          ctx.span("operators.Hybrid.hybridSearch") {
            pairs(Hybrid.hybridSearch(corpus, "id", "vec", "text", q.vec, q.text, 0.7, K)
              .select("id", "hybrid_score").collect(), "hybrid_score")
          }
        }
        val vs = in.corpus.vecs; val ts = in.corpus.texts
        // hybrid ranks by descending score: negate for the ascending top-k
        val truth = Stats.topK(in.corpus.ids, j =>
          -(0.7 * (1.0 - VectorOps.l2(q.vec, vs(j))) + (1.0 - 0.7) * Bm25.pairScore(q.text, ts(j))), K)
          .map { case (id, s) => (id, -s) }
        ctx.check(s"Hybrid.hybridSearch q$qi equals brute force", Stats.sameTopK(got, truth))
      case "rag" =>
        val got = ctx.timed("search.rag", traced) {
          ctx.span("operators.Rag.ragQuery") {
            Rag.ragQuery(chunks, q.text, K, tieBreak = Seq("id", "chunk_index"))
              .select("id", "chunk_index", "distance").collect()
              .map(r => (r.getLong(0) * 1000 + r.getInt(1), r.getDouble(2))).toSeq
          }
        }
        val qv = Embeddings.embedText(q.text, "all-MiniLM-L6-v2")
        val cr = chunkRows
        val t = System.nanoTime()
        val truth = Stats.topK(cr.map(c => c._1 * 1000 + c._2), j => VectorOps.cosineDistance(qv, cr(j)._3), K)
        ctx.note("functions.VectorOps.cosine_ns_per_pair", (System.nanoTime() - t).toDouble / cr.length)
        ctx.check(s"Rag.ragQuery q$qi equals brute force", Stats.sameTopK(got, truth))
    }
  }

  override def finish(): Unit = if (ctx.trace.isDefined) {
    ctx.note("operators.Hnsw.graph_cache_hit_ratio",
      if (graphLookups == 0) 0.0 else 1.0 - graphBuilds.toDouble / graphLookups)
    Probes.distanceExpressions(ctx, corpus, in.pool(0).vec)
  }

  def items: Double = ctx.timedOps.toDouble
  def quality: Double = Stats.mean(annRecall.values.flatten.toSeq)
  def info: Seq[(String, Metric)] = {
    Seq("corpus_rows" -> Metric(n, "count")) ++ Metric.latency("search_", ctx.latencies("search.")) ++ Seq(
      "recall_at_10" -> Metric(quality, "ratio", s"n=${annRecall.values.map(_.length).sum}")) ++
      annRecall.toSeq.map { case (op, xs) => s"search.$op.recall_at_10" -> Metric(Stats.mean(xs.toSeq), "ratio") } ++ Seq(
      "repeat_share" -> Metric(repeats.toDouble / math.max(1L, ctx.attempted), "ratio", "share of searches whose query was asked before"),
      "space_amp" -> Metric(Frames.bytesUnder(hnswPath) / (n.toDouble * Inputs.Dim * 4), "ratio",
        "hnsw files / raw vector bytes"))
  }
}
