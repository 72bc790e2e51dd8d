package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.functions.VectorOps
import graft.ml.UnifiedApi
import graft.operators.{Dedup, Ivf}
import graft.streaming.{StreamIndexIngest, StreamRetraction}

/** One pass of batch vector work per iteration over a clustered corpus
  * with planted near-duplicate vectors: IVF build, exact kNN join,
  * thresholded IVF join, semantic dedup, k-means train + predict, then
  * index maintenance through the streaming layer: publish the built
  * index, ingest the query set into it, retract the duplicates semantic
  * dedup found and compact, with an exhaustive probe after every write
  * checked against the live set. */
final class VectorBatch(ctx: Ctx) extends Workload {
  import ctx.spark

  val n: Int = math.max(2000, (10000 * ctx.args.scale).toInt)
  val Q = 200
  val K = 10
  val Nlists = 32
  val Nprobe = 4
  val DedupCosine = 0.01

  /** One cold pass per twenty seconds of budget: a batch job runs once per
    * launch. */
  def iterations(seconds: Double): Int = math.max(1, math.round(seconds / 20).toInt)

  var in: Inputs.BatchInputs = _
  var corpus: DataFrame = _
  var queries: DataFrame = _

  def setup(rep: Int): Unit = {
    Option(corpus).foreach(_.unpersist()); Option(queries).foreach(_.unpersist())
    in = Inputs.vectorBatch(ctx.args.seed, n, dupShare = 0.02, queries = Q)
    corpus = Frames.vectors(spark, in.corpus).select("id", "vec").persist(); corpus.count()
    queries = Frames.queries(spark, in.queries).persist(); queries.count()
  }

  // driver-side truth: exact top-k per query, and the join threshold
  // (median true k-th neighbour distance), so every query has pairs
  private var knnTruth: Array[Seq[(Long, Double)]] = _
  private var threshold = 0.0
  private var pairTruth: Set[(Long, Long)] = _

  override def prepare(): Unit = {
    val vs = in.corpus.vecs
    val t = System.nanoTime()
    val dists = in.queries.map(q => vs.map(v => VectorOps.l2(q, v)))
    ctx.note("functions.VectorOps.l2_ns_per_pair", (System.nanoTime() - t).toDouble / (Q.toLong * n))
    knnTruth = dists.map(d => Stats.topK(in.corpus.ids, d(_), K))
    threshold = Stats.median(knnTruth.map(_.last._2).toSeq)
    pairTruth = (for (qi <- 0 until Q; j <- 0 until n if dists(qi)(j) <= threshold)
      yield (qi.toLong, in.corpus.ids(j))).toSet
  }

  private val joinRecall = mutable.ArrayBuffer[Double]()
  private var dedupRecall = 0.0
  private var dedupPrecision = 0.0

  private var spaceAmp = 0.0
  private var bytesPerUserByte = 0.0

  /** Exhaustive probe of the served index (every list); checked after
    * the pass against brute force over the live rows. */
  private def probe(path: String, q: Array[Float], what: String, retracted: Boolean): Unit = {
    val served = ctx.span("streaming.StreamRetraction.servingIvf") {
      StreamRetraction.servingIvf(spark, path, "vec", "id")
    }
    val got = ctx.span("operators.Ivf.search") {
      served.search(q, K, Nlists).select("id", "distance").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }
    probes += ((what, got, retracted))
  }
  private val probes = mutable.ArrayBuffer[(String, Seq[(Long, Double)], Boolean)]()

  def step(i: Int, traced: Boolean): Unit = {
    var model: Ivf.IvfModel = null
    val path = ctx.path(s"batch/index$i")
    val q = in.queries(i % Q)
    var files = 0.0; var dead = 0.0
    val writes = new Frames.WriteTracker(path)
    val (knn, join, removed, predicted) = ctx.timed("pass", traced) {
      model = ctx.span("operators.Ivf.build") {
        val m = Ivf.build(corpus, "vec", Nlists, seed = 7L, maxIter = 5)
        val a = m.assigned.persist(); a.count()
        m.copy(assigned = a)
      }
      val knn = ctx.span("operators.Ivf.knnJoin") {
        Ivf.knnJoin(model, queries, "vec", "qid", K, tieBreak = Seq("id"))
          .select("qid", "t_id", "distance").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      }
      val join = ctx.span("operators.Ivf.join") {
        Ivf.join(model, queries, "vec", threshold = threshold, nprobe = Nprobe)
          .select("r_qid", "l_id", "distance").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      }
      val centroids = {
        import spark.implicits._
        model.centroids.zipWithIndex.map { case (c, j) => (j.toLong, c) }.toSeq.toDF("cid", "cvec")
      }
      val removed = ctx.span("operators.Dedup.semDedup") {
        Dedup.semDedup(corpus, "id", "vec", centroids, "cid", "cvec", DedupCosine)
          .filter(!col("keeper")).select("id").collect().map(_.getLong(0)).toSet
      }
      val km = ctx.span("ml.UnifiedApi.train") {
        UnifiedApi.train("kmeans", corpus, "vec", params = Map("k" -> "8", "max_iterations" -> "4"))
      }
      val predicted = ctx.span("ml.UnifiedApi.predict") {
        UnifiedApi.predict(km.modelId, corpus).groupBy("prediction").count().collect()
          .map(_.getLong(1)).sum
      }
      // index maintenance: publish, ingest the queries, retract the dups
      ctx.span("operators.Ivf.writePartitioned")(Ivf.writePartitioned(model, path))
      ctx.span("streaming.StreamIndexIngest.ingestBatch") {
        StreamIndexIngest.ingestBatch(model.centroids, "vec", Frames.queries(spark, in.queries, n.toLong)
          .withColumnRenamed("qid", "id"), path, batchId = 1L)
      }
      probe(path, q, "ingest", retracted = false)
      ctx.span("streaming.StreamRetraction.retractBatch") {
        import spark.implicits._
        StreamRetraction.retractBatch(removed.toSeq.toDF("id"), path, batchId = 1L)
      }
      probe(path, q, "retract", retracted = true)
      writes.update()
      files = writes.files
      dead = removed.size.toDouble / (n + Q)
      ctx.span("streaming.StreamRetraction.compactIvf")(StreamRetraction.compactIvf(spark, path, "vec", "id"))
      probe(path, q, "compaction", retracted = true)
      (knn, join, removed, predicted)
    }
    writes.update()
    val userBytes = (n + Q) * (Inputs.Dim * 4.0 + 8)
    bytesPerUserByte = writes.bytesWritten / userBytes
    spaceAmp = Frames.bytesUnder(path) / ((n + Q - removed.size) * (Inputs.Dim * 4.0 + 8))
    if (traced) {
      traceCounts(model, join.length)
      ctx.note("streaming.index_files", files)
      ctx.note("streaming.dead_fraction", dead)
      ctx.note("streaming.bytes_written_per_user_byte", bytesPerUserByte)
    }
    model.assigned.unpersist()

    val ids = in.corpus.ids ++ in.queries.indices.map(n.toLong + _)
    val vecs = in.corpus.vecs ++ in.queries
    probes.foreach { case (what, got, retracted) =>
      val live = ids.indices.filter(j => !(retracted && removed.contains(ids(j)))).toArray
      val truth = Stats.topK(live.map(ids(_)), j => VectorOps.l2(q, vecs(live(j))), K)
      ctx.check(s"pass $i: exhaustive probe after $what equals brute force over the live set",
        Stats.sameTopK(got, truth))
    }
    probes.clear()
    // exact kNN join equals the driver-side brute force, query by query
    val byQ = knn.groupBy(_._1)
    ctx.check(s"Ivf.knnJoin pass $i equals brute force", (0 until Q).forall { qi =>
      Stats.sameTopK(byQ.getOrElse(qi.toLong, Array.empty).sortBy(r => (r._3, r._2)).map(r => (r._2, r._3)).toSeq,
        knnTruth(qi))
    })
    ctx.check(s"Ivf.join pass $i pairs within threshold with true distances", join.forall { case (q, id, d) =>
      d <= threshold && math.abs(VectorOps.l2(in.queries(q.toInt), in.corpus.vecs(id.toInt)) - d) <= 1e-6 * math.max(1.0, d)
    })
    val found = join.map(r => (r._1, r._2)).toSet
    joinRecall += (if (pairTruth.isEmpty) 1.0 else pairTruth.count(found.contains).toDouble / pairTruth.size)
    ctx.check(s"UnifiedApi.predict pass $i labels every row", predicted == n)
    val hit = removed.count(in.plantedDups.contains).toDouble
    dedupRecall = if (in.plantedDups.isEmpty) 1.0 else hit / in.plantedDups.size
    dedupPrecision = if (removed.isEmpty) 1.0 else hit / removed.size
  }

  /** Traced run only: lists probed by the exact join's second pass and
    * the thresholded join's pair yield, replayed on the driver from the
    * built model (the bound rule of `Ivf.knnJoin`, four first-pass
    * probes). */
  private def traceCounts(m: Ivf.IvfModel, joinPairs: Int): Unit = {
    val cid = new Array[Int](n)
    m.assigned.select("id", "cluster_id").collect().foreach(r => cid(r.getLong(0).toInt) = r.getInt(1))
    val size = cid.groupBy(identity).map { case (c, xs) => c -> xs.length.toLong }
    val radii = Ivf.radii(m)
    val vs = in.corpus.vecs
    val probed = in.queries.map { q =>
      val cd = m.centroids.map(c => VectorOps.l2(q, c))
      val first = cd.indices.sortBy(cd(_)).take(4).toSet
      val cand = (0 until n).filter(j => first.contains(cid(j))).map(j => VectorOps.l2(q, vs(j))).sorted
      val dk = if (cand.length >= K) cand(K - 1) + 1e-9 else Double.MaxValue
      cd.indices.count(c => cd(c) - radii(c) <= dk).toDouble
    }
    ctx.note("operators.Ivf.knnJoin_lists_probed", Stats.mean(probed.toSeq))
    val scored = in.queries.map { q =>
      val cd = m.centroids.map(c => VectorOps.l2(q, c))
      cd.indices.sortBy(cd(_)).take(Nprobe).map(size.getOrElse(_, 0L)).sum
    }.sum
    ctx.note("operators.Ivf.join_pair_yield", if (scored == 0) 0.0 else joinPairs.toDouble / scored)
  }

  override def finish(): Unit =
    if (ctx.trace.isDefined) Probes.distanceExpressions(ctx, corpus, in.queries(0))

  def items: Double = n.toDouble * ctx.timedOps
  def quality: Double = Stats.mean(joinRecall.toSeq)
  def info: Seq[(String, Metric)] = Seq(
    "corpus_rows" -> Metric(n, "count"),
    "join_threshold" -> Metric(threshold, "l2"),
    "join_recall" -> Metric(quality, "ratio", s"nprobe=$Nprobe of $Nlists lists"),
    "dedup_recall" -> Metric(dedupRecall, "ratio", s"planted=${in.plantedDups.size}"),
    "dedup_precision" -> Metric(dedupPrecision, "ratio"),
    "space_amp" -> Metric(spaceAmp, "ratio", "compacted index files / live id+vector bytes"),
    "bytes_written_per_user_byte" -> Metric(bytesPerUserByte, "ratio"))
}
