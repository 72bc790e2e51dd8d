package graft.perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.functions.VectorOps
import graft.operators.{Hnsw, Ivf}
import graft.streaming.{StreamIndexIngest, StreamRetraction}

/** Writes beside reads on the same index layers. Each cycle ingests a
  * batch of fresh vectors into the on-disk IVF index, retracts live
  * ids, and searches the served IVF view (an exhaustive probe after
  * each write, checked against the live set, plus a production-nprobe
  * probe) and the HNSW index with the tombstone set. Every third cycle
  * an `Hnsw.insert` rewrites the served graph (its fingerprint changes,
  * so the graph cache misses); every fourth, compaction folds the
  * tombstones into both indexes. */
final class IndexChurn(ctx: Ctx) extends Workload {
  import ctx.spark

  val n: Int = math.max(2000, (4000 * ctx.args.scale).toInt)
  val Batch = 100
  val Retract = 40
  val HnswInsert = 6
  val K = 10
  val Nlists = 16
  val Nprobe = 4
  val Shards = 8
  val Params = Hnsw.Params(m = 8, efConstruction = 32)
  val MaxCycles = 400
  override def maxIterations: Int = MaxCycles
  /** At least four cycles: one graph insert and one compaction. */
  def iterations(seconds: Double): Int = math.max(4, math.round(seconds * 2 / 3).toInt)

  var in: Inputs.ChurnInputs = _
  var root: String = _
  var centroids: Array[Array[Float]] = _
  def ivfPath: String = s"$root/ivf"
  var hnswVersion = 0
  def hnswPath: String = s"$root/hnsw/v$hnswVersion"

  // driver-side bookkeeping of what each index must serve
  private val live = mutable.LinkedHashMap[Long, Array[Float]]()
  private val inHnsw = mutable.HashSet[Long]()
  private val pendingHnsw = mutable.ArrayBuffer[Long]()
  private val tombstoned = mutable.HashSet[Long]()
  private var ivfRows = 0L
  private var rng: SplittableRandom = _

  def setup(rep: Int): Unit = {
    in = Inputs.indexChurn(ctx.args.seed, n, freshRows = Batch * MaxCycles, queries = 64)
    root = ctx.path(s"churn/rep$rep")
    val df = Frames.vectors(spark, in.initial).select("id", "vec").persist()
    ctx.phase("corpus")(df.count())
    val m = Frames.sampledIvf(df, in.initial, Nlists, ctx.args.seed)
    ctx.phase("ivf")(Ivf.writePartitioned(m, ivfPath))
    centroids = m.centroids
    hnswVersion = 0
    ctx.phase("hnsw")(Hnsw.write(Hnsw.build(df, "id", "vec", Shards, Params), hnswPath))
    df.unpersist()
    live.clear(); inHnsw.clear(); pendingHnsw.clear(); tombstoned.clear()
    in.initial.ids.indices.foreach(i => live(in.initial.ids(i)) = in.initial.vecs(i))
    inHnsw ++= in.initial.ids
    ivfRows = n
    rng = new SplittableRandom(in.choiceSeed)
    writes = new Frames.WriteTracker(root)
    writes.update()
  }

  private val recall = mutable.ArrayBuffer[Double]()
  private var graphLookups = 0L
  private var graphBuilds = 0L
  private var ingested = 0L
  private var retracted = 0L
  private var writes: Frames.WriteTracker = _

  private def truth(q: Array[Float], ids: Iterable[Long]): Seq[(Long, Double)] = {
    val a = ids.toArray
    Stats.topK(a, j => VectorOps.l2(q, live(a(j))), K)
  }

  private def write[T](what: String, traced: Boolean)(f: => T): T = {
    val r = ctx.timed(s"write.$what", traced)(f)
    writes.update()
    r
  }

  private def ivfSearch(what: String, q: Array[Float], nprobe: Int, traced: Boolean): Seq[(Long, Double)] =
    ctx.timed(s"search.$what", traced) {
      val served = ctx.span("streaming.StreamRetraction.servingIvf") {
        StreamRetraction.servingIvf(spark, ivfPath, "vec", "id")
      }
      ctx.span("operators.Ivf.search") {
        served.search(q, K, nprobe).select("id", "distance").collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      }
    }

  /** The exhaustive probe after a write must equal brute force over the
    * live set. */
  private def freshness(after: String, c: Int, traced: Boolean): Unit = {
    val q = in.queries(rng.nextInt(in.queries.length))
    val got = ivfSearch("ivf_exhaustive", q, Nlists, traced)
    ctx.check(s"cycle $c: exhaustive probe after $after equals brute force over the live set",
      Stats.sameTopK(got, truth(q, live.keys)))
  }

  def step(c: Int, traced: Boolean): Unit = {
    // 1. ingest a fresh batch
    val lo = c * Batch
    val batch = (lo until lo + Batch).map(i => (in.fresh.ids(i), in.fresh.vecs(i)))
    val batchDf = { import spark.implicits._; batch.toDF("id", "vec") }
    write("ingest", traced) {
      ctx.span("streaming.StreamIndexIngest.ingestBatch") {
        StreamIndexIngest.ingestBatch(centroids, "vec", batchDf, ivfPath, batchId = c + 1L)
      }
    }
    batch.foreach { case (id, v) => live(id) = v }
    pendingHnsw ++= batch.take(HnswInsert).map(_._1)
    ingested += Batch; ivfRows += Batch
    freshness("ingest", c, traced)

    // 2. retract live ids, chosen uniformly among the live set
    val keys = live.keys.toArray
    val gone = (0 until Retract).map(_ => keys(rng.nextInt(keys.length))).distinct
    val goneDf = { import spark.implicits._; gone.toDF("id") }
    write("retract", traced) {
      ctx.span("streaming.StreamRetraction.retractBatch") {
        StreamRetraction.retractBatch(goneDf, ivfPath, batchId = c + 1L)
      }
    }
    gone.foreach { id => live.remove(id); tombstoned += id }
    pendingHnsw --= gone
    retracted += gone.length
    freshness("retract", c, traced)

    // 3. production-nprobe IVF probe and HNSW walk with tombstones
    val q = in.queries(rng.nextInt(in.queries.length))
    val ivfGot = ivfSearch("ivf", q, Nprobe, traced)
    recall += Stats.recallAtK(ivfGot.map(_._1), truth(q, live.keys).map(_._1), K)
    val b0 = Hnsw.graphBuilds.get()
    val hnswGot = ctx.timed("search.hnsw", traced) {
      val tombs = ctx.span("streaming.StreamRetraction.tombstoneSet") {
        StreamRetraction.tombstoneSet(spark, ivfPath)
      }
      ctx.span("operators.Hnsw.searchBatch") {
        Hnsw.searchBatch(Hnsw.load(spark, hnswPath), Array((0L, q)), K, 64,
          cacheKey = Some(Hnsw.indexFingerprint(spark, hnswPath)), tombstones = tombs)
          .orderBy("rank").select("id", "distance").collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      }
    }
    graphLookups += Shards; graphBuilds += Hnsw.graphBuilds.get() - b0
    ctx.check(s"cycle $c: HNSW serves no retracted id", hnswGot.forall(x => live.contains(x._1)))
    recall += Stats.recallAtK(hnswGot.map(_._1), truth(q, inHnsw.filter(live.contains)).map(_._1), K)

    // 4. periodic graph insert: a new index version, a new fingerprint
    if (c % 3 == 2 && pendingHnsw.nonEmpty) {
      val rows = pendingHnsw.toSeq.map(id => (id, live(id)))
      val rowsDf = { import spark.implicits._; rows.toDF("id", "vec") }
      val from = hnswPath
      hnswVersion += 1
      write("hnsw_insert", traced) {
        ctx.span("operators.Hnsw.insert") {
          Hnsw.write(Hnsw.insert(Hnsw.load(spark, from), rowsDf, "id", "vec", Shards, Params), hnswPath)
        }
      }
      inHnsw ++= pendingHnsw; pendingHnsw.clear()
    }

    // 5. periodic compaction of both indexes
    if (c % 4 == 3) {
      val from = hnswPath
      hnswVersion += 1
      write("compact", traced) {
        ctx.span("operators.Hnsw.compact") {
          val tombs = StreamRetraction.readTombstones(spark, ivfPath)
          Hnsw.write(Hnsw.compact(Hnsw.load(spark, from), tombs, Shards, Params, minDeadFraction = 0.0)._1,
            hnswPath)
        }
        ctx.span("streaming.StreamRetraction.compactIvf") {
          StreamRetraction.compactIvf(spark, ivfPath, "vec", "id")
        }
      }
      inHnsw --= tombstoned; ivfRows -= tombstoned.size; tombstoned.clear()
      freshness("compaction", c, traced)
    }
    if (traced) {
      ctx.note("streaming.dead_fraction", tombstoned.size.toDouble / ivfRows)
      ctx.note("streaming.index_files", Frames.files(new java.io.File(root)).length.toDouble)
    }
  }

  private def userBytes: Double = ingested * (Inputs.Dim * 4.0 + 8) + retracted * 8.0

  override def finish(): Unit = if (ctx.trace.isDefined) {
    ctx.note("streaming.bytes_written_per_user_byte", writes.bytesWritten / userBytes)
    ctx.note("operators.Hnsw.graph_cache_hit_ratio",
      if (graphLookups == 0) 0.0 else 1.0 - graphBuilds.toDouble / graphLookups)
  }

  def items: Double = (ingested + retracted).toDouble
  def quality: Double = Stats.mean(recall.toSeq)
  def info: Seq[(String, Metric)] = {
    Seq("corpus_rows" -> Metric(n, "count")) ++ Metric.latency("search_", ctx.latencies("search.")) ++
      Metric.latency("write_", ctx.latencies("write.")) ++ Seq(
      "recall_at_10" -> Metric(quality, "ratio", s"n=${recall.length}"),
      "space_amp" -> Metric((Frames.bytesUnder(ivfPath) + Frames.bytesUnder(hnswPath)) /
        (live.size * (Inputs.Dim * 4.0 + 8)), "ratio", "ivf+hnsw files / live id+vector bytes"),
      "bytes_written_per_user_byte" -> Metric(writes.bytesWritten / userBytes, "ratio"))
  }
}
