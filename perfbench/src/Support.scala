package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, sum}

import graft.plans.{DistanceExpressions => DE}

/** Generated inputs as DataFrames. Rows go through `parallelize`, not a
  * local relation, so plans scan an RDD like any real input. */
object Frames {

  def vectors(spark: SparkSession, c: Inputs.VecCorpus): DataFrame = {
    import spark.implicits._
    val rows = c.ids.indices.map(i => (c.ids(i), c.vecs(i), c.texts(i)))
    spark.sparkContext.parallelize(rows, spark.sparkContext.defaultParallelism)
      .toDF("id", "vec", "text")
  }

  def texts(spark: SparkSession, c: Inputs.VecCorpus): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(c.ids.indices.map(i => (c.ids(i), c.texts(i))),
      spark.sparkContext.defaultParallelism).toDF("id", "text")
  }

  def queries(spark: SparkSession, qs: Array[Array[Float]], firstId: Long = 0L): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(qs.indices.map(i => (firstId + i, qs(i))),
      spark.sparkContext.defaultParallelism).toDF("qid", "vec")
  }

  /** An IVF index whose coarse quantizer is a seeded sample of `nlists`
    * corpus vectors, rows assigned by `Ivf.routeWith` (the routing
    * kernel streaming ingest uses). Serving set-ups build this way;
    * `Ivf.build`'s k-means is measured by the vector_batch pass. */
  def sampledIvf(df: DataFrame, c: Inputs.VecCorpus, nlists: Int, seed: Long): graft.operators.Ivf.IvfModel = {
    val r = new java.util.SplittableRandom(seed ^ 0x5DEECE66DL)
    val picks = scala.collection.mutable.LinkedHashSet[Int]()
    while (picks.size < nlists) picks += r.nextInt(c.vecs.length)
    val centroids = picks.toArray.map(c.vecs(_))
    graft.operators.Ivf.IvfModel(centroids, graft.operators.Ivf.routeWith(centroids, df, "vec"), "vec")
  }

  /** Bytes written under a directory: files new or rewritten (size or
    * mtime changed) since the previous `update()` count once. */
  final class WriteTracker(root: String) {
    private var seen = Map.empty[String, (Long, Long)]
    var bytesWritten = 0.0
    def files: Int = seen.size
    def update(): Unit = {
      val now = Frames.files(new java.io.File(root)).map(f => f.getPath -> (f.length, f.lastModified)).toMap
      bytesWritten += now.collect { case (p, (len, mt)) if !seen.get(p).contains((len, mt)) => len }.sum
      seen = now
    }
  }

  /** Total size of the regular files under a directory. */
  def bytesUnder(path: String): Double = files(new java.io.File(path)).map(_.length).sum.toDouble

  def files(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
}

/** Kernel probes of the traced run, outside every op. */
object Probes {

  /** ns per row-evaluation of the native L2 and cosine expressions over
    * a cached frame: 16 distance columns per row, so the per-query fixed
    * cost is amortized, minus a baseline scan of the same frame; the
    * median of five timings. */
  def distanceExpressions(ctx: Ctx, df: DataFrame, q: Array[Float]): Unit = {
    val rows = df.count().toDouble
    val qs = (0 until 16).map(j => q.map(_ + j * 0.01f))
    def time(expr: org.apache.spark.sql.Column): Double = Stats.median((0 until 5).map { _ =>
      val s = System.nanoTime(); df.select(sum(expr)).collect(); (System.nanoTime() - s).toDouble
    })
    val base = time(qs.map(_ => org.apache.spark.sql.functions.size(col("vec"))).reduce(_ + _))
    def per(f: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column) =
      math.max(0.0, time(qs.map(x => f(col("vec"), lit(x))).reduce(_ + _)) - base) / (rows * qs.length)
    ctx.note("plans.DistanceExpressions.l2_ns_per_row", per(DE.l2))
    ctx.note("plans.DistanceExpressions.cosine_ns_per_row", per(DE.cosine))
  }
}
