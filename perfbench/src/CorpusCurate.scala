package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, size, split}

import graft.operators.{Dedup, LmFilter, Packing}

/** One pass of text curation per iteration: exact dedup, boilerplate
  * line removal, MinHash-LSH near-dup pairs, duplicate groups, bigram-LM
  * scoring and sequence packing of the keepers. Each stage's result is
  * materialized inside its own span. */
final class CorpusCurate(ctx: Ctx) extends Workload {
  import ctx.spark

  val n: Int = math.max(2000, (4000 * ctx.args.scale).toInt)
  val MinDocs = 20L
  val Jaccard = 0.7
  val Budget = 2048L

  /** One cold pass per twenty seconds of budget: a batch job runs once per
    * launch. */
  def iterations(seconds: Double): Int = math.max(1, math.round(seconds / 20).toInt)

  var in: Inputs.CurateInputs = _
  var docs: DataFrame = _

  def setup(rep: Int): Unit = {
    Option(docs).foreach(_.unpersist())
    in = Inputs.corpusCurate(ctx.args.seed, n, exactShare = 0.04, nearShare = 0.04)
    import spark.implicits._
    docs = spark.sparkContext.parallelize(in.ids.indices.map(i => (in.ids(i), in.texts(i))),
      spark.sparkContext.defaultParallelism).toDF("id", "text").persist()
    docs.count()
  }

  private lazy val truthKeepers: Set[Long] =
    in.ids.filterNot(id => in.exactDupOf.contains(id) || in.nearDupOf.contains(id)).toSet
  private var dedupRecall = 0.0
  private var dedupPrecision = 0.0

  def step(i: Int, traced: Boolean): Unit = {
    val (keepers, scores, packed) = ctx.timed("pass", traced) {
      val exact = ctx.span("operators.Dedup.exactDedup") {
        Dedup.exactDedup(docs, "id", "text").localCheckpoint()
      }
      val clean = ctx.span("operators.Dedup.lineDedup") {
        Dedup.lineDedup(exact, "id", "text", MinDocs).localCheckpoint()
      }
      val pairs = ctx.span("operators.Dedup.minhashLshPairs") {
        Dedup.minhashLshPairs(clean, "id", "clean_text", jaccardThreshold = Jaccard)
      }
      val groups = ctx.span("operators.Dedup.dupGroups") {
        Dedup.dupGroups(clean, "id", pairs).localCheckpoint()
      }
      val kept = clean.join(groups.filter(col("id") === col("component")).select("id"), "id")
      val keepers = kept.select("id").collect().map(_.getLong(0))
      val scores = ctx.span("operators.LmFilter.scoreCorpus") {
        LmFilter.scoreCorpus(kept, "id", "clean_text").select("id", "n_bigrams").collect()
          .map(r => r.getLong(0) -> r.getAs[Number](1).longValue)
      }
      val packed = ctx.span("operators.Packing.packSequences") {
        Packing.packSequences(kept.withColumn("tokens", size(split(col("clean_text"), " "))),
          "id", "tokens", Budget, ctx.args.seed)
          .select("id", "tokens", "start_pos", "first_seq", "last_seq").collect()
          .map(r => (r.getLong(0), r.getAs[Number](1).longValue, r.getAs[Number](2).longValue,
            r.getAs[Number](3).longValue, r.getAs[Number](4).longValue))
      }
      (keepers, scores, packed)
    }
    val got = keepers.toSet
    ctx.check(s"pass $i keepers equal the planted originals " +
      s"(missing ${(truthKeepers -- got).size}, extra ${(got -- truthKeepers).size})", got == truthKeepers)
    val predictedDups = in.ids.toSet -- got
    val trueDups = in.ids.toSet -- truthKeepers
    val hit = predictedDups.count(trueDups.contains).toDouble
    dedupRecall = if (trueDups.isEmpty) 1.0 else hit / trueDups.size
    dedupPrecision = if (predictedDups.isEmpty) 1.0 else hit / predictedDups.size
    ctx.check(s"pass $i LmFilter scores every keeper", scores.map(_._1).toSet == got)
    // packing: documents tile the token axis in order, with no gap
    val axis = packed.sortBy(_._3)
    ctx.check(s"pass $i packSequences tiles the token axis", axis.map(_._1).toSet == got &&
      axis.headOption.forall(_._3 == 0L) &&
      axis.sliding(2).forall(w => w.length < 2 || w(1)._3 == w(0)._3 + w(0)._2) &&
      axis.forall { case (_, t, s, f, l) => f == s / Budget && l == (s + t - 1) / Budget })
  }

  def items: Double = n.toDouble * ctx.timedOps
  def quality: Double =
    if (dedupRecall + dedupPrecision == 0) 0.0 else 2 * dedupRecall * dedupPrecision / (dedupRecall + dedupPrecision)
  def info: Seq[(String, Metric)] = Seq(
    "corpus_rows" -> Metric(n, "count"),
    "dedup_recall" -> Metric(dedupRecall, "ratio", s"planted=${in.exactDupOf.size + in.nearDupOf.size}"),
    "dedup_precision" -> Metric(dedupPrecision, "ratio"))
}
