package graft.perfbench

/** Per-layer metrics of the traced run. Every name in [[Names]] is
  * reported on every workload; a layer the workload does not exercise
  * reads 0. */
object Layers {

  /** Span name (prefix) → metric, as the median inclusive duration of
    * one call, in the metric's unit. */
  private val SpanMetrics: Seq[(String, String, Double)] = Seq(
    ("operators.Knn.search", "operators.Knn.search_ms", 1.0),
    ("operators.Ivf.search", "operators.Ivf.search_ms", 1.0),
    ("operators.IvfPq.search", "operators.IvfPq.search_ms", 1.0),
    ("operators.Hybrid.hybridSearch", "operators.Hybrid.hybridSearch_ms", 1.0),
    ("operators.Rag.ragQuery", "operators.Rag.ragQuery_ms", 1.0),
    ("operators.Hnsw.searchBatch", "operators.Hnsw.searchBatch_ms", 1.0),
    ("operators.Hnsw.insert", "operators.Hnsw.insert_s", 1e-3),
    ("operators.Ivf.build", "operators.Ivf.build_s", 1e-3),
    ("operators.Ivf.knnJoin", "operators.Ivf.knnJoin_s", 1e-3),
    ("operators.Ivf.join", "operators.Ivf.join_s", 1e-3),
    ("operators.Dedup.semDedup", "operators.Dedup.semDedup_s", 1e-3),
    ("ml.UnifiedApi.train", "ml.UnifiedApi.train_s", 1e-3),
    ("ml.UnifiedApi.predict", "ml.UnifiedApi.predict_s", 1e-3),
    ("operators.Dedup.exactDedup", "operators.Dedup.exactDedup_s", 1e-3),
    ("operators.Dedup.minhashLshPairs", "operators.Dedup.minhashLshPairs_s", 1e-3),
    ("operators.Dedup.dupGroups", "operators.Dedup.dupGroups_s", 1e-3),
    ("operators.Dedup.lineDedup", "operators.Dedup.lineDedup_s", 1e-3),
    ("operators.LmFilter.scoreCorpus", "operators.LmFilter.scoreCorpus_s", 1e-3),
    ("operators.Packing.packSequences", "operators.Packing.packSequences_s", 1e-3),
    ("streaming.StreamIndexIngest.ingestBatch", "streaming.StreamIndexIngest.ingestBatch_ms", 1.0),
    ("streaming.StreamRetraction.retractBatch", "streaming.StreamRetraction.retractBatch_ms", 1.0),
    ("streaming.StreamRetraction.compactIvf", "streaming.StreamRetraction.compactIvf_s", 1e-3))

  /** Figures the workloads note directly (median of the notes). */
  private val Noted: Seq[(String, String)] = Seq(
    "operators.Ivf.route_us" -> "us",
    "operators.Ivf.candidates_per_query" -> "count",
    "operators.Ivf.useful_ratio" -> "ratio",
    "operators.Ivf.knnJoin_lists_probed" -> "count",
    "operators.Ivf.join_pair_yield" -> "ratio",
    "operators.Hnsw.graph_cache_hit_ratio" -> "ratio",
    "functions.VectorOps.l2_ns_per_pair" -> "ns",
    "functions.VectorOps.cosine_ns_per_pair" -> "ns",
    "functions.Embeddings.embedText_us" -> "us",
    "plans.DistanceExpressions.l2_ns_per_row" -> "ns",
    "plans.DistanceExpressions.cosine_ns_per_row" -> "ns",
    "streaming.index_files" -> "count",
    "streaming.dead_fraction" -> "ratio",
    "streaming.bytes_written_per_user_byte" -> "ratio")

  /** Listener figures, as the mean per traced op. */
  private val PerOp: Seq[(String, String)] = Seq(
    "plans.plan_ms" -> "ms", "plans.scala_udf_nodes" -> "count", "plans.codegen_stages" -> "count",
    "sessions.jobs" -> "count", "sessions.stages" -> "count", "sessions.tasks" -> "count",
    "sessions.sched_delay_ms" -> "ms", "sessions.driver_ms" -> "ms",
    "sessions.exec_run_ms" -> "ms", "sessions.exec_cpu_ms" -> "ms",
    "sessions.shuffle_read_bytes" -> "bytes", "sessions.shuffle_write_bytes" -> "bytes",
    "sessions.spill_bytes" -> "bytes", "sessions.gc_ms" -> "ms", "sessions.result_bytes" -> "bytes",
    "sessions.self_ms" -> "ms", "operators.self_ms" -> "ms", "ml.self_ms" -> "ms",
    "streaming.self_ms" -> "ms")

  private val Workload: Seq[(String, String)] = Seq(
    "sessions.fixed_share" -> "ratio", "trace.overhead_ratio" -> "ratio",
    "trace.listener_ms" -> "ms")

  val Names: Seq[(String, String)] =
    SpanMetrics.map(m => m._2 -> (if (m._3 == 1.0) "ms" else "s")) ++ Noted ++ PerOp ++ Workload

  def compute(ctx: Ctx, t: Trace): Seq[(String, Metric)] = {
    val spans = t.spans.toSeq
    val values = scala.collection.mutable.LinkedHashMap[String, Double]()

    SpanMetrics.foreach { case (prefix, name, scale) =>
      val ds = spans.filter(_.name.startsWith(prefix)).map(_.ms * scale)
      values(name) = if (ds.isEmpty) 0.0 else Stats.median(ds)
    }
    Noted.foreach { case (name, _) =>
      values(name) = ctx.layer.get(name).filter(_.nonEmpty).map(xs => Stats.median(xs.toSeq)).getOrElse(0.0)
    }

    // listener figures, attributed to ops through their spans
    val L = t.listener
    val ops = spans.filter(s => s.parent == 0)
    val byOp = spans.groupBy(_.op)
    val planOwners = t.planListener.queries.toSeq.flatMap(q => t.owner(q.start).map(_ -> q))
    val plansByOp = planOwners.groupBy(_._1.op).map { case (k, v) => k -> v.map(_._2) }
    val plansBySpan = planOwners.groupBy(_._1.id).map { case (k, v) => k -> v.map(_._2) }
    val jobsBySpan = L.jobs.values.toSeq.groupBy(_.span)
    val perOp = ops.map { op =>
      val mine = byOp.getOrElse(op.op, Nil)
      val aggs = mine.flatMap(s => L.agg.get(s.id))
      val jobs = mine.flatMap(s => jobsBySpan.getOrElse(s.id, Nil))
      val plans = plansByOp.getOrElse(op.op, Nil)
      val runUnion = Stats.unionLength(aggs.flatMap(_.runIntervals).map { case (a, b) =>
        (math.max(a, op.start), math.min(b, op.end)) })
      def self(layer: String): Double = mine.filter(_.name.startsWith(layer + ".")).map { s =>
        val kids = mine.filter(_.parent == s.id).map(k => (k.start, k.end)) ++
          jobsBySpan.getOrElse(s.id, Nil).map(j => (j.start, j.end)) ++
          plansBySpan.getOrElse(s.id, Nil).map(q => (q.start, q.end))
        s.ms - Stats.unionLength(kids.map { case (a, b) => (math.max(a, s.start), math.min(b, s.end)) })
      }.sum
      Map(
        "plans.plan_ms" -> plans.map(_.planMs).sum,
        "plans.scala_udf_nodes" -> plans.map(_.udfNodes.toDouble).sum,
        "plans.codegen_stages" -> plans.map(_.codegenStages.toDouble).sum,
        "sessions.jobs" -> jobs.length.toDouble,
        "sessions.stages" -> aggs.map(_.stages.toDouble).sum,
        "sessions.tasks" -> aggs.map(_.tasks.toDouble).sum,
        "sessions.sched_delay_ms" -> aggs.map(_.schedMs).sum,
        "sessions.driver_ms" -> (op.ms - runUnion),
        "sessions.exec_run_ms" -> aggs.map(_.runMs).sum,
        "sessions.exec_cpu_ms" -> aggs.map(_.cpuMs).sum,
        "sessions.shuffle_read_bytes" -> aggs.map(_.shuffleRead.toDouble).sum,
        "sessions.shuffle_write_bytes" -> aggs.map(_.shuffleWrite.toDouble).sum,
        "sessions.spill_bytes" -> aggs.map(_.spill.toDouble).sum,
        "sessions.gc_ms" -> aggs.map(_.gcMs).sum,
        "sessions.result_bytes" -> aggs.map(_.resultBytes.toDouble).sum,
        "sessions.self_ms" -> Stats.unionLength(jobs.map(j => (j.start, j.end))),
        "operators.self_ms" -> self("operators"),
        "ml.self_ms" -> self("ml"),
        "streaming.self_ms" -> self("streaming"),
        "__wall" -> op.ms)
    }
    PerOp.foreach { case (name, _) => values(name) = Stats.mean(perOp.map(_(name))) }
    val wall = perOp.map(_("__wall")).sum
    values("sessions.fixed_share") =
      if (wall > 0) perOp.map(_("sessions.driver_ms")).sum / wall else 0.0

    // tracing overhead: per op class, median traced ÷ median untraced,
    // geometric mean over the classes that have both
    val ratios = ctx.samples.values.toSeq.flatMap { xs =>
      val tr = xs.filter(_._2).map(_._1).toSeq; val un = xs.filterNot(_._2).map(_._1).toSeq
      if (tr.nonEmpty && un.nonEmpty) Some(Stats.median(tr) / Stats.median(un)) else None
    }
    values("trace.listener_ms") =
      if (ops.isEmpty) 0.0 else Trace.callbackNs.get / 1e6 / ops.length
    values("trace.overhead_ratio") =
      if (ratios.isEmpty) 0.0 else math.exp(ratios.map(math.log).sum / ratios.length)

    Names.map { case (name, unit) => name -> Metric(values.getOrElse(name, 0.0), unit) }
  }
}
