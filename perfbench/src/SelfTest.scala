package graft.perfbench

/** Self-tests of the benchmark's own code:
  *   perfbench/run.py --selftest
  * Pins input determinism per seed, the held-out seed, the tail rule,
  * the recall denominator and the top-k comparison, then runs two small
  * workloads twice on one seed and requires identical quality figures.
  * Prints one `SELFTEST ok|FAIL <name>` line per test; exit 1 on any
  * failure. */
object SelfTest {

  /** Seed used by no tuning of the benchmark or the program: a claimed
    * gain must also hold on it (README.md, "Seeds"). */
  val HeldOutSeed = 9001L
  val DevSeed = 1L

  private var failures = 0
  private def test(name: String)(ok: => Boolean): Unit = {
    val r = try ok catch { case t: Throwable => System.err.println(s"$name: $t"); false }
    if (!r) failures += 1
    println(s"SELFTEST ${if (r) "ok" else "FAIL"} $name")
  }

  private def inputs(seed: Long): Seq[Any] = Seq(
    Inputs.annQuery(seed, 500, 32, 200),
    Inputs.vectorBatch(seed, 500, 0.02, 20),
    Inputs.corpusCurate(seed, 500, 0.04, 0.04),
    Inputs.indexChurn(seed, 500, 300, 16))

  def main(argv: Array[String]): Unit = {
    val work = argv.sliding(2).collectFirst { case Array("--work", w) => w }
      .getOrElse(sys.error("--work <dir> is required"))

    val a = inputs(DevSeed).map(Inputs.digest)
    test("same seed gives byte-identical inputs")(a == inputs(DevSeed).map(Inputs.digest))
    test("held-out seed gives different inputs")(
      a.zip(inputs(HeldOutSeed).map(Inputs.digest)).forall { case (x, y) => x != y })

    test("tail: 1000 samples -> p99, 10 beyond") {
      Stats.tail((1 to 1000).map(_.toDouble)) == Stats.Tail(990.0, 99.0, 1000, 10)
    }
    test("tail: 100 samples -> p90") {
      Stats.tail((1 to 100).map(_.toDouble)) == Stats.Tail(90.0, 90.0, 100, 10)
    }
    test("tail: 20 samples -> p50") {
      Stats.tail((1 to 20).map(_.toDouble)) == Stats.Tail(10.5, 50.0, 20, 10)
    }
    test("tail: 5 samples fall back to the median") {
      val t = Stats.tail(Seq(5.0, 1.0, 4.0, 2.0, 3.0))
      t.value == 3.0 && t.percentile == 50.0 && t.beyond < Stats.TailBeyond
    }
    test("recall@10 denominator is k") {
      Stats.recallAtK((1L to 10L) , (4L to 13L), 10) == 0.7
    }
    test("recall@10 denominator shrinks only below k searchable rows") {
      Stats.recallAtK(Seq(1L, 2L, 3L, 4L, 99L), Seq(1L, 2L, 3L, 4L), 10) == 1.0
    }
    test("top-k comparison allows swaps only among ties") {
      val truth = Seq(1L -> 0.5, 2L -> 0.7, 3L -> 0.9)
      Stats.sameTopK(Seq(1L -> 0.5, 2L -> 0.7, 4L -> 0.9), truth) &&
        !Stats.sameTopK(Seq(1L -> 0.5, 4L -> 0.7, 3L -> 0.9), truth) &&
        !Stats.sameTopK(truth.take(2), truth)
    }
    test("interval union") {
      Stats.unionLength(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (4.0, 4.0))) == 4.0
    }

    // same seed, same op count: identical quality figures
    val spark = graft.Sessions.localMeasurement(Runtime.getRuntime.availableProcessors().toString)
    try {
      // enough iterations to reach every op: one round of ann_query, a
      // graph insert and a compaction of index_churn, one batch pass
      val ops = Map("ann_query" -> 6, "vector_batch" -> 1, "corpus_curate" -> 1, "index_churn" -> 4)
      def quality(w: String, run: Int): Map[String, Double] = {
        val args = PerfBench.Args(w, DevSeed, 1, trace = false, s"$work/$w-$run", None, Some(ops(w)), 0.1)
        val r = PerfBench.run(args, spark, 0.0)
        if (!r.correct) sys.error(s"$w run $run failed its checks")
        (r.info ++ r.reported).collect { case (k, m)
          if Set("quality", "recall_at_10", "dedup_recall", "dedup_precision", "join_recall").contains(k) => k -> m.value
        }.toMap
      }
      for (w <- Seq("ann_query", "vector_batch", "corpus_curate", "index_churn"))
        test(s"$w: same seed gives identical quality figures") {
          val x = quality(w, 1); val y = quality(w, 2)
          println(s"  $w: $x")
          x.nonEmpty && x == y
        }
    } finally spark.stop()

    System.out.flush()
    sys.exit(if (failures == 0) 0 else 1)
  }
}
