package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/**
 * Benchmark main. One run = one workload, one seed:
 *
 *   PerfBench --workload <ann_query|vector_batch|corpus_curate|index_churn>
 *             --seed <n> --seconds <s> --trace <0|1> --work <dir>
 *             [--trace-out <file>] [--max-ops <n>] [--scale <x>]
 *
 * Untraced (`--trace 0`) it reports the end-to-end metrics; traced
 * (`--trace 1`) it reports the per-layer metrics and the tracing
 * overhead. Every metric is printed as a `METRIC name value unit` line,
 * and the LAST stdout line is one JSON object
 * `{"correct", "attempted", "failed", "metrics"}`. The JSON line is
 * emitted after `spark.stop()` whether or not the stop throws.
 * Exit code: 0 when every correctness check passed, 1 when one failed,
 * 2 on bad arguments, 3 when the workload itself threw.
 */
object PerfBench {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, traceOut: Option[String], maxOps: Option[Int],
                        scale: Double)

  val Workloads = Seq("ann_query", "vector_batch", "corpus_curate", "index_churn")

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w (one of ${Workloads.mkString(", ")})")
    val t = need("trace")
    require(t == "0" || t == "1", s"--trace must be 0 or 1, got $t")
    Args(w, need("seed").toLong, need("seconds").toDouble, t == "1", need("work"),
      kv.get("trace-out"), kv.get("max-ops").map(_.toInt), kv.get("scale").map(_.toDouble).getOrElse(1.0))
  }

  def main(argv: Array[String]): Unit = {
    val a = try parse(argv) catch { case e: IllegalArgumentException =>
      System.err.println(s"perfbench: ${e.getMessage}"); sys.exit(2) }
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val t0 = System.nanoTime()
    val spark = graft.Sessions.localMeasurement(cpus)
    val sessionS = (System.nanoTime() - t0) / 1e9
    var result: Option[Result] = None
    var code = 3
    try {
      val r = run(a, spark, sessionS)
      result = Some(r)
      code = if (r.correct) 0 else 1
    } catch { case t: Throwable =>
      System.err.println(s"perfbench: workload ${a.workload} failed")
      t.printStackTrace()
    } finally {
      try spark.stop() catch { case t: Throwable =>
        System.err.println(s"perfbench: spark.stop() threw after the run: $t") }
    }
    result.foreach(_.emit())
    System.out.flush()
    sys.exit(code)
  }

  def run(a: Args, spark: SparkSession, sessionS: Double): Result = {
    val ctx = new Ctx(a, spark)
    val w: Workload = a.workload match {
      case "ann_query"     => new AnnQuery(ctx)
      case "vector_batch"  => new VectorBatch(ctx)
      case "corpus_curate" => new CorpusCurate(ctx)
      case "index_churn"   => new IndexChurn(ctx)
    }
    // set-up repeats; the reported set-up time is the session start plus
    // the median repeat (input generation and index builds)
    val reps = (0 until ctx.setupReps).map { i =>
      val s = System.nanoTime(); w.setup(i); (System.nanoTime() - s) / 1e9
    }
    System.err.println(f"perfbench: session ${sessionS}%.3fs, set-up repeats ${reps.map(r => f"$r%.3f").mkString(" ")}")
    w.prepare()
    ctx.loop(w)
    w.finish()
    ctx.trace.foreach(_.finish())
    ctx.result(sessionS + Stats.median(reps), w)
  }
}

/** One metric as printed: value, unit, optional note. */
final case class Metric(value: Double, unit: String, note: String = "")

object Metric {
  /** `<prefix>p50_ms` and `<prefix>tail_ms` of latency samples (ms). */
  def latency(prefix: String, xs: Seq[Double]): Seq[(String, Metric)] = {
    val t = Stats.tail(xs)
    Seq(s"${prefix}p50_ms" -> Metric(Stats.median(xs), "ms", s"n=${xs.length}"),
      s"${prefix}tail_ms" -> Metric(t.value, "ms", f"p${t.percentile}%.1f n=${t.samples} beyond=${t.beyond}"))
  }
}

final case class Result(correct: Boolean, attempted: Long, failed: Long,
                        info: Seq[(String, Metric)], reported: Seq[(String, Metric)]) {
  def emit(): Unit = {
    (info ++ reported).foreach { case (k, m) =>
      println(s"METRIC $k ${fmt(m.value)} ${m.unit}${if (m.note.isEmpty) "" else " " + m.note}")
    }
    val ms = reported.map { case (k, m) =>
      s""""$k": {"value": ${fmt(m.value)}, "unit": "${m.unit}"}""" }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}""")
  }
  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** A workload: repeated set-up, then closed-loop steps. */
trait Workload {
  def setup(rep: Int): Unit
  /** Untimed work between set-up and the measured loop (truth tables). */
  def prepare(): Unit = ()
  /** Iterations per block of the traced run's traced/untraced
    * alternation: a whole cycle of the workload's op mix. */
  def period: Int = 1
  /** Untimed iterations before the measured loop. */
  def warmup: Int = 0
  /** Measured iterations for a `--seconds` budget (a whole number of
    * periods). */
  def iterations(seconds: Double): Int
  /** Inputs are generated for at most this many iterations. */
  def maxIterations: Int = Int.MaxValue
  /** One closed-loop iteration; `i` counts from 0. */
  def step(i: Int, traced: Boolean): Unit
  /** Untimed checks after the loop. */
  def finish(): Unit = ()
  /** Workload-specific end-to-end figures (see README.md): the items
    * the timed ops processed, the `quality` figure, and info lines. */
  def items: Double
  def quality: Double
  def info: Seq[(String, Metric)]
}

/** Run state shared by the workloads: timing, checks, tracing. */
final class Ctx(val args: PerfBench.Args, val spark: SparkSession) {
  val trace: Option[Trace] = if (args.trace) Some(new Trace(spark)) else None
  val setupReps = 3
  val workDir = new java.io.File(args.work)
  workDir.mkdirs()

  /** Latency samples (ms) per op class; `traced` flags per sample. */
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[(Double, Boolean)]]()
  /** Total time of every op timed so far (ms). */
  var opMsTotal = 0.0
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()
  /** Traced-run layer figures recorded directly by the workloads. */
  val layer = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()

  def note(metric: String, v: Double): Unit =
    layer.getOrElseUpdate(metric, mutable.ArrayBuffer()) += v

  /** A set-up phase, timed to stderr. */
  def phase[T](name: String)(f: => T): T = {
    val s = System.nanoTime()
    try f finally System.err.println(f"perfbench: ${args.workload} $name ${(System.nanoTime() - s) / 1e9}%.3fs")
  }

  def path(name: String): String = new java.io.File(workDir, name).getAbsolutePath

  /** Ops timed in the measured loop. */
  def timedOps: Int = samples.values.map(_.length).sum

  /** Latencies (ms) of the op classes whose name starts with `prefix`. */
  def latencies(prefix: String): Seq[Double] =
    samples.toSeq.filter(_._1.startsWith(prefix)).flatMap(_._2.map(_._1))

  /** Time one foreground op (with its result collected to the driver). */
  def timed[T](opClass: String, traced: Boolean)(f: => T): T = {
    attempted += 1
    val s = System.nanoTime()
    val r = trace match {
      case Some(t) => t.op(opClass, traced)(f)
      case None => f
    }
    val ms = (System.nanoTime() - s) / 1e6
    opMsTotal += ms
    samples.getOrElseUpdate(opClass, mutable.ArrayBuffer()) += ((ms, traced))
    r
  }

  /** A span around one call into a module's public function (only
    * recorded in the traced run). */
  def span[T](name: String)(f: => T): T = trace match {
    case Some(t) => t.span(name)(f)
    case None => f
  }

  def check(what: String, ok: Boolean): Boolean = {
    if (!ok) {
      failed += 1
      if (failures.length < 20) failures += what
      System.err.println(s"perfbench: CHECK FAILED: $what")
    }
    ok
  }

  /** Closed loop, one client: after the workload's untimed warm-up,
    * run the workload's fixed number of iterations for `--seconds`
    * (or `--max-ops`). A fixed count keeps every percentile at the same
    * rank from run to run and commit to commit. In the traced run,
    * blocks of `period` iterations alternate between traced and
    * untraced, to measure the tracing overhead on the same op mix. */
  def loop(w: Workload): Unit = {
    (0 until w.warmup).foreach(i => w.step(i, false))
    samples.clear(); opMsTotal = 0.0
    val count = math.min(args.maxOps.getOrElse(w.iterations(args.seconds)), w.maxIterations)
    val wallCap = System.nanoTime() + ((args.seconds * 4 + 60) * 1e9).toLong
    var i = 0
    while (i < count && System.nanoTime() < wallCap) {
      w.step(w.warmup + i, trace.isDefined && (i / w.period) % 2 == 0)
      i += 1
    }
  }

  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  def result(setupS: Double, w: Workload): Result = {
    val all = samples.values.flatten.toSeq
    val untraced = all.filterNot(_._2).map(_._1)
    val lat = if (untraced.nonEmpty) untraced else all.map(_._1)
    val classInfo = samples.toSeq.flatMap { case (c, xs) => Metric.latency(s"$c.", xs.map(_._1).toSeq) }
    val failedFrac = if (attempted == 0) 1.0 else failed.toDouble / attempted
    val e2e = Seq("setup_s" -> Metric(setupS, "s")) ++ Metric.latency("", lat) ++ Seq(
      "items_per_s" -> Metric(w.items / (opMsTotal / 1000.0), "1/s"),
      "quality" -> Metric(w.quality, "ratio"),
      "peak_rss_mb" -> Metric(peakRssMb, "MB"))
    val info = classInfo ++ w.info ++ Seq(
      "failed_frac" -> Metric(failedFrac, "ratio", s"failed=$failed attempted=$attempted"))
    val correct = failed == 0 && attempted > 0
    if (!correct) System.err.println(s"perfbench: failures: ${failures.mkString("; ")}")
    trace match {
      case None => Result(correct, attempted, failed, info, e2e)
      case Some(t) =>
        val layers = Layers.compute(this, t)
        args.traceOut.foreach { p =>
          val f = new java.io.File(p); f.getParentFile.mkdirs()
          val pw = new java.io.PrintWriter(f, "UTF-8")
          try t.jsonLines.foreach(pw.println) finally pw.close()
        }
        Result(correct, attempted, failed, e2e ++ info, layers)
    }
  }
}
