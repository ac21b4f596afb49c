package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Bench

/** The repository benchmark's measurement main.
  *
  * {{{
  * PerfBench --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *           --work <dir> --spans <file>
  * PerfBench --train <name,name...> --work <dir>
  * }}}
  *
  * One `local[<cores>]` session from `Bench.sessionForMaster`. Set-up is
  * timed as `setup_s`: session start, input generation (and state
  * seeding) from the seed, and a warm-up op on a small instance of the
  * same corpus shape. Generation is repeated `SetupReps` times and its
  * median is used. Then ops run back to back until `--seconds` have passed: each op
  * is prepared, timed, and its output checked, the last two steps outside
  * the timed region.
  *
  * With `--trace 0` the last stdout line carries the end-to-end metrics.
  * With `--trace 1` untraced and traced ops alternate; the traced op runs
  * the workload split into its layer calls, one span each. The line
  * carries the per-layer metrics (medians over traced ops), and
  * the spans are written as JSON to `--spans`.
  */
object PerfBench {
  val SetupReps = 3

  val Spans: Seq[String] = Seq(
    "pages.extract", "fingerprint.content_hash", "fingerprint.signatures",
    "lsh.candidate_pairs", "pipeline.near_edges", "cluster.union_find",
    "cluster.representatives", "state.run_epoch", "state.cluster_epoch",
    "state.execute_epoch", "multimodal.ahash", "pipeline.near_edges_fast")
  val Counters: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "jobs" -> "count", "task_cpu_s" -> "s", "gc_s" -> "s",
    "shuffle_write_mb" -> "MB", "spill_mb" -> "MB", "driver_gap_s" -> "s",
    "max_task_s" -> "s", "rows_out" -> "count")

  final case class OpResult(wallS: Double, verdict: Option[Verdict],
                            peakMemMb: Double, error: Option[String]) {
    def ok: Boolean = error.isEmpty && verdict.exists(_.ok)
  }

  private def arg(argv: Array[String], name: String): String = {
    val i = argv.indexOf(s"--$name")
    require(i >= 0 && i + 1 < argv.length, s"missing --$name")
    argv(i + 1)
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def session(): SparkSession =
    Bench.sessionForMaster(s"local[${Runtime.getRuntime.availableProcessors()}]")

  /** One untimed, unchecked op on a fifth-size instance of the workload's
    * corpus shape: lets the JIT, the codegen cache and lazy set-up settle
    * before the timed ops.
    */
  def warmUp(spark: SparkSession, name: String, seed: Long, dir: String): Unit = {
    val warm = Workload(name, spark, seed, math.max(20L, Workload.sizes(name) / 5), dir)
    warm.generate()
    warm.prepare(0)
    warm.run(0)
    Bench.dropPipelineState(spark)
    Workload.deleteTree(Paths.get(dir))
  }

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val work = arg(argv, "work")
    if (argv.contains("--train")) {
      // class-data-sharing training run: warm-up ops only, so the JVM's
      // archive holds the classes the measured runs load
      val spark = session()
      arg(argv, "train").split(",").foreach(n => warmUp(spark, n, 0L, Paths.get(work, n).toString))
      spark.stop()
      return
    }
    val name = arg(argv, "workload")
    require(Workload.Names.contains(name), s"unknown workload $name")
    val seed = arg(argv, "seed").toLong
    val seconds = arg(argv, "seconds").toDouble
    val trace = arg(argv, "trace") == "1"
    val spansOut = arg(argv, "spans")

    val t0 = System.nanoTime()
    val spark = session()
    val sc = spark.sparkContext
    val sessionS = secs(t0)

    val listener = new OpListener
    sc.addSparkListener(listener)

    // set-up: generation (and state seeding) SetupReps times from the same
    // seed, the last copy is the one measured; then the warm-up
    val wl = Workload(name, spark, seed, Workload.sizes(name), Paths.get(work, "main").toString)
    val genS = (1 to SetupReps).map { _ =>
      val g = System.nanoTime(); wl.generate(); secs(g)
    }
    val warmS = {
      val w0 = System.nanoTime()
      warmUp(spark, name, seed, Paths.get(work, "warm").toString)
      secs(w0)
    }
    val setupS = sessionS + Bench.median(genS) + warmS
    System.err.println(f"[perfbench] $name seed $seed: session $sessionS%.2f s, " +
      f"generate ${genS.map(s => f"$s%.2f").mkString("/")} s, warm-up $warmS%.2f s")

    val untraced = mutable.ArrayBuffer[OpResult]()
    val tracedOps = mutable.ArrayBuffer[(Int, OpResult)]()
    val extras = mutable.Map[Int, Map[String, Double]]()
    val rec = new SpanRecorder(sc)
    val loop0 = System.nanoTime()
    var op = 1
    while (op == 1 || (trace && tracedOps.isEmpty) || secs(loop0) < seconds) {
      if (trace && op % 2 == 0) {
        sc.addSparkListener(rec)
        val r = measureOp(spark, listener, wl, op) {
          rec.span("op", op)(wl.traced(rec, op))()
        }
        if (r.ok) extras(op) = wl.tracedExtras(op)
        OpListener.drain(sc)
        sc.removeSparkListener(rec)
        tracedOps += op -> r
      } else untraced += measureOp(spark, listener, wl, op)(wl.run(op))
      op += 1
    }
    val all = untraced ++ tracedOps.map(_._2)
    all.zipWithIndex.foreach { case (r, i) =>
      System.err.println(f"[perfbench] op ${i + 1}: ${r.wallS}%.3f s, ok=${r.ok}" +
        r.verdict.map(v => f", recall ${v.recall}%.4f, false merges ${v.falseMerges}" +
          v.problems.map("; " + _).mkString).getOrElse("") +
        r.error.map(", error " + _).getOrElse(""))
    }

    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val good = untraced.filter(_.ok)
        val runS = Bench.median((if (good.nonEmpty) good else untraced).map(_.wallS).toSeq)
        Seq(
          ("run_s", runS, "s"),
          ("docs_per_s", if (runS > 0) wl.docs / runS else 0.0, "1/s"),
          ("recall", untraced.flatMap(_.verdict.map(_.recall)).minOption.getOrElse(0.0), "ratio"),
          ("peak_task_mem_mb", Bench.median(untraced.map(_.peakMemMb).toSeq), "MB"),
          ("setup_s", setupS, "s"))
      } else {
        Files.createDirectories(Paths.get(spansOut).getParent)
        Files.write(Paths.get(spansOut), rec.toJson.getBytes("UTF-8"))
        layerMetrics(rec, tracedOps.map(_._1).toSeq, extras.toMap) :+
          (("trace.overhead",
            Bench.median(tracedOps.map(_._2.wallS).toSeq) /
              Bench.median(untraced.map(_.wallS).toSeq), "ratio"))
      }

    println(f"$name seed $seed: ${all.size} ops (${untraced.size} untraced, " +
      s"${tracedOps.size} traced), ${wl.docs} docs per op")
    metrics.foreach { case (m, v, u) => println(f"  $m%-44s ${Json.num(v)} $u") }
    val failed = all.count(!_.ok)
    val body = metrics.map { case (m, v, u) =>
      s""""$m":{"value":${Json.num(v)},"unit":"$u"}""" }.mkString(",")
    println(s"""{"correct":${failed == 0},"attempted":${all.size},"failed":$failed,""" +
      s""""metrics":{$body}}""")
    val s0 = System.nanoTime()
    spark.stop()
    System.err.println(f"[perfbench] stopped in ${secs(s0)}%.2f s, ${secs(t0)}%.2f s after session start")
  }

  /** Prepare, time and check one op. The listener is reset before and
    * drained after, so its maxima belong to this op alone.
    */
  def measureOp(spark: SparkSession, listener: OpListener, wl: Workload, op: Int)
               (body: => DataFrame): OpResult = {
    try {
      wl.prepare(op)
      Bench.dropPipelineState(spark)
      OpListener.drain(spark.sparkContext)
      listener.reset()
      val t0 = System.nanoTime()
      val out = body
      val wall = secs(t0)
      OpListener.drain(spark.sparkContext)
      val peak = listener.peakTaskMemMb
      val skew = wl.skewProblems(listener.stages)
      val c0 = System.nanoTime()
      val v = wl.check(out, op)
      System.err.println(f"[perfbench] op $op checked in ${secs(c0)}%.2f s")
      OpResult(wall, Some(v.copy(problems = v.problems ++ skew)), peak, None)
    } catch {
      case NonFatal(e) => OpResult(0.0, None, 0.0, Some(e.toString))
    }
  }

  /** Every per-layer metric: each span counter as the median over traced
    * ops (0 for spans this workload does not run), plus the ratios.
    */
  def layerMetrics(rec: SpanRecorder, ops: Seq[Int], extras: Map[Int, Map[String, Double]])
      : Seq[(String, Double, String)] = {
    val perOp: Seq[Map[String, Double]] = ops.map { op =>
      val byName = rec.spans.filter(_.op == op).map(s => s.name -> rec.metricsOf(s)).toMap
      val flat = for {
        span <- Spans
        (c, _) <- Counters
      } yield s"$span.$c" -> byName.get(span).fold(0.0)(_(c))
      val rows = (s: String) => byName.get(s).fold(0.0)(_("rows_out"))
      val yieldRatio =
        if (rows("lsh.candidate_pairs") > 0)
          rows("pipeline.near_edges") / rows("lsh.candidate_pairs") else 0.0
      val repShare =
        if (rows("pages.extract") > 0)
          rows("fingerprint.signatures") / rows("pages.extract") else 0.0
      (flat ++ Seq("lsh.yield" -> yieldRatio, "fingerprint.rep_share" -> repShare) ++
        Seq("state.kb_per_doc" -> 0.0) ++ extras.getOrElse(op, Map.empty)).toMap
    }
    val units = (for { span <- Spans; (c, u) <- Counters } yield s"$span.$c" -> u) ++
      Seq("lsh.yield" -> "ratio", "fingerprint.rep_share" -> "ratio", "state.kb_per_doc" -> "KB")
    units.map { case (m, u) => (m, Bench.median(perOp.map(_(m))), u) }
  }
}
