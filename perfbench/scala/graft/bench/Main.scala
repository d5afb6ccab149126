package graft.bench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** Inputs one workload generates, the operation it times, and the checks it
  * runs on that operation's committed output (never inside the timed
  * region). */
trait Workload {
  /** Input units per operation (docs, or rows for the query suite). */
  def docs: Long
  /** Input payload bytes, the base of `stored_bytes_per_input_byte`. */
  def inputBytes: Long
  /** Operations one timed run is made of (1, or the query count). */
  def opsPerRun: Int = 1
  /** Generate the inputs and write them under `dir`. */
  def setup(dir: String): Unit
  /** Point the workload at the inputs under `dir`. Untimed. */
  def load(dir: String): Unit
  /** Compute what the checks compare against. Runs after the cold
    * operation, so it cannot warm the JVM for it. Untimed. */
  def prepare(): Unit = ()
  /** The timed operation; returns what the checks need plus the number of
    * sub-operations that threw. */
  def op(out: String): (Any, Int)
  def check(out: String, res: Any): Seq[(String, Boolean)]
  /** One-row corruptions of `out`, each paired with the check it must fail. */
  def corruptions(out: String): Seq[(String, String => Unit)] = Nil
  /** Per-layer metrics of one traced rep (from the listener and spans). */
  def repLayers(out: String, res: Any, rt: RepTrace): Map[String, Double] = Map.empty
  /** Extra per-layer probes run once in the traced run. */
  def probes(out: String): Map[String, Double] = Map.empty
}

/** What a traced rep leaves behind: the spans under its root span, the jobs
  * they submitted, and those jobs' stage counters. */
final class RepTrace(all: Seq[Span], val jobs: Seq[JobRec],
    val stages: Map[Int, StageAgg], rootName: String) {
  private val kids = all.groupBy(_.parent)
  private def under(id: Int): Set[Int] =
    kids.getOrElse(id, Nil).flatMap(s => under(s.id)).toSet + id
  val root: Span = all.find(_.name == rootName).get
  val spans: Seq[Span] = { val ids = under(root.id); all.filter(s => ids.contains(s.id)) }
  def jobsUnder(name: String): Seq[JobRec] =
    spans.find(_.name == name).map { s =>
      val ids = under(s.id); jobs.filter(j => ids.contains(j.span))
    }.getOrElse(Nil)
  def duration(name: String): Double =
    spans.find(_.name == name).map(s => (s.end - s.start) / 1e3).getOrElse(0.0)
}

final class Ctx(val spark: SparkSession, val seed: Long, val work: String,
    val nproc: Int, val tracer: Tracer, val listener: BenchListener) {
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Main {
  val SetupReps = 3
  val MinWarm = 3

  /** The `queries` workload's query set. */
  val Queries = Seq("q01_classify_needs_ocr", "q23_minhash_lsh",
    "q25_embedding_neardup", "q26_ann_bruteforce", "q41_ann_ivf",
    "q63_quality_classifier")
  /** Layers whose self time a traced rep reports (`bench` is the rep's own
    * glue, outside any layer call). */
  val Layers = Seq("pipeline.extract", "pipeline.curate", "SparkEntry", "spark.job", "bench")
  /** Every per-layer metric and its unit, in report order; a workload that
    * does not run a layer reports 0 for it. */
  val PerLayer: Seq[(String, String)] =
    Seq("html", "pdf_real", "pdf_structured", "pdf_scanned", "error")
      .map(k => s"kernel.us_per_doc.$k" -> "us") ++
    Seq("html", "pdf", "error").map(k => s"kernel.docs.$k" -> "count") ++
    Seq("kernel.ocr_pages_per_page" -> "frac",
      "extract.transform_s" -> "s", "extract.write_s" -> "s",
      "extract.lineage_s" -> "s", "extract.gc_s" -> "s",
      "extract.shuffle_write_bytes" -> "bytes", "extract.spill_bytes" -> "bytes",
      "extract.jobs" -> "count", "extract.stages" -> "count",
      "extract.files_written" -> "count", "extract.write_skew" -> "ratio",
      "curate.verdicts_s" -> "s", "curate.write_s" -> "s",
      "curate.kept_frac" -> "frac", "curate.planted_recall" -> "frac",
      "curate.jobs" -> "count", "curate.stages" -> "count",
      "curate.shuffle_write_bytes" -> "bytes", "curate.spill_bytes" -> "bytes",
      "curate.gc_s" -> "s",
      "ops.candidate_pairs_s" -> "s", "ops.near_dups_s" -> "s",
      "ops.components_rounds" -> "count", "ops.candidate_pairs" -> "count",
      "ops.verified_pairs" -> "count", "ops.pair_yield" -> "frac") ++
    Queries.flatMap(q => Seq(s"query.$q.s" -> "s", s"query.$q.jobs" -> "count",
      s"query.$q.shuffle_bytes" -> "bytes", s"query.$q.cpu_s" -> "s")) ++
    Layers.map(l => s"self_s.$l" -> "s") ++
    Seq("trace.coverage" -> "frac", "trace.overhead_frac" -> "frac")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
    else f.length()

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, nprocS, resultPath, mode) = args
    val (seed, seconds, nproc) = (seedS.toLong, secondsS.toDouble, nprocS.toInt)
    val trace = traceS == "1"
    val tracer = new Tracer(trace)
    val report = mutable.LinkedHashMap.empty[String, Any]
    tracer.span(s"workload $workload", "bench") {
      val (spark, sessionS) = {
        val t0 = System.nanoTime()
        val s = tracer.span("session start", "setup") {
          SparkSession.builder().master(s"local[$nproc]").appName("graft-perfbench")
            .config("spark.sql.shuffle.partitions", nproc.toString)
            // the inputs are written as 3 files per core; one split per file
            .config("spark.sql.files.minPartitionNum", (3 * nproc).toString)
            .config("spark.ui.enabled", "false")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.local.dir", s"$work/spark-local")
            .config("spark.sql.warehouse.dir", s"$work/warehouse")
            .getOrCreate()
        }
        (s, (System.nanoTime() - t0) / 1e9)
      }
      spark.sparkContext.setLogLevel("WARN")
      tracer.attach(spark.sparkContext)
      val listener = new BenchListener(spark.sparkContext)
      listener.detailed = trace
      spark.sparkContext.addSparkListener(listener)
      val ctx = new Ctx(spark, seed, work, nproc, tracer, listener)
      val w: Workload = workload match {
        case "pipeline" => new PipelineWorkload(ctx, n = 200)
        case "queries" => new QueriesWorkload(ctx, nDocs = 500, nVecs = 500)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val r = new Runner(ctx, w, seconds, report)
      if (mode == "selftest") r.selftest() else r.run(sessionS)
      listener.drain()
      spark.stop()
    }
    if (trace) {
      val spans = tracer.all
      Files.writeString(Paths.get(s"$work/spans.json"),
        Tracer.toJson(spans, Tracer.selfTimes(spans)))
      report("spans") = s"$work/spans.json"
    }
    Files.writeString(Paths.get(resultPath), toJson(report))
  }

  def toJson(v: Any): String = v match {
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => Json.str(k.toString) + ":" + toJson(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(toJson).mkString("[", ",", "]")
    case (a, b) => toJson(Seq(a, b))
    case s: String => Json.str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case other => Json.str(other.toString)
  }
}

/** Drives one workload: setup reps, the cold run, the warm loop, the
  * checks and (traced) the per-layer report. */
final class Runner(ctx: Ctx, w: Workload, seconds: Double,
    report: mutable.LinkedHashMap[String, Any]) {
  import Main.median
  private val tracer = ctx.tracer
  private val listener = ctx.listener
  private var attempted, failed = 0
  private val checkLog = mutable.ArrayBuffer.empty[(String, Boolean)]
  private var rep = 0

  private def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  /** `layers` holds the per-layer metrics of a traced rep. */
  private final case class Rep(out: String, wall: Double, cpu: Double, ok: Boolean,
      res: Any, layers: Option[Map[String, Double]])

  /** Moves the jobs the listener recorded outside reps (setup, checks,
    * probes) into the trace, then clears the listener. */
  private def harvest(): Unit = {
    if (tracer.wanted) tracer.jobs ++= listener.finishedJobs
    listener.reset()
  }

  /** One checked operation. Its time counts only if nothing threw and every
    * check passed. */
  private def attempt(traced: Boolean, first: Boolean = false): Rep = {
    val out = s"${ctx.work}/out-$rep"
    val name = s"rep $rep"
    rep += 1
    harvest()
    tracer.enabled = traced
    listener.detailed = traced
    val t0 = System.nanoTime()
    val tried = Try(tracer.span(name, "bench")(w.op(out)))
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = listener.taskCpuSeconds
    val jobs = if (traced) listener.finishedJobs else Nil
    val stages = listener.stagesOf(jobs)
    tracer.jobs ++= jobs
    listener.reset()
    tracer.enabled = tracer.wanted
    listener.detailed = tracer.wanted
    if (first) tracer.span("prepare checks", "check")(w.prepare())
    val (res, errs, checks) = tried match {
      case Success((r, e)) =>
        (r, e, tracer.span(s"check $name", "check") {
          Try(w.check(out, r)).recover { case e => log(s"$name check threw: $e"); Seq("check threw" -> false) }.get
        })
      case Failure(e) =>
        log(s"$name threw: $e")
        (null, w.opsPerRun, Nil)
    }
    checks.filterNot(_._2).foreach(c => log(s"$name check failed: ${c._1}"))
    checkLog ++= checks
    val bad = math.min(w.opsPerRun, errs + checks.count(!_._2))
    attempted += w.opsPerRun
    failed += bad
    val layers = if (traced && bad == 0) Some(repLayers(out, res,
      new RepTrace(tracer.all, jobs, stages, name))) else None
    Rep(out, wall, cpu, bad == 0, res, layers)
  }

  private def setupReps(): Seq[Double] = {
    val dir = s"${ctx.work}/input"
    val ts = (0 until Main.SetupReps).map { r =>
      tracer.span(s"setup $r", "setup")(ctx.time(w.setup(dir))._2)
    }
    tracer.span("load inputs", "setup")(w.load(dir))
    ts
  }

  def run(sessionS: Double): Unit = {
    val setups = setupReps()
    val cold = attempt(tracer.wanted, first = true)
    val warm = mutable.ArrayBuffer.empty[Rep]
    var keep = cold.out
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // the traced run alternates untraced and traced reps, two of each
    val minReps = if (tracer.wanted) 4 else Main.MinWarm
    while (warm.size < minReps || elapsed < seconds) {
      // traced reps follow the pattern untraced, traced, traced, untraced,
      // so a warm-up trend cancels out of the tracing overhead
      val r = attempt(tracer.wanted && Set(1, 2).contains(warm.size % 4))
      warm += r
      if (r.ok) { Main.deleteTree(new File(keep)); keep = r.out }
      else Main.deleteTree(new File(r.out))
    }
    val plain = warm.toSeq.filter(r => r.ok && r.layers.isEmpty)
    val suite = median(plain.map(_.wall))
    report("attempted") = attempted
    report("failed") = failed
    report("checks") = checkLog.groupBy(_._1).map { case (k, v) => k -> v.forall(_._2) }
    report("warm_reps") = plain.size
    report("out") = keep
    report("metrics") = mutable.LinkedHashMap[String, Any](
      "setup_s" -> (sessionS + median(setups)),
      "first_run_s" -> cold.wall,
      "docs_per_s" -> (if (suite > 0) w.docs / suite else 0.0),
      "suite_s" -> suite,
      "cpu_s" -> median(plain.map(_.cpu)),
      "stored_bytes_per_input_byte" -> Main.dirBytes(new File(keep)).toDouble / w.inputBytes)
    report("detail") = mutable.LinkedHashMap[String, Any](
      "session_start_s" -> sessionS, "setup_reps_s" -> setups,
      "warm_s" -> plain.map(_.wall), "warm_cpu_s" -> plain.map(_.cpu),
      "input_bytes" -> w.inputBytes, "docs" -> w.docs)
    if (tracer.wanted) report("per_layer") = perLayer(warm.toSeq, keep)
  }

  /** The workload's metrics of one traced rep plus the self time of each
    * layer under the rep's span. */
  private def repLayers(out: String, res: Any, rt: RepTrace): Map[String, Double] = {
    val self = Tracer.selfTimes(rt.spans)
    val bySelf = rt.spans.groupBy(_.layer).map { case (l, ss) =>
      s"self_s.$l" -> ss.map(s => self(s.id)).sum / 1e3
    }
    val wall = (rt.root.end - rt.root.start) / 1e3
    w.repLayers(out, res, rt) ++ bySelf +
      ("trace.coverage" -> (1.0 - bySelf.getOrElse("self_s.bench", 0.0) / wall))
  }

  private def perLayer(warm: Seq[Rep], keep: String): collection.Map[String, Double] = {
    val traced = warm.filter(r => r.ok && r.layers.nonEmpty)
    val plain = warm.filter(r => r.ok && r.layers.isEmpty)
    val out = mutable.LinkedHashMap.empty[String, Double]
    Main.PerLayer.foreach { case (k, _) => out(k) = 0.0 }
    val perRep = traced.map(_.layers.get)
    perRep.flatMap(_.keys).distinct.foreach { k =>
      out(k) = median(perRep.map(_.getOrElse(k, 0.0)))
    }
    val tSuite = median(traced.map(_.wall))
    val pSuite = median(plain.map(_.wall))
    if (tSuite > 0 && pSuite > 0) out("trace.overhead_frac") = 1.0 - pSuite / tSuite
    out ++= w.probes(keep)
    harvest()
    out
  }

  /** Runs the workload once, then applies each one-row corruption to a copy
    * of its output and records whether the check it targets now fails. */
  def selftest(): Unit = {
    setupReps()
    val r = attempt(traced = false, first = true)
    val clean = checkLog.forall(_._2)
    val results = w.corruptions(r.out).map { case (target, corrupt) =>
      val copy = s"${ctx.work}/corrupt-$target"
      Main.deleteTree(new File(copy))
      copyTree(new File(r.out), new File(copy))
      corrupt(copy)
      val checks = Try(w.check(copy, r.res)).getOrElse(Seq(target -> false))
      val failedNow = checks.filter(_._1 == target).exists(!_._2)
      log(s"corrupted for $target -> ${if (failedNow) "check fails (expected)" else "CHECK STILL PASSES"}")
      mutable.LinkedHashMap[String, Any]("check" -> target, "fails_on_corruption" -> failedNow)
    }
    report("clean_checks_pass") = clean
    report("selftest") = results
    report("attempted") = attempted
    report("failed") = failed
    report("out") = r.out
  }

  private def copyTree(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs(); from.listFiles().foreach(f => copyTree(f, new File(to, f.getName)))
    } else if (!from.getName.endsWith(".crc")) Files.copy(from.toPath, to.toPath)
}
