package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Command line: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir>`. Prints two lines on stdout: a report (inputs, every
  * named metric, checks, validity and, when traced, the per-layer record),
  * then the result line. */
object Main {

  /** Tests set `tiny` (small inputs) and `expectSkew` (offsets every
    * expected value of the correctness checks, to show each can fail). */
  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: Path, tiny: Boolean, expectSkew: Long = 0)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath, tiny = false)
  }

  private val t0 = System.nanoTime()
  /** Progress to stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.nanoTime() - t0) / 1e9}%.1fs] $msg")

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val out = Harness.run(args)
    log("done")
    println(out.report.render)
    println(out.result.render)
    System.out.flush()
    sys.exit(0)
  }
}

/** One metric as printed: name, value, unit. */
final case class M(name: String, value: Double, unit: String)

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest percentile with at least ten samples beyond it (nearest
    * rank), as (value, percentile, n); None below 20 samples, where that
    * percentile would fall under the median. */
  def tail(xs: Seq[Double]): Option[(Double, Double, Int)] =
    if (xs.size < 20) None
    else {
      val s = xs.sorted
      val i = s.size - 11
      Some((s(i), 100.0 * (i + 1) / s.size, s.size))
    }
}

/** Per-run state shared by the workloads: the session, the seeded work
  * directory, the operation/check ledger behind `attempted`/`failed`, and
  * the optional tracer. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
                val seconds: Int, val tiny: Boolean, val tracer: Option[Tracer],
                expectSkew: Long = 0) {
  var attempted = 0
  var failed = 0
  val checks = mutable.ArrayBuffer.empty[Json]
  val errors = mutable.ArrayBuffer.empty[String]

  def dir(name: String): String = work.resolve(name).toString

  /** One operation against the engine: counts as attempted, and as failed
    * when it throws. */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body) catch {
      case NonFatal(e) =>
        failed += 1
        errors += s"$name: $e"
        System.err.println(s"[perfbench] operation $name failed: $e")
        None
    }
  }

  /** One correctness check, `actual` against the value the generated
    * inputs call for: counts as attempted, and as failed on a mismatch. */
  def check(name: String, actual: Long, expected: Long): Boolean = {
    val want = expected + expectSkew
    val ok = actual == want
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] check $name FAILED: got $actual, expected $want")
    }
    checks += Json.obj("check" -> name, "ok" -> ok, "actual" -> actual, "expected" -> want)
    ok
  }

  def span[T](layer: String, name: String)(body: => T): T =
    tracer.fold(body)(_.span(layer, name)(body))

  /** Wall seconds of `body`. */
  def timeS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Generate the inputs `k` times into fresh directories and keep the last
    * set; setup time takes the median repetition. Discarded sets are
    * removed at once, while the kernel still holds them unwritten. */
  def generate[T](k: Int)(gen: Path => T): (T, Seq[Double]) = {
    val reps = (0 until k).map { i =>
      val root = work.resolve(s"inputs-$i")
      Files.createDirectories(root)
      val (r, s) = timeS(gen(root))
      if (i < k - 1) remove(root)
      quiesce()
      (r, s)
    }
    (reps.last._1, reps.map(_._2))
  }

  /** Time `body` as the warm-up, in a scratch directory removed after. */
  def warmUp(body: Path => Unit): Double = {
    val root = work.resolve("warm")
    Files.createDirectories(root)
    val (_, s) = timeS(body(root))
    remove(root)
    quiesce()
    s
  }

  /** Flush the page cache's dirty data to disk (the `sync` command) and
    * wait. Called at the end of set-up only, so the generated inputs'
    * deferred writeback does not land in the timed part. */
  def quiesce(): Unit = {
    new ProcessBuilder("sync").inheritIO().start().waitFor(): Unit
  }

  def remove(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally s.close()
    }
}

/** What a workload hands back to the harness. `e2e` carries every
  * end-to-end metric of the result line except setup and memory; `named`
  * the same figures under the workload's own names, plus the ones only
  * it has. In traced runs `layers` holds the per-layer metrics every
  * workload reports (the result line's), `detail` the layer metrics only
  * this workload can measure (the report's). */
final case class Outcome(e2e: Seq[M], named: Seq[M], layers: Seq[M],
                         detail: Seq[M], inputs: Json.Obj, samples: Json.Obj,
                         notes: Json.Obj)

trait Workload {
  /** Generate inputs (repeatedly, via ctx.generate) and warm up. Returns
    * the per-repetition generation seconds and the warm-up seconds. */
  def setup(ctx: Ctx): (Seq[Double], Double)
  /** The timed part; called after setup with the tracer installed. */
  def run(ctx: Ctx): Outcome
}

object Harness {

  final case class Printed(report: Json.Obj, result: Json.Obj)

  val workloads: Map[String, () => Workload] = Map(
    "ingest" -> (() => new IngestWorkload),
    "stream_corpus" -> (() => new StreamCorpusWorkload),
    "media_admission" -> (() => new MediaWorkload))

  /** The end-to-end metrics every workload prints, and the per-layer
    * metrics every traced run prints (BENCHMARK.json lists the same). */
  val endToEnd: Seq[String] = Seq("setup_s", "op_p50_ms", "items_per_s", "rss_peak_mb")
  val perLayer: Seq[String] = Tracer.perOpNames ++ Seq("state.files", "spark.persisted_rdds_left")

  def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def run(a: Main.Args): Printed = {
    val make = workloads.getOrElse(a.workload, throw new IllegalArgumentException(
      s"unknown workload ${a.workload} (${workloads.keys.toSeq.sorted.mkString(", ")})"))
    Files.createDirectories(a.work)
    val cpus = Host.cpus
    val (spark, sessionS) = {
      val t0 = System.nanoTime()
      val s = session(cpus)
      (s, (System.nanoTime() - t0) / 1e9)
    }
    try {
      val tracer = if (a.trace) Some(new Tracer(spark)) else None
      val ctx = new Ctx(spark, a.work, a.seed, a.seconds, a.tiny, tracer, a.expectSkew)
      val w = make()
      Main.log("session up")
      val (genS, warmS) = w.setup(ctx)
      Main.log("setup done")
      val setupS = sessionS + Stats.median(genS) + warmS

      tracer.foreach(_.install())
      val window = new Host.Window
      val peakReset = Host.resetPeakRss()
      val t0 = System.nanoTime()
      val out = w.run(ctx)
      Main.log("timed part done")
      val timedS = (System.nanoTime() - t0) / 1e9
      val rss = if (peakReset) Host.peakRssMb else Host.rssMb
      val validity = window.close()
      val persisted = spark.sparkContext.getPersistentRDDs.size
      tracer.foreach(_.uninstall())

      val e2e = Seq(M("setup_s", setupS, "s")) ++ out.e2e ++ Seq(M("rss_peak_mb", rss, "MB"))
      require(e2e.map(_.name) == endToEnd,
        s"workload ${a.workload} emitted ${e2e.map(_.name)}, not $endToEnd")
      val layers = if (a.trace)
        out.layers :+ M("spark.persisted_rdds_left", persisted.toDouble, "count")
      else Nil
      if (a.trace) require(layers.map(_.name) == perLayer,
        s"workload ${a.workload} emitted layers ${layers.map(_.name)}, not $perLayer")
      def mets(ms: Seq[M]) = Json.Obj(ms.map(m => m.name -> Json.metric(m.value, m.unit)))
      val report = Json.obj(
        "report" -> "perfbench",
        "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
        "trace" -> a.trace, "size" -> (if (a.tiny) "tiny" else "full"),
        "engine" -> Json.obj("master" -> s"local[$cpus]", "ui" -> false,
          "session_time_zone" -> "UTC", "spark" -> spark.version,
          "other_settings" -> "Spark defaults", "caches_swept_between_ops" -> false),
        "inputs" -> out.inputs,
        "setup" -> Json.obj("session_s" -> sessionS,
          "generate_s" -> Json.Arr(genS.map(Json.Num)), "warmup_s" -> warmS),
        "timed_s" -> timedS,
        "end_to_end" -> mets(e2e),
        "named" -> mets(out.named),
        "samples" -> out.samples,
        "layers" -> mets(layers ++ out.detail),
        "validity" -> (validity ++ Seq("peak_rss_reset" -> Json.Bool(peakReset))),
        "failed_ratio" -> ctx.failed.toDouble / math.max(1, ctx.attempted),
        "checks" -> Json.Arr(ctx.checks.toSeq),
        "errors" -> Json.Arr(ctx.errors.toSeq.map(Json.Str)),
        "notes" -> out.notes)
      val result = Json.obj(
        "correct" -> (ctx.failed == 0),
        "attempted" -> math.max(1, ctx.attempted),
        "failed" -> ctx.failed,
        "metrics" -> mets(if (a.trace) layers else e2e))
      Printed(report, result)
    } finally {
      spark.stop()
      Main.log("session stopped")
    }
  }
}
