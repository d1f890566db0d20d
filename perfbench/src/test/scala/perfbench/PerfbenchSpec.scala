package perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own tests: a tiny smoke of every workload at a fixed
  * seed (every metric emitted with its unit, outputs correct), stable
  * input hashes, and every correctness check failing when its expected
  * value is deliberately off by one. */
class PerfbenchSpec extends AnyFunSuite {

  private val seed = 42L
  private val scratch = Files.createDirectories(Paths.get("target", "test-work"))
  private def tmp(prefix: String) = Files.createTempDirectory(scratch, prefix)

  /** BENCHMARK.json's metric names and units. */
  private lazy val declared: (Map[String, String], Map[String, String]) = {
    val root = new ObjectMapper().readTree(Paths.get("..", "BENCHMARK.json").toFile)
    def units(key: String) = {
      val it = root.get(key).elements()
      var m = Map.empty[String, String]
      while (it.hasNext) { val n = it.next(); m += n.get("name").asText -> n.get("unit").asText }
      m
    }
    (units("end_to_end"), units("per_layer"))
  }

  private def run(workload: String, trace: Boolean, skew: Long = 0): Harness.Printed = {
    val work = tmp(s"$workload-")
    Harness.run(Main.Args(workload, seed, seconds = 1, trace = trace, work = work,
      tiny = true, expectSkew = skew))
  }

  private def field(o: Json.Obj, k: String): Json =
    o.fields.find(_._1 == k).map(_._2).getOrElse(fail(s"no field $k in ${o.render}"))

  private def metrics(p: Harness.Printed): Map[String, (Double, String)] =
    field(p.result, "metrics") match {
      case Json.Obj(ms) => ms.map {
        case (name, m: Json.Obj) => (field(m, "value"), field(m, "unit")) match {
          case (Json.Num(v), Json.Str(u)) => name -> (v, u)
          case other => fail(s"$name: $other")
        }
        case other => fail(s"bad metric $other")
      }.toMap
      case other => fail(s"bad metrics $other")
    }

  private def checks(p: Harness.Printed): Seq[Boolean] = field(p.report, "checks") match {
    case Json.Arr(cs) => cs.map { case c: Json.Obj => field(c, "ok") == Json.Bool(true)
      case other => fail(s"bad check $other") }
    case other => fail(s"bad checks $other")
  }

  for (w <- Seq("ingest", "stream_corpus", "media_admission")) {
    test(s"$w: tiny run is correct and prints every end-to-end metric with its unit") {
      val p = run(w, trace = false)
      assert(field(p.result, "correct") == Json.Bool(true), p.report.render)
      assert(field(p.result, "failed") == Json.Num(0))
      val ms = metrics(p)
      assert(ms.keySet == declared._1.keySet)
      declared._1.foreach { case (n, u) => assert(ms(n)._2 == u, n) }
      assert(checks(p).nonEmpty && checks(p).forall(identity))
    }

    test(s"$w: traced run prints every per-layer metric, and every check fails when its " +
      "expected value is off by one") {
      val p = run(w, trace = true, skew = 1)
      val ms = metrics(p)
      assert(ms.keySet == declared._2.keySet)
      declared._2.foreach { case (n, u) => assert(ms(n)._2 == u, n) }
      val cs = checks(p)
      assert(cs.nonEmpty && cs.forall(!_), p.report.render)
      assert(field(p.result, "correct") == Json.Bool(false))
      assert(field(p.result, "failed") == Json.Num(cs.size.toDouble))
    }
  }

  test("generated-input hashes are stable per seed and differ across seeds") {
    val spark = SparkSession.builder().master("local[2]").config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      def ingest(s: Long) = IngestWorkload.generate(spark,
        tmp("hash-"), s, IngestWorkload.Tiny).hash
      def media(s: Long) = MediaWorkload.generate(spark,
        tmp("hash-"), s, MediaWorkload.Tiny).hash
      def stream(s: Long) = StreamCorpusWorkload.makePlan(s, StreamCorpusWorkload.Tiny, 2).hash
      for (h <- Seq(ingest _, media _, stream _)) {
        assert(h(seed) == h(seed))
        assert(h(seed) != h(seed + 1))
      }
    } finally spark.stop()
  }
}
