package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{FileCompaction, Quality}
import graft.pipeline._
import graft.state.StateStore

/** `ingest`: one stateful declarative job, the way users launch it. A full
  * load of lineitem-shaped rows, then small incremental runs (each over a
  * fresh seeded delta appended to the source) until the run's seconds are
  * spent, then a compact-files maintenance job over the partitioned
  * branch's full-load output. The full load is bound by data; the
  * increments by fixed per-run cost. */
final class IngestWorkload extends Workload {
  import IngestWorkload._

  private var size: Size = _
  private var gen: Generated = _

  def setup(ctx: Ctx): (Seq[Double], Double) = {
    size = if (ctx.tiny) Tiny else Full
    val (g, genS) = ctx.generate(3)(root => generate(ctx.spark, root, ctx.seed, size))
    gen = g
    // warm-up: the whole job shape once on a small separate data set
    val warmS = ctx.warmUp { root =>
      val w = generate(ctx.spark, root.resolve("inputs"), ctx.seed + 7919L, Warm)
      val src = root.resolve("src")
      Files.createDirectories(src)
      (0 to Warm.maxDeltas).foreach { k =>
        appendToSource(w, k, src)
        PipelineRunner.run(ctx.spark, spec(src.toString, root.toString, k), s"warm-$k")
      }
      MaintenanceRunner.run(ctx.spark, compactSpec(root.toString), "warm-compact")
    }
    (genS, warmS)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val root = ctx.work.resolve("job")
    val src = root.resolve("src")
    Files.createDirectories(src)
    val rootS = root.toString
    val store = new StateStore(spark, s"$rootS/state")

    def runOnce(k: Int): Option[(PipelineRunner.JobResult, Double)] = {
      appendToSource(gen, k, src)
      val r = ctx.op(s"pipeline-run-$k")(ctx.timeS(ctx.span("pipeline", s"run-$k") {
        PipelineRunner.run(spark, spec(src.toString, rootS, k), s"run-$k")
      }))
      r.foreach { case (res, _) => verifyRun(ctx, rootS, k, res, store) }
      r
    }

    // 1. full load
    val full = runOnce(0)
    val loadS = full.map(_._2).getOrElse(Double.NaN)
    // 2. increments until the run's seconds are spent
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var k = 1
    val incr = scala.collection.mutable.ArrayBuffer.empty[Double]
    val stateReadMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (k <= size.maxDeltas && (k <= MinIncrements || System.nanoTime() < deadline)) {
      runOnce(k).foreach { case (_, s) => incr += s }
      if (ctx.tracer.isDefined) {
        val (_, s) = ctx.timeS(ctx.span("state", s"read-$k")(store.highWatermark(JobName)))
        stateReadMs += s * 1000
      }
      k += 1
    }
    val runs = k - 1
    // 3. compaction of the partitioned branch's full-load output
    val compactDir = s"$rootS/out/by_year/run=0"
    val auditBefore = FileCompaction.audit(spark, compactDir, "ship_year", TargetBytes)
    val before = partitionDigest(spark, compactDir)
    val compact = ctx.op("compact-files")(ctx.timeS(ctx.span("operators", "compact") {
      MaintenanceRunner.run(spark, compactSpec(rootS), "compact-0")
    }))
    compact.foreach { _ =>
      val after = partitionDigest(spark, compactDir)
      ctx.check("compact.partitions_changed",
        (before.keySet ++ after.keySet).count(p => before.get(p) != after.get(p)), 0)
    }
    val compactS = compact.map(_._2).getOrElse(Double.NaN)
    val filesAfter = FileCompaction.audit(spark, compactDir, "ship_year", TargetBytes)
      .map(_.files.toLong).sum

    val loadRowsPerS = gen.expect(0).rows / loadS
    val p50 = Stats.median(incr.toSeq)
    val tail = Stats.tail(incr.toSeq)
    val named = Seq(
      M("load_rows_per_s", loadRowsPerS, "rows/s"),
      M("incr_run_p50_s", p50, "s"),
      M("compact_s", compactS, "s"),
      M("increments", runs.toDouble, "count"),
      M("incr_run_max_s", if (incr.isEmpty) Double.NaN else incr.max, "s")) ++
      tail.toSeq.flatMap { case (v, p, n) => Seq(
        M("incr_run_tail_s", v, "s"), M("incr_run_tail_percentile", p, "%"),
        M("incr_run_tail_n", n.toDouble, "count")) }

    val (layers, detail) = ctx.tracer.fold((Seq.empty[M], Seq.empty[M])) { t =>
      t.settle()
      val runSpans = t.spansOf("pipeline")
      val incSpans = runSpans.filterNot(_.name == "run-0").map(s => (s.startMs, s.endMs))
      val perIncr = t.perOp(incSpans)
      val perFull = t.perOp(runSpans.filter(_.name == "run-0").map(s => (s.startMs, s.endMs)))
      def get(ms: Seq[M], n: String) = ms.find(_.name == n).map(_.value).getOrElse(Double.NaN)
      // the quality layer, timed directly on the full-load input
      val qcMs = {
        val in = spark.read.parquet(src.resolve("d00000-*.parquet").toString)
          .selectExpr("*", "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(15,2)) AS revenue")
        val (_, s) = ctx.timeS {
          val c = Quality.checkRows(in, policies.map(_.toPolicy))
          c.passed.count() + c.rejected.count()
        }
        s * 1000
      }
      val outRows = gen.expect.filter(_._1 <= runs).values.map(_.passed).sum * 3
      val layers = perIncr ++ Seq(M("state.files", Tracer.filesUnder(s"$rootS/state").toDouble, "count"))
      val detail = Seq(
        M("pipeline.driver_only_ms", get(perIncr, "spark.driver_only_ms_per_op"), "ms"),
        M("pipeline.jobs_per_run", get(perIncr, "spark.jobs_per_op"), "count"),
        M("pipeline.sql_execs_per_run", get(perIncr, "spark.sql_execs_per_op"), "count"),
        M("pipeline.plan_ms_per_run", get(perIncr, "spark.plan_ms_per_op"), "ms"),
        M("pipeline.full_load.driver_only_ms", get(perFull, "spark.driver_only_ms_per_op"), "ms"),
        M("pipeline.full_load.jobs", get(perFull, "spark.jobs_per_op"), "count"),
        M("sources.input_bytes_per_run", get(perIncr, "sources.input_bytes_per_op"), "bytes"),
        M("sources.input_files_per_run", get(perIncr, "sources.input_files_per_op"), "count"),
        M("sources.full_load.input_bytes", get(perFull, "sources.input_bytes_per_op"), "bytes"),
        M("operators.quality_check_ms", qcMs, "ms"),
        M("operators.compact_files_before", auditBefore.map(_.files.toLong).sum.toDouble, "count"),
        M("operators.compact_files_after", filesAfter.toDouble, "count"),
        M("operators.compact_bytes_rewritten",
          auditBefore.filter(_.needsCompaction).map(_.bytes).sum.toDouble, "bytes"),
        M("sinks.write_exec_ms", get(perIncr, "sinks.write_exec_ms_per_op"), "ms"),
        M("sinks.full_load.write_exec_ms", get(perFull, "sinks.write_exec_ms_per_op"), "ms"),
        M("sinks.output_files_per_run", get(perIncr, "sinks.output_files_per_op"), "count"),
        M("sinks.output_bytes_per_row",
          (get(perIncr, "sinks.output_bytes_per_op") * incSpans.size +
            get(perFull, "sinks.output_bytes_per_op")) / math.max(1.0, outRows.toDouble), "bytes"),
        M("state.read_ms", Stats.median(stateReadMs.toSeq), "ms"),
        M("state.read_ms_last", stateReadMs.lastOption.getOrElse(Double.NaN), "ms")) ++
        // stream_corpus is outside BENCHMARK.json (see README), so the text
        // layer's direct probe runs here too
        StreamCorpusWorkload.textProbe(ctx)
      (layers, detail)
    }

    Outcome(
      e2e = Seq(M("op_p50_ms", p50 * 1000, "ms"), M("items_per_s", loadRowsPerS, "1/s")),
      named = named, layers = layers, detail = detail,
      inputs = Json.obj(
        "hash" -> gen.hash,
        "full_load_rows" -> gen.expect(0).rows,
        "delta_rows" -> size.deltaRows,
        "deltas_generated" -> size.maxDeltas,
        "deltas_used" -> runs,
        "files" -> gen.files,
        "bytes" -> gen.bytes,
        "planted_bad_rows" -> gen.expect.filter(_._1 <= runs).values.map(_.bad.size).sum),
      samples = Json.obj("incr_run_s" -> Json.Arr(incr.toSeq.map(Json.Num))),
      notes = Json.obj(
        "op" -> "one incremental PipelineRunner.run",
        "items" -> "source rows committed per second of the full-load run"))
  }

  private def verifyRun(ctx: Ctx, root: String, k: Int, res: PipelineRunner.JobResult,
                        store: StateStore): Unit = {
    val spark = ctx.spark
    val e = gen.expect(k)
    def count(branch: String) = spark.read.parquet(s"$root/out/$branch/run=$k").count()
    ctx.check(s"run-$k.all_rows", count("all"), e.passed)
    ctx.check(s"run-$k.by_year_rows", count("by_year"), e.passed)
    ctx.check(s"run-$k.returns_rows", count("returns"), e.returnsPassed)
    def wm(w: Option[String]) = w.flatMap(_.toLongOption).getOrElse(-1L)
    ctx.check(s"run-$k.committed_watermark", wm(res.committedWatermark), e.maxSeq)
    ctx.check(s"run-$k.stored_watermark", wm(store.highWatermark(JobName)), e.maxSeq)
    val errPath = s"$root/err/$JobName"
    val errKeys =
      if (!new java.io.File(errPath).exists()) Set.empty[(Long, Int)]
      else spark.read.parquet(errPath).select("l_orderkey", "l_linenumber").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
    ctx.check(s"run-$k.err_rows", errKeys.size, e.bad.size)
    ctx.check(s"run-$k.err_rows_not_planted", ((errKeys diff e.bad) ++ (e.bad diff errKeys)).size, 0)
  }
}

object IngestWorkload {

  final case class Size(fullRows: Long, deltaRows: Long, maxDeltas: Int, badEvery: Long)
  val Full = Size(fullRows = 600000L, deltaRows = 2000L, maxDeltas = 60, badEvery = 997L)
  val Tiny = Size(fullRows = 3000L, deltaRows = 200L, maxDeltas = 3, badEvery = 97L)
  private val Warm = Size(fullRows = 150000L, deltaRows = 2000L, maxDeltas = 6, badEvery = 997L)
  /** Increments run even when the seconds are spent, so medians exist. */
  val MinIncrements = 3
  val JobName = "lineitem_ingest"
  val TargetBytes: Long = 64L << 20

  /** What the generated input says each run must publish: rows, rows that
    * pass the row policies, passing rows with return flag R, the highest
    * watermark value, and the planted bad rows' keys. */
  final case class Expect(rows: Long, passed: Long, returnsPassed: Long, maxSeq: Long,
                          bad: Set[(Long, Int)])

  final case class Generated(root: Path, expect: Map[Int, Expect], hash: String,
                             files: Long, bytes: Long)

  val policies = Seq(
    RowPolicySpec("key_and_quantity", "l_orderkey IS NOT NULL AND l_quantity > 0", "FAIL"),
    RowPolicySpec("discount_range", "l_discount <= 0.10", "ERR_FILE"))

  def spec(src: String, root: String, k: Int): PipelineSpec = PipelineSpec(
    name = JobName,
    source = SourceSpec("parquet", src, watermarkColumn = Some("l_seq"),
      watermarkDefault = Some("0")),
    transformExprs = Seq("selectExpr:*;" +
      "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(15,2)) AS revenue;" +
      "year(l_shipdate) AS ship_year"),
    rowPolicies = policies,
    errDir = Some(s"$root/err"),
    rowCountRange = Some(0.0),
    branches = Seq(
      BranchSpec("all", selectCols = Seq("l_orderkey", "l_linenumber", "l_seq",
        "l_shipdate", "l_returnflag", "revenue"), outDir = s"$root/out/all/run=$k"),
      BranchSpec("by_year", selectCols = Seq("l_orderkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_shipmode", "l_comment", "ship_year"),
        outDir = s"$root/out/by_year/run=$k", partitionBy = Seq("ship_year")),
      BranchSpec("returns", filterExpr = Some("l_returnflag = 'R'"),
        selectCols = Seq("l_orderkey", "l_linenumber", "l_seq", "revenue"),
        outDir = s"$root/out/returns/run=$k")),
    stateDir = Some(s"$root/state"))

  def compactSpec(root: String): MaintenanceSpec = MaintenanceSpec("compact_by_year",
    "compact-files", Map("dir" -> s"$root/out/by_year/run=0",
      "partition.col" -> "ship_year", "target.bytes" -> TargetBytes.toString))

  /** Move the generated files of data set `k` (0 = full load, k >= 1 =
    * delta k) into the job's source directory. */
  def appendToSource(g: Generated, k: Int, src: Path): Unit = {
    val from = if (k == 0) g.root.resolve("full") else g.root.resolve("deltas").resolve(s"delta=$k")
    val parts = Files.list(from)
    try parts.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toList
      .sortBy(_.getFileName.toString).zipWithIndex.foreach { case (p, i) =>
        Files.move(p, src.resolve(f"d$k%05d-$i%03d.parquet"), StandardCopyOption.ATOMIC_MOVE)
      }
    finally parts.close()
  }

  /** Per-partition (rows, content digest) of a partitioned parquet dir. */
  def partitionDigest(spark: SparkSession, dir: String): Map[String, (Long, BigDecimal)] = {
    val df = spark.read.parquet(dir)
    val cols = df.columns.filterNot(_ == "ship_year").map(col).toSeq
    df.groupBy(col("ship_year").cast("string"))
      .agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)")))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), BigDecimal(r.getDecimal(2))))).toMap
  }

  /** Lineitem-shaped rows: every value is a pure function of (seed, row id),
    * so the same seed yields the same rows on any partitioning. A planted
    * one row in `badEvery` carries an out-of-range discount. */
  def lineitem(spark: SparkSession, seed: Long, from: Long, until: Long,
               badEvery: Long, slices: Int): DataFrame = {
    def u(k: Int, m: Long): Column = pmod(xxhash64(lit(seed), col("id"), lit(k)), lit(m))
    val bad = u(15, badEvery) === 0
    val ship = date_add(lit("1992-01-02").cast("date"), u(9, 2526).cast("int"))
    spark.range(from, until, 1, slices).select(
      (col("id").divide(4).cast("long") + 1).as("l_orderkey"),
      u(1, 20000).plus(1).as("l_partkey"),
      u(2, 1000).plus(1).as("l_suppkey"),
      (pmod(col("id"), lit(4L)) + 1).cast("int").as("l_linenumber"),
      (u(3, 50) + 1).cast("decimal(15,2)").as("l_quantity"),
      ((u(3, 50) + 1) * (lit(900) + u(4, 100000) / 100)).cast("decimal(15,2)")
        .as("l_extendedprice"),
      when(bad, lit(0.5)).otherwise(u(5, 11) / 100).cast("decimal(15,2)").as("l_discount"),
      (u(6, 9) / 100).cast("decimal(15,2)").as("l_tax"),
      element_at(array(lit("R"), lit("A"), lit("N")), (u(7, 3) + 1).cast("int"))
        .as("l_returnflag"),
      element_at(array(lit("O"), lit("F")), (u(8, 2) + 1).cast("int")).as("l_linestatus"),
      ship.as("l_shipdate"),
      date_add(ship, (u(10, 61) - 30).cast("int")).as("l_commitdate"),
      date_add(ship, (u(11, 30) + 1).cast("int")).as("l_receiptdate"),
      element_at(array(Seq("DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN")
        .map(lit): _*), (u(12, 4) + 1).cast("int")).as("l_shipinstruct"),
      element_at(array(Seq("REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB")
        .map(lit): _*), (u(13, 7) + 1).cast("int")).as("l_shipmode"),
      substring(sha2(concat(lit(seed.toString), lit(":"), col("id").cast("string")), 256),
        1, 40).as("l_comment"),
      (col("id") + 1).as("l_seq"))
  }

  def generate(spark: SparkSession, root: Path, seed: Long, s: Size): Generated = {
    val full = root.resolve("full").toString
    val deltas = root.resolve("deltas").toString
    lineitem(spark, seed, 0, s.fullRows, s.badEvery, 4).write.mode("overwrite").parquet(full)
    lineitem(spark, seed, s.fullRows, s.fullRows + s.maxDeltas * s.deltaRows, s.badEvery, 4)
      .withColumn("delta", ((col("l_seq") - 1 - s.fullRows) / s.deltaRows).cast("long") + 1)
      .repartition(col("delta"))
      .write.mode("overwrite").partitionBy("delta").parquet(deltas)

    // independent expectations, straight from the generated files
    val all = spark.read.parquet(full).withColumn("delta", lit(0L))
      .unionByName(spark.read.parquet(deltas))
    val ok = col("l_discount") <= 0.10
    val agg = all.groupBy("delta").agg(
      count(lit(1)), sum(when(ok, 1L).otherwise(0L)),
      sum(when(ok && col("l_returnflag") === "R", 1L).otherwise(0L)), max("l_seq"),
      sum(xxhash64(all.columns.filterNot(_ == "delta").map(col).toIndexedSeq: _*)
        .cast("decimal(38,0)")))
      .collect()
    val bad = all.filter(!ok).select("delta", "l_orderkey", "l_linenumber").collect()
      .groupBy(_.getLong(0)).map { case (d, rs) => d -> rs.map(r => (r.getLong(1), r.getInt(2))).toSet }
    val expect = agg.map { r =>
      val d = r.getLong(0).toInt
      d -> Expect(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        bad.getOrElse(d.toLong, Set.empty))
    }.toMap
    val digest = java.security.MessageDigest.getInstance("SHA-256")
    agg.sortBy(_.getLong(0)).foreach(r => digest.update(
      s"${r.getLong(0)}:${r.getLong(1)}:${r.getDecimal(5)};".getBytes("UTF-8")))
    val files = Files.walk(root)
    val (nFiles, nBytes) =
      try files.iterator().asScala.filter(p => p.toString.endsWith(".parquet"))
        .foldLeft((0L, 0L)) { case ((n, b), p) => (n + 1, b + Files.size(p)) }
      finally files.close()
    Generated(root, expect, digest.digest().map("%02x".format(_)).mkString.take(16),
      nFiles, nBytes)
  }
}
