package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.streaming.{ContinuousIngest, Streams}
import graft.text.{ShardPack, SubstringDedup}

/** `stream_corpus`: an open-loop generator thread drops seeded document
  * files into a directory on a fixed schedule, and
  * `ContinuousIngest.start` (substring scrub on) admits them as they
  * land. Phase 1 arrives under capacity and gives latency: each doc is
  * timed from when its file was due to when the micro-batch holding it
  * committed. Phase 2 arrives over capacity, with a fixed
  * maxFilesPerTrigger, and gives saturated throughput. The generator
  * then stops and the backlog drains, so every doc can be checked. */
final class StreamCorpusWorkload extends Workload {
  import StreamCorpusWorkload._

  private var size: Size = _
  private var plan: Plan = _

  def setup(ctx: Ctx): (Seq[Double], Double) = {
    size = if (ctx.tiny) Tiny else Full
    val (p, genS) = ctx.generate(3)(_ => makePlan(ctx.seed, size, ctx.seconds))
    plan = p
    val warmS = ctx.warmUp { root =>
      val warm = makePlan(ctx.seed + 7919L, size, 1)
      val in = root.resolve("in")
      Files.createDirectories(in)
      warm.files.take(3).zipWithIndex.foreach { case (f, i) =>
        Files.write(in.resolve(f"f$i%05d.json"), f.render.getBytes(UTF_8))
      }
      ContinuousIngest.start(source(ctx, in.toString), "doc_id", "text", Budget,
        s"$root/state", s"$root/out", s"$root/ckpt", Trigger.AvailableNow(),
        Some(W)).awaitTermination()
    }
    (genS, warmS)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val root = ctx.work.resolve("job")
    val in = root.resolve("in")
    val tmp = root.resolve("gen-tmp")
    Files.createDirectories(in)
    Files.createDirectories(tmp)
    val rootS = root.toString

    val q = ContinuousIngest.start(source(ctx, in.toString), "doc_id", "text", Budget,
      s"$rootS/state", s"$rootS/out", s"$rootS/ckpt", Trigger.ProcessingTime(0L), Some(W))
    // the open-loop generator: file i is due at t0 + due(i), whatever the
    // stream is doing; lateness is recorded, never compensated
    val t0 = System.currentTimeMillis() + 200L
    val written = new Array[Long](plan.files.size)
    val gen = new Thread(() => {
      plan.files.zipWithIndex.foreach { case (f, i) =>
        val due = t0 + plan.dueMs(i)
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val t = tmp.resolve(f"f$i%05d.json")
        Files.write(t, f.render.getBytes(UTF_8))
        Files.move(t, in.resolve(f"f$i%05d.json"), StandardCopyOption.ATOMIC_MOVE)
        written(i) = System.currentTimeMillis()
      }
    }, "perfbench-generator")
    gen.setDaemon(true)
    val streamed = ctx.op("continuous-ingest") {
      gen.start()
      gen.join()
      q.processAllAvailable()
      q.stop()
      q.exception.foreach(e => throw e)
    }
    if (q.isActive) q.stop()
    val genLateMs = plan.files.indices.map(i => (written(i) - (t0 + plan.dueMs(i))).toDouble)
    val phase2Start = t0 + plan.dueMs(plan.phase1Files)
    val end = t0 + plan.dueMs.last

    // what landed: doc -> batch, and each batch's commit time
    val commits: Map[Long, Long] = {
      val dir = new java.io.File(s"$rootS/ckpt/commits")
      Option(dir.listFiles()).toSeq.flatten.filter(_.getName.forall(_.isDigit))
        .map(f => f.getName.toLong -> f.lastModified()).toMap
    }
    val landed = if (streamed.isEmpty) Array.empty[(Long, Int, Long, String)]
      else spark.read.parquet(s"$rootS/out").select(col("doc_id"), col("file_idx"), col("batch_id").cast("long"), col("text"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3)))

    // checks
    val seen = landed.groupBy(_._1).map { case (id, xs) => id -> xs.length }
    val novel = plan.docs.filter(_.kind != ReArrival)
    val dupIds = plan.docs.filter(_.kind == ReArrival).map(_.id).toSet
    ctx.check("novel_docs_published", novel.count(d => seen.contains(d.id)), novel.size)
    ctx.check("docs_published_twice", seen.count(_._2 > 1), 0)
    val leaked = seen.keySet.count(dupIds)
    ctx.check("rearrivals_published", leaked, 0)
    val byId = landed.map(d => d._1 -> d._4).toMap
    val unscrubbed = plan.docs.filter(_.kind == Quoting)
      .count(d => byId.get(d.id).exists(_.contains(d.quote)))
    ctx.check("quoted_passages_unscrubbed", unscrubbed, 0)

    // latency: due time of a doc's file -> commit of its batch (phase 1)
    val fileBatch = landed.map(d => d._2 -> d._3).toMap
    val lat = landed.filter(_._2 < plan.phase1Files).flatMap { case (_, f, b, _) =>
      commits.get(b).map(c => (c - (t0 + plan.dueMs(f))).toDouble)
    }.toSeq
    // saturated throughput: docs of batches committed inside phase 2,
    // counted between the first and the last such commit
    val batchFiles = fileBatch.groupBy(_._2).map { case (b, fs) => b -> fs.size }
    val inPhase2 = commits.toSeq.filter { case (_, c) => c >= phase2Start && c <= end }.sortBy(_._2)
    val satDocsPerS =
      if (inPhase2.size < 2) Double.NaN
      else inPhase2.tail.map(b => batchFiles.getOrElse(b._1, 0)).sum.toDouble * size.docsPerFile /
        ((inPhase2.last._2 - inPhase2.head._2) / 1000.0)
    val p50 = Stats.median(lat)
    val tail = Stats.tail(lat)
    val dupRecall = if (dupIds.isEmpty) Double.NaN else 1.0 - leaked.toDouble / dupIds.size

    val named = Seq(
      M("latency_p50_ms", p50, "ms"),
      M("saturated_docs_per_s", satDocsPerS, "docs/s"),
      M("latency_samples", lat.size.toDouble, "count"),
      M("saturated_batches", inPhase2.size.toDouble, "count"),
      M("dedup.dup_recall", dupRecall, "ratio"),
      M("streaming.gen_late_ms_max", genLateMs.max, "ms")) ++
      tail.toSeq.flatMap { case (v, p, n) => Seq(M("latency_tail_ms", v, "ms"),
        M("latency_tail_percentile", p, "%"), M("latency_tail_n", n.toDouble, "count")) }

    val (layers, detail) = ctx.tracer.fold((Seq.empty[M], Seq.empty[M])) { t =>
      t.settle()
      val ps = t.progressEvents.filter(_.numInputRows > 0)
      def startMs(p: org.apache.spark.sql.streaming.StreamingQueryProgress) =
        java.time.Instant.parse(p.timestamp).toEpochMilli
      def phase(k: String) = Stats.median(ps.map(p =>
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
      val windows = ps.map(p => (startMs(p), startMs(p) + p.durationMs.get("triggerExecution").longValue))
      val committedFilesBefore = (b: Long) => batchFiles.filter(_._1 < b).values.sum
      val backlog = ps.map { p =>
        val s = startMs(p)
        written.count(w => w > 0 && w <= s) - committedFilesBefore(p.batchId)
      }
      val stateBytes = Tracer.bytesUnder(s"$rootS/state/fp")
      val layers = t.perOp(windows) :+ M("state.files",
        (Tracer.filesUnder(s"$rootS/state") + Tracer.filesUnder(s"$rootS/ckpt")).toDouble, "count")
      val detail = Seq(
        M("streaming.batches", ps.size.toDouble, "count"),
        M("streaming.rows_per_batch_p50", Stats.median(ps.map(_.numInputRows.toDouble)), "rows"),
        M("streaming.trigger_ms_p50", phase("triggerExecution"), "ms"),
        M("streaming.add_batch_ms_p50", phase("addBatch"), "ms"),
        M("streaming.planning_ms_p50", phase("queryPlanning"), "ms"),
        M("streaming.latest_offset_ms_p50", phase("latestOffset"), "ms"),
        M("streaming.wal_commit_ms_p50", phase("walCommit"), "ms"),
        M("streaming.commit_offsets_ms_p50", phase("commitOffsets"), "ms"),
        M("streaming.backlog_files_max", if (backlog.isEmpty) 0.0 else backlog.max.toDouble, "count"),
        M("dedup.store_bytes_per_doc", stateBytes / math.max(1.0, landed.length.toDouble), "bytes"),
        M("dedup.store_files", Tracer.filesUnder(s"$rootS/state/fp").toDouble, "count")) ++
        textProbe(ctx)
      (layers, detail)
    }

    Outcome(
      e2e = Seq(M("op_p50_ms", p50, "ms"), M("items_per_s", satDocsPerS, "1/s")),
      named = named, layers = layers, detail = detail,
      inputs = Json.obj(
        "hash" -> plan.hash,
        "files" -> plan.files.size,
        "docs" -> plan.docs.size,
        "docs_per_file" -> size.docsPerFile,
        "bytes" -> plan.files.map(_.render.getBytes(UTF_8).length.toLong).sum,
        "planted_rearrivals" -> dupIds.size,
        "planted_quotes" -> plan.docs.count(_.kind == Quoting),
        "phase1_file_period_ms" -> size.phase1PeriodMs,
        "phase1_files" -> plan.phase1Files,
        "phase2_file_period_ms" -> size.phase2PeriodMs,
        "phase2_files" -> (plan.files.size - plan.phase1Files),
        "max_files_per_trigger" -> MaxFilesPerTrigger,
        "substring_window_tokens" -> W),
      samples = Json.obj("latency_ms" -> Json.Arr(lat.map(Json.Num)),
        "gen_late_ms" -> Json.Arr(genLateMs.map(Json.Num))),
      notes = Json.obj(
        "op" -> "one document, from its file's due time to its micro-batch's commit (phase 1)",
        "items" -> "documents per second through batches committed in phase 2",
        "load" -> "open loop, one generator thread"))
  }

  private def source(ctx: Ctx, dir: String) =
    Streams.fileReplay(ctx.spark, dir, docSchema, "json", MaxFilesPerTrigger)
}

object StreamCorpusWorkload {

  /** The text layer, timed directly: the substring scrub and the shard
    * packer over one batch-sized input (MaxFilesPerTrigger seeded files),
    * each forced with a count. */
  def textProbe(ctx: Ctx): Seq[M] = {
    val spark = ctx.spark
    val docs = makePlan(ctx.seed, Full, 2).files.take(MaxFilesPerTrigger).flatMap(_.docs)
    val sample = spark.createDataFrame(java.util.List.of(
      docs.map(d => org.apache.spark.sql.Row(d.id, d.file, d.text)): _*), docSchema).cache()
    sample.count()
    val noGrams = spark.emptyDataFrame.select(lit(0L).as("h")).limit(0)
    val (_, scrubS) = ctx.timeS(SubstringDedup.cleanIncremental(sample, "doc_id", "text",
      noGrams, W).count())
    val (_, packS) = ctx.timeS(ShardPack.packByBudget(
      sample.withColumn("w", length(col("text")).cast("long")), "doc_id", "w", Budget).count())
    sample.unpersist()
    Seq(M("text.substring_scrub_ms", scrubS * 1000, "ms"),
      M("text.shard_pack_ms", packS * 1000, "ms"),
      M("text.probe_docs", docs.size.toDouble, "count"))
  }

  final case class Size(docsPerFile: Int, phase1PeriodMs: Long, phase2PeriodMs: Long,
                        minTokens: Int, maxTokens: Int)
  val Full = Size(docsPerFile = 20, phase1PeriodMs = 1000L, phase2PeriodMs = 100L,
    minTokens = 40, maxTokens = 120)
  val Tiny = Size(docsPerFile = 5, phase1PeriodMs = 400L, phase2PeriodMs = 100L,
    minTokens = 30, maxTokens = 60)
  val MaxFilesPerTrigger = 8
  /** Substring-scrub window (tokens) and quoted passage length. */
  val W = 16
  val QuoteTokens = 24
  val Budget = 20000L
  val Vocabulary = 4096

  sealed trait Kind
  case object Plain extends Kind
  case object ReArrival extends Kind
  case object Quoting extends Kind

  final case class Doc(id: Long, file: Int, text: String, kind: Kind, quote: String = "")
  final case class DocFile(docs: Seq[Doc]) {
    lazy val render: String = docs.map(d =>
      s"""{"doc_id":${d.id},"file_idx":${d.file},"text":${Json.quote(d.text)}}""")
      .mkString("", "\n", "\n")
  }
  final case class Plan(files: Seq[DocFile], dueMs: IndexedSeq[Long], phase1Files: Int,
                        hash: String) {
    def docs: Seq[Doc] = files.flatMap(_.docs)
  }

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("file_idx", IntegerType),
    StructField("text", StringType)))

  /** The seeded arrival plan: half the run under capacity, half over.
    * One doc in ten re-sends an earlier plain doc verbatim; one in ten
    * quotes a passage of an earlier plain doc inside novel text. */
  def makePlan(seed: Long, s: Size, seconds: Int): Plan = {
    val rnd = new scala.util.Random(seed)
    val words = IndexedSeq.tabulate(Vocabulary) { i =>
      val r = new scala.util.Random(seed * 31 + i)
      (1 to 3 + r.nextInt(6)).map(_ => ('a' + r.nextInt(26)).toChar).mkString + i.toString
    }
    def tokens(n: Int) = IndexedSeq.fill(n)(words(rnd.nextInt(Vocabulary)))
    val halfMs = seconds * 500L
    val n1 = math.max(2, (halfMs / s.phase1PeriodMs).toInt)
    val n2 = math.max(2, (halfMs / s.phase2PeriodMs).toInt)
    val due = (0 until n1).map(_ * s.phase1PeriodMs) ++
      (0 until n2).map(i => n1 * s.phase1PeriodMs + i * s.phase2PeriodMs)
    val plain = mutable.ArrayBuffer.empty[Doc]
    var id = 0L
    val files = (0 until n1 + n2).map { f =>
      DocFile((0 until s.docsPerFile).map { _ =>
        id += 1
        val roll = rnd.nextDouble()
        if (roll < 0.1 && plain.nonEmpty) {
          Doc(id, f, plain(rnd.nextInt(plain.size)).text, ReArrival)
        } else if (roll < 0.2 && plain.nonEmpty) {
          val src = plain(rnd.nextInt(plain.size)).text.split(' ')
          val at = rnd.nextInt(src.length - QuoteTokens + 1)
          val quote = src.slice(at, at + QuoteTokens).mkString(" ")
          val body = tokens(s.minTokens + rnd.nextInt(s.maxTokens - s.minTokens))
          val cut = rnd.nextInt(body.size + 1)
          Doc(id, f, (body.take(cut) ++ Seq(quote) ++ body.drop(cut)).mkString(" "),
            Quoting, quote)
        } else {
          val d = Doc(id, f, tokens(s.minTokens + rnd.nextInt(s.maxTokens - s.minTokens))
            .mkString(" "), Plain)
          plain += d
          d
        }
      })
    }
    val digest = java.security.MessageDigest.getInstance("SHA-256")
    files.zip(due).foreach { case (f, d) => digest.update(s"$d;".getBytes(UTF_8))
      digest.update(f.render.getBytes(UTF_8)) }
    Plan(files, due, n1, digest.digest().map("%02x".format(_)).mkString.take(16))
  }
}
