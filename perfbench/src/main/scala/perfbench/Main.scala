package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, size}

import graft.spark.TableIO

/** End-to-end benchmark of the production extraction path: every job is one
  * `TableIO.runResumable` call (two, for a workload that is stopped and
  * resumed) into a fresh warehouse over a seeded pages table, in one
  * `local[nproc]` session. Prints diagnostics first and, as the last line
  * of standard output, one JSON object with the run's metrics.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <scratch dir> --out <trace dir>
  * }}}
  */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: Path, out: Path)

object Main {
  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"--$k required"))
    val args = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")), Paths.get(need("out")))
    val code =
      try { println(new Bench(args, Workloads.byName(args.workload)).run()); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }
}

/** Everything one job left behind that a metric needs. */
final case class JobResult(
    urls: Int,
    wallS: Double,
    resumeS: Double,
    cpuS: Double,
    warehouseBytes: Long,
    batches: Int,
    mismatched: Int,
    statusCounts: Map[String, Long],
    stealS: Double,
    load1: Double,
    gcS: Double,
    heapPeakMb: Double,
    taskFailures: Int,
    stages: Seq[StageRec],
    startMs: Long,
    endMs: Long) {
  def docsPerS: Double = urls / wallS
}

final class Bench(args: Args, wl: Workload) {
  import Bench._

  private val cores = Runtime.getRuntime.availableProcessors
  private val listener = new StageListener
  private val log = System.err
  private var jobCounter = 0

  def run(): String = {
    Files.createDirectories(args.work)
    val tSession = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${wl.name}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // graft.spark.Main's session settings.
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("spark-warehouse").toString)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.log.level", "WARN")
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("WARN")
      spark.sparkContext.addSparkListener(listener)
      val sessionS = secondsSince(tSession)
      runIn(spark, sessionS)
    } finally spark.stop()
  }

  private def runIn(spark: SparkSession, sessionS: Double): String = {
    val specs = (0L until wl.nUrls).map(i => wl.spec(args.seed, i))
    val expected = specs.iterator.map(s => s.url -> s.expected).toMap

    // Set-up: corpus generation is repeated and its median kept; the last
    // copy is the one the jobs read.
    val gens = (0 until GenReps).map(r => writeCorpus(spark, args.work.resolve(s"pages-$r")))
    val pagesPath = args.work.resolve(s"pages-${GenReps - 1}").toString
    gens.init.indices.foreach(r => TableIO.deleteRecursively(args.work.resolve(s"pages-$r").toFile))
    val corpus = gens.last
    // Untimed warm-up, part of set-up: kernel passes over the corpus, then
    // whole jobs, so the JIT has compiled the kernel, the writer and the
    // planner before timing starts.
    val tPasses = System.nanoTime()
    spark.sparkContext.setJobDescription("perfbench warm-up")
    for (_ <- 0 until WarmKernelPasses) {
      import spark.implicits._
      spark.read.parquet(pagesPath).select("html").as[Array[Byte]]
        .map(p => graft.Extract(p).status).write.format("noop").mode("overwrite").save()
    }
    val passesS = secondsSince(tPasses)
    val warm = (0 until wl.warmJobs).map(_ => runJob(spark, pagesPath, expected, detailed = false))
    val setupS = sessionS + median(gens.map(_.seconds)) + passesS + warm.map(_.wallS).sum
    log.println(f"setup: session $sessionS%.3f s, corpus ${gens.map(g => f"${g.seconds}%.3f").mkString("/")} s, " +
      f"kernel passes $passesS%.3f s, warm-up jobs ${warm.map(j => f"${j.wallS}%.3f").mkString("/")} s")

    val tLoop = System.nanoTime()
    val jobs = mutable.ArrayBuffer.empty[(JobResult, Boolean)]
    while (jobs.length < MinJobs || secondsSince(tLoop) < args.seconds) {
      // The traced run alternates listener detail on and off, so the cost
      // of tracing is measured against untraced jobs of the same run.
      val detailed = args.trace && jobs.length % 2 == 0
      val j = runJob(spark, pagesPath, expected, detailed)
      log.println(f"job ${jobs.length}%2d: ${j.docsPerS}%.1f docs/s, wall ${j.wallS}%.3f s, " +
        f"cpu ${j.cpuS}%.3f s, steal ${j.stealS}%.2f s, load1 ${j.load1}%.2f, batches ${j.batches}, " +
        f"mismatched ${j.mismatched}" + (if (detailed) ", traced" else ""))
      jobs += ((j, detailed))
    }
    val timed = jobs.map(_._1).toSeq
    val attempted = timed.length.toLong * wl.nUrls
    val failed = timed.map(_.mismatched.toLong).sum

    val sampleN = math.min(wl.nUrls, if (args.trace) KernelSampleTraced else KernelSample)
    val sample = specs.take(sampleN).map { s =>
      s.captures.find(_.ts == s.expected.ts).get.build()
    }
    val probe = KernelProbe.run(sample, if (args.trace) KernelReps else 1, args.trace)
    val props = properties(specs, corpus, probe, timed.head.batches)
    println("properties " + json(props))

    val docsPerS = timed.map(_.docsPerS)
    println(f"summary workload=${wl.name} seed=${args.seed} jobs=${timed.length} docs_per_job=${wl.nUrls} " +
      f"docs_per_s_median=${median(docsPerS)}%.1f failed_frac=${failed.toDouble / attempted}%.6f " +
      f"steal_s_total=${timed.map(_.stealS).sum}%.2f")

    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) Seq(
        ("docs_per_s", median(docsPerS), "1/s"),
        ("core_s_per_kdoc", median(timed.map(j => j.cpuS / (wl.nUrls / 1000.0))), "s"),
        ("warehouse_mb_per_kdoc", median(timed.map(j => j.warehouseBytes / 1e6 / (wl.nUrls / 1000.0))), "MB"),
        ("setup_s", setupS, "s"))
      else traceMetrics(spark, pagesPath, expected, jobs.toSeq, probe)

    val correct = failed == 0
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{""" +
      metrics.map { case (k, v, u) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString(",") + "}}"
  }

  private final case class Corpus(seconds: Double, rows: Long, pdfRows: Long, payloadBytes: Long)

  private def writeCorpus(spark: SparkSession, path: Path): Corpus = {
    import spark.implicits._
    val sc = spark.sparkContext
    val rows = sc.longAccumulator
    val pdfRows = sc.longAccumulator
    val bytes = sc.longAccumulator
    val (w, seed) = (wl, args.seed)
    val t0 = System.nanoTime()
    sc.setJobDescription("perfbench corpus")
    spark.range(0L, wl.nUrls.toLong, 1L, cores).as[Long]
      .mapPartitions(_.flatMap(i => w.rows(seed, i)).map { r =>
        rows.add(1); bytes.add(r.html.length)
        if (graft.Extract.isPdf(r.html)) pdfRows.add(1)
        r
      })
      .write.parquet(path.toString)
    Corpus(secondsSince(t0), rows.value, pdfRows.value, bytes.value)
  }

  /** One job: a fresh warehouse, the `runResumable` call(s), correctness
    * check against the expected rows, then the warehouse is deleted.
    */
  private def runJob(spark: SparkSession, pagesPath: String, expected: Map[String, Expected],
                     detailed: Boolean): JobResult = {
    val sc = spark.sparkContext
    val id = jobCounter
    jobCounter += 1
    val wh = args.work.resolve(s"wh-$id").toString
    listener.detailed = detailed
    val host0 = Host.sample()
    val gc0 = Host.gcMs()
    Host.resetHeapPeak()
    sc.setJobDescription(s"perfbench job $id")
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var resumeS = 0.0
    val snap = wl.failAfterBatches match {
      case None => TableIO.runResumable(spark, spark.read.parquet(pagesPath), wh, s"job$id",
        numBuckets = wl.numBuckets, batchBuckets = wl.batchBuckets)
      case Some(k) =>
        try {
          TableIO.runResumable(spark, spark.read.parquet(pagesPath), wh, s"job$id",
            numBuckets = wl.numBuckets, batchBuckets = wl.batchBuckets, failAfterBatches = k)
          throw new IllegalStateException(s"job $id was not stopped after $k batches")
        } catch {
          case e: RuntimeException if e.getMessage.startsWith("injected failure") => ()
        }
        val tr = System.nanoTime()
        val s = TableIO.runResumable(spark, spark.read.parquet(pagesPath), wh, s"job$id-resume",
          numBuckets = wl.numBuckets, batchBuckets = wl.batchBuckets)
        resumeS = secondsSince(tr)
        s
    }
    val wallS = secondsSince(t0)
    val endMs = System.currentTimeMillis()
    val host1 = Host.sample()
    val gcS = (Host.gcMs() - gc0) / 1e3
    val heapPeakMb = Host.heapPeakBytes() / 1e6
    sc.setJobDescription("perfbench verify")
    ListenerDrain(sc)
    listener.detailed = false

    val (mismatched, statusCounts) = verify(spark, wh, expected)
    val whBytes = Seq("data", "lineage", "metadata").map(d => treeBytes(Paths.get(wh, d))).sum
    // A traced job's warehouse is kept until the next one, for the no-op
    // resume that follows the timed loop.
    if (detailed) {
      lastWarehouse.foreach(w => TableIO.deleteRecursively(new java.io.File(w)))
      lastWarehouse = Some(wh)
    } else TableIO.deleteRecursively(new java.io.File(wh))
    JobResult(expected.size, wallS, resumeS, listener.cpuSeconds(id), whBytes, snap.version, mismatched,
      statusCounts, host1.stealS - host0.stealS, host1.load1, gcS, heapPeakMb,
      listener.taskFailures(id), listener.stagesOf(id), startMs, endMs)
  }

  /** Warehouse of the last traced job, kept for the no-op resume. */
  private var lastWarehouse: Option[String] = None

  /** Every committed row against the row expected by construction: exactly
    * one row per url, the latest capture, and the expected status, text
    * bytes and span count. Returns the number of urls that fail any check.
    */
  private def verify(spark: SparkSession, wh: String,
                     expected: Map[String, Expected]): (Int, Map[String, Long]) = {
    val rows = TableIO.readData(spark, wh).map(
      _.select(col("url"), col("warc_ts"), col("status"), col("text_bytes"), size(col("spans")))
        .collect()).getOrElse(Array.empty)
    val seen = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    val bad = mutable.LinkedHashMap.empty[String, String]
    for (r <- rows) {
      val url = r.getString(0)
      seen(url) += 1
      expected.get(url) match {
        case None => bad(url) = "not in the input"
        case Some(e) =>
          val ts = r.getTimestamp(1).getTime
          val text = r.getAs[Array[Byte]](3)
          if (ts != e.ts) bad(url) = s"warc_ts $ts, latest capture is ${e.ts}"
          else if (r.getString(2) != e.status) bad(url) = s"status ${r.getString(2)}, expected ${e.status}"
          else if (!java.util.Arrays.equals(text, e.text))
            bad(url) = s"text ${show(text)}, expected ${show(e.text)}"
          else if (r.getInt(4) != e.nSpans) bad(url) = s"${r.getInt(4)} spans, expected ${e.nSpans}"
      }
    }
    for ((url, n) <- seen if n > 1) bad(url) = s"$n rows"
    for (url <- expected.keys if !seen.contains(url)) bad(url) = "missing"
    for ((url, why) <- bad.take(MaxReported)) log.println(s"MISMATCH $url: $why")
    (bad.size, rows.groupBy(_.getString(2)).map { case (k, v) => k -> v.length.toLong })
  }

  private def properties(specs: Seq[UrlSpec], corpus: Corpus, probe: KernelProbe.Result,
                         batches: Int): Seq[(String, Any)] = {
    val perFamily = specs.groupBy(_.family).map { case (k, v) => k -> v.length }.toSeq.sortBy(_._1)
    Seq(
      "workload" -> wl.name,
      "urls" -> wl.nUrls,
      "rows" -> corpus.rows,
      "singleton_url_share" -> specs.count(_.captures.length == 1) / specs.length.toDouble,
      "pdf_share" -> corpus.pdfRows / corpus.rows.toDouble,
      "mean_payload_bytes" -> corpus.payloadBytes / corpus.rows.toDouble,
      "pages_per_doc" -> (if (probe.pdfDocs == 0) 0.0 else probe.pages / probe.pdfDocs.toDouble),
      "content_ops_per_doc" -> (if (probe.pdfDocs == 0) 0.0 else probe.contentOps / probe.pdfDocs.toDouble),
      "sampled_docs" -> probe.docs.length,
      "batches" -> batches,
      "buckets" -> wl.numBuckets,
      "batch_buckets" -> wl.batchBuckets,
      "families" -> perFamily)
  }

  /** The traced run's per-layer metrics: stage metrics as the median over
    * traced jobs, kernel layers from the probe, the 1-task scaling job and
    * the no-op resume.
    */
  private def traceMetrics(spark: SparkSession, pagesPath: String, expected: Map[String, Expected],
                           jobs: Seq[(JobResult, Boolean)],
                           probe: KernelProbe.Result): Seq[(String, Double, String)] = {
    val traced = jobs.filter(_._2).map(_._1)
    val untraced = jobs.filterNot(_._2).map(_._1)
    def med(f: JobResult => Double): Double = median(traced.map(f))
    def sumOf(j: JobResult, p: StageRec => Boolean, f: StageRec => Double): Double =
      j.stages.filter(p).map(f).sum
    def unionS(j: JobResult): Double = {
      val iv = j.stages.map(s => (s.submittedMs, s.completedMs)).sortBy(_._1)
      var total = 0L
      var (a, b) = (Long.MinValue, Long.MinValue)
      for ((s, e) <- iv) {
        if (s > b) { if (b > a) total += b - a; a = s; b = e } else b = math.max(b, e)
      }
      if (b > a) total += b - a
      total / 1e3
    }
    def driverS(j: JobResult): Double = math.max(0.0, j.wallS - unionS(j))
    def skew(j: JobResult): Double = {
      val per = j.stages.filter(_.isKernel).map { s =>
        val m = median(s.taskRunMs.map(_.toDouble).toSeq)
        if (m > 0) s.taskRunMs.max / m else 1.0
      }
      if (per.isEmpty) 0.0 else per.max
    }
    val reconcile = traced.map(j => (j.stages.map(_.wallS).sum + driverS(j)) / j.wallS)
    val tracedDps = median(traced.map(_.docsPerS))
    val untracedDps = median(untraced.map(_.docsPerS))

    // No-op resume: every bucket of the last traced job's warehouse is
    // committed, so runResumable only reads the manifest and plans.
    val wh = lastWarehouse.get
    val noopS = median((0 until 3).map { _ =>
      val t0 = System.nanoTime()
      TableIO.runResumable(spark, spark.read.parquet(pagesPath), wh, "noop",
        numBuckets = wl.numBuckets, batchBuckets = wl.batchBuckets)
      secondsSince(t0)
    })
    TableIO.deleteRecursively(new java.io.File(wh))

    // The same job with every stage in one task.
    val conf = Seq("spark.sql.shuffle.partitions" -> "1", "spark.sql.files.minPartitionNum" -> "1",
      "spark.sql.files.maxPartitionBytes" -> (1L << 40).toString)
    val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    val single =
      try runJob(spark, pagesPath, expected, detailed = false)
      finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    val scaling = untracedDps / (cores * single.docsPerS)

    writeTrace(traced, probe)

    val mb = 1e6
    val stageMetrics = Seq(
      ("pipeline.dedup_wall_s", med(j => sumOf(j, _.isDedup, _.wallS)), "s"),
      ("pipeline.dedup_cpu_s", med(j => sumOf(j, _.isDedup, _.cpuNs / 1e9)), "s"),
      ("pipeline.dedup_shuffle_mb", med(j => sumOf(j, _.isDedup, _.shuffleWriteBytes / mb)), "MB"),
      ("pipeline.shuffle_fetch_wait_s", med(j => sumOf(j, _ => true, _.fetchWaitMs / 1e3)), "s"),
      ("pipeline.kernel_stage_wall_s", med(j => sumOf(j, _.isKernel, _.wallS)), "s"),
      ("pipeline.kernel_stage_cpu_s", med(j => sumOf(j, _.isKernel, _.cpuNs / 1e9)), "s"),
      ("pipeline.kernel_stage_gc_s", med(j => sumOf(j, _.isKernel, _.gcMs / 1e3)), "s"),
      ("pipeline.kernel_task_skew", med(skew), "ratio"),
      ("pipeline.other_stage_wall_s", med(j => sumOf(j, s => !s.isKernel && !s.isDedup, _.wallS)), "s"),
      ("tableio.batches", med(_.batches.toDouble), "count"),
      ("tableio.persist_read_mb", med(j => sumOf(j, !_.isDedup, _.inputBytes / mb)), "MB"),
      ("tableio.driver_s", med(driverS), "s"),
      ("tableio.resume_s", med(_.resumeS), "s"),
      ("tableio.noop_resume_s", noopS, "s"),
      ("tableio.write_mb", med(j => sumOf(j, _ => true, _.outputBytes / mb)), "MB"),
      ("spark.task_failures", med(_.taskFailures.toDouble), "count"),
      ("spark.spill_mb", med(j => sumOf(j, _ => true, _.spillBytes / mb)), "MB"),
      ("spark.stages", med(_.stages.length.toDouble), "count"),
      ("jvm.gc_s", med(_.gcS), "s"),
      ("jvm.heap_peak_mb", med(_.heapPeakMb), "MB"),
      ("host.steal_s", med(_.stealS), "s"),
      ("trace.stage_wall_ratio", median(reconcile), "ratio"),
      ("trace.docs_per_s_traced", tracedDps, "1/s"),
      ("trace.docs_per_s_untraced", untracedDps, "1/s"),
      ("trace.overhead_ratio", untracedDps / tracedDps, "ratio"),
      ("scaling_eff_1_to_n", scaling, "ratio"))

    val kernelMetrics = KernelProbe.Layers.flatMap { case (name, f) =>
      val xs = probe.docs.map(f).filterNot(_.isNaN)
      val base = name.stripSuffix(".us")
      Seq((s"$base.us_p50", percentile(xs, 0.50), "us"),
        (s"$base.us_p99", percentile(xs, 0.99), "us"),
        (s"$base.busy_s", xs.map(math.max(0.0, _)).sum / 1e6, "s"))
    }
    val layerSum = KernelProbe.Layers.tail.map { case (_, f) =>
      probe.docs.map(f).filterNot(_.isNaN).map(math.max(0.0, _)).sum
    }.sum
    val selfSumRatio = layerSum / probe.docs.map(_.extract).sum
    val n = probe.docs.length.toDouble
    val pdfN = math.max(1, probe.pdfDocs).toDouble
    val statuses = Seq("ok", "error", "empty", "skipped_oversize", "timeout")
    val counts = Seq(
      ("kernel.self_sum_ratio", selfSumRatio, "ratio"),
      ("kernel.sampled_docs", n, "count"),
      ("pdf.decoded_bytes_per_doc", probe.decodedBytes / pdfN, "bytes"),
      ("pdf.pages_per_doc", probe.pages / pdfN, "count"),
      ("pdf.content_ops_per_doc", probe.contentOps / pdfN, "count"),
      ("extract.ok_ratio", probe.okDocs / n, "ratio")) ++
      statuses.map(s => (s"rows.$s", med(_.statusCounts.getOrElse(s, 0L).toDouble), "count"))

    val bad = reconcile.filter(r => math.abs(r - 1) > 0.10)
    log.println(s"check stage spans + driver_s vs job wall (within 10%): " +
      (if (bad.isEmpty) "ok" else s"FAILED on ${bad.length} of ${reconcile.length} jobs: ${bad.mkString(", ")}"))
    log.println(f"check kernel self times vs extract.us (within 10%%): " +
      f"${if (math.abs(selfSumRatio - 1) <= 0.10) "ok" else "FAILED"} ($selfSumRatio%.4f)")
    log.println(f"tracing overhead: traced $tracedDps%.1f docs/s vs untraced $untracedDps%.1f docs/s")
    stageMetrics ++ kernelMetrics ++ counts
  }

  /** Spans are kept in memory and written once: job -> stage spans from the
    * listener, document -> kernel-call spans from the probe.
    */
  private def writeTrace(traced: Seq[JobResult], probe: KernelProbe.Result): Unit = {
    Files.createDirectories(args.out)
    val f = args.out.resolve(s"trace-${wl.name}-seed${args.seed}.jsonl")
    val lines = mutable.ArrayBuffer.empty[String]
    var next = 0
    for (j <- traced) {
      val jobId = next; next += 1
      lines += json(Seq("id" -> jobId, "parent" -> -1, "name" -> "job", "start_ms" -> j.startMs,
        "end_ms" -> j.endMs, "batches" -> j.batches, "steal_s" -> j.stealS))
      for (s <- j.stages) {
        lines += json(Seq("id" -> next, "parent" -> jobId,
          "name" -> (if (s.isDedup) "stage.dedup" else if (s.isKernel) "stage.kernel" else "stage.other"),
          "start_ms" -> s.submittedMs, "end_ms" -> s.completedMs, "stage" -> s.stageId,
          "tasks" -> s.taskRunMs.length, "cpu_s" -> s.cpuNs / 1e9, "call_site" -> s.name))
        next += 1
      }
    }
    val docSpan = mutable.HashMap.empty[Int, Int]
    for (sp <- probe.spans) {
      val parent = docSpan.getOrElseUpdate(sp.doc, {
        val id = next; next += 1
        lines += json(Seq("id" -> id, "parent" -> -1, "name" -> "doc", "doc" -> sp.doc))
        id
      })
      lines += json(Seq("id" -> next, "parent" -> parent, "name" -> sp.name,
        "start_ns" -> sp.startNs, "end_ns" -> sp.endNs))
      next += 1
    }
    Files.write(f, (lines.mkString("\n") + "\n").getBytes(UTF_8))
    log.println(s"trace: ${lines.length} spans written to $f")
  }
}

object Bench {
  val GenReps = 3
  val WarmKernelPasses = 3
  val MinJobs = 3
  val KernelSample = 200
  val KernelSampleTraced = 1000
  val KernelReps = 3
  val MaxReported = 5

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Nearest-rank percentile; 0 for an empty sample. */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (q == 0.5 && s.length % 2 == 0) (s(s.length / 2 - 1) + s(s.length / 2)) / 2
      else s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }

  def show(b: Array[Byte]): String = {
    val s = new String(b, UTF_8)
    "\"" + (if (s.length > 60) s.take(60) + "..." else s).replace("\n", "\\n") + "\""
  }

  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString

  def json(kv: Seq[(String, Any)]): String = kv.map { case (k, v) =>
    "\"" + k + "\":" + jsonValue(v)
  }.mkString("{", ",", "}")

  private def jsonValue(v: Any): String = v match {
    case d: Double => num(d)
    case n @ (_: Int | _: Long) => n.toString
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case kvs: Seq[_] => json(kvs.map { case (k: String, x) => k -> x })
    case b: Boolean => b.toString
    case other => "\"" + other + "\""
  }
}

/** Host and JVM noise that can explain a slow job. */
object Host {
  final case class Sample(stealS: Double, load1: Double)

  /** Cumulative steal time of all CPUs (/proc/stat, USER_HZ = 100) and the
    * 1-minute load average; zeros where /proc is not available.
    */
  def sample(): Sample = {
    def read(p: String): Option[String] =
      try Some(new String(Files.readAllBytes(Paths.get(p)), UTF_8)) catch { case _: Exception => None }
    val steal = read("/proc/stat").flatMap(_.linesIterator.find(_.startsWith("cpu ")))
      .map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toDouble / 100).getOrElse(0.0)
    val load = read("/proc/loadavg").map(_.trim.split("\\s+")(0).toDouble).getOrElse(0.0)
    Sample(steal, load)
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakBytes(): Long = heapPools.map(_.getPeakUsage.getUsed).sum
}
