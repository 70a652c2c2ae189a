package graft

import org.apache.spark.sql.SparkSession

import graft.spark.{PagesGen, Pipeline}

/** Benchmark main (driver contract): headline queries + extraction
  * throughput, plus the two-parallelism scaling evidence required by the
  * north rule. No real cluster exists in the sandbox, so the SAME job runs
  * at two parallelism levels over the SAME input; efficiency =
  * throughput(4N) / (4 * throughput(N)).
  *
  * Parallelism is controlled by partition count inside ONE warm local[32]
  * session (8 partitions = 8 concurrent tasks = the N-core run; 32
  * partitions = the 4N run). Separate local[8]/local[32] sessions in a
  * fresh JVM measure mostly JIT warmup and session churn — partition-limited
  * concurrency in a warmed session isolates the actual compute scaling.
  *
  * NOISE HARDENING (round 3): this box is a shared VM with heavy neighbor
  * steal (observed identical reps varying 10-30x, /proc/stat steal jumps).
  * Three defenses, in addition to the min-of-reps estimator:
  *  1. the scaling pair (N and 4N task levels) runs with the WHOLE JVM
  *     pinned to CPUs 0-7 (`taskset -a -cp`), so the 4N level cannot borrow
  *     burst capacity from the other 24 vCPUs and neighbor load on those
  *     vCPUs cannot touch the measurement;
  *  2. every rep measures the steal time accrued on its CPU set during the
  *     rep (per-cpu steal jiffies from /proc/stat); a rep whose stolen
  *     cpu-seconds exceed 5% of (wall x active-parallelism) is marked dirty;
  *  3. reps are interleaved round-robin across levels and ADAPTIVE: rounds
  *     continue until each level has >= 4 clean reps (or a bounded cap), so
  *     a noisy window buys more samples instead of poisoning the estimate.
  * The reported time per level is the MINIMUM of its clean reps (host steal
  * only ever ADDS time); if a level somehow has zero clean reps after the
  * cap, the minimum over all reps is used.
  *
  * Prints ONE JSON line (driver contract shape + extras):
  * {"metric":"total","value":<sec>,"unit":"sec","queries":{...},"sf":...,
  *  "extraction":{...},"scaling":{...}}
  */
object Bench {

  private def timed[T](f: => T): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  // ------------------------------------------------------------- affinity

  private def selfPid: Long = ProcessHandle.current().pid()

  /** Pin ALL threads of this JVM to the given cpu list via taskset -a.
    * Returns false (and leaves affinity unchanged) if taskset is missing or
    * not permitted — the bench still runs, just without the pin defense.
    */
  private def setAffinity(cpuList: String): Boolean =
    try {
      val pb = new ProcessBuilder("taskset", "-a", "-cp", cpuList, selfPid.toString)
      pb.redirectOutput(ProcessBuilder.Redirect.DISCARD)
      pb.redirectError(ProcessBuilder.Redirect.DISCARD)
      pb.start().waitFor() == 0
    } catch { case _: Exception => false }

  // ------------------------------------------------------ steal accounting

  /** Steal seconds accrued so far on the given cpu ids (per-cpu lines of
    * /proc/stat, field 8 = steal, USER_HZ = 100). Empty set = the aggregate
    * "cpu " line.
    */
  private def stealSeconds(cpus: Set[Int]): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        var total = 0L
        for (line <- src.getLines() if line.startsWith("cpu")) {
          val parts = line.trim.split("\\s+")
          val tag = parts(0)
          val wanted =
            if (cpus.isEmpty) tag == "cpu"
            else tag.length > 3 && cpus.contains(tag.substring(3).toInt)
          if (wanted && parts.length > 8) total += parts(8).toLong
        }
        total / 100.0
      } finally src.close()
    } catch { case _: Exception => 0.0 }

  private def loadavg(): Double =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
    catch { case _: Exception => 0.0 }

  // ------------------------------------------------------------ measurement

  /** One rep: wall time + steal accrued on `cpuSet` during it.
    * `stealClean` says ONLY that hypervisor steal stayed under threshold —
    * it cannot see neighbor memory-bandwidth or frequency interference, so
    * a rep can be steal-clean yet still wall-slow; min-of-reps is the
    * defense against those (interference only ever ADDS time), and the
    * emitted `wall_outlier` flag marks reps far above the level median.
    */
  private[graft] final case class Rep(wall: Double, steal: Double, stealClean: Boolean)

  private def rep(cpuSet: Set[Int], activeTasks: Int)(f: => Unit): Rep = {
    val s0 = stealSeconds(cpuSet)
    val w = timed(f)
    val s1 = stealSeconds(cpuSet)
    val stolen = s1 - s0
    // Dirty when stolen cpu-seconds exceed 5% of the rep's active cpu-time,
    // capped at 1 cpu-second absolute: the percentage scales with the wall
    // time, and a heavily-stolen rep inflates its own allowance otherwise.
    Rep(w, stolen, stealClean = stolen < math.min(0.05 * w * activeTasks, 1.0))
  }

  /** min over steal-clean reps, else min over all (steal only ever adds
    * time; the min also discards wall-outlier reps by construction). */
  private def best(reps: Seq[Rep]): Double = {
    val clean = reps.filter(_.stealClean)
    (if (clean.nonEmpty) clean else reps).map(_.wall).min
  }

  /** `wall_outlier` per rep: wall > 2x the level's median wall, flagging
    * reps slow for reasons the steal counter cannot see (neighbor bandwidth/
    * frequency interference); such reps never win the min anyway. The
    * median is over the steal-clean reps, else over all (like `best`):
    * steal-dirty reps would drag it up and hide real outliers.
    */
  private[graft] def wallOutliers(reps: Seq[Rep]): Seq[Boolean] = {
    val clean = reps.filter(_.stealClean)
    val walls = (if (clean.nonEmpty) clean else reps).map(_.wall).sorted
    val med = if (walls.isEmpty) 0.0 else walls(walls.length / 2)
    reps.map(r => med > 0 && r.wall > 2.0 * med)
  }

  /** Minimal JSON string-escape for env-derived values in the output line. */
  private def jstr(s: String): String =
    s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def fmtReps(reps: Seq[Rep]): String =
    reps.map { r =>
      val flag = if (r.stealClean) "" else f"(steal ${r.steal}%.1f)"
      f"${r.wall}%.2f$flag"
    }.mkString(",")

  /** One extraction pass at EXACTLY k concurrent tasks: coalesce(k) caps the
    * scan partitions without a shuffle (file-layout partition counts are
    * unreliable — Spark splits/packs parquet files by size).
    */
  /** Returns (rows, okRows): the ok count guards against a corpus/fixture
    * regression turning docs into fast error rows — which would silently
    * INFLATE docs/sec while measuring nothing.
    */
  private def extractionPass(spark: SparkSession, path: String, k: Int): (Long, Long) = {
    import spark.implicits._
    val ds = Pipeline.extract(spark, spark.read.parquet(path).coalesce(k), "bench")
    // Typed Dataset fold (no RDD): count rows while forcing full extraction.
    ds.mapPartitions { it =>
      var n = 0L
      var ok = 0L
      while (it.hasNext) { n += 1; if (it.next().status == "ok") ok += 1 }
      Iterator.single((n, ok))
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // Below 4 cpus the derived levels collide (mid == hi), which would
    // overwrite timings and report a self-compared saturated efficiency.
    require(cpus >= 4, s"bench needs >= 4 cpus for distinct scaling levels, got $cpus")
    val replicas = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPLICAS", "20").toInt
    // RAM-backed scratch when available: keeps the measurement CPU-bound.
    val tmpBase = if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get("/dev/shm")))
      java.nio.file.Paths.get("/dev/shm") else java.nio.file.Paths.get("/tmp")
    val tmp = java.nio.file.Files.createTempDirectory(tmpBase, "graft-bench").toString
    // Registered BEFORE the corpus build: a failed build must not strand
    // gigabytes in RAM-backed /dev/shm (deleteRecursively null-guards a
    // concurrently-emptied dir).
    sys.addShutdownHook {
      graft.spark.TableIO.deleteRecursively(new java.io.File(tmp))
    }

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val queryTimes = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    // Parallelism levels derived from the session's core count: the
    // uncontended pair (lo -> mid = N -> 4N executor proxy) and the
    // saturation pair (mid -> hi).
    val hi = cpus
    val mid = math.max(2, cpus / 4)
    val lo = math.max(1, cpus / 16)
    // Corpus: operator-dense synthetic pages, materialized once; the
    // parallelism levels coalesce the same files at read time.
    val pages4N = s"$tmp/pages"
    queryTimes("corpus_build") = timed {
      PagesGen.pagesBench(spark, sfDir, replicas).toDF()
        .repartition(hi).write.parquet(pages4N)
    }
    // coalesce(k) can only REDUCE the scan's partition count — size the
    // file-split knobs so the scan yields >= hi partitions at ANY corpus
    // size (at small SFs the default 128MB/4MB packing collapses the scan
    // to a handful of partitions and every "level" would silently run at
    // the same width, making the efficiency numbers fiction).
    val corpusBytes = Option(new java.io.File(pages4N).listFiles())
      .map(_.filter(_.getName.endsWith(".parquet")).map(_.length()).sum).getOrElse(0L)
    spark.conf.set("spark.sql.files.openCostInBytes", (64L << 10).toString)
    spark.conf.set("spark.sql.files.maxPartitionBytes",
      math.max(1L << 20, corpusBytes / hi + 1).toString)
    val docs = spark.read.parquet(pages4N).count()
    val scanParts = spark.read.parquet(pages4N).rdd.getNumPartitions
    if (scanParts < hi)
      System.err.println(s"[bench] WARNING: scan yields $scanParts partitions < hi=$hi; " +
        "level widths will be capped by the scan")

    // Scaling FIRST (clean session; later queries leave heap/thread noise).
    // Best-effort quiesce: wait (bounded) for the 1-min loadavg to settle
    // before the measurement window opens.
    var waited = 0
    while (loadavg() > 2.0 && waited < 120) {
      System.err.println(f"[bench] waiting for load to settle (loadavg=${loadavg()}%.1f)")
      Thread.sleep(10000); waited += 10
    }

    // ---- scaling pair (lo -> mid), JVM pinned to CPUs 0-7 ----
    // Pinning BEFORE the warmups keeps JIT state consistent with the
    // measured configuration; the pin set (8 cpus) leaves the lo level far
    // under-subscribed and gives the mid level exactly its own cores —
    // the single-box proxy for executors that bring their own hardware.
    // Capture the REAL online width before pinning (availableProcessors
    // reflects sched_getaffinity, so it must be read pre-pin).
    val onlineCpus = Runtime.getRuntime.availableProcessors()
    val pinSet = (0 until math.min(8, cpus)).toSet
    val pinned = setAffinity(pinSet.toSeq.sorted.mkString(","))
    System.err.println(s"[bench] scaling pair pinned to cpus 0-${pinSet.max}: $pinned")
    val (warmRows, warmOk) = extractionPass(spark, pages4N, mid) // warmups under the pin
    extractionPass(spark, pages4N, lo)
    val okRate = if (warmRows == 0) 0.0 else warmOk.toDouble / warmRows
    if (okRate < 0.999)
      System.err.println(f"[bench] WARNING: corpus ok-rate $okRate%.4f < 0.999 — " +
        "throughput would measure error rows, not extraction")
    val measureSet = if (pinned) pinSet else Set.empty[Int]
    val repsLo = scala.collection.mutable.ArrayBuffer.empty[Rep]
    val repsMid = scala.collection.mutable.ArrayBuffer.empty[Rep]
    val targetClean = 5
    val minRounds = 6
    val maxRounds = 14
    var round = 0
    while (round < maxRounds &&
      (round < minRounds ||
        repsLo.count(_.stealClean) < targetClean || repsMid.count(_.stealClean) < targetClean)) {
      // interleaved round-robin decorrelates machine drift across levels
      repsLo += rep(measureSet, lo)(extractionPass(spark, pages4N, lo))
      repsMid += rep(measureSet, mid)(extractionPass(spark, pages4N, mid))
      round += 1
    }
    System.err.println(s"[bench] lo reps: ${fmtReps(repsLo.toSeq)}")
    System.err.println(s"[bench] mid reps: ${fmtReps(repsMid.toSeq)}")
    val tLo = best(repsLo.toSeq)
    val tMid = best(repsMid.toSeq)

    // ---- saturation level (hi) needs every core: unpin ----
    // Restore to the pre-pin online set (NOT the env cpu count — an env
    // value above the online width would make taskset fail and the hi reps
    // would silently run 8-wide). A failed unpin is surfaced in the JSON.
    val unpinned = !pinned || setAffinity(s"0-${onlineCpus - 1}")
    if (!unpinned) System.err.println("[bench] WARNING: unpin failed; hi-level reps still pinned")
    extractionPass(spark, pages4N, hi) // re-warm at full width (x2: the
    extractionPass(spark, pages4N, hi) // first unpinned pass still re-JITs)
    val repsHi = scala.collection.mutable.ArrayBuffer.empty[Rep]
    var hiRound = 0
    while (hiRound < 8 && (hiRound < 4 || repsHi.count(_.stealClean) < 3)) {
      repsHi += rep(Set.empty, hi)(extractionPass(spark, pages4N, hi))
      hiRound += 1
    }
    System.err.println(s"[bench] hi reps: ${fmtReps(repsHi.toSeq)}")
    val tHi = best(repsHi.toSeq)

    // Headline relational / ops queries (same set the driver verifies).
    val headline = Seq("q01_lineitem_agg", "q02_top_orders", "q04_latest_event",
      "q05_token_count", "q06_exact_dedup", "q09_ann_topk", "x16_minhash_groups",
      "x17_simhash", "x14_ann_lsh", "x20_multimodal_decode", "x25_minhash_pairs",
      "x27_bpe_tokens", "x28_winnow", "x29_ann_ivf", "x39_bpe_merges",
      "x40_image_decode", "x42_writer_roundtrip", "x43_pdf_images")
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val queryTimesWarm = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    for (name <- headline) SparkEntry.gates.find(_.name == name).map(_.run) match {
      case None =>
        // A renamed/missing headline query must not silently vanish from
        // the driver-contract output.
        System.err.println(s"[bench] $name missing from SparkEntry.gates")
        queryTimes(name) = -1.0
        failed += name
      case Some(fn) =>
        var ok = true
        val t = timed {
          try fn(spark, sfDir).count()
          catch { case e: Throwable =>
            ok = false
            System.err.println(s"[bench] $name failed: $e")
          }
        }
        // A failed query must not masquerade as a fast success: record -1.
        queryTimes(name) = if (ok) t else -1.0
        if (!ok) failed += name
        // Second rep: `queries` keeps the FIRST-run (cold) time, comparable
        // with the historical series; `queries_warm` records min-of-2,
        // which strips the one-time planning/JIT cost that dominates the
        // heavier queries and makes cross-round comparisons noise-robust.
        if (ok) {
          var ok2 = true
          val t2 = timed {
            try fn(spark, sfDir).count()
            catch { case e: Throwable =>
              ok2 = false
              // a cold-pass/warm-fail query (non-idempotent state) must be
              // LOUD and absent from queries_warm, not a fake warm success
              System.err.println(s"[bench] $name FAILED on warm rerun: $e")
            }
          }
          if (ok2) queryTimesWarm(name) = math.min(t, t2)
        }
    }
    queryTimes(s"extract_p$lo") = tLo
    queryTimes(s"extract_p$mid") = tMid
    queryTimes(s"extract_p$hi") = tHi

    val tpLo = docs / tLo
    val tpMid = docs / tMid
    val tpHi = docs / tHi
    // divide by the ACTUAL level ratios (lo/mid/hi are only 4x apart for
    // specific core counts)
    val eff28 = tpMid / ((mid.toDouble / lo) * tpLo)
    val eff832 = tpHi / ((hi.toDouble / mid) * tpMid)
    val total = queryTimes.values.filter(_ >= 0).sum

    val qs = queryTimes.map { case (k, v) => s""""$k":${"%.3f".formatLocal(java.util.Locale.ROOT, v)}""" }
      .mkString("{", ",", "}")
    val qsWarm = queryTimesWarm.map { case (k, v) => s""""$k":${"%.3f".formatLocal(java.util.Locale.ROOT, v)}""" }
      .mkString("{", ",", "}")
    val failedJson = failed.map(n => "\"" + n + "\"").mkString("[", ",", "]")
    def repJson(reps: Seq[Rep]): String =
      reps.zip(wallOutliers(reps)).map { case (r, outlier) =>
        s"""{"wall":${"%.3f".formatLocal(java.util.Locale.ROOT, r.wall)},"steal":${"%.3f".formatLocal(java.util.Locale.ROOT, r.steal)},"steal_clean":${r.stealClean},"wall_outlier":$outlier}"""
      }.mkString("[", ",", "]")
    val widths = Seq(lo, mid, hi).map(k => math.min(scanParts, k))
    val meta =
      s""""level_widths":[${widths.mkString(",")}],"ok_rate":${"%.4f".formatLocal(java.util.Locale.ROOT, okRate)},"pinned":$pinned,"unpinned":$unpinned,"steal_clean_reps":[${repsLo.count(_.stealClean)},${repsMid.count(_.stealClean)},${repsHi.count(_.stealClean)}],"reps_lo":${repJson(repsLo.toSeq)},"reps_mid":${repJson(repsMid.toSeq)},"reps_hi":${repJson(repsHi.toSeq)}"""
    println(
      s"""{"metric":"total","value":${"%.3f".formatLocal(java.util.Locale.ROOT, total)},"unit":"sec","queries":$qs,"queries_warm":$qsWarm,"failed":$failedJson,"sf":"${jstr(sfDir)}","extraction":{"docs":$docs,"secs":${"%.3f".formatLocal(java.util.Locale.ROOT, tHi)},"docs_per_sec":${"%.1f".formatLocal(java.util.Locale.ROOT, tpHi)},"docs_per_sec_per_core":${"%.1f".formatLocal(java.util.Locale.ROOT, tpHi / hi)}},"scaling":{"levels":[$lo,$mid,$hi],"docs_per_sec":[${"%.1f".formatLocal(java.util.Locale.ROOT, tpLo)},${"%.1f".formatLocal(java.util.Locale.ROOT, tpMid)},${"%.1f".formatLocal(java.util.Locale.ROOT, tpHi)}],"efficiency_n_to_4n":${"%.3f".formatLocal(java.util.Locale.ROOT, eff28)},"efficiency_saturated":${"%.3f".formatLocal(java.util.Locale.ROOT, eff832)},"efficiency":${"%.3f".formatLocal(java.util.Locale.ROOT, eff28)},$meta}}""")
    spark.stop()
  }
}
