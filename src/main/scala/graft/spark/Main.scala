package graft.spark

import org.apache.spark.sql.SparkSession

/** Production spark-submit entry point:
  *
  * {{{
  * spark-submit --class graft.spark.Main unidocspark.jar \
  *   --input  <pages parquet/iceberg-layout path>        \
  *   --warehouse <output warehouse path>                 \
  *   [--run-id <id>] [--buckets 4096] [--batch-buckets 64] \
  *   [--max-bytes-per-doc 67108864] [--timeout-ms 30000] \
  *   [--vacuum true]
  * }}}
  *
  * Reads the Common-Crawl-shaped pages table, runs the resumable extraction
  * job (dedup -> kernel -> snapshot-committed output + lineage), and
  * prints a one-line JSON summary. Re-running after a kill resumes from the
  * last committed snapshot. The cumulative status histogram is
  * `TableIO.readData(spark, warehouse).get.groupBy("status").count()`.
  *
  * Cluster sizing notes (100 TB scale):
  *  - buckets: choose so one bucket batch fits the cluster comfortably
  *    (e.g. 4096 buckets / 64-bucket batches over 10^12 rows);
  *  - executors: kernel is CPU-bound at ~100-250us/doc/core with payload-
  *    sized memory; 4-8 GB executors with 4 cores are ample;
  *  - spark.sql.shuffle.partitions ~ 2-4x total cores; AQE coalesces;
  *  - spark.sql.files.maxPartitionBytes 128-256 MB keeps scan tasks even.
  */
object Main {
  def main(args: Array[String]): Unit = {
    // On a real cluster spark-submit provides master/conf; defaults below
    // only apply when launched standalone.
    val spark = SparkSession.builder()
      .appName("graft-extract")
      .config(SessionConf)
      .getOrCreate()
    GraftFunctions.register(spark) // expose extract_text to SQL users too
    try println(run(spark, args))
    finally spark.stop()
  }

  /** The session settings of `main`: AQE, with partition coalescing and
    * skew splitting. Multi-batch runs read the dedup output that
    * `TableIO.runResumable` persists, and Spark keeps a cached plan's output
    * partitioning unless `canChangeCachedPlanOutputPartitioning` is set: at
    * the default 200 shuffle partitions every batch then ran 200 kernel
    * tasks and wrote a data file and a lineage row per non-empty one.
    */
  private[spark] val SessionConf: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")

  /** Runs the job on `spark` and returns the one-line JSON summary. */
  def run(spark: SparkSession, args: Array[String]): String = {
    val opts = parseArgs(args)
    val input = opts.getOrElse("input", sys.error("--input required"))
    val warehouse = opts.getOrElse("warehouse", sys.error("--warehouse required"))
    val runId = opts.getOrElse("run-id", java.util.UUID.randomUUID().toString.take(8))
    val buckets = opts.getOrElse("buckets", "64").toInt
    val batchBuckets = opts.getOrElse("batch-buckets", "16").toInt
    require(buckets > 0, s"--buckets must be positive, got $buckets")
    require(batchBuckets > 0, s"--batch-buckets must be positive, got $batchBuckets")
    val maxBytes = opts.getOrElse("max-bytes-per-doc",
      graft.Extract.DefaultMaxBytesPerDoc.toString).toInt
    val timeoutMs = opts.getOrElse("timeout-ms",
      graft.Extract.DefaultTimeoutMs.toString).toLong
    // --vacuum true: sweep stranded uncommitted batch dirs (from previously
    // killed runs) before this run commits new ones.
    val doVacuum = opts.getOrElse("vacuum", "false").toBoolean

    val vacuumed = if (doVacuum) TableIO.vacuum(warehouse).length else 0
    val pages = spark.read.parquet(input)
    val t0 = System.nanoTime()
    val snap = TableIO.runResumable(spark, pages, warehouse, runId,
      numBuckets = buckets, batchBuckets = batchBuckets,
      maxBytesPerDoc = maxBytes, timeoutMs = timeoutMs)
    val sec = (System.nanoTime() - t0) / 1e9

    // THIS RUN's health comes from its own lineage rows in the manifests
    // (tiny — one per task partition), not a whole-table aggregate: on a
    // resumed job the table unions every prior run's output, which would
    // both hide a this-run error spike and re-scan the full table.
    val mine = TableIO.lineage(warehouse).filter(_.run_id == runId)
    val runStats =
      s"""{"input":${mine.map(_.input_rows).sum},"ok":${mine.map(_.ok_rows).sum},"err":${mine.map(_.err_rows).sum}}"""
    val wall = "%.1f".formatLocal(java.util.Locale.ROOT, sec)
    s"""{"run_id":"$runId","snapshot":${snap.version},"committed_buckets":${snap.committedBuckets.size},"wall_sec":$wall,"vacuumed_dirs":$vacuumed,"run_lineage":$runStats}"""
  }

  private def parseArgs(args: Array[String]): Map[String, String] = {
    val m = scala.collection.mutable.HashMap.empty[String, String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (a.startsWith("--")) {
        if (i + 1 >= args.length) sys.error(s"missing value for $a")
        m(a.drop(2)) = args(i + 1)
        i += 2
      } else sys.error(s"unexpected argument: $a")
    }
    m.toMap
  }
}
