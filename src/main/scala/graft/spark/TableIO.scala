package graft.spark

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator

/** Iceberg-shaped table I/O (SURVEY.md §7.3). No Iceberg jars exist in the
  * sandbox, so the warehouse implements the same semantics directly:
  *
  *   warehouse/
  *     data/<batch-dir>/part-*.parquet       (immutable once committed)
  *     lineage/<batch-dir>/part-*.parquet
  *     metadata/v{N}.json                    (snapshot manifest)
  *     metadata/version-hint.text            (atomic pointer to current N)
  *
  * A snapshot manifest lists committed input BUCKETS (the resume unit) and
  * the data/lineage files that hold them. Commit = write files -> write
  * manifest v{N+1} -> atomically replace version-hint. A killed job restarts
  * from the last committed snapshot: buckets in the manifest are skipped.
  * Bucket-level granularity scales to 10^12 rows (manifests stay tiny) where
  * a per-url ledger could not. The trait boundary swaps to real Iceberg
  * (`spark.read.format("iceberg")`) outside the sandbox.
  */
object TableIO {

  /** numBuckets is persisted because resume correctness depends on the
    * url->bucket assignment being IDENTICAL across runs: a different bucket
    * count would silently remap urls, duplicating/missing documents.
    * 0 = unknown (pre-v2 manifests).
    */
  final case class Snapshot(
      version: Int,
      committedBuckets: Set[Int],
      dataDirs: Seq[String],
      lineageDirs: Seq[String],
      numBuckets: Int = 0)

  private def metaDir(warehouse: String): Path = Paths.get(warehouse, "metadata")
  private def hintFile(warehouse: String): Path = metaDir(warehouse).resolve("version-hint.text")

  /** Row count of a parquet file/directory from FOOTER METADATA only — no
    * Spark job, no data scan (the parquet footer stores per-row-group
    * counts). This is the local-FS analogue of reading the count off an
    * Iceberg snapshot's stats: operators that only need |corpus| to size a
    * parameter (LSH bits, IVF lists) must not pay a full count() pass —
    * at 100 TB that pass costs more than the query it parameterizes.
    */
  def parquetRowCount(spark: SparkSession, path: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    // RECURSIVE listing: Spark-partitioned tables nest part files under
    // key=value subdirectories — a top-level-only walk would silently
    // return 0 and under-size whatever the caller parameterizes with it.
    val files = mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
    if (fs.getFileStatus(p).isDirectory) {
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val f = it.next()
        if (f.isFile && f.getPath.getName.endsWith(".parquet")) files += f
      }
    } else files += fs.getFileStatus(p)
    // LOUD on an empty match: a zero row count from a wrong path/layout
    // must not silently shrink LSH bits / IVF lists.
    require(files.nonEmpty, s"parquetRowCount: no parquet files under $path")
    files.iterator.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try reader.getRecordCount finally reader.close()
    }.sum
  }

  /** Input-skew guard for per-row KERNEL stages (optimization guide §2.5
    * "one huge unsplittable file ... repartition immediately after the
    * read"): a small single-file parquet scan yields ONE partition, so an
    * expensive map/flatMap/UDF planted directly on it serializes on one
    * core while the rest of the session idles. When the scan's partition
    * count is below the session parallelism, hash-spread the rows across
    * `defaultParallelism` partitions; otherwise (the 100-TB case — any real
    * table scans as thousands of splits) this is a NO-OP, so the added
    * exchange never ships payload bytes at scale. Spread by `keyCol` when
    * given (deterministic hash partitioning — no sort-before-repartition
    * pass, stable under retries per SPARK-38388's determinism concern);
    * round-robin otherwise. Row-level results are partitioning-invariant,
    * so downstream queries (all ORDER BY'd) are byte-identical either way.
    */
  def spreadScan(df: DataFrame, keyCol: String = null): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df
    else if (keyCol != null) df.repartition(target, col(keyCol))
    else df.repartition(target)
  }

  def currentSnapshot(warehouse: String): Option[Snapshot] = {
    val hint = hintFile(warehouse)
    if (!Files.exists(hint)) return None
    val v = new String(Files.readAllBytes(hint), UTF_8).trim.toInt
    val manifest = metaDir(warehouse).resolve(s"v$v.json")
    if (!Files.exists(manifest)) return None
    Some(parseManifest(v, new String(Files.readAllBytes(manifest), UTF_8)))
  }

  /** Commit a new snapshot: previous content + this batch. Atomic via
    * write-manifest-then-rename-hint.
    */
  def commit(warehouse: String, buckets: Set[Int], dataDir: Option[String],
             lineageDir: Option[String], numBuckets: Int = 0): Snapshot = {
    Files.createDirectories(metaDir(warehouse))
    val prev = currentSnapshot(warehouse)
    val next = Snapshot(
      version = prev.map(_.version + 1).getOrElse(1),
      committedBuckets = prev.map(_.committedBuckets).getOrElse(Set.empty) ++ buckets,
      dataDirs = prev.map(_.dataDirs).getOrElse(Nil) ++ dataDir.toSeq,
      lineageDirs = prev.map(_.lineageDirs).getOrElse(Nil) ++ lineageDir.toSeq,
      numBuckets = if (numBuckets > 0) numBuckets else prev.map(_.numBuckets).getOrElse(0))
    val manifest = metaDir(warehouse).resolve(s"v${next.version}.json")
    Files.write(manifest, renderManifest(next).getBytes(UTF_8))
    val tmp = metaDir(warehouse).resolve(s".version-hint.${next.version}.tmp")
    Files.write(tmp, next.version.toString.getBytes(UTF_8))
    Files.move(tmp, hintFile(warehouse), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    next
  }

  /** Read the committed output table (union of committed data dirs). */
  def readData(spark: SparkSession, warehouse: String): Option[DataFrame] =
    currentSnapshot(warehouse).filter(_.dataDirs.nonEmpty).map { s =>
      spark.read.parquet(s.dataDirs: _*)
    }

  def readLineage(spark: SparkSession, warehouse: String): Option[DataFrame] =
    currentSnapshot(warehouse).filter(_.lineageDirs.nonEmpty).map { s =>
      spark.read.parquet(s.lineageDirs: _*)
    }

  /** Resumable extraction job over a pages table.
    *
    * Input rows are assigned to `numBuckets` buckets by url hash; buckets are
    * processed in `batchBuckets`-sized batches, each committed as one
    * snapshot. On restart, committed buckets are skipped (partition-pruned at
    * the scan by the bucket predicate). `failAfterBatches` injects a crash
    * for the kill/resume integration test.
    */
  def runResumable(
      spark: SparkSession,
      pages: DataFrame,
      warehouse: String,
      runId: String,
      numBuckets: Int = 16,
      batchBuckets: Int = 4,
      failAfterBatches: Int = -1,
      maxBytesPerDoc: Int = Pipeline.DefaultMaxBytesPerDoc,
      timeoutMs: Long = graft.Extract.DefaultTimeoutMs): Snapshot = {
    import java.util.UUID
    currentSnapshot(warehouse).foreach { s =>
      if (s.numBuckets > 0 && s.numBuckets != numBuckets)
        throw new IllegalArgumentException(
          s"warehouse $warehouse was committed with numBuckets=${s.numBuckets}; " +
            s"resuming with numBuckets=$numBuckets would remap url->bucket " +
            "assignments and duplicate/miss documents")
    }
    val done: Set[Int] = currentSnapshot(warehouse).map(_.committedBuckets).getOrElse(Set.empty)
    val todo = (0 until numBuckets).filterNot(done.contains)
    val multiBatch = todo.length > batchBuckets
    // The dedup window is a full shuffle of the input; without a persist,
    // EVERY batch would re-scan the source table AND re-run that shuffle
    // (the bucket predicate is a computed hash — no file/partition prune
    // can serve it). Cache the deduped+bucketed rows to cluster disk once
    // and let each batch filter the cached partitions instead; released in
    // the finally. (The real-Iceberg deployment writes the input physically
    // bucketed so the scan itself prunes; this is the portable equivalent.)
    val withBucket0 = Pipeline
      .dedupLatest(pages)
      .withColumn("__bucket", pmod(xxhash64(col("url")), lit(numBuckets)).cast("int"))
    val withBucket =
      if (multiBatch)
        withBucket0.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      else withBucket0
    try {
      runBatches(spark, withBucket, warehouse, runId, numBuckets, batchBuckets,
        failAfterBatches, maxBytesPerDoc, timeoutMs, todo)
    } finally if (multiBatch) withBucket.unpersist(blocking = false)
  }

  private def runBatches(
      spark: SparkSession,
      withBucket: DataFrame,
      warehouse: String,
      runId: String,
      numBuckets: Int,
      batchBuckets: Int,
      failAfterBatches: Int,
      maxBytesPerDoc: Int,
      timeoutMs: Long,
      todo: Seq[Int]): Snapshot = {
    import java.util.UUID
    var batchesDone = 0
    var snap = currentSnapshot(warehouse).getOrElse(Snapshot(0, Set.empty, Nil, Nil))
    for (batch <- todo.grouped(batchBuckets)) {
      if (failAfterBatches >= 0 && batchesDone >= failAfterBatches)
        throw new RuntimeException(s"injected failure after $batchesDone batches")
      val subset = withBucket.filter(col("__bucket").isInCollection(batch)).drop("__bucket")
      val lineageAcc: CollectionAccumulator[LineageRow] =
        spark.sparkContext.collectionAccumulator[LineageRow](s"lineage-$runId-$batchesDone")
      val extracted = Pipeline.extract(spark, subset, runId,
        maxBytesPerDoc = maxBytesPerDoc, lineageAcc = lineageAcc, timeoutMs = timeoutMs)
      val dataDir = s"$warehouse/data/batch-${snap.version + 1}-${UUID.randomUUID().toString.take(8)}"
      extracted.write.mode(SaveMode.ErrorIfExists).parquet(dataDir)
      val lineageDir = s"$warehouse/lineage/batch-${snap.version + 1}-${UUID.randomUUID().toString.take(8)}"
      // Task retries / speculation can flush duplicate lineage rows (Spark
      // only guarantees exactly-once accumulator updates inside actions):
      // keep the LAST attempt per partition.
      val lineageRows = lineageAcc.value.asScala.toSeq
        .groupBy(r => (r.run_id, r.partition_id))
        .values.map(_.maxBy(_.committed_at)).toSeq
      import spark.implicits._
      lineageRows.toDF().write.mode(SaveMode.ErrorIfExists).parquet(lineageDir)
      snap = commit(warehouse, batch.toSet, Some(dataDir), Some(lineageDir), numBuckets)
      batchesDone += 1
    }
    snap
  }

  /** Recursive delete (shared by vacuum and scratch-dir cleanup). */
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Remove UNREFERENCED batch directories (left by jobs that wrote data or
    * lineage files and died before their manifest committed — commit order
    * is files -> manifest -> hint, so a crash can strand fully-written
    * dirs). Every dir referenced by the CURRENT snapshot is kept — since
    * each commit carries the previous snapshot's dir lists forward, that is
    * every committed dir ever; only stranded uncommitted output is removed
    * (Iceberg's removeOrphanFiles analogue). Returns the deleted dirs.
    *
    * Matching is by BATCH-DIR NAME under the warehouse's own data/ and
    * lineage/ roots — never by resolved path. Manifests store the dir
    * strings exactly as the committing run spelled its --warehouse arg, so
    * path-level comparison would break (and delete committed data!) when a
    * later run spells the same warehouse differently (relative vs absolute
    * cwd, symlinked components). Batch names are unique (UUID suffix).
    *
    * `minAgeMs` guards the race with a CONCURRENT writer: a job between its
    * file write and its manifest commit has dirs that look orphaned but are
    * about to be referenced. Only dirs older than the age are swept (same
    * defense as Iceberg's removeOrphanFiles default 3-day threshold); the
    * default 24 h is far beyond any single batch's write-to-commit window.
    */
  val DefaultVacuumMinAgeMs: Long = 24L * 3600 * 1000

  def vacuum(warehouse: String, minAgeMs: Long = DefaultVacuumMinAgeMs): Seq[String] = {
    val snap = currentSnapshot(warehouse)
    def names(dirs: Seq[String]): Set[String] =
      dirs.map(p => Paths.get(p).getFileName.toString).toSet
    val keepData = snap.map(s => names(s.dataDirs)).getOrElse(Set.empty)
    val keepLineage = snap.map(s => names(s.lineageDirs)).getOrElse(Set.empty)
    val cutoff = System.currentTimeMillis() - minAgeMs
    val removed = mutable.ArrayBuffer.empty[String]
    for ((root, keep) <- Seq("data" -> keepData, "lineage" -> keepLineage)) {
      val dir = Paths.get(warehouse, root)
      if (Files.isDirectory(dir)) {
        val listing = Files.list(dir)
        try {
          listing.iterator().asScala.foreach { child =>
            if (!keep.contains(child.getFileName.toString) &&
              child.toFile.lastModified() < cutoff) {
              deleteRecursively(child.toFile)
              removed += child.toAbsolutePath.normalize.toString
            }
          }
        } finally listing.close()
      }
    }
    removed.toSeq
  }

  // ------------------------------------------------------- manifest (JSON)

  private def renderManifest(s: Snapshot): String = {
    def arr(xs: Seq[String]): String = xs.map(x => "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"") + "\"").mkString("[", ",", "]")
    s"""{"version":${s.version},"num_buckets":${s.numBuckets},"committed_buckets":${s.committedBuckets.toSeq.sorted.mkString("[", ",", "]")},"data_dirs":${arr(s.dataDirs)},"lineage_dirs":${arr(s.lineageDirs)}}"""
  }

  private def parseManifest(version: Int, json: String): Snapshot = {
    // Minimal parser for our own fixed-shape manifest.
    def intArray(key: String): Seq[Int] = {
      val m = java.util.regex.Pattern.compile("\"" + key + "\":\\[([^\\]]*)\\]").matcher(json)
      if (!m.find()) Nil
      else m.group(1).split(",").toSeq.map(_.trim).filter(_.nonEmpty).map(_.toInt)
    }
    def strArray(key: String): Seq[String] = {
      // Scan to the MATCHING ']' with full quote/escape awareness: a regex
      // stopping at the first ']' would truncate on a ']' inside a dir path
      // (e.g. --warehouse '/tmp/wh[1]') and silently drop committed dirs —
      // which vacuum() would then sweep as orphans.
      val start = json.indexOf("\"" + key + "\":[")
      if (start < 0) return Nil
      var i = start + key.length + 4
      val out = mutable.ArrayBuffer.empty[String]
      var inStr = false
      var esc = false
      val sb = new java.lang.StringBuilder
      var done = false
      while (!done && i < json.length) {
        val c = json.charAt(i)
        if (inStr) {
          if (esc) { sb.append(c); esc = false }
          else if (c == '\\') esc = true
          else if (c == '"') { out += sb.toString; sb.setLength(0); inStr = false }
          else sb.append(c)
        } else {
          if (c == '"') inStr = true
          else if (c == ']') done = true
        }
        i += 1
      }
      out.toSeq
    }
    def intField(key: String): Int = {
      val m = java.util.regex.Pattern.compile("\"" + key + "\":(\\d+)").matcher(json)
      if (m.find()) m.group(1).toInt else 0
    }
    Snapshot(version, intArray("committed_buckets").toSet,
      strArray("data_dirs"), strArray("lineage_dirs"), intField("num_buckets"))
  }
}
