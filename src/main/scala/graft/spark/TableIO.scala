package graft.spark

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, PropertyNamingStrategies}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Column, DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StructType}
import org.apache.spark.util.CollectionAccumulator

/** Iceberg-shaped table I/O (SURVEY.md §7.3). No Iceberg jars exist in the
  * sandbox, so the warehouse implements the same semantics directly:
  *
  *   warehouse/
  *     data/<batch-dir>/part-*.parquet       (immutable once committed;
  *                                            `ExtractedRow`s; `readData`
  *                                            derives `text` and `spans`)
  *     metadata/v{N}.json                    (snapshot manifest)
  *     metadata/version-hint.text            (atomic pointer to current N)
  *
  * A snapshot manifest lists committed input BUCKETS (the resume unit) and
  * the data dirs that hold them, and carries its own batch's lineage rows
  * (SURVEY §7.6: lineage commits with the data, like Delta Lake's
  * commitInfo.operationMetrics). Commit = write data files -> write manifest
  * v{N+1} -> atomically replace version-hint. A killed job restarts from the
  * last committed snapshot: buckets in the manifest are skipped.
  * Bucket-level granularity scales to 10^12 rows (manifests stay tiny) where
  * a per-url ledger could not. The trait boundary swaps to real Iceberg
  * (`spark.read.format("iceberg")`) outside the sandbox.
  */
object TableIO {

  /** One snapshot manifest, `metadata/v{version}.json`. `committedBuckets`
    * (sorted) and `dataDirs` are cumulative; `lineage` holds only this
    * commit's rows, sorted by partition. numBuckets is persisted because
    * resume correctness depends on the url->bucket assignment being
    * IDENTICAL across runs: a different bucket count would silently remap
    * urls, duplicating/missing documents.
    */
  final case class Snapshot(
      version: Int,
      numBuckets: Int,
      committedBuckets: Seq[Int],
      dataDirs: Seq[String],
      lineage: Seq[LineageRow])

  /** The manifest codec: snake_case keys; a missing or unknown key (e.g. a
    * manifest of another format) fails the read, naming the key.
    */
  private val manifestJson = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .propertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)
    .enable(DeserializationFeature.FAIL_ON_MISSING_CREATOR_PROPERTIES)
    .build()
  private val manifestKeys: Set[String] =
    manifestJson.valueToTree[JsonNode](Snapshot(0, 0, Nil, Nil, Nil)).fieldNames.asScala.toSet

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
    if (!Files.exists(hint)) None
    else readManifest(warehouse, new String(Files.readAllBytes(hint), UTF_8).trim.toInt)
  }

  private def readManifest(warehouse: String, version: Int): Option[Snapshot] = {
    val manifest = metaDir(warehouse).resolve(s"v$version.json")
    def fail(why: String, cause: Throwable = null) =
      throw new IllegalStateException(s"unreadable snapshot manifest $manifest: $why", cause)
    if (!Files.exists(manifest)) None
    else try {
      // Jackson reports a missing field before an unknown one; check the keys
      // first, so a manifest of another format is refused by its own key.
      val tree = manifestJson.readTree(manifest.toFile)
      tree.fieldNames.asScala.find(!manifestKeys(_)).foreach(k => fail(s"unknown field '$k'"))
      Some(manifestJson.treeToValue(tree, classOf[Snapshot]))
    } catch {
      case e: com.fasterxml.jackson.core.JacksonException => fail(e.getOriginalMessage, e)
    }
  }

  /** Commit a new snapshot: previous content + this batch's buckets, data
    * dir and lineage rows. Atomic via write-manifest-then-rename-hint.
    */
  def commit(warehouse: String, buckets: Set[Int], dataDir: String,
             lineage: Seq[LineageRow], numBuckets: Int): Snapshot = {
    Files.createDirectories(metaDir(warehouse))
    val prev = currentSnapshot(warehouse)
    val next = Snapshot(
      version = prev.map(_.version + 1).getOrElse(1),
      numBuckets = numBuckets,
      committedBuckets = (prev.map(_.committedBuckets).getOrElse(Nil) ++ buckets).distinct.sorted,
      dataDirs = prev.map(_.dataDirs).getOrElse(Nil) :+ dataDir,
      lineage = lineage.sortBy(_.partition_id))
    val manifest = metaDir(warehouse).resolve(s"v${next.version}.json")
    manifestJson.writeValue(manifest.toFile, next)
    val tmp = metaDir(warehouse).resolve(s".version-hint.${next.version}.tmp")
    Files.write(tmp, next.version.toString.getBytes(UTF_8))
    Files.move(tmp, hintFile(warehouse), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    next
  }

  /** Read the committed output table (union of committed data dirs) with
    * `tableColumns`, in their order. The data files hold `ExtractedRow`s;
    * `text` is derived here from `text_bytes`, and `spans` from
    * `span_ends`. The files are read with `storedSchema`, so the `text` that
    * data dirs of older layouts still hold is never read, and the `spans`
    * they hold instead of `span_ends` are kept as stored.
    */
  def readData(spark: SparkSession, warehouse: String): Option[DataFrame] =
    currentSnapshot(warehouse).filter(_.dataDirs.nonEmpty).map { s =>
      spark.read.schema(storedSchema).parquet(s.dataDirs: _*)
        .withColumn("text", textOf(col("text_bytes")))
        .withColumn("spans", coalesce(col("spans"), spansOf(col("span_ends"))))
        .select(tableColumns.map(col): _*)
    }

  /** The table's `text` column: the kernel's own decode of `text_bytes`
    * (`Extract.textOf`), null-safe.
    */
  private[graft] val textOf: UserDefinedFunction =
    udf((b: Array[Byte]) => if (b == null) null else graft.Extract.textOf(b))

  /** The stored form of the kernel's spans: each span's end offset only.
    * `Extract` joins a document's lines with one '\n' and makes span `i`
    * line `i`, so `page` is the span's index and `start` is 0 for the first
    * span and the previous end plus 1 after it; `spansOf` derives both back.
    */
  private[spark] def spanEnds(spans: Seq[graft.Span]): Array[Long] = {
    val ends = new Array[Long](spans.length)
    var i = 0
    for (sp <- spans) {
      require(sp.page == i && sp.start == (if (i == 0) 0L else ends(i - 1) + 1),
        s"span $i is not line $i of the joined text: $spans")
      ends(i) = sp.end
      i += 1
    }
    ends
  }

  /** The spans that `spanEnds` stored, as `spansType`: `Span(i, start, end)`
    * per end offset, with `start` = the previous end + 1 (0 for `i` = 0).
    */
  private def spansOf(spanEnds: Column): Column =
    transform(spanEnds, (end, i) => struct(
      i.as("page"),
      coalesce(get(spanEnds, i - 1) + 1, lit(0L)).as("start"),
      end.as("end"))).cast(spansType)

  /** The table's `spans` type, as the data files of the layout that stored
    * `Span` structs read back.
    */
  private val spansType: DataType = ArrayType(new StructType()
    .add("page", IntegerType).add("start", LongType).add("end", LongType))

  /** The data files' read schema: `ExtractedRow`'s columns, plus the
    * `spans` column that data dirs written before `span_ends` hold in its
    * place. A column that a file does not hold reads as null.
    */
  private val storedSchema: StructType =
    Encoders.product[ExtractedRow].schema.add("spans", spansType)

  /** The table's columns: `ExtractedRow`'s, with `text` after `warc_ts` and
    * `spans` in place of `span_ends`.
    */
  private val tableColumns: Seq[String] =
    Seq("url", "warc_ts", "text", "text_bytes", "spans", "status", "error", "partition_id")

  /** Every committed lineage row, read from manifests v1..v{current}. */
  def lineage(warehouse: String): Seq[LineageRow] =
    currentSnapshot(warehouse).toSeq
      .flatMap(s => (1 to s.version).flatMap(readManifest(warehouse, _)))
      .flatMap(_.lineage)

  /** Parquet writer options of every committed data file. The table is
    * written once and read by every consumer, so it is stored as compactly
    * as the columns allow:
    *  - zstd (Iceberg's default codec) instead of Spark's snappy;
    *  - no dictionary on `url`, `text_bytes` and `span_ends`: their values
    *    rarely repeat, so the writer hashed every value only to throw the
    *    dictionary away again, or, on `span_ends`, to write a larger column;
    *    `status`, `error` and `partition_id` keep it;
    *  - no min/max statistics on `text_bytes` and `span_ends`: untruncated,
    *    the text ones copy whole documents into every footer, and a min/max
    *    range of document texts or offsets prunes almost nothing;
    *  - no `_SUCCESS` marker: the snapshot manifest is the commit record.
    * The read side needs no option: the footers say all of this.
    */
  private val DataFileOptions: Map[String, String] = Map(
    "compression" -> "zstd",
    "parquet.enable.dictionary#url" -> "false",
    "parquet.enable.dictionary#text_bytes" -> "false",
    "parquet.enable.dictionary#span_ends.list.element" -> "false",
    "parquet.column.statistics.enabled#text_bytes" -> "false",
    "parquet.column.statistics.enabled#span_ends.list.element" -> "false",
    "mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "false")

  /** The deduped input rows of the `todo` buckets, tagged with their
    * `__bucket`. The bucket is a function of url alone, so filtering the
    * committed buckets out BEFORE the dedup window changes no surviving row,
    * and a resume shuffles and persists only what it still has to do.
    */
  private[spark] def pendingInput(pages: DataFrame, numBuckets: Int, todo: Seq[Int]): DataFrame = {
    val bucket = pmod(xxhash64(col("url")), lit(numBuckets)).cast("int")
    val pending = if (todo.length == numBuckets) pages else pages.filter(bucket.isInCollection(todo))
    Pipeline.dedupLatest(pending).withColumn("__bucket", bucket)
  }

  /** Resumable extraction job over a pages table.
    *
    * Input rows are assigned to `numBuckets` buckets by url hash; buckets are
    * processed in `batchBuckets`-sized batches, each committed as one
    * snapshot with its data dir and lineage rows. On restart, committed
    * buckets are skipped (filtered out by the bucket predicate before the
    * dedup shuffle). `failAfterBatches` injects a crash for the kill/resume
    * integration test.
    */
  def runResumable(
      spark: SparkSession,
      pages: DataFrame,
      warehouse: String,
      runId: String,
      numBuckets: Int,
      batchBuckets: Int,
      failAfterBatches: Int = -1,
      maxBytesPerDoc: Int = graft.Extract.DefaultMaxBytesPerDoc,
      timeoutMs: Long = graft.Extract.DefaultTimeoutMs): Snapshot = {
    val prev = currentSnapshot(warehouse)
    prev.foreach { s =>
      if (s.numBuckets != numBuckets)
        throw new IllegalArgumentException(
          s"warehouse $warehouse was committed with numBuckets=${s.numBuckets}; " +
            s"resuming with numBuckets=$numBuckets would remap url->bucket " +
            "assignments and duplicate/miss documents")
    }
    val done = prev.map(_.committedBuckets.toSet).getOrElse(Set.empty[Int])
    val todo = (0 until numBuckets).filterNot(done.contains)
    val multiBatch = todo.length > batchBuckets
    // The dedup window is a full shuffle of the input; without a persist,
    // EVERY batch would re-scan the source table AND re-run that shuffle
    // (the bucket predicate is a computed hash — no file/partition prune
    // can serve it). Cache the deduped+bucketed rows to cluster disk once
    // and let each batch filter the cached partitions instead; released in
    // the finally. (The real-Iceberg deployment writes the input physically
    // bucketed so the scan itself prunes; this is the portable equivalent.)
    val withBucket0 = pendingInput(pages, numBuckets, todo)
    val withBucket =
      if (multiBatch)
        withBucket0.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      else withBucket0
    try {
      var snap = prev.getOrElse(Snapshot(0, numBuckets, Nil, Nil, Nil))
      for ((batch, batchesDone) <- todo.grouped(batchBuckets).zipWithIndex) {
        if (failAfterBatches >= 0 && batchesDone >= failAfterBatches)
          throw new RuntimeException(s"injected failure after $batchesDone batches")
        val subset = withBucket.filter(col("__bucket").isInCollection(batch)).drop("__bucket")
        val lineageAcc: CollectionAccumulator[LineageRow] =
          spark.sparkContext.collectionAccumulator[LineageRow](s"lineage-$runId-$batchesDone")
        val extracted = Pipeline.extract(spark, subset, runId,
          maxBytesPerDoc = maxBytesPerDoc, lineageAcc = lineageAcc, timeoutMs = timeoutMs)
        val dataDir = s"$warehouse/data/batch-${snap.version + 1}-${java.util.UUID.randomUUID().toString.take(8)}"
        extracted.write.mode(SaveMode.ErrorIfExists).options(DataFileOptions).parquet(dataDir)
        // Task retries / speculation can flush duplicate lineage rows (Spark
        // only guarantees exactly-once accumulator updates inside actions):
        // keep the LAST attempt per partition.
        val lineageRows = lineageAcc.value.asScala.toSeq
          .groupBy(_.partition_id).values.map(_.maxBy(_.committed_at)).toSeq
        snap = commit(warehouse, batch.toSet, dataDir, lineageRows, numBuckets)
      }
      snap
    } finally if (multiBatch) withBucket.unpersist(blocking = false)
  }

  /** Recursive delete (shared by vacuum and scratch-dir cleanup). */
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Remove UNREFERENCED batch directories under data/ (left by jobs that
    * wrote data files and died before their manifest committed — commit
    * order is files -> manifest -> hint, so a crash can strand fully-written
    * dirs). Every dir referenced by the CURRENT snapshot is kept — since
    * each commit carries the previous snapshot's dir list forward, that is
    * every committed dir ever; only stranded uncommitted output is removed
    * (Iceberg's removeOrphanFiles analogue). Returns the deleted dirs.
    *
    * Matching is by BATCH-DIR NAME under the warehouse's own data/ root —
    * never by resolved path. Manifests store the dir strings exactly as the
    * committing run spelled its --warehouse arg, so path-level comparison
    * would break (and delete committed data!) when a later run spells the
    * same warehouse differently (relative vs absolute cwd, symlinked
    * components). Batch names are unique (UUID suffix).
    *
    * `minAgeMs` guards the race with a CONCURRENT writer: a job between its
    * file write and its manifest commit has dirs that look orphaned but are
    * about to be referenced. Only dirs older than the age are swept (same
    * defense as Iceberg's removeOrphanFiles default 3-day threshold); the
    * default 24 h is far beyond any single batch's write-to-commit window.
    */
  val DefaultVacuumMinAgeMs: Long = 24L * 3600 * 1000

  def vacuum(warehouse: String, minAgeMs: Long = DefaultVacuumMinAgeMs): Seq[String] = {
    val keep = currentSnapshot(warehouse).toSeq
      .flatMap(_.dataDirs.map(p => Paths.get(p).getFileName.toString)).toSet
    val cutoff = System.currentTimeMillis() - minAgeMs
    val dir = Paths.get(warehouse, "data")
    if (!Files.isDirectory(dir)) return Nil
    val listing = Files.list(dir)
    try listing.iterator().asScala.filter { child =>
      !keep.contains(child.getFileName.toString) && child.toFile.lastModified() < cutoff
    }.map { child =>
      deleteRecursively(child.toFile)
      child.toAbsolutePath.normalize.toString
    }.toList
    finally listing.close()
  }
}
