package graft.spark

import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.PdfFixtures

/** Spark end-to-end: t1 smoke table (statuses, dedup, lineage) and the
  * kill/resume integration test (t3) over the Iceberg-shaped warehouse.
  */
class PipelineSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  test("t1 smoke: statuses, latest-capture dedup, byte-identity") {
    import spark.implicits._
    val pages = PagesGen.smokeTable(spark)
    val out = Pipeline.run(spark, pages, "t1").collect().map(r => r.url -> r).toMap
    def text(url: String) = out(url).text_bytes.toSeq
    def utf8(s: String) = s.getBytes(UTF_8).toSeq

    assert(out.size == 7) // 8 rows, 1 duplicate url collapsed
    assert(out("https://t/ok-pdf").status == "ok")
    assert(text("https://t/ok-pdf") == utf8("Hello World"))
    assert(text("https://t/ok-flate") == utf8("compressed"))
    assert(out("https://t/ok-html").status == "ok")
    assert(text("https://t/dup") == utf8("new capture")) // latest warc_ts wins
    assert(out("https://t/err").status == "error")
    assert(text("https://t/err") == utf8("partial"))
    assert(out("https://t/empty").status == "empty")
    // Byte identity: text_bytes match the kernel run directly.
    val direct = graft.Extract(PdfFixtures.s01("Hello World"))
    assert(out("https://t/ok-pdf").text_bytes.sameElements(direct.textBytes))
  }

  test("oversize cap produces skipped_oversize with lineage accounting") {
    import spark.implicits._
    val acc = spark.sparkContext.collectionAccumulator[LineageRow]("lin-test")
    val pages = PagesGen.smokeTable(spark)
    val out = Pipeline.extract(spark, Pipeline.dedupLatest(pages), "t1b",
      maxBytesPerDoc = 900, lineageAcc = acc).collect()
    val oversize = out.filter(_.status == "skipped_oversize")
    assert(oversize.nonEmpty) // the 1KB doc trips the cap
    import scala.jdk.CollectionConverters._
    val lineage = acc.value.asScala
    assert(lineage.map(_.input_rows).sum == 7)
    assert(lineage.map(_.ok_rows).sum == out.count(_.status == "ok"))
    assert(lineage.map(_.err_rows).sum == out.count(_.status == "error"))
    assert(lineage.map(_.bytes_out).sum == out.map(_.text_bytes.length.toLong).sum)
  }

  test("lineage flushes even when a downstream limit() stops consuming early") {
    import scala.jdk.CollectionConverters._
    val acc = spark.sparkContext.collectionAccumulator[LineageRow]("lin-early")
    val pages = PagesGen.smokeTable(spark)
    val got = Pipeline.extract(spark, pages, "t1c", lineageAcc = acc)
      .limit(1).collect()
    assert(got.length == 1)
    // The task-completion listener flushes each launched task's lineage row
    // even though the iterator was never exhausted.
    assert(acc.value.asScala.nonEmpty)
    assert(acc.value.asScala.map(_.input_rows).sum >= 1)
  }

  test("vacuum removes stranded uncommitted batch dirs, keeps every committed one") {
    import spark.implicits._
    val docs = (0 until 40).map { i =>
      PageRow(f"https://vac/doc-$i%04d", new java.sql.Timestamp(PagesGen.BaseTs + i),
        PdfFixtures.s01(s"vac doc $i"), "", "en")
    }
    val wh = Files.createTempDirectory("wh-vac").toString
    TableIO.runResumable(spark, docs.toDF(), wh, "vac", numBuckets = 4, batchBuckets = 2)
    val before = TableIO.readData(spark, wh).get.count()
    // Strand two orphan dirs: the data output of two crashed batches.
    val orphanData = new java.io.File(s"$wh/data/batch-99-deadbeef")
    val orphanData2 = new java.io.File(s"$wh/data/batch-3-cafef00d")
    orphanData.mkdirs(); orphanData2.mkdirs()
    Files.writeString(orphanData.toPath.resolve("part-junk.parquet"), "junk")
    // Default min-age guard: a FRESH stranded dir (possibly a concurrent
    // writer mid-commit) must NOT be swept...
    assert(TableIO.vacuum(wh).isEmpty)
    assert(orphanData.exists())
    // ...but once old enough it is.
    val removed = TableIO.vacuum(wh, minAgeMs = 0)
    assert(removed.toSet == Set(orphanData.getCanonicalPath, orphanData2.getCanonicalPath),
      removed.toString)
    assert(!orphanData.exists() && !orphanData2.exists())
    // Committed data untouched, table still reads identically.
    assert(TableIO.readData(spark, wh).get.count() == before)
    assert(TableIO.vacuum(wh, minAgeMs = 0).isEmpty) // idempotent
  }

  test("manifest round-trips dirs containing ']' (vacuum must not mistake them for orphans)") {
    val wh = Files.createTempDirectory("wh-br[1]").toString
    val rows = Seq(
      LineageRow("run \"q\" [2]", 1, 5, 4, 1, 500, 40, 7, 1000, 1007),
      LineageRow("run]\"", 0, 3, 3, 0, 300, 30, 6, 1000, 1006))
    TableIO.commit(wh, Set(0), s"$wh/data/batch-1-x", rows, 4)
    val rt = TableIO.currentSnapshot(wh).get
    // A ']' inside the path previously truncated the regex-parsed arrays to
    // Nil — and vacuum would then sweep every committed dir.
    assert(rt.dataDirs == Seq(s"$wh/data/batch-1-x"), rt.dataDirs)
    // The lineage rows round-trip too, sorted by partition.
    assert(rt.lineage == rows.sortBy(_.partition_id), rt.lineage)
    assert(TableIO.lineage(wh) == rows.sortBy(_.partition_id))
    new java.io.File(s"$wh/data/batch-1-x").mkdirs()
    assert(TableIO.vacuum(wh, minAgeMs = 0).isEmpty)
    assert(new java.io.File(s"$wh/data/batch-1-x").exists())
  }

  test("lineage commits atomically with its batch") {
    import spark.implicits._
    val docs = (0 until 60).map { i =>
      PageRow(f"https://atom/doc-$i%04d", new java.sql.Timestamp(PagesGen.BaseTs + i),
        PdfFixtures.s01(s"atomic doc $i"), "", "en")
    }
    val wh = Files.createTempDirectory("wh-atom").toString
    intercept[RuntimeException] {
      TableIO.runResumable(spark, docs.toDF(), wh, "atom", numBuckets = 8,
        batchBuckets = 2, failAfterBatches = 2)
    }
    // The killed job's committed lineage counts exactly its committed rows.
    val committed = TableIO.readData(spark, wh).get.count()
    assert(committed > 0 && committed < 60)
    assert(TableIO.lineage(wh).map(_.input_rows).sum == committed)
    assert(TableIO.currentSnapshot(wh).get.lineage.nonEmpty)
    assert(!new java.io.File(s"$wh/lineage").exists())
    assert(new java.io.File(wh).list().toSet == Set("data", "metadata"))
    // A manifest in the older format (lineage in parquet dirs) is refused,
    // and the error names the field it does not know.
    val v = TableIO.currentSnapshot(wh).get.version
    Files.writeString(java.nio.file.Paths.get(wh, "metadata", s"v$v.json"),
      s"""{"version":$v,"num_buckets":8,"committed_buckets":[0,1,2,3],""" +
        s""""data_dirs":["$wh/data/batch-1-x"],"lineage_dirs":["$wh/lineage/batch-1-x"]}""")
    val e = intercept[IllegalStateException](TableIO.currentSnapshot(wh))
    assert(e.getMessage.contains("lineage_dirs"), e.getMessage)
    // So is one missing a field.
    Files.writeString(java.nio.file.Paths.get(wh, "metadata", s"v$v.json"),
      s"""{"version":$v,"committed_buckets":[0],"data_dirs":[],"lineage":[]}""")
    val e2 = intercept[IllegalStateException](TableIO.currentSnapshot(wh))
    assert(e2.getMessage.contains("num_buckets"), e2.getMessage)
  }

  test("spark.Main: summary line reports this run's lineage from the manifests") {
    import spark.implicits._
    val docs = (0 until 30).map { i =>
      PageRow(f"https://main/doc-$i%04d", new java.sql.Timestamp(PagesGen.BaseTs + i),
        PdfFixtures.s01(s"main doc $i"), "", "en")
    }
    val dir = Files.createTempDirectory("main-run").toString
    docs.toDF().write.parquet(s"$dir/pages")
    def run(runId: String): String = Main.run(spark, Array("--input", s"$dir/pages",
      "--warehouse", s"$dir/wh", "--run-id", runId, "--buckets", "4", "--batch-buckets", "2"))
    val first = run("m1")
    assert(first.contains(""""run_id":"m1","snapshot":2,"committed_buckets":4,"""), first)
    assert(first.endsWith(""""run_lineage":{"input":30,"ok":30,"err":0}}"""), first)
    // Everything is committed: a second run adds no snapshot and no lineage.
    val second = run("m2")
    assert(second.contains(""""run_id":"m2","snapshot":2,"""), second)
    assert(second.endsWith(""""run_lineage":{"input":0,"ok":0,"err":0}}"""), second)
    TableIO.deleteRecursively(new java.io.File(dir))
  }

  test("spark.Main: at Spark's default shuffle partitions, a batch writes one data file") {
    import spark.implicits._
    val docs = (0 until 120).map { i =>
      PageRow(f"https://main-files/doc-$i%04d", new java.sql.Timestamp(PagesGen.BaseTs + i),
        PdfFixtures.s01(s"main files doc $i"), "", "en")
    }
    val dir = Files.createTempDirectory("main-files").toString
    docs.toDF().write.parquet(s"$dir/pages")
    // Main's own session settings, on a session of their own.
    val session = spark.newSession()
    Main.SessionConf.foreach { case (k, v) => session.conf.set(k, v) }
    session.conf.set("spark.sql.shuffle.partitions", "200")
    Main.run(session, Array("--input", s"$dir/pages", "--warehouse", s"$dir/wh",
      "--run-id", "files", "--buckets", "4", "--batch-buckets", "1"))
    val snap = TableIO.currentSnapshot(s"$dir/wh").get
    assert(snap.dataDirs.length == 4)
    // The persisted dedup output is coalesced, so each batch is one kernel
    // task, one data file and one lineage row.
    assert(snap.dataDirs.map(parquetFiles(_).length) == Seq(1, 1, 1, 1))
    assert(TableIO.lineage(s"$dir/wh").map(_.input_rows).sum == 120)
    assert(TableIO.lineage(s"$dir/wh").length == 4)
    TableIO.deleteRecursively(new java.io.File(dir))
  }

  test("t3 kill/resume: killed job restarts from last committed snapshot, no dups/missing") {
    import spark.implicits._
    val docs = (0 until 200).map { i =>
      PageRow(f"https://t3/doc-$i%04d", new java.sql.Timestamp(PagesGen.BaseTs + i),
        PdfFixtures.s01(s"document number $i content"), "", "en")
    }
    val pages = docs.toDF()

    // Full run (no failure) as the golden result.
    val whFull = Files.createTempDirectory("wh-full").toString
    TableIO.runResumable(spark, pages, whFull, "full", numBuckets = 8, batchBuckets = 2)
    val full = TableIO.readData(spark, whFull).get
      .select("url", "text").collect().map(r => (r.getString(0), r.getString(1))).sorted

    // Killed run: fails after 2 committed batches, then resumes.
    val whKill = Files.createTempDirectory("wh-kill").toString
    intercept[RuntimeException] {
      TableIO.runResumable(spark, pages, whKill, "killed", numBuckets = 8,
        batchBuckets = 2, failAfterBatches = 2)
    }
    val partial = TableIO.currentSnapshot(whKill).get
    assert(partial.committedBuckets.size == 4) // 2 batches x 2 buckets committed
    // Resume: only uncommitted buckets run.
    TableIO.runResumable(spark, pages, whKill, "resumed", numBuckets = 8, batchBuckets = 2)
    val resumed = TableIO.readData(spark, whKill).get
      .select("url", "text").collect().map(r => (r.getString(0), r.getString(1))).sorted

    assert(resumed.length == 200) // no missing
    assert(resumed.map(_._1).distinct.length == 200) // no dups
    assert(resumed.toSeq == full.toSeq) // identical output
    // The committed lineage covers both runs.
    assert(TableIO.lineage(whKill).map(_.input_rows).sum == 200)

    // Resuming with a DIFFERENT bucket count must fail fast: it would
    // silently remap url->bucket and duplicate/miss documents.
    val e = intercept[IllegalArgumentException] {
      TableIO.runResumable(spark, pages, whKill, "wrong-buckets", numBuckets = 16,
        batchBuckets = 2)
    }
    assert(e.getMessage.contains("numBuckets"))
  }

  test("commit refuses a batch whose buckets the current snapshot already holds") {
    import spark.implicits._
    val pages = PagesGen.smokeTable(spark)
    val wh = Files.createTempDirectory("wh-overlap").toString
    val first = TableIO.runResumable(spark, pages, wh, "first", numBuckets = 4, batchBuckets = 4)
    // A second run planned from the empty snapshot extracted every bucket
    // again; its commit of buckets 1..3 comes after the first run's.
    val lateDir = s"$wh/data/batch-1-late"
    Pipeline.run(spark, pages, "late").write.parquet(lateDir)
    val e = intercept[IllegalStateException] {
      TableIO.commit(wh, Set(3, 1, 2), lateDir, Nil, 4)
    }
    assert(e.getMessage.contains(s"snapshot v${first.version} "), e.getMessage)
    assert(e.getMessage.contains("buckets 1, 2, 3;"), e.getMessage)
    assert(TableIO.currentSnapshot(wh).get == first)
    assert(!new java.io.File(s"$wh/metadata/v${first.version + 1}.json").exists())
    val urls = TableIO.readData(spark, wh).get.select("url").as[String].collect()
    assert(urls.length == 7 && urls.distinct.length == 7, urls.toSeq)
    TableIO.deleteRecursively(new java.io.File(wh))
  }

  /** 48 rotation documents (two of each PDF family) plus the smoke table's
    * statuses and duplicate url, staged as parquet: a local relation would
    * let the optimizer fold filters into the data, out of the plan.
    */
  private def stagedRotationPages(dir: String, extra: Seq[PageRow] = Nil): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val docs = (0 until 48).map { i =>
      val v = i % PagesGen.PdfVariants
      PageRow(f"https://rot/doc-$i%03d", new java.sql.Timestamp(PagesGen.BaseTs + i),
        PagesGen.payloadFor(i.toLong, s"rotation doc $i family $v", v), "", "en")
    }
    (docs ++ extra).toDF().union(PagesGen.smokeTable(spark)).write.parquet(s"$dir/pages")
    spark.read.parquet(s"$dir/pages")
  }

  /** PDFs whose extracted text bytes are not valid UTF-8 (a font without an
    * encoding emits the string's raw bytes). The first is a sequence on
    * which Spark's `make_valid_utf8` and Java's decoder disagree.
    */
  private val invalidUtf8Texts: Seq[Array[Byte]] = Seq(
    Array(0xf4, 0xff, 0xed, 0x98, 0xed, 0xa0, 0xe0, 0xbf),
    Array(0x41, 0xc3, 0x28, 0xed, 0xa0, 0x80, 0x42),
    Array(0xf8, 0x88, 0x80, 0x80, 0x80, 0xc0, 0xaf)).map(_.map(_.toByte))

  private def invalidUtf8Pages: Seq[PageRow] = invalidUtf8Texts.zipWithIndex.map { case (t, i) =>
    val hex = t.map(b => f"${b & 0xff}%02x").mkString
    PageRow(s"https://bad-utf8/doc-$i", new java.sql.Timestamp(PagesGen.BaseTs + i),
      PdfFixtures.s07Content(s"BT /F1 12 Tf <$hex> Tj ET".getBytes(US_ASCII)),
      "", "en")
  }

  private def isValidUtf8(b: Array[Byte]): Boolean =
    try {
      UTF_8.newDecoder().decode(java.nio.ByteBuffer.wrap(b))
      true
    } catch { case _: java.nio.charset.CharacterCodingException => false }

  /** The columns of one committed data file, from its footer. */
  private def footerColumns(file: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file), spark.sessionState.newHadoopConf())
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try reader.getFooter.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSeq
    finally reader.close()
  }

  private def parquetFiles(dir: String): Seq[String] =
    new java.io.File(dir).list().filter(_.endsWith(".parquet")).map(f => s"$dir/$f").toSeq

  /** A row's document columns, with its spans. partition_id is left out: it
    * names the task, not the document.
    */
  private type Key = (String, java.sql.Timestamp, Seq[Byte], Seq[graft.Span], String, String)

  /** A kernel row's key; its spans are rebuilt from the stored end offsets by
    * the layout's rule: span i is line i, starting one byte after span i-1.
    */
  private def key(r: ExtractedRow): Key = {
    val e = r.span_ends
    val spans = e.indices.map(i => graft.Span(i, if (i == 0) 0L else e(i - 1) + 1, e(i)))
    (r.url, r.warc_ts, r.text_bytes.toSeq, spans, r.status, r.error)
  }

  /** The keys of `readData`'s rows, sorted by url. */
  private def tableKeys(table: DataFrame): Seq[Key] = {
    import spark.implicits._
    table.select("url", "warc_ts", "text_bytes", "spans", "status", "error")
      .as[(String, java.sql.Timestamp, Array[Byte], Seq[graft.Span], String, String)].collect()
      .map { case (u, ts, b, sp, st, err) => (u, ts, b.toSeq, sp, st, err) }.sortBy(_._1).toSeq
  }

  /** Every `text` that readData returns is Java's decode of its `text_bytes`. */
  private def assertTextDerived(table: DataFrame): Unit =
    for (r <- table.select("url", "text", "text_bytes").collect())
      assert(r.getString(1) == new String(r.getAs[Array[Byte]](2), UTF_8), r.getString(0))

  test("committed data files are zstd with plain, statistics-free text columns") {
    import org.apache.parquet.column.Encoding
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val dir = Files.createTempDirectory("wh-files").toString
    val pages = stagedRotationPages(dir, invalidUtf8Pages)
    val wh = s"$dir/wh"
    val snap = TableIO.runResumable(spark, pages, wh, "files", numBuckets = 4, batchBuckets = 2)
    assert(snap.dataDirs.length == 2)
    val conf = spark.sessionState.newHadoopConf()
    val plain = Set("url", "text_bytes", "span_ends")
    val dictionary = Set("status", "error", "partition_id")
    val noStats = Set("text_bytes", "span_ends")
    var files = 0
    for (d <- snap.dataDirs) {
      val names = new java.io.File(d).list().toSet
      assert(!names.contains("_SUCCESS") && !names.contains("._SUCCESS.crc"), names)
      for (f <- names.filter(_.endsWith(".parquet"))) {
        files += 1
        // A data file holds exactly the kernel's rows: the text is stored
        // once, as text_bytes, the spans as their end offsets, and readData
        // derives `text` and `spans`.
        val columns = footerColumns(s"$d/$f")
        assert(columns == Encoders.product[ExtractedRow].schema.fieldNames.toSeq, s"$f: $columns")
        val path = new org.apache.hadoop.fs.Path(s"$d/$f")
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
        try for (block <- reader.getFooter.getBlocks.asScala; c <- block.getColumns.asScala) {
          val column = c.getPath.toArray.head
          val where = s"$f ${c.getPath.toDotString}"
          assert(c.getCodec == CompressionCodecName.ZSTD, where)
          val dict = c.hasDictionaryPage ||
            c.getEncodings.asScala.exists(e => e == Encoding.RLE_DICTIONARY || e == Encoding.PLAIN_DICTIONARY)
          if (plain(column)) assert(!dict, s"$where: ${c.getEncodings}")
          if (dictionary(column)) assert(dict, s"$where: ${c.getEncodings}")
          if (noStats(column)) assert(!c.getStatistics.hasNonNullValue, s"$where: ${c.getStatistics}")
        } finally reader.close()
      }
    }
    assert(files > 0)
    // The committed rows are the in-memory pipeline's rows, byte for byte.
    val table = TableIO.readData(spark, wh).get
    val committed = tableKeys(table)
    val inMemory = Pipeline.run(spark, pages, "files").collect().map(key).sortBy(_._1).toSeq
    assert(committed.length == 58)
    assert(committed == inMemory)
    assert(committed.exists(_._4.length > 1), committed.map(_._4.length))
    assert(committed.map(_._5).toSet == Set("ok", "error", "empty"))
    // The derived text of invalid UTF-8 is Java's decode, as in the kernel.
    val bad = committed.filter(_._1.startsWith("https://bad-utf8/"))
    assert(bad.map(_._3).toSeq == invalidUtf8Texts.map(_.toSeq), bad.map(_._3))
    assert(bad.forall(r => !isValidUtf8(r._3.toArray)))
    assertTextDerived(table)
    // Inside Spark too the derived text holds Java's re-encoding, not the
    // invalid bytes (a `cast` to string would keep them).
    val sparkText = table.filter(col("url").startsWith("https://bad-utf8/"))
      .select(col("url"), col("text").cast("binary"), length(col("text"))).collect()
      .map(r => r.getString(0) -> (r.getAs[Array[Byte]](1).toSeq, r.getInt(2))).toMap
    for (r <- bad) {
      val text = new String(r._3.toArray, UTF_8)
      assert(sparkText(r._1) == (text.getBytes(UTF_8).toSeq, text.codePointCount(0, text.length)), r._1)
    }
    TableIO.deleteRecursively(new java.io.File(dir))
  }

  test("readData derives text from text_bytes, also over data dirs that still store text") {
    import spark.implicits._
    val dir = Files.createTempDirectory("wh-mixed").toString
    val pages = stagedRotationPages(dir, invalidUtf8Pages)
    val inMemory = Pipeline.run(spark, pages, "mixed").collect().map(key).sortBy(_._1).toSeq
    // readData's schema, recorded from the layout that stored `text`.
    val schemaJson = """{"type":"struct","fields":[{"name":"url","type":"string","nullable":true,"metadata":{}},{"name":"warc_ts","type":"timestamp","nullable":true,"metadata":{}},{"name":"text","type":"string","nullable":true,"metadata":{}},{"name":"text_bytes","type":"binary","nullable":true,"metadata":{}},{"name":"spans","type":{"type":"array","elementType":{"type":"struct","fields":[{"name":"page","type":"integer","nullable":true,"metadata":{}},{"name":"start","type":"long","nullable":true,"metadata":{}},{"name":"end","type":"long","nullable":true,"metadata":{}}]},"containsNull":true},"nullable":true,"metadata":{}},{"name":"status","type":"string","nullable":true,"metadata":{}},{"name":"error","type":"string","nullable":true,"metadata":{}},{"name":"partition_id","type":"integer","nullable":true,"metadata":{}}]}"""
    // Data files of the two earlier layouts, from the kernel's own results:
    // both store `spans` as `Span` structs, and the older one also a `text`
    // (a wrong value, so only a derived text can pass).
    def commitLegacy(wh: String, buckets: Seq[Int], withText: Boolean): Unit = {
      val legacyDir = s"$wh/data/batch-legacy-${if (withText) "text" else "spans"}"
      val rows = TableIO.pendingInput(pages, 6, buckets).select("url", "warc_ts", "html")
        .as[KernelInRow].map { p =>
          val r = graft.Extract(p.html)
          (p.url, p.warc_ts, r.textBytes, r.spans, r.status, r.error, 0)
        }.toDF("url", "warc_ts", "text_bytes", "spans", "status", "error", "partition_id")
      (if (withText) rows.withColumn("text", lit("stale text"))
        .select("url", "warc_ts", "text", "text_bytes", "spans", "status", "error", "partition_id")
      else rows).write.parquet(legacyDir)
      TableIO.commit(wh, buckets.toSet, legacyDir, Nil, 6)
    }
    // One batch in each earlier layout and one written by runResumable, with
    // the new layout committed last or first.
    for (legacyFirst <- Seq(true, false)) {
      val wh = s"$dir/wh-$legacyFirst"
      if (legacyFirst) {
        commitLegacy(wh, Seq(0, 1), withText = true)
        commitLegacy(wh, Seq(2, 3), withText = false)
        TableIO.runResumable(spark, pages, wh, "mixed", numBuckets = 6, batchBuckets = 2)
      } else {
        intercept[RuntimeException] {
          TableIO.runResumable(spark, pages, wh, "mixed", numBuckets = 6, batchBuckets = 2,
            failAfterBatches = 1)
        }
        commitLegacy(wh, Seq(2, 3), withText = false)
        commitLegacy(wh, Seq(4, 5), withText = true)
      }
      val snap = TableIO.currentSnapshot(wh).get
      assert(snap.committedBuckets == (0 until 6) && snap.dataDirs.length == 3, snap)
      def stores(column: String) = snap.dataDirs.map(d => parquetFiles(d).exists(footerColumns(_).contains(column)))
      val layouts = if (legacyFirst) Seq("text", "spans", "span_ends") else Seq("span_ends", "spans", "text")
      assert(stores("text") == layouts.map(_ == "text"))
      assert(stores("spans") == layouts.map(_ != "span_ends"))
      assert(stores("span_ends") == layouts.map(_ == "span_ends"))
      val read = TableIO.readData(spark, wh).get
      assert(read.schema.json == schemaJson)
      assert(tableKeys(read) == inMemory, s"legacyFirst=$legacyFirst")
      assertTextDerived(read)
    }
    TableIO.deleteRecursively(new java.io.File(dir))
  }

  test("readData's spans are the kernel's spans, for every status") {
    import spark.implicits._
    val dir = Files.createTempDirectory("wh-spans").toString
    val maxBytes = 1 << 20
    val timeoutMs = 2000L
    val lines = Seq("first line of the page", "second (line) & <more>", "third")
    val families = (0 to PagesGen.PdfVariants).map(v =>
      s"family-$v" -> PagesGen.payloadFor(v.toLong, s"spans doc $v", v))
    val multiLine = (0 to 3).map(v => s"multiLinePdf-$v" -> PdfFixtures.multiLinePdf(lines, v))
    val payloads: Seq[(String, Array[Byte])] = families ++ multiLine ++ Seq(
      "s02" -> PdfFixtures.s02(), "s03" -> PdfFixtures.s03(), "s04" -> PdfFixtures.s04(),
      "s05" -> PdfFixtures.s05(), "s08" -> PdfFixtures.s08(), "s09" -> PdfFixtures.s09(),
      "s10" -> PdfFixtures.s10(), "s13" -> PdfFixtures.s13(), "s14" -> PdfFixtures.s14(),
      "twoPages" -> PdfFixtures.twoPages("page one", "page two"),
      "inheritedResources" -> PdfFixtures.inheritedResources(),
      "htmlMultiPara" -> PdfFixtures.htmlMultiPara(lines),
      "emptyMiddlePage" -> threePagesMiddleEmpty("page one", "page three"),
      "htmlNoLines" -> "<html><head></head><body></body></html>".getBytes(US_ASCII),
      "empty" -> Array.emptyByteArray,
      "oversize" -> Array.fill[Byte](maxBytes + 1)('x'),
      "timeout" -> PdfFixtures.sHostile(),
      "error-no-spans" -> "%PDF-garbage".getBytes(US_ASCII),
      "error-partial" -> PdfFixtures.s16())
    val pages = payloads.zipWithIndex.map { case ((name, payload), i) =>
      PageRow(s"https://spans/$name", new java.sql.Timestamp(PagesGen.BaseTs + i), payload, "", "en")
    }.toDF()
    val wh = s"$dir/wh"
    TableIO.runResumable(spark, pages, wh, "spans", numBuckets = 4, batchBuckets = 2,
      maxBytesPerDoc = maxBytes, timeoutMs = timeoutMs)
    val table = TableIO.readData(spark, wh).get.select("url", "status", "spans")
      .as[(String, String, Seq[graft.Span])].collect()
      .map { case (url, status, spans) => url.stripPrefix("https://spans/") -> (status, spans) }.toMap
    val kernel = payloads.map { case (name, payload) =>
      val r = graft.Extract(payload, maxBytes, timeoutMs)
      name -> (r.status, r.spans)
    }.toMap
    assert(table == kernel)
    assert(table.values.map(_._1).toSet == Set("ok", "error", "empty", "skipped_oversize", "timeout"))
    assert(table("error-partial")._1 == "error" && table("error-partial")._2.nonEmpty)
    assert(table("error-no-spans")._1 == "error" && table("error-no-spans")._2.isEmpty)
    assert(table("htmlMultiPara")._2.length == lines.length)
    assert(table("twoPages")._2.length == 2)
    // An empty page is a zero-length span between its neighbours.
    assert(table("emptyMiddlePage") ==
      ("ok", Seq(graft.Span(0, 0, 8), graft.Span(1, 9, 9), graft.Span(2, 10, 20))))
    // An HTML page with no title and no kept block is ok with no line.
    assert(table("htmlNoLines") == ("ok", Nil))
    TableIO.deleteRecursively(new java.io.File(dir))
  }

  /** Three pages whose middle one has an empty content stream; the others
    * show one line of raw Tj text each (no fonts).
    */
  private def threePagesMiddleEmpty(first: String, last: String): Array[Byte] = {
    val bld = new PdfFixtures.Builder()
    def text(t: String) = s"BT ($t) Tj ET".getBytes(US_ASCII)
    bld.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    bld.obj(2, "<< /Type /Pages /Kids [3 0 R 5 0 R 7 0 R] /Count 3 /MediaBox [0 0 612 792] >>")
    for ((content, i) <- Seq(text(first), Array.emptyByteArray, text(last)).zipWithIndex) {
      bld.obj(3 + 2 * i, s"<< /Type /Page /Parent 2 0 R /Contents ${4 + 2 * i} 0 R >>")
      bld.stream(4 + 2 * i, s"<< /Length ${content.length} >>", content)
    }
    bld.build()
  }

  test("the data-file write serializes no text: its serializer is pruned from the kernel's output") {
    import org.apache.spark.sql.catalyst.plans.logical.SerializeFromObject
    // runResumable writes the kernel's Dataset as it is, so the write's one
    // serializer is the kernel's own, and `ExtractedRow` has no `text` field.
    val extracted = Pipeline.extract(spark, PagesGen.smokeTable(spark), "write-plan")
    assert(extracted.columns.toSeq == Seq("url", "warc_ts", "text_bytes", "span_ends", "status", "error", "partition_id"))
    val plan = extracted.queryExecution.optimizedPlan
    val serialized = plan.collect { case s: SerializeFromObject => s.serializer.map(_.name) }
    assert(serialized.length == 1, plan)
    assert(serialized.head.contains("text_bytes"), plan)
    assert(!serialized.head.contains("text"), plan)
  }

  /** The committed table of `stagedRotationPages(dir, invalidUtf8Pages)`,
    * written in two batches: the first run stops after one, and a resume
    * commits the other.
    */
  private def resumedRotationTable(dir: String): DataFrame = {
    val pages = stagedRotationPages(dir, invalidUtf8Pages)
    val wh = s"$dir/wh"
    intercept[RuntimeException] {
      TableIO.runResumable(spark, pages, wh, "pinned", numBuckets = 4, batchBuckets = 2,
        failAfterBatches = 1)
    }
    TableIO.runResumable(spark, pages, wh, "pinned-resumed", numBuckets = 4, batchBuckets = 2)
    TableIO.readData(spark, wh).get
  }

  test("the committed table is pinned: SHA-256 of every readData column but partition_id") {
    val dir = Files.createTempDirectory("wh-pinned").toString
    val rows = resumedRotationTable(dir).collect().sortBy(_.getAs[String]("url"))
    val sha = java.security.MessageDigest.getInstance("SHA-256")
    val out = new java.io.DataOutputStream(
      new java.security.DigestOutputStream(java.io.OutputStream.nullOutputStream(), sha))
    def bytes(b: Array[Byte]): Unit =
      if (b == null) out.writeInt(-1) else { out.writeInt(b.length); out.write(b) }
    def string(s: String): Unit = bytes(if (s == null) null else s.getBytes(UTF_8))
    for (r <- rows) {
      string(r.getAs[String]("url"))
      out.writeLong(r.getAs[java.sql.Timestamp]("warc_ts").getTime)
      string(r.getAs[String]("text"))
      bytes(r.getAs[Array[Byte]]("text_bytes"))
      val spans = r.getAs[collection.Seq[Row]]("spans")
      out.writeInt(spans.length)
      for (s <- spans) { out.writeInt(s.getInt(0)); out.writeLong(s.getLong(1)); out.writeLong(s.getLong(2)) }
      string(r.getAs[String]("status"))
      string(r.getAs[String]("error"))
    }
    out.flush()
    val digest = sha.digest().map(b => f"${b & 0xff}%02x").mkString
    // Recorded from the table written while the kernel's row still carried
    // `text`: a change that moves both the table and the in-memory rows
    // fails here.
    assert((rows.length, digest) == (58, "7b297b9b68f24e147ef26cf41b4c4d2a1973adc53c9a5cba76abf355c3de0c0a"))
    TableIO.deleteRecursively(new java.io.File(dir))
  }

  test("extract_text and the committed table agree on text that is not valid UTF-8") {
    GraftFunctions.register(spark)
    val dir = Files.createTempDirectory("wh-sql").toString
    val table = resumedRotationTable(dir)
    spark.read.parquet(s"$dir/pages").createOrReplaceTempView("pages_bad_utf8")
    def byUrl(df: DataFrame) = df.filter(col("url").startsWith("https://bad-utf8/")).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getAs[Array[Byte]](2).toSeq)).toMap
    val sql = byUrl(spark.sql(
      "SELECT url, extract_text(html).text, extract_text(html).text_bytes FROM pages_bad_utf8"))
    assert(sql.size == invalidUtf8Texts.length)
    assert(sql.values.forall { case (_, b) => !isValidUtf8(b.toArray) })
    assert(sql == byUrl(table.select("url", "text", "text_bytes")))
    TableIO.deleteRecursively(new java.io.File(dir))
  }

  test("resume dedups only the pending buckets: their filter sits below the window's exchange") {
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    val dir = Files.createTempDirectory("wh-pending").toString
    val pages = stagedRotationPages(dir)
    val wh = s"$dir/wh"
    intercept[RuntimeException] {
      TableIO.runResumable(spark, pages, wh, "pending", numBuckets = 8, batchBuckets = 2,
        failAfterBatches = 2)
    }
    val done = TableIO.currentSnapshot(wh).get.committedBuckets.toSet
    assert(done.size == 4)
    def bucketFiltersBelowExchange(df: org.apache.spark.sql.DataFrame): Seq[FilterExec] = {
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p                        => p
      }
      for {
        w <- plan.collect { case w: WindowExec => w }
        e <- w.collect { case e: ShuffleExchangeExec => e }
        f <- e.child.collect { case f: FilterExec if f.condition.sql.contains("xxhash64") => f }
      } yield f
    }
    val resumed = TableIO.pendingInput(pages, 8, (0 until 8).filterNot(done))
    assert(bucketFiltersBelowExchange(resumed).length == 1, resumed.queryExecution.executedPlan)
    val fresh = TableIO.pendingInput(pages, 8, 0 until 8)
    assert(bucketFiltersBelowExchange(fresh).isEmpty, fresh.queryExecution.executedPlan)
    // The early filter changes no surviving row.
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("url", "warc_ts", "__bucket").collect().map(_.toString).sorted.toSeq
    val pending = rows(resumed)
    assert(pending.nonEmpty)
    assert(pending == rows(fresh.filter(!col("__bucket").isin(done.toSeq: _*))))
    TableIO.deleteRecursively(new java.io.File(dir))
  }

  test("parquetRowCount reads footer metadata only, matches count()") {
    val p = "/root/testdata/sf0.001/documents.parquet"
    assert(TableIO.parquetRowCount(spark, p) == spark.read.parquet(p).count())
    // PARTITIONED layout (key=value subdirs) counts recursively
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("prc").toString
    (0 until 100).map(i => (i.toLong, i % 3)).toDF("v", "k")
      .write.partitionBy("k").parquet(s"$dir/t")
    assert(TableIO.parquetRowCount(spark, s"$dir/t") == 100L)
    // empty/wrong path fails LOUDLY instead of returning 0
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$dir/empty"))
    intercept[IllegalArgumentException] {
      TableIO.parquetRowCount(spark, s"$dir/empty")
    }
    TableIO.deleteRecursively(new java.io.File(dir))
  }

  test("extractImages: one pass emits per-image rows + no-image markers") {
    import spark.implicits._
    val ts = new java.sql.Timestamp(0L)
    val pages = Seq(
      PageRow("u-img", ts, graft.fixtures.PdfFixtures.sImages("pic doc", 9L), "", "en"),
      PageRow("u-plain", ts, graft.fixtures.PdfFixtures.s01("no pics"), "", "en"),
      PageRow("u-html", ts, graft.fixtures.PdfFixtures.htmlSimple("web page"), "", "en"),
      PageRow("u-garbage", ts, "%PDF-nope".getBytes, "", "en"),
      PageRow("u-empty", ts, Array.emptyByteArray, "", "en"),
      PageRow("u-big", ts, Array.fill[Byte](60)('x'), "", "en")).toDF()
    val rows = Pipeline.extractImages(spark, pages, maxBytesPerDoc = 50).collect()
    // oversize cap of 50 bytes only catches u-big; raise for the real docs
    val rows2 = Pipeline.extractImages(spark,
      pages.filter(col("url") =!= "u-big")).collect()
    val byUrl = rows2.groupBy(_.url)
    // the status taxonomy holds (the images-table analogue of x34)
    assert(rows.find(_.url == "u-big").get.status == "skipped_oversize")
    assert(byUrl("u-empty").head.status == "empty")
    assert(byUrl("u-html").head.status == "non_pdf")
    assert(byUrl("u-garbage").head.status == "error")
    assert(byUrl("u-plain").head.status == "ok")
    assert(byUrl("u-img").forall(_.status == "ok"))
    // TIMEOUT guard is live on the image path: a 200k-op content stream
    // (the parse loop polls Deadline every 1024 ops) against a 1 ms budget
    // becomes a timeout marker, not a stuck task
    val spin = {
      val c = ("BT " + "0 0 Td " * 200000 + "ET")
        .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      val bld = new graft.fixtures.PdfFixtures.Builder()
      bld.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
      bld.obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>")
      bld.obj(3, "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>")
      bld.stream(4, s"<< /Length ${c.length} >>", c)
      bld.build()
    }
    val hrows = Pipeline.extractImages(spark,
      Seq(PageRow("u-spin", ts, spin, "", "en")).toDF(), timeoutMs = 1).collect()
    assert(hrows.map(_.status).toSeq == Seq("timeout"))
    // the image page yields its 3 XObjects + 1 inline, formula-exact stats
    val imgs = byUrl("u-img").sortBy(_.idx)
    assert(imgs.length == 4)
    assert(imgs.map(_.source).toSeq == Seq("xobject", "xobject", "xobject", "inline"))
    val im0 = imgs.head
    assert((im0.width, im0.height, im0.bpc, im0.components) ==
      (8 + 9 % 24, 8 + (9 / 7) % 16, 8, 1))
    assert(im0.band0_sum == (for (y <- 0 until im0.height; x <- 0 until im0.width)
      yield (x + y + 9) % 256).sum)
    // image-less / non-PDF / unparseable docs each keep exactly one marker
    for (u <- Seq("u-plain", "u-html", "u-garbage", "u-empty")) {
      assert(byUrl(u).length == 1, u)
      assert(byUrl(u).head.source == "none", u)
    }
    assert(byUrl("u-garbage").head.n_errors == 1)
    assert(byUrl("u-html").head.n_errors == 0)
    // plan shape: no exchange before the kernel (same contract as extract)
    val plan = Pipeline.extractImages(spark, pages).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "extractImages must not pre-shuffle")
  }

  test("extraction plan: single shuffle (repartition), kernel in one mapPartitions") {
    // The production plan (dedup -> kernel): dedupLatest's url-hash window
    // exchange is the only shuffle; the kernel runs on its partitions.
    val pages = PagesGen.smokeTable(spark)
    val ds = Pipeline.run(spark, pages, "plan")
    val plan = ds.queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toList
    assert(exchanges.length == 1, s"expected only the dedup exchange:\n$plan")
    assert(exchanges.head.contains("hashpartitioning(url"), exchanges.head)
    assert(plan.contains("Window"), plan) // the exchange feeds dedupLatest's window
    assert(plan.contains("SerializeFromObject")) // typed kernel present
  }

  test("extraction plan DEFAULT: no pre-kernel shuffle (scan partitions feed the kernel)") {
    val pages = PagesGen.smokeTable(spark)
    val ds = Pipeline.extract(spark, pages, "plan-default")
    val plan = ds.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"default path must not shuffle payloads:\n$plan")
  }

  test("extract_text Catalyst expression via SQL") {
    import spark.implicits._
    GraftFunctions.register(spark)
    PagesGen.smokeTable(spark).createOrReplaceTempView("pages_smoke")
    val rows = spark.sql(
      """SELECT url, extract_text(html).text AS text, extract_text(html).status AS status
        |FROM pages_smoke WHERE url = 'https://t/ok-pdf'""".stripMargin).collect()
    assert(rows.length == 1)
    assert(rows.head.getString(1) == "Hello World")
    assert(rows.head.getString(2) == "ok")
    // null-safety + type check
    val nullRow = spark.sql("SELECT extract_text(CAST(NULL AS BINARY)) AS r").collect()
    assert(nullRow.head.isNullAt(0))
    intercept[Exception](spark.sql("SELECT extract_text('not binary at all')").collect())
  }

  test("extract_text participates in codegen (no CodegenFallback row)") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    GraftFunctions.register(spark)
    PagesGen.smokeTable(spark).createOrReplaceTempView("pages_smoke_cg")
    val df = spark.sql(
      "SELECT extract_text(html).text AS t FROM pages_smoke_cg WHERE url = 'https://t/ok-pdf'")
    // The expression itself must not be a fallback...
    val exprs = df.queryExecution.analyzed.expressions
      .flatMap(_.collect { case e: ExtractTextExpr => e })
    assert(exprs.nonEmpty)
    assert(!exprs.exists(_.isInstanceOf[CodegenFallback]))
    // ...and the generated code must actually COMPILE: CODEGEN_ONLY makes
    // janino failures throw instead of silently falling back to interpreted.
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "CODEGEN_ONLY")
    try {
      val rows = df.collect()
      assert(rows.head.getString(0) == "Hello World")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("entry() flagship returns rows on sf0.001") {
    val df = graft.SparkEntry.entry(spark)
    val n = df.count()
    assert(n > 0)
    assert(df.filter(col("status") === "ok").count() == n) // all fixtures extract cleanly
  }

  test("t2: fixture corpus through the pipeline, byte-identical golden join, match rate 1.0") {
    import spark.implicits._
    // Every PDF container variant x 25 texts, with the expected text known
    // by construction; golden verification join per SURVEY §2.10.
    val rows = for {
      i <- 0 until 25
      v <- 0 until 4
    } yield {
      val text = s"golden doc $i variant $v with some content to extract"
      graft.spark.PageRow(f"https://t2/doc-$i%03d-$v", new java.sql.Timestamp(PagesGen.BaseTs + i),
        PagesGen.payloadFor(i.toLong * 4 + v, text, v), text /* golden rides along */, "en")
    }
    val pages = rows.toDF()
    val extracted = Pipeline.run(spark, pages, "t2").toDF()
    val golden = pages.select(col("url"), col("text").as("expected"))
    val joined = extracted.join(broadcast(golden), "url")
    val total = joined.count()
    assert(total == 100)
    val matched = joined.filter(col("text_bytes") === col("expected").cast("binary")).count()
    assert(matched == total) // byte-identical match rate = 1.0
    assert(joined.filter(col("status") =!= "ok").count() == 0)
  }
}
