package graft.spark

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator

import graft.Extract

/** The extraction pipeline: scan -> dedup-by-url -> mapPartitions kernel
  * -> extracted rows (+ per-partition lineage).
  *
  * Scale design (SURVEY.md §2.10, §4.3):
  *  - dedup keeps the LATEST capture per url (window by warc_ts desc) — one
  *    shuffle on url, unavoidable for the semantics;
  *  - the kernel runs inside ONE typed mapPartitions (no shuffle): a pure
  *    Array[Byte] -> ExtractResult function per row, failure-isolated;
  *  - skew: docs are spread by hashing url (uniform mix of sizes per
  *    partition beats range-by-size, which would cluster the whales);
  *    per-doc byte cap (skipped_oversize) bounds the worst straggler;
  *  - lineage: accumulated per task partition (one row per partition —
  *    thousands of rows at cluster scale, trivially collectible; the
  *    batch's snapshot manifest records them).
  */
object Pipeline {

  /** Keep the latest capture per url (SURVEY §2.10 dedup). Ties on warc_ts
    * (same-second recrawls) break deterministically by payload hash so the
    * survivor is stable across shuffles, retries and AQE replans.
    */
  def dedupLatest(pages: DataFrame): DataFrame = {
    val w = Window.partitionBy("url")
      .orderBy(col("warc_ts").desc, xxhash64(col("html")).desc)
    pages
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Run extraction over a pages DataFrame. Returns the extracted Dataset;
    * lineage rows are collected into `lineageAcc` when provided.
    */
  def extract(
      spark: SparkSession,
      pages: DataFrame,
      runId: String,
      maxBytesPerDoc: Int = Extract.DefaultMaxBytesPerDoc,
      lineageAcc: CollectionAccumulator[LineageRow] = null,
      timeoutMs: Long = Extract.DefaultTimeoutMs): Dataset[ExtractedRow] = {
    import spark.implicits._
    // Project to the kernel's columns BEFORE typing the Dataset: the pages
    // table's text/lang never reach the kernel, so selecting them forced
    // every extraction scan to decode ~12 KB/doc of dead data (guide §6
    // column pruning). No pre-kernel shuffle: the scan's own partitioning
    // (spark.sql.files.maxPartitionBytes-sized splits, or the url-hash
    // partitioning left by dedupLatest's window) already spreads the work —
    // re-shuffling the full payload bytes would be the single biggest data
    // movement in the job.
    pages.select("url", "warc_ts", "html").as[KernelInRow].mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      val startedAt = System.currentTimeMillis()
      var inputRows = 0L
      var okRows = 0L
      var errRows = 0L
      var bytesIn = 0L
      var bytesOut = 0L
      // Lineage flush on task completion: it also fires when a downstream
      // limit() stops consuming early, and its wall clock covers the task's
      // own output write. Completion listeners run before the task reports,
      // so accumulator updates made there count once per successful task.
      if (lineageAcc != null) Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] { _ =>
        val now = System.currentTimeMillis()
        lineageAcc.add(LineageRow(runId, pid, inputRows, okRows, errRows,
          bytesIn, bytesOut, now - startedAt, startedAt, now))
      })
      it.map { row =>
        inputRows += 1
        val payload = row.html
        bytesIn += (if (payload == null) 0 else payload.length)
        val r = Extract(payload, maxBytesPerDoc, timeoutMs)
        bytesOut += r.textBytes.length
        if (r.status == "ok") okRows += 1 else if (r.status == "error") errRows += 1
        ExtractedRow(
          url = row.url,
          warc_ts = row.warc_ts,
          text_bytes = r.textBytes,
          span_ends = r.spanEnds,
          status = r.status,
          error = r.error,
          partition_id = pid)
      }
    }
  }

  /** Full job: dedup -> extract. Convenience for the entry points. The
    * dedup window already hash-partitions rows by url, so extraction runs
    * directly on those partitions (no second shuffle).
    */
  def run(spark: SparkSession, pages: DataFrame, runId: String): Dataset[ExtractedRow] =
    extract(spark, dedupLatest(pages), runId)

  /** IMAGE extraction over a pages table: the multimodal bridge as a
    * first-class pipeline operator. One mapPartitions pass (no
    * pre-shuffle, like text extraction) enumerates + decodes every raster
    * of every PDF payload through PdfImages and emits one ImageRow per
    * image with integer statistics, plus a marker row (source "none") per
    * image-less document so lineage never loses documents. Each document
    * runs under text extraction's own guard (Extract.guarded): empty /
    * oversize payloads and non-PDFs keep taxonomy marker rows, the
    * per-document Deadline makes a hostile spinning PDF a `timeout` row
    * instead of a stuck task, and the Throwable backstop turns any kernel
    * defect into an `error` row (interrupts and OOM still propagate). Raw
    * samples stay inside the partition — at 100 TB the images table carries
    * statistics and identities, with decoded bytes re-derivable downstream.
    */
  def extractImages(spark: SparkSession, pages: DataFrame,
                    maxBytesPerDoc: Int = Extract.DefaultMaxBytesPerDoc,
                    timeoutMs: Long = Extract.DefaultTimeoutMs): Dataset[ImageRow] = {
    import spark.implicits._
    pages.select("url", "warc_ts", "html").as[KernelInRow]
      .mapPartitions { it =>
        it.flatMap { row =>
          val payload = row.html
          def marker(status: String, nErrors: Int): Iterator[ImageRow] =
            Iterator.single(ImageRow(row.url, -1, -1, "none", 0, 0, 0, 0,
              if (payload == null) 0L else payload.length.toLong, 0L,
              nErrors, status))
          // timeout and error count as the document's one error
          def failed(status: String, msg: String): Iterator[ImageRow] =
            marker(status, if (status == "timeout" || status == "error") 1 else 0)
          Extract.guarded(payload, maxBytesPerDoc, timeoutMs, failed) {
            if (!Extract.isPdf(payload)) marker("non_pdf", 0)
            else {
              val scan = graft.pdf.PdfImages.imagesOf(graft.pdf.PdfDocument.open(payload))
              if (scan.images.isEmpty) marker("ok", scan.nErrors)
              else scan.images.iterator.map { im =>
                ImageRow(row.url, im.page, im.idx, im.source, im.width,
                  im.height, im.bpc, im.components, im.data.length.toLong,
                  im.band0Sum, scan.nErrors, "ok")
              }
            }
          }
        }
      }
  }
}
