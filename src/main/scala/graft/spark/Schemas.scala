package graft.spark

import java.sql.Timestamp

/** The fixed input-table contract (BASELINE.json input_hint):
  * pages(url string, warc_ts timestamp, html binary, text string, lang string).
  */
final case class PageRow(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** Kernel input projection: ONLY the columns extraction reads. Keeping the
  * pages table's `text`/`lang` out of the kernel scan prunes ~12 KB/doc of
  * dead parquet decode — the kernel consumes url/warc_ts/html and drops the
  * rest anyway.
  */
final case class KernelInRow(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte])

/** The kernel's output row and the committed data-file row (SURVEY.md §1.2).
  * `text_bytes` carries the exact extracted bytes for the byte-identity
  * invariant. The table's `text` column, their lossy UTF-8 view, is not
  * stored, and the kernel's spans are stored as their end offsets only
  * (`ExtractResult.spanEnds`): `TableIO.readData` derives `text` and `spans`
  * on read.
  */
final case class ExtractedRow(
    url: String,
    warc_ts: Timestamp,
    text_bytes: Array[Byte],
    span_ends: Array[Long],
    status: String,
    error: String,
    partition_id: Int)

/** One raster pulled out of a page payload (the multimodal-bridge table:
  * feeds Multimodal-style decode/dedup stats downstream). `status` carries
  * the extract taxonomy (ok | error | empty | skipped_oversize | timeout)
  * plus `non_pdf` for payloads the image scanner does not apply to; marker
  * rows (source = "none") keep one row per document so lineage never loses
  * documents and skipped/failed docs stay re-targetable.
  */
final case class ImageRow(
    url: String,
    page: Int,
    idx: Int,
    source: String,
    width: Int,
    height: Int,
    bpc: Int,
    components: Int,
    n_bytes: Long,
    band0_sum: Long,
    n_errors: Int,
    status: String)

/** One lineage row per task partition (SURVEY.md §1.2). */
final case class LineageRow(
    run_id: String,
    partition_id: Int,
    input_rows: Long,
    ok_rows: Long,
    err_rows: Long,
    bytes_in: Long,
    bytes_out: Long,
    wall_ms: Long,
    started_at: Long,
    committed_at: Long)
