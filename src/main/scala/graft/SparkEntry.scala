package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Multimodal, Similarity, TextOps}
import graft.spark.{PagesGen, Pipeline}

/** One correctness gate: `run(spark, sfDir)` is the Spark plan under test,
  * `oracleSql` the DuckDB query over the same sf tables that must return the
  * same rows. Column names are aliased identically on both sides (the
  * compare sorts columns by name before hashing).
  */
final case class Gate(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracleSql: String)

/** Correctness contract — one `Gate` per implemented operator family
  * (SURVEY.md §2 + the training-data ops), each with its DuckDB-runnable
  * oracle.
  *
  * The extraction gates are END-TO-END oracle checks: the pages payloads
  * are built deterministically FROM the documents text by the fixture
  * builders, so extraction must round-trip the text byte-for-byte (PDF) or
  * whitespace-normalized (HTML) — the oracle is plain SQL over `documents`.
  */
object SparkEntry {

  /** documents scan with the input-skew guard (guide §2.5): the sf tables
    * are single small parquet files = one-partition scans, which serialize
    * every per-row KERNEL map (payload build + PDF parse/rewrite/author per
    * row) on a single core. Applied ONLY where interleaved A/B showed a win
    * (the kernel-heavy extraction/authoring maps: x30-x34, x43, x44, x46 —
    * e.g. x42 7.1 s -> 1.2 s, x44 1.34 -> 0.66); the cheap-UDF/SQL queries
    * (minhash, embeddings, langid, bpe) are scheduling-bound at bench scale
    * and measurably regress under the extra exchange, so they keep the raw
    * scan. spreadScan is a no-op once the scan yields >= defaultParallelism
    * splits (any at-scale table).
    */
  private def docsSpread(s: SparkSession, dir: String): DataFrame =
    graft.spark.TableIO.spreadScan(
      s.read.parquet(s"$dir/documents.parquet"), "doc_id")

  /** Scratch dir for the streaming gate queries: RAM-backed when available,
    * recursively deleted on JVM exit (repeated verification runs must not
    * accumulate event-table copies in /tmp).
    */
  private def scratchDir(prefix: String): String = {
    val base = if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get("/dev/shm")))
      java.nio.file.Paths.get("/dev/shm") else java.nio.file.Paths.get("/tmp")
    val dir = java.nio.file.Files.createTempDirectory(base, prefix).toString
    sys.addShutdownHook {
      graft.spark.TableIO.deleteRecursively(new java.io.File(dir))
    }
    dir
  }

  /** Plain copy of `$dir/events.parquet` staged into a scratch DIRECTORY
    * (FileStreamSource requires a directory, not a single parquet file),
    * shared by the streaming gates that consume the UNMODIFIED table
    * (x37/x41) — one copy per sf dir per JVM instead of one per query.
    * (x35 stages its own planted-duplicates variant separately.)
    */
  private val stagedEvents = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def stagedEventsDir(s: SparkSession, dir: String): String =
    stagedEvents.computeIfAbsent(dir, _ => {
      val tmp = scratchDir("graft-events-in")
      s.read.parquet(s"$dir/events.parquet").write.parquet(s"$tmp/in")
      s"$tmp/in"
    })

  /** x39 fixture: an 8-rule merges table in the public GPT-2 merges.txt
    * format (line order = rank).
    */
  private[graft] val DemoMerges: String =
    """#version: 0.2
      |t h
      |th e
      |i n
      |a n
      |an d
      |e r
      |in g
      |o u""".stripMargin

  /** x39 fixture word bank. */
  private[graft] val BpeBank: Vector[String] = Vector(
    "the", "thin", "and", "other", "ring", "under",
    "banana", "thing", "south", "thethe", "nineteen", "around")

  /** HAND-TRACED token counts for BpeBank under DemoMerges (worked on
    * paper, rank-greedy + merge-all-occurrences; these deliberately do NOT
    * call bpeEncode — they are the independent ground truth the oracle
    * uses, and BpeSpec pins the full token sequences):
    *   the      t,h,e -> th,e -> [the]                          = 1
    *   thin     t,h,i,n -> th,i,n -> [th,in]                    = 2
    *   and      a,n,d -> an,d -> [and]                          = 1
    *   other    o,t,h,e,r -> o,th,e,r -> [o,the,r]              = 3
    *   ring     r,i,n,g -> r,in,g -> [r,ing]                    = 2
    *   under    u,n,d,e,r -> [u,n,d,er]                         = 4
    *   banana   b,a,n,a,n,a -> [b,an,an,a] (merge-all L2R)      = 4
    *   thing    t,h,i,n,g -> th,i,n,g -> th,in,g -> [th,ing]    = 2
    *   south    s,o,u,t,h -> s,o,u,th -> [s,ou,th]              = 3
    *   thethe   t,h,e,t,h,e -> th,e,th,e -> [the,the]           = 2
    *   nineteen n,i,n,e,t,e,e,n -> [n,in,e,t,e,e,n]             = 7
    *   around   a,r,o,u,n,d -> [a,r,ou,n,d]                     = 5
    */
  private[graft] val BpeBankCounts: Vector[Int] =
    Vector(1, 2, 1, 3, 2, 4, 4, 2, 3, 2, 7, 5)

  /** Flagship: the full extraction pipeline (dedup -> salted mapPartitions
    * kernel) over a mixed PDF/HTML corpus synthesized from sf0.001.
    */
  def entry(spark: SparkSession): DataFrame = {
    val pages = PagesGen.pagesMixed(spark, "/root/testdata/sf0.001").toDF()
    Pipeline.run(spark, pages, runId = "entry")
      .select(col("url"), col("status"),
        graft.spark.TableIO.textOf(col("text_bytes")).as("text"))
  }

  /** doc_id of a PagesGen url: the digits after its LAST '-' (robust to ids
    * wider than the %06d zero-padding at larger scale factors).
    */
  private def docIdOf(url: String): Long = url.substring(url.lastIndexOf('-') + 1).toLong

  // ---------------------------------------------------- oracle SQL helpers

  /** Oracle of the gates whose extraction returns documents.text unchanged. */
  private val sourceTextSql: String =
    "SELECT doc_id, text AS extracted FROM documents ORDER BY doc_id"

  /** Oracle of the HTML gates: documents.text with whitespace runs collapsed
    * to one space and trimmed.
    */
  private val collapsedTextSql: String =
    "SELECT doc_id, trim(regexp_replace(text, '[ \\t\\r\\n\\x0B\\x0C]+', ' ', 'g'), ' ') " +
      "AS extracted FROM documents ORDER BY doc_id"

  /** FNV-1a 64 of a string expression, in DuckDB: unsigned mod-2^64
    * arithmetic over HUGEINT (xor + wrapping multiply), seeded by prepending
    * the offset basis to the codepoint list. Mirrors TextOps.fnv1a64.
    */
  private def fnvSql(s: String): String =
    "list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT), " +
      s"list_transform(regexp_split_to_array($s, ''), c -> CAST(unicode(c) AS HUGEINT))), " +
      "(acc, cp) -> (xor(acc, cp) * 1099511628211) % CAST(18446744073709551616 AS HUGEINT))"

  /** HUGEINT in [0, 2^64) -> signed BIGINT (two's complement). */
  private def toSignedSql(h: String): String =
    s"CAST(CASE WHEN $h >= CAST(9223372036854775808 AS HUGEINT) " +
      s"THEN $h - CAST(18446744073709551616 AS HUGEINT) ELSE $h END AS BIGINT)"

  /** Per-doc word-3-shingle DISTINCT sets (mirrors Dedup.shingles: lowercase,
    * split on non-alnum, k=3, short docs collapse to one joined shingle).
    */
  private val shingleSetsSql: String =
    "WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks FROM documents), " +
      "sh AS (SELECT doc_id, CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[]) " +
      "WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')] " +
      "ELSE list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS shl FROM t), " +
      "s AS (SELECT doc_id, list_distinct(shl) AS sset FROM sh), " +
      // Zero-shingle docs are excluded from the pair universe on BOTH sides
      // (Spark: no bands -> no candidates; they dedup via the exact path), so
      // the empty-vs-empty un=0 corner can't diverge.
      "pairs AS (SELECT a.doc_id AS ia, b.doc_id AS ib, " +
      "len(list_intersect(a.sset, b.sset)) AS inter, " +
      "len(a.sset) + len(b.sset) - len(list_intersect(a.sset, b.sset)) AS un " +
      "FROM s a JOIN s b ON a.doc_id < b.doc_id " +
      "WHERE len(a.sset) > 0 AND len(b.sset) > 0), " +
      "good AS (SELECT ia, ib, inter, un FROM pairs " +
      "WHERE (CASE WHEN un = 0 THEN 1.0 ELSE inter * 1.0 / un END) >= 0.7)"

  /** Integer-exact LSH signature CTEs (mirror Similarity.lshSignature with
    * bitsFor(n) planes): FNV-quantized hyperplane components in
    * [-1000, 1000] against round(v*1000) vector components.
    */
  private val lshSigSql: String = {
    val fnvPd = fnvSql("(CAST(p AS VARCHAR) || ':' || CAST(d AS VARCHAR))")
    "cnt AS (SELECT count(*) AS n FROM embeddings), " +
      "cfg AS (SELECT GREATEST(2, LEAST(62, CAST(ceil(log2(GREATEST(n, 1) / 32.0)) AS INT))) AS bits FROM cnt), " +
      "dots AS (SELECT e.vec_id, pr.p, " +
      "list_sum(list_transform(range(0, len(e.embedding)), d -> " +
      "CAST(round(CAST(e.embedding[CAST(d AS INT) + 1] AS DOUBLE) * 1000) AS BIGINT) * " +
      s"(CAST($fnvPd % 2001 AS BIGINT) - 1000))) AS dotp " +
      "FROM embeddings e, cfg, range(0, 62) pr(p) WHERE pr.p < cfg.bits), " +
      "sig AS (SELECT vec_id, CAST(sum(CASE WHEN dotp >= 0 THEN (1::BIGINT << CAST(p AS INT)) ELSE 0 END) AS BIGINT) AS bucket " +
      "FROM dots GROUP BY 1)"
  }

  /** Integer-exact IVF CTEs (mirror Similarity.ivfTopKQuant, nLists=16,
    * nProbe=4): quantized vectors, initial centroids = the 16 vec_ids with
    * the lowest (signed fnv1a64(vec_id), vec_id) — a deterministic
    * hash-ordered sample, one floorDiv Lloyd step (empty cells keep their
    * initial centroid), squared-L2 assignment with lowest-index tie-break. All
    * BIGINT arithmetic — floorDiv(s, c) is spelled (s - ((s%c)+c)%c) // c,
    * exact because the numerator is divisible. range(1,257)+WHERE bounds
    * the dim unnest (range() table function can't take lateral args).
    */
  private val ivfSql: String = {
    def l2(v: String, c: String): String =
      s"list_sum(list_transform(range(1, len($v) + 1), i -> " +
        s"($v[CAST(i AS INT)] - $c[CAST(i AS INT)]) * ($v[CAST(i AS INT)] - $c[CAST(i AS INT)])))"
    "WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv FROM embeddings), " +
      s"eh AS (SELECT vec_id, qv, ${toSignedSql(fnvSql("CAST(vec_id AS VARCHAR)"))} AS h FROM e), " +
      "c0 AS (SELECT CAST(row_number() OVER (ORDER BY h, vec_id) AS INT) - 1 AS ci, qv AS ce " +
      "FROM (SELECT vec_id, qv, h FROM eh ORDER BY h, vec_id LIMIT 16) t), " +
      s"d0 AS (SELECT a.vec_id, c.ci, ${l2("a.qv", "c.ce")} AS dist FROM e a, c0 c), " +
      "a0 AS (SELECT vec_id, ci FROM (SELECT vec_id, ci, row_number() OVER (PARTITION BY vec_id ORDER BY dist, ci) AS rn FROM d0) WHERE rn = 1), " +
      "sums AS (SELECT a.ci, r.i AS i, CAST(sum(x.qv[CAST(r.i AS INT)]) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c " +
      "FROM a0 a JOIN e x USING (vec_id), range(1, 257) r(i) WHERE r.i <= len(x.qv) GROUP BY 1, 2), " +
      "cd AS (SELECT ci, i, (s - ((s % c) + c) % c) // c AS cdim FROM sums), " +
      "c1 AS (SELECT ci, list(cdim ORDER BY i) AS ce FROM cd GROUP BY ci), " +
      "cf AS (SELECT c0.ci, coalesce(c1.ce, c0.ce) AS ce FROM c0 LEFT JOIN c1 USING (ci)), " +
      s"d1 AS (SELECT a.vec_id, c.ci, ${l2("a.qv", "c.ce")} AS dist FROM e a, cf c), " +
      "a1 AS (SELECT vec_id, ci AS list_id FROM (SELECT vec_id, ci, row_number() OVER (PARTITION BY vec_id ORDER BY dist, ci) AS rn FROM d1) WHERE rn = 1), " +
      "q AS (SELECT vec_id AS query_id, qv AS qq FROM e ORDER BY vec_id LIMIT 3), " +
      s"qd AS (SELECT q.query_id, c.ci, ${l2("q.qq", "c.ce")} AS dist FROM q, cf c), " +
      "probes AS (SELECT query_id, ci FROM (SELECT query_id, ci, row_number() OVER (PARTITION BY query_id ORDER BY dist, ci) AS rn FROM qd) WHERE rn <= 4), " +
      "cand AS (SELECT p.query_id, a1.vec_id FROM probes p JOIN a1 ON a1.list_id = p.ci WHERE a1.vec_id <> p.query_id), " +
      "scored AS (SELECT c.query_id, c.vec_id AS neighbor_id, " +
      "CAST(list_sum(list_transform(range(1, len(x.qv) + 1), i -> x.qv[CAST(i AS INT)] * q.qq[CAST(i AS INT)])) AS BIGINT) AS dot " +
      "FROM cand c JOIN e x ON x.vec_id = c.vec_id JOIN q ON q.query_id = c.query_id), " +
      "ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, neighbor_id) AS rn FROM scored) " +
      "SELECT query_id, neighbor_id, dot, CAST(rn AS INT) AS rank FROM ranked " +
      "WHERE rn <= 10 ORDER BY query_id, rn"
  }

  /** Per-doc FNV-based simhash (mirrors Dedup.simhash64). */
  private val simhashSql: String =
    "WITH toks AS (SELECT doc_id, tok FROM documents, " +
      "unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS t(tok)), " +
      s"hashed AS (SELECT doc_id, ${toSignedSql(fnvSql("tok"))} AS h FROM toks), " +
      "bits AS (SELECT doc_id, b, sum(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END) AS v " +
      "FROM hashed, range(64) r(b) GROUP BY 1, 2), " +
      "agg AS (SELECT doc_id, " +
      "CAST(sum(CASE WHEN v > 0 AND b < 63 THEN (1::BIGINT << CAST(b AS INT)) ELSE 0 END) AS BIGINT) " +
      "+ CAST(sum(CASE WHEN v > 0 AND b = 63 THEN -9223372036854775808 ELSE 0 END) AS BIGINT) AS sh " +
      "FROM bits GROUP BY 1), " +
      "sim AS (SELECT d.doc_id, coalesce(a.sh, 0) AS simhash FROM documents d " +
      "LEFT JOIN agg a ON d.doc_id = a.doc_id)"

  /** The gate registry: each gate's Spark plan next to its DuckDB oracle.
    * Oracle arithmetic is engine-exact by construction: counts,
    * integer-valued double sums, quantized integer dot products, FNV hashes
    * in HUGEINT mod-2^64, identical regex classes. Extraction oracles work
    * because the payloads are built FROM documents.text deterministically.
    * Defined below the oracle helper vals: object vals initialise in text
    * order, so a registry above them would capture null SQL.
    */
  val gates: Seq[Gate] = Seq(
    // ----------------------------------------------------- extraction (E2E)
    Gate("x10_extract_pdf", (s, dir) => {
      import s.implicits._
      // PDF payload variants rotate through ALL PagesGen.PdfVariants (24)
      // container families (classic xref / flate / objstm+xref-stream /
      // multi-filter / ToUnicode CMap / RC4 crypt / AESV2 crypt / startxref
      // repair / LZW / RLE / inline image / Separation+Type-4 tint / AESV3
      // R6 crypt / encrypted objstm / annotated page / hybrid /XRefStm /
      // Lab+CalRGB+Indexed / Type-0+Type-2 tints / incremental update with
      // a /Prev chain / ASCIIHex / Flate+TIFF-Predictor-2 / shuffled-xref
      // rebuild / image-bearing page with 3 XObject + 1 inline images /
      // shading page with axial sh + tiling+shading patterns);
      // extraction must return the exact original text. The
      // authoritative per-variant list is PagesGen.payloadFor.
      PagesGen.pagesPdf(s, dir).map { row =>
        (docIdOf(row.url), Extract(row.html).text)
      }.toDF("doc_id", "extracted").orderBy("doc_id")
    }, oracleSql = sourceTextSql),
    Gate("x11_extract_html", (s, dir) => {
      import s.implicits._
      PagesGen.pagesHtml(s, dir).map { row =>
        (docIdOf(row.url), Extract(row.html).text)
      }.toDF("doc_id", "extracted").orderBy("doc_id")
    }, oracleSql = collapsedTextSql),
    Gate("x23_extract_boilerplate", (s, dir) => {
      import s.implicits._
      // Boilerplate-rich pages: nav/header/aside/footer must be stripped,
      // leaving exactly "Doc <id>\n<collapsed text>".
      PagesGen.pagesHtmlBoiler(s, dir).map { row =>
        (docIdOf(row.url), Extract(row.html).text)
      }.toDF("doc_id", "extracted").orderBy("doc_id")
    }, oracleSql =
      ("SELECT doc_id, CASE WHEN norm = '' THEN 'Doc ' || CAST(doc_id AS VARCHAR) " +
        "ELSE 'Doc ' || CAST(doc_id AS VARCHAR) || chr(10) || norm END AS extracted FROM " +
        "(SELECT doc_id, trim(regexp_replace(text, '[ \\t\\r\\n\\x0B\\x0C]+', ' ', 'g'), ' ') AS norm " +
        "FROM documents) ORDER BY doc_id")),
    Gate("x30_extract_multipage", (s, dir) => {
      import s.implicits._
      // TWO-page docs: page 2 has NO resources anywhere (raw Tj without Tf);
      // doc text = page1 + "\n" + page2 (the page-glue contract). Exercises
      // buildPageList/Kids + the no-codemap raw-bytes path through the gate.
      docsSpread(s, dir)
        .select("doc_id", "text").as[(Long, String)]
        .map { case (id, text) =>
          val r = Extract(graft.fixtures.PdfFixtures.twoPages(text, s"p2 of $id"))
          (id, r.text)
        }.toDF("doc_id", "extracted").orderBy("doc_id")
    }, oracleSql =
      ("SELECT doc_id, text || chr(10) || 'p2 of ' || CAST(doc_id AS VARCHAR) AS extracted " +
        "FROM documents ORDER BY doc_id")),
    Gate("x31_extract_contents_array", (s, dir) => {
      import s.implicits._
      // /Contents as an ARRAY of two streams -> joined with " " at the page
      // level (allContentStreams glue).
      docsSpread(s, dir)
        .select("doc_id", "text").as[(Long, String)]
        .map { case (id, text) =>
          val r = Extract(graft.fixtures.PdfFixtures.s09(text, s"part2 of $id"))
          (id, r.text)
        }.toDF("doc_id", "extracted").orderBy("doc_id")
    }, oracleSql =
      // NB no separator: the " " glue joins stream BYTES ("...Tj ET BT...");
      // no text op emits it (DocumentSpec s09 pins this reference quirk).
      ("SELECT doc_id, text || 'part2 of ' || CAST(doc_id AS VARCHAR) AS extracted " +
        "FROM documents ORDER BY doc_id")),
    Gate("x33_extract_spans", (s, dir) => {
      import s.implicits._
      // Span accounting through the gate (the north rule's "text + span
      // offsets"): two-page docs yield exactly 2 spans with byte offsets
      // [0, len1) for page 0 and [len1+1, total) for page 1 (after the
      // joining '\n') — all mirrored as octet_length arithmetic in SQL.
      docsSpread(s, dir)
        .select("doc_id", "text").as[(Long, String)]
        .map { case (id, text) =>
          val r = Extract(graft.fixtures.PdfFixtures.twoPages(text, s"p2 of $id"))
          val sp = r.spans
          (id, sp.length.toLong, sp.head.start, sp.head.end, sp.last.start, sp.last.end)
        }.toDF("doc_id", "n_spans", "s0_start", "s0_end", "s1_start", "s1_end")
        .orderBy("doc_id")
    }, oracleSql =
      ("SELECT doc_id, CAST(2 AS BIGINT) AS n_spans, CAST(0 AS BIGINT) AS s0_start, " +
        "CAST(strlen(text) AS BIGINT) AS s0_end, " + // strlen = BYTE length in DuckDB
        "CAST(strlen(text) + 1 AS BIGINT) AS s1_start, " +
        "CAST(strlen(text) + 1 + strlen('p2 of ' || CAST(doc_id AS VARCHAR)) AS BIGINT) AS s1_end " +
        "FROM documents ORDER BY doc_id")),
    Gate("x32_extract_html_entities", (s, dir) => {
      import s.implicits._
      // Entity-encoded pages (named + numeric dec/hex refs) must decode back
      // to the whitespace-normalized source text.
      docsSpread(s, dir)
        .select("doc_id", "text").as[(Long, String)]
        .map { case (id, text) =>
          (id, Extract(graft.fixtures.PdfFixtures.htmlEntities(text)).text)
        }.toDF("doc_id", "extracted").orderBy("doc_id")
    }, oracleSql = collapsedTextSql),
    Gate("x22_match_rate", (s, dir) => {
      // THE north-rule metric made explicit: byte-identical match rate of
      // extracted text vs the source text (must be 1.0 == n_total).
      import s.implicits._
      val extracted = PagesGen.pagesPdf(s, dir).map { row =>
        (docIdOf(row.url), Extract(row.html).text)
      }.toDF("doc_id", "extracted")
      val docs = s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      extracted.join(docs, "doc_id")
        .agg(sum(when(col("extracted") === col("text"), 1L).otherwise(0L)).as("n_match"),
          count(lit(1)).as("n_total"))
    }, oracleSql =
      "SELECT CAST(count(*) AS BIGINT) AS n_match, CAST(count(*) AS BIGINT) AS n_total FROM documents"),
    Gate("x12_extract_statuses", (s, dir) => {
      val extracted = Pipeline.run(s, PagesGen.pagesMixed(s, dir).toDF(), "x12")
      extracted.toDF().groupBy("status").agg(count(lit(1)).as("n")).orderBy("status")
    }, oracleSql =
      // The mixed corpus is all-valid by construction: every doc must be ok.
      "SELECT 'ok' AS status, CAST(count(*) AS BIGINT) AS n FROM documents ORDER BY status"),
    Gate("x34_status_taxonomy", (s, dir) => {
      import s.implicits._
      // The FULL status taxonomy through the gate: planted garbage (error),
      // over-cap payloads (skipped_oversize), empty payloads (empty),
      // hostile spinning payloads (timeout — a 2e9-iteration PS roll that
      // needs tens of seconds of spin, against a 5 s budget: legitimate
      // docs finish in ~50 us, so even a multi-second GC pause cannot flip
      // one to timeout, while the hostile doc cannot sneak under the
      // budget; 1-in-250 planting keeps the deliberate spin cost out of
      // the verification wall clock) and valid docs (ok), with the
      // expected histogram pure doc_id arithmetic.
      val pages = docsSpread(s, dir)
        .select("doc_id", "text").as[(Long, String)]
        .map { case (id, text) =>
          val payload: Array[Byte] =
            if (id % 250 == 2) graft.fixtures.PdfFixtures.sHostile()
            else (id % 10) match {
              case 3 => "%PDF-garbage that cannot parse".getBytes
              case 6 => Array.fill[Byte](100000)('x') // over the 50k cap below
              case 9 => Array.emptyByteArray
              case _ => graft.fixtures.PdfFixtures.s01(text)
            }
          graft.spark.PageRow(f"https://t/doc-$id%06d",
            new java.sql.Timestamp(PagesGen.BaseTs + id), payload, "", "en")
        }.toDF()
      Pipeline.extract(s, pages, "x34", maxBytesPerDoc = 50000, timeoutMs = 5000).toDF()
        .groupBy("status").agg(count(lit(1)).as("n")).orderBy("status")
    }, oracleSql =
      ("SELECT CASE WHEN doc_id % 250 = 2 THEN 'timeout' " +
        "WHEN doc_id % 10 = 3 THEN 'error' WHEN doc_id % 10 = 6 THEN 'skipped_oversize' " +
        "WHEN doc_id % 10 = 9 THEN 'empty' ELSE 'ok' END AS status, " +
        "CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1 ORDER BY 1")),

    // ------------------------------------------------- relational operators
    Gate("q01_lineitem_agg", (s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), sum("l_quantity").as("sum_qty"))
        .orderBy("l_returnflag", "l_linestatus")
    }, oracleSql =
      ("SELECT l_returnflag, l_linestatus, count(*) AS cnt, sum(l_quantity) AS sum_qty " +
        "FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2")),
    Gate("q02_top_orders", (s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val customer = s.read.parquet(s"$dir/customer.parquet")
      orders.join(broadcast(customer), orders("o_custkey") === customer("c_custkey"))
        .select("o_orderkey", "c_name", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    }, oracleSql =
      ("SELECT o.o_orderkey, c.c_name, o.o_totalprice FROM orders o " +
        "JOIN customer c ON o.o_custkey = c.c_custkey " +
        "ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 10")),
    Gate("q03_region_customers", (s, dir) => {
      val customer = s.read.parquet(s"$dir/customer.parquet")
      val nation = s.read.parquet(s"$dir/nation.parquet")
      val region = s.read.parquet(s"$dir/region.parquet")
      customer
        .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
        .groupBy("r_name").agg(count(lit(1)).as("n_cust"))
        .orderBy("r_name")
    }, oracleSql =
      ("SELECT r.r_name, count(*) AS n_cust FROM customer c " +
        "JOIN nation n ON c.c_nationkey = n.n_nationkey " +
        "JOIN region r ON n.n_regionkey = r.r_regionkey " +
        "GROUP BY 1 ORDER BY 1")),
    Gate("q11_brand_volume", (s, dir) => {
      // 3-way lineitem x part x supplier join (broadcast dims), integer-exact
      // aggregates (counts + integer-valued quantity sums).
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val part = s.read.parquet(s"$dir/part.parquet")
      val supp = s.read.parquet(s"$dir/supplier.parquet")
      li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
        .join(broadcast(supp), li("l_suppkey") === supp("s_suppkey"))
        .filter(col("p_size") >= 10)
        .groupBy("p_brand", "s_nationkey")
        .agg(count(lit(1)).as("n_items"), sum("l_quantity").as("sum_qty"))
        .orderBy("p_brand", "s_nationkey")
    }, oracleSql =
      ("SELECT p.p_brand, s.s_nationkey, count(*) AS n_items, sum(l.l_quantity) AS sum_qty " +
        "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey " +
        "JOIN supplier s ON l.l_suppkey = s.s_suppkey " +
        "WHERE p.p_size >= 10 GROUP BY 1, 2 ORDER BY 1, 2")),
    Gate("q12_rollup", (s, dir) => {
      // ROLLUP over (returnflag, linestatus): subtotal + grand-total rows;
      // NULL grouping keys render identically in both engines.
      s.read.parquet(s"$dir/lineitem.parquet")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }, oracleSql =
      ("SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS sum_qty " +
        "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus) " +
        "ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST")),
    Gate("q10_json_props", (s, dir) => {
      // Semi-structured props column: JSON field extraction + integer sums
      // (engine-exact arithmetic for the oracle).
      s.read.parquet(s"$dir/events.parquet")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"))
        .orderBy("event_type")
    }, oracleSql =
      ("SELECT event_type, count(*) AS n, " +
        "CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k " +
        "FROM events GROUP BY 1 ORDER BY 1")),
    Gate("q04_latest_event", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val events = s.read.parquet(s"$dir/events.parquet")
      val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
      events.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_type"))
        .orderBy("user_id")
    }, oracleSql =
      ("SELECT user_id, event_id AS last_event_id, event_type AS last_type FROM (" +
        "SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn " +
        "FROM events) WHERE rn = 1 ORDER BY user_id")),

    // ------------------------------------------------------- text analysis
    Gate("q05_token_count", (s, dir) => {
      TextOps.withTokenCount(s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"))
        .orderBy("doc_id")
    }, oracleSql =
      ("SELECT doc_id, CASE WHEN trim(text) = '' THEN 0 ELSE " +
        "len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens " +
        "FROM documents ORDER BY doc_id")),
    Gate("q06_exact_dedup", (s, dir) => {
      // Aggregation key is sha2(text) — 32-byte shuffle key, not the corpus
      // text; groups are identical, so the text-keyed oracle still matches.
      Dedup.exactSurvivors(s.read.parquet(s"$dir/documents.parquet"))
        .select(col("keep_id"), col("n_copies"))
        .orderBy("keep_id")
    }, oracleSql =
      ("SELECT min(doc_id) AS keep_id, count(*) AS n_copies FROM documents " +
        "GROUP BY text ORDER BY keep_id")),
    Gate("q07_quality", (s, dir) => {
      TextOps.withQuality(s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), col("n_chars_c").cast("long").as("n_chars_c"),
          col("n_words").cast("long").as("n_words"),
          col("n_punct").cast("long").as("n_punct"),
          col("n_digits").cast("long").as("n_digits"),
          col("n_upper").cast("long").as("n_upper"))
        .orderBy("doc_id")
    }, oracleSql =
      ("SELECT doc_id, length(text) AS n_chars_c, " +
        "CASE WHEN trim(text) = '' THEN 0 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_words, " +
        "length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS n_punct, " +
        "length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits, " +
        "length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS n_upper " +
        "FROM documents ORDER BY doc_id")),
    Gate("q08_norm_dedup", (s, dir) => {
      Dedup.normalizedSurvivors(s.read.parquet(s"$dir/documents.parquet"))
        .select("keep_id", "n_copies")
        .orderBy("keep_id")
    }, oracleSql =
      // Normalization = TextOps.normalizeWs exactly (trim + collapse of the
      // six ws chars), the same recipe the x19 fingerprint oracle mirrors.
      ("SELECT min(doc_id) AS keep_id, count(*) AS n_copies FROM documents " +
        "GROUP BY regexp_replace(trim(text, ' ' || chr(9) || chr(13) || chr(10) || chr(11) || chr(12)), " +
        "'[ \\t\\r\\n\\x0B\\f]+', ' ', 'g') ORDER BY keep_id")),

    // -------------------------------------------------- similarity search
    Gate("q09_ann_topk", (s, dir) => {
      // Exact top-10 by QUANTIZED integer dot product (identical arithmetic
      // in DuckDB -> hash-stable oracle).
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val minId = emb.agg(min("vec_id")).head().getLong(0)
      Similarity.bruteForceTopKQuant(s, emb, Seq(minId), k = 10)
        .select(col("neighbor_id"), col("dot"))
        .orderBy(col("dot").desc, col("neighbor_id"))
    }, oracleSql =
      ("WITH mn AS (SELECT min(vec_id) AS mid FROM embeddings), " +
        "q AS (SELECT embedding AS qe FROM embeddings, mn WHERE vec_id = mid) " +
        "SELECT e.vec_id AS neighbor_id, " +
        "CAST(list_sum(list_transform(range(1, len(e.embedding) + 1), i -> " +
        "CAST(round(CAST(e.embedding[i] AS DOUBLE) * 1000) AS BIGINT) * " +
        "CAST(round(CAST(q.qe[i] AS DOUBLE) * 1000) AS BIGINT))) AS BIGINT) AS dot " +
        "FROM embeddings e, q, mn WHERE e.vec_id <> mn.mid " +
        "ORDER BY dot DESC, neighbor_id LIMIT 10")),
    Gate("x13_ann_bruteforce_cosine", (s, dir) => {
      // Quantized-integer scoring (like q09) so the DuckDB oracle reproduces
      // scores AND tie-breaks exactly.
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val qids = emb.select("vec_id").orderBy("vec_id").limit(3)
        .collect().map(_.getLong(0)).toSeq
      Similarity.bruteForceTopKQuant(s, emb, qids, k = 10)
        .select(col("query_id"), col("neighbor_id"), col("dot"), col("rank"))
        .orderBy("query_id", "rank")
    }, oracleSql =
      ("WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings ORDER BY vec_id LIMIT 3), " +
        "scored AS (SELECT q.query_id, e.vec_id AS neighbor_id, " +
        "CAST(list_sum(list_transform(range(1, len(e.embedding) + 1), i -> " +
        "CAST(round(CAST(e.embedding[i] AS DOUBLE) * 1000) AS BIGINT) * " +
        "CAST(round(CAST(q.qe[i] AS DOUBLE) * 1000) AS BIGINT))) AS BIGINT) AS dot " +
        "FROM embeddings e, q WHERE e.vec_id <> q.query_id), " +
        "ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, neighbor_id) AS rn FROM scored) " +
        "SELECT query_id, neighbor_id, dot, CAST(rn AS INT) AS rank FROM ranked " +
        "WHERE rn <= 10 ORDER BY query_id, rn")),
    Gate("x14_ann_lsh", (s, dir) => {
      // Integer-exact LSH end to end (FNV-quantized hyperplanes + quantized
      // dot scoring): bucket assignment, radius-2 multiprobe, candidate
      // scoring and tie-breaks all mirror bit-for-bit in the DuckDB oracle.
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val qids = emb.select("vec_id").orderBy("vec_id").limit(3)
        .collect().map(_.getLong(0)).toSeq
      // Corpus size for bits sizing comes from parquet FOOTER metadata (the
      // Iceberg-stats analogue) — no extra count() scan per query.
      val n14 = graft.spark.TableIO.parquetRowCount(s, s"$dir/embeddings.parquet")
      Similarity.lshTopKQuant(s, emb, qids, k = 10, bits = Similarity.bitsFor(n14))
        .select(col("query_id"), col("neighbor_id"), col("dot"), col("rank"))
        .orderBy("query_id", "rank")
    }, oracleSql =
      ("WITH " + lshSigSql + ", " +
        "q AS (SELECT s.vec_id AS query_id, s.bucket AS qb, e.embedding AS qe " +
        "FROM sig s JOIN embeddings e ON e.vec_id = s.vec_id ORDER BY s.vec_id LIMIT 3), " +
        "probes AS (SELECT query_id, qb AS probe FROM q " +
        "UNION SELECT query_id, xor(qb, (1::BIGINT << CAST(i AS INT))) FROM q, cfg, range(0, 62) r(i) WHERE i < cfg.bits " +
        "UNION SELECT query_id, xor(xor(qb, (1::BIGINT << CAST(i AS INT))), (1::BIGINT << CAST(j AS INT))) " +
        "FROM q, cfg, range(0, 62) r(i), range(0, 62) r2(j) WHERE i < j AND j < cfg.bits), " +
        "cand AS (SELECT p.query_id, s.vec_id FROM probes p JOIN sig s ON s.bucket = p.probe " +
        "WHERE s.vec_id <> p.query_id), " +
        "scored AS (SELECT c.query_id, c.vec_id AS neighbor_id, " +
        "CAST(list_sum(list_transform(range(1, len(e.embedding) + 1), i -> " +
        "CAST(round(CAST(e.embedding[i] AS DOUBLE) * 1000) AS BIGINT) * " +
        "CAST(round(CAST(q.qe[i] AS DOUBLE) * 1000) AS BIGINT))) AS BIGINT) AS dot " +
        "FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id JOIN q ON q.query_id = c.query_id), " +
        "ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, neighbor_id) AS rn FROM scored) " +
        "SELECT query_id, neighbor_id, dot, CAST(rn AS INT) AS rank FROM ranked " +
        "WHERE rn <= 10 ORDER BY query_id, rn")),
    Gate("x15_embedding_buckets", (s, dir) => {
      val e15 = s.read.parquet(s"$dir/embeddings.parquet")
      val n15 = graft.spark.TableIO.parquetRowCount(s, s"$dir/embeddings.parquet")
      Similarity.withLshBucket(e15, bits = Similarity.bitsFor(n15))
        .groupBy("lsh_bucket").agg(count(lit(1)).as("n"))
        .orderBy("lsh_bucket")
    }, oracleSql =
      ("WITH " + lshSigSql +
        " SELECT bucket AS lsh_bucket, CAST(count(*) AS BIGINT) AS n FROM sig " +
        "GROUP BY 1 ORDER BY 1")),

    // ------------------------------------------------------ fuzzy dedup
    Gate("x16_minhash_groups", (s, dir) => {
      // FULL transitive dup groups (iterative label-propagation CC over the
      // verified pairs) — the oracle mirrors the closure with a recursive
      // CTE, so chain-shaped near-dup families compare exactly too.
      Dedup.minhashDupGroupsCC(s, s.read.parquet(s"$dir/documents.parquet"))
        .orderBy("doc_id")
    }, oracleSql =
      // EXACT all-pairs Jaccard ground-truth pairs (feasible at verify
      // scale) closed into components by a RECURSIVE CTE: every vertex
      // reaches every label in its component, min(label) = the component's
      // lowest doc_id — exactly minhashDupGroupsCC's semantics. Also pins
      // LSH recall (a missed pair would split a component).
      (shingleSetsSql.replaceFirst("WITH ", "WITH RECURSIVE ") + ", " +
        "nbr AS (SELECT ia AS src, ib AS dst FROM good UNION ALL SELECT ib, ia FROM good), " +
        "seeds AS (SELECT ia AS id FROM good UNION SELECT ib FROM good), " +
        "lbl AS (SELECT id, id AS label FROM seeds " +
        "UNION SELECT n.dst AS id, l.label FROM lbl l JOIN nbr n ON n.src = l.id), " +
        "cc AS (SELECT id, min(label) AS grp FROM lbl GROUP BY id) " +
        "SELECT d.doc_id, coalesce(cc.grp, d.doc_id) AS dup_group " +
        "FROM documents d LEFT JOIN cc ON d.doc_id = cc.id ORDER BY d.doc_id")),
    Gate("x17_simhash", (s, dir) => {
      Dedup.withSimhash(s.read.parquet(s"$dir/documents.parquet"))
        .select("doc_id", "simhash").orderBy("doc_id")
    }, oracleSql =
      (simhashSql + " SELECT doc_id, simhash FROM sim ORDER BY doc_id")),
    Gate("x18_langid", (s, dir) => {
      import s.implicits._
      // Deterministic per-language docs synthesized from doc_id, one of the
      // 29 detectable languages each: stopword languages plant their full
      // rotated stopword list (score 20 for the planted language vs strict
      // overlap < 20 for every other, so the vote always recovers it);
      // script languages plant their rotated ScriptSamples phrase (resolved
      // by the dominant-script pre-pass). Oracle = the same doc_id -> lang
      // arithmetic in SQL.
      val langs = TextOps.AllLangs
      val docs = s.read.parquet(s"$dir/documents.parquet").select("doc_id").as[Long]
        .map { id =>
          val lang = langs((id % langs.length).toInt)
          val words = TextOps.stopwords.get(lang) match {
            case Some(set) => set.toSeq.sorted
            case None      => TextOps.ScriptSamples(lang).split(" ").toSeq
          }
          val k = (id % words.length).toInt
          (id, (words.drop(k) ++ words.take(k)).mkString(" "))
        }.toDF("doc_id", "text")
      TextOps.withLangId(docs).select("doc_id", "lang_pred").orderBy("doc_id")
    }, oracleSql =
      ("SELECT doc_id, CASE CAST(doc_id % " + graft.ops.TextOps.AllLangs.length + " AS INT) " +
        graft.ops.TextOps.AllLangs.zipWithIndex
          .map { case (l, i) => s"WHEN $i THEN '$l'" }.mkString(" ") +
        " ELSE 'und' END AS lang_pred FROM documents ORDER BY doc_id")),
    Gate("x19_fingerprint", (s, dir) => {
      TextOps.withFingerprint(s.read.parquet(s"$dir/documents.parquet"))
        .select("doc_id", "fp64").orderBy("doc_id")
    }, oracleSql =
      ("WITH n AS (SELECT doc_id, regexp_replace(trim(text, ' ' || chr(9) || chr(13) || chr(10) || chr(11) || chr(12)), " +
        "'[ \\t\\r\\n\\x0B\\f]+', ' ', 'g') AS norm FROM documents), " +
        s"h AS (SELECT doc_id, CASE WHEN norm = '' THEN CAST(14695981039346656037 AS HUGEINT) " +
        s"ELSE ${fnvSql("norm")} END AS hu FROM n) " +
        s"SELECT doc_id, ${toSignedSql("hu")} AS fp64 FROM h ORDER BY doc_id")),
    Gate("x27_bpe_tokens", (s, dir) => {
      // BPE-style pre-tokenizer counts via codegen'd regexp_extract_all;
      // DuckDB runs the identical RE2/Java-compatible pattern.
      TextOps.withBpeTokenCount(s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), col("n_bpe_tokens").cast("long").as("n_bpe_tokens"))
        .orderBy("doc_id")
    }, oracleSql =
      // Apostrophe included in the punctuation fallback (GPT-2 shape): the
      // contraction branch still wins by alternation order; a bare ' is a
      // punctuation token instead of silently vanishing.
      ("SELECT doc_id, CAST(len(regexp_extract_all(lower(text), " +
        "'''(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s]+|\\s+', 0)) AS BIGINT) " +
        "AS n_bpe_tokens FROM documents ORDER BY doc_id")),
    Gate("x28_winnow", (s, dir) => {
      // Winnowing fingerprints (k=8 grams, w=4 windows): integer summary
      // columns (count + xor) compare bit-for-bit against the SQL oracle.
      TextOps.withWinnowing(s.read.parquet(s"$dir/documents.parquet"))
        .select("doc_id", "n_fps", "fp_xor").orderBy("doc_id")
    }, oracleSql =
      // Total over ALL doc shapes (empty / < k chars / <= w grams / general),
      // mirroring winnowFingerprints' branches exactly.
      ("WITH n AS (SELECT doc_id, regexp_replace(trim(lower(text), ' ' || chr(9) || chr(13) || chr(10) || chr(11) || chr(12)), " +
        "'[ \\t\\r\\n\\x0B\\f]+', ' ', 'g') AS nm FROM documents), " +
        s"h AS (SELECT doc_id, nm, CASE WHEN length(nm) >= 8 THEN list_transform(range(1, length(nm) - 6), i -> ${toSignedSql(fnvSql("substring(nm, CAST(i AS INT), 8)"))}) ELSE CAST([] AS BIGINT[]) END AS hs FROM n), " +
        "sel AS (SELECT doc_id, CASE " +
        "WHEN nm = '' THEN CAST([] AS BIGINT[]) " +
        s"WHEN length(nm) < 8 THEN [${toSignedSql(fnvSql("nm"))}] " +
        "WHEN len(hs) <= 3 THEN [list_min(hs)] " +
        "ELSE list_sort(list_distinct(list_transform(range(1, len(hs) - 2), i -> list_min(hs[i:i+3])))) END AS fps FROM h) " +
        "SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fps, " +
        "CASE WHEN len(fps) = 0 THEN 0 ELSE " +
        toSignedSql("(CAST(list_reduce(list_transform(fps, f -> CAST(CASE WHEN f < 0 THEN f + 18446744073709551616 ELSE f END AS HUGEINT)), (a,b) -> xor(a,b)) AS HUGEINT))") +
        " END AS fp_xor FROM sel ORDER BY doc_id")),
    Gate("x29_ann_ivf", (s, dir) => {
      // IVF ANN (coarse quantizer + probed-cell scan) — the data-adaptive
      // scale path next to the LSH one. The gate runs the DETERMINISTIC
      // integer-exact quantizer (fixed initial centroids = lowest vec_ids +
      // one floorDiv Lloyd step): assignment, probing, scoring and
      // tie-breaks all mirror bit-for-bit in the DuckDB oracle. ScaleSpec
      // pins ivfTopKQuant's recall against brute force.
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val qids = emb.select("vec_id").orderBy("vec_id").limit(3)
        .collect().map(_.getLong(0)).toSeq
      Similarity.ivfTopKQuant(s, emb, qids, k = 10, nLists = 16, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"), col("dot"), col("rank"))
        .orderBy("query_id", "rank")
    }, oracleSql = ivfSql),
    Gate("x25_minhash_pairs", (s, dir) => {
      // Verified near-dup pairs with INTEGER shingle intersection/union
      // counts; the DuckDB oracle computes exact all-pairs Jaccard (feasible
      // at verify scale) — also proves LSH recall on the planted dups.
      // RECALL ASSUMPTION (probabilistic == exact equality): 16 bands x 4
      // rows collide w.p. 1-(1-J^4)^16 ≈ 98.8% at J=0.7 but ≥ 99.998% at
      // J≥0.9; the driver's testdata plants near-dups at J in [0.9, 0.99]
      // and its organic text is either identical (J=1, intra-group path) or
      // far below threshold, so a hash-gate miss needs a 1-in-50k band
      // fluke on a planted pair. The zero-shingle corner is STRUCTURAL, not
      // probabilistic: the oracle's pair universe excludes zero-shingle
      // docs exactly as banding does (see shingleSetsSql), so empty-vs-
      // empty un=0 pairs can't diverge. Same assumptions back x16.
      Dedup.minhashDupPairs(s, s.read.parquet(s"$dir/documents.parquet"))
        .select(col("a"), col("b"), col("inter").cast("long").as("inter"),
          col("un").cast("long").as("un"))
        .orderBy("a", "b")
    }, oracleSql =
      (shingleSetsSql +
        " SELECT ia AS a, ib AS b, CAST(inter AS BIGINT) AS inter, CAST(un AS BIGINT) AS un " +
        "FROM good ORDER BY a, b")),
    Gate("x38_char_ngrams", (s, dir) => {
      // n-gram analysis family through the gate: exact distinct lowercase
      // char-5-gram cardinality per doc (the set size its Jaccard uses),
      // computed as codegen'd SQL on both engines — no UDF, no hashing.
      Dedup.withCharNgramCount(s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), col("n_5grams").cast("long").as("n_5grams"))
        .orderBy("doc_id")
    }, oracleSql =
      ("SELECT doc_id, CAST(CASE WHEN length(lower(text)) < 5 THEN 0 " +
        "ELSE len(list_distinct(list_transform(range(1, length(lower(text)) - 3), " +
        "i -> substring(lower(text), CAST(i AS INT), 5)))) END AS BIGINT) AS n_5grams " +
        "FROM documents ORDER BY doc_id")),

    Gate("x39_bpe_merges", (s, dir) => {
      import s.implicits._
      // REAL merges-based BPE through the gate: deterministic 8-word docs
      // synthesized from doc_id over the 12-word BpeBank, encoded by the
      // rank-greedy merge loop (TextOps.bpeEncode) against the 8-rule
      // DemoMerges table. The oracle mirrors the doc_id -> word arithmetic
      // with HAND-TRACED per-word token counts (BpeBankCounts — derived on
      // paper, not by running the encoder), so a merge-order or
      // merge-all-occurrences bug breaks the hash. 8 of 12 words (not 12
      // of 12): a full sweep of the bank would collapse every doc to the
      // same constant sum and the per-word counts would stop
      // discriminating; with 8, the selected residue subset — and the
      // total — varies with doc_id mod 12.
      val ranks = graft.ops.TextOps.parseMerges(DemoMerges)
        .zipWithIndex.map { case (p, i) => p -> i }.toMap
      val bank = BpeBank
      val docs = s.read.parquet(s"$dir/documents.parquet").select("doc_id").as[Long]
        .map { id =>
          val words = (0 until 8).map(j => bank(((id + j * 7) % bank.length).toInt))
          (id, words.mkString(" "))
        }.toDF("doc_id", "text")
      val cnt = udf((t: String) =>
        t.split(" ").iterator.map(w => graft.ops.TextOps.bpeEncode(w, ranks).length).sum.toLong)
      docs.select(col("doc_id"), cnt(col("text")).as("n_merge_tokens"))
        .orderBy("doc_id")
    }, oracleSql = {
      // Mirrors x39's doc_id -> 8-word synthesis with the HAND-TRACED
      // per-word counts (BpeBankCounts) — fully independent of bpeEncode.
      val cases = BpeBankCounts.zipWithIndex
        .map { case (c, i) => s"WHEN $i THEN $c" }.mkString(" ")
      val terms = (0 until 8)
        .map(j => s"(CASE CAST((doc_id + ${j * 7}) % ${BpeBank.length} AS INT) $cases END)")
        .mkString(" + ")
      s"SELECT doc_id, CAST($terms AS BIGINT) AS n_merge_tokens FROM documents ORDER BY doc_id"
    }),

    Gate("x40_image_decode", (s, dir) => {
      import s.implicits._
      // REAL ImageIO decode through the gate: lossless gray PNGs authored
      // deterministically from doc_id (pixel = (x+y+id) mod 256), decoded
      // back through the production decodeImages path. The oracle
      // recomputes width/height/pixel-count/band-0 sum from the same
      // doc_id arithmetic — raw raster reads keep the decoder integer-
      // exact, so any real-decode defect breaks the hash.
      val rows = s.read.parquet(s"$dir/documents.parquet").select("doc_id").as[Long]
        .map(id => Multimodal.MediaRow(id, Multimodal.syntheticPng(id), "image"))
      Multimodal.decodeImages(rows).toDF()
        .select("doc_id", "width", "height", "n_pixels", "sum_band0")
        .orderBy("doc_id")
    }, oracleSql =
      ("WITH d AS (SELECT doc_id, 8 + doc_id % 24 AS w, 8 + (doc_id // 7) % 16 AS h FROM documents) " +
        "SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height, " +
        "CAST(w * h AS BIGINT) AS n_pixels, " +
        "CAST(list_sum(list_transform(range(0, w * h), i -> ((i % w) + (i // w) + doc_id) % 256)) AS BIGINT) AS sum_band0 " +
        "FROM d ORDER BY doc_id")),
    Gate("x43_pdf_images", (s, dir) => {
      import s.implicits._
      // PDF IMAGE EXTRACTION through the gate: each doc embeds 3 XObject
      // images (gray-8 Flate / gray-4 raw continuous-bit-stream / RGB-8
      // Flate) + 1 inline AHx image, all with doc_id pixel formulas
      // (PdfFixtures.sImages). PdfImages enumerates resources-order
      // XObjects then content-order inline images and decodes samples per
      // the reference GetSamples bit-stream semantics; the oracle
      // recomputes every dimension and band-0 sum as pure SQL arithmetic.
      docsSpread(s, dir)
        .select("doc_id", "text").as[(Long, String)]
        .flatMap { case (id, text) =>
          val scan = graft.pdf.PdfImages.imagesOf(
            graft.fixtures.PdfFixtures.sImages(text, id))
          scan.images.map(im => (id, im.idx, im.source, im.width, im.height,
            im.components, im.bpc, im.band0Sum))
        }.toDF("doc_id", "idx", "source", "width", "height",
          "components", "bpc", "band0_sum")
        .orderBy("doc_id", "idx")
    }, oracleSql =
      // Mirrors sImages' doc_id -> raster formulas: dims and band-0 sums
      // are closed-form integer arithmetic per image (x40 recipe family).
      ("WITH d AS (SELECT doc_id, " +
        "8 + doc_id % 24 AS w0, 8 + (doc_id // 7) % 16 AS h0, " +
        "4 + doc_id % 8 AS w1, 4 + (doc_id // 5) % 8 AS h1, " +
        "4 + doc_id % 6 AS w2, 3 + (doc_id // 3) % 5 AS h2 FROM documents) " +
        "SELECT doc_id, CAST(0 AS INT) AS idx, 'xobject' AS source, " +
        "CAST(w0 AS INT) AS width, CAST(h0 AS INT) AS height, " +
        "CAST(1 AS INT) AS components, CAST(8 AS INT) AS bpc, " +
        "CAST(list_sum(list_transform(range(0, w0*h0), i -> ((i % w0) + (i // w0) + doc_id) % 256)) AS BIGINT) AS band0_sum FROM d " +
        "UNION ALL SELECT doc_id, 1, 'xobject', CAST(w1 AS INT), CAST(h1 AS INT), 1, 4, " +
        "CAST(list_sum(list_transform(range(0, w1*h1), i -> ((i % w1) + (i // w1) + doc_id) % 16)) AS BIGINT) FROM d " +
        "UNION ALL SELECT doc_id, 2, 'xobject', CAST(w2 AS INT), CAST(h2 AS INT), 3, 8, " +
        "CAST(list_sum(list_transform(range(0, w2*h2), i -> ((i % w2) + 2*(i // w2) + doc_id) % 256)) AS BIGINT) FROM d " +
        "UNION ALL SELECT doc_id, 3, 'inline', 8, 6, 1, 8, " +
        "CAST(list_sum(list_transform(range(0, 48), i -> (2*(i % 8) + (i // 8) + doc_id) % 256)) AS BIGINT) FROM d " +
        "ORDER BY doc_id, idx")),
    Gate("x26_simhash_pairs", (s, dir) => {
      // Exact hamming<=3 pairs (pigeonhole block-combo scheme); oracle is
      // all-pairs bit_count(xor) over the FNV-based simhashes in DuckDB.
      Dedup.simhashDupPairs(s.read.parquet(s"$dir/documents.parquet"))
        .select(col("a"), col("b"), col("hamming").cast("int").as("hamming"))
        .orderBy("a", "b")
    }, oracleSql =
      (simhashSql + ", " +
        "p AS (SELECT a.doc_id AS a, b.doc_id AS b, " +
        "CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming " +
        "FROM sim a JOIN sim b ON a.doc_id < b.doc_id) " +
        "SELECT a, b, hamming FROM p WHERE hamming <= 3 ORDER BY a, b")),

    // ---------------------------------------------------------- streaming
    Gate("x35_stream_dedup", (s, dir) => {
      // Structured Streaming dedup through the gate: events (with planted
      // exact-duplicate rows) flow through readStream -> watermarked
      // dropDuplicates(user_id, ts) -> parquet sink under
      // Trigger.AvailableNow. The watermark delay (3650 days) exceeds the
      // data span, so NO row can be late-dropped regardless of how the file
      // source batches -> the result is exactly SELECT DISTINCT (user_id,
      // ts), which the SQL oracle states directly. (Production keeps a
      // churn-window watermark; the gate pins the exact-equivalence corner.)
      val tmp = scratchDir("graft-x35")
      val events = s.read.parquet(s"$dir/events.parquet")
      events.unionByName(events.filter(col("event_id") % 5 === 0))
        .write.parquet(s"$tmp/in")
      graft.streaming.StreamingOps.dedupByKey(s, s"$tmp/in", s"$tmp/ck", s"$tmp/out",
        keyCol = "user_id", tsCol = "ts", watermark = "3650 days")
      s.read.parquet(s"$tmp/out")
        .groupBy("user_id").agg(count(lit(1)).as("n_rows"))
        .orderBy("user_id")
    }, oracleSql =
      ("SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows FROM " +
        "(SELECT DISTINCT user_id, ts FROM events) GROUP BY 1 ORDER BY 1")),

    Gate("x36_embed_neardup", (s, dir) => {
      // Embedding near-dup core (shared LSH bucket -> exact scoring) as an
      // integer-exact per-vector gate: for every vector, the count of
      // same-bucket peers and the max QUANTIZED dot among them (0 when the
      // bucket is a singleton). Mirrors embeddingNearDupPairs' single-round
      // path with oracle-safe arithmetic.
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val bits = Similarity.bitsFor(
        graft.spark.TableIO.parquetRowCount(s, s"$dir/embeddings.parquet"))
      val b = Similarity.withLshBucket(emb, bits = bits)
        .select(col("vec_id"), col("lsh_bucket"),
          expr("transform(embedding, x -> cast(round(cast(x as double) * 1000) as bigint))").as("qv"))
      val l = b.select(col("vec_id"), col("lsh_bucket"), col("qv"))
      val r = b.select(col("vec_id").as("rvid"), col("lsh_bucket"), col("qv").as("rqv"))
      val stats = l.join(r, Seq("lsh_bucket"))
        .filter(col("vec_id") =!= col("rvid"))
        .withColumn("dot",
          expr("aggregate(zip_with(qv, rqv, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"))
        .groupBy("vec_id")
        .agg(count(lit(1)).as("n_peers"), max("dot").as("max_dot"))
      emb.select("vec_id").join(stats, Seq("vec_id"), "left")
        .select(col("vec_id"), coalesce(col("n_peers"), lit(0L)).as("n_peers"),
          coalesce(col("max_dot"), lit(0L)).as("max_dot"))
        .orderBy("vec_id")
    }, oracleSql =
      ("WITH " + lshSigSql + ", " +
        "e2 AS (SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv FROM embeddings), " +
        "p AS (SELECT sa.vec_id AS va, " +
        "CAST(list_sum(list_transform(range(1, len(a.qv) + 1), i -> a.qv[CAST(i AS INT)] * b.qv[CAST(i AS INT)])) AS BIGINT) AS dot " +
        "FROM sig sa JOIN sig sb ON sa.bucket = sb.bucket AND sa.vec_id <> sb.vec_id " +
        "JOIN e2 a ON a.vec_id = sa.vec_id JOIN e2 b ON b.vec_id = sb.vec_id), " +
        "ag AS (SELECT va, CAST(count(*) AS BIGINT) AS n, max(dot) AS m FROM p GROUP BY 1) " +
        "SELECT e.vec_id, CAST(coalesce(ag.n, 0) AS BIGINT) AS n_peers, " +
        "CAST(coalesce(ag.m, 0) AS BIGINT) AS max_dot " +
        "FROM embeddings e LEFT JOIN ag ON ag.va = e.vec_id ORDER BY e.vec_id")),
    Gate("x37_stream_windows", (s, dir) => {
      // Watermarked tumbling-window counts through the streaming gate:
      // events -> readStream -> 1h watermark + 1h windows -> Append ->
      // AvailableNow -> parquet. Append emits exactly the windows whose end
      // is at or below the FINAL watermark (max ts - 1h) — a deterministic
      // SQL-stateable set since the whole input fits one microbatch (file
      // source with no maxFilesPerTrigger) so no row can be late-dropped.
      val tmp = scratchDir("graft-x37")
      // FileStreamSource requires a DIRECTORY (basePath) — $dir/events.parquet
      // is a single parquet file, so stream the staged copy. (Streaming the
      // file in place crashed with [STREAM_FAILED]; regressed in 501b540,
      // restored per the round-3 verdict.)
      graft.streaming.StreamingOps.windowedCounts(s, stagedEventsDir(s, dir),
        s"$tmp/ck", s"$tmp/out")
      s.read.parquet(s"$tmp/out")
        .select(unix_timestamp(col("win_start")).cast("long").as("win_epoch"),
          col("event_type"), col("n"))
        .orderBy("win_epoch", "event_type")
    }, oracleSql =
      // Append-mode emission: windows with end <= final watermark
      // (max ts - 1h); 1h tumbling windows epoch-aligned = date_trunc.
      ("WITH w AS (SELECT date_trunc('hour', ts) AS ws, event_type, CAST(count(*) AS BIGINT) AS n " +
        "FROM events GROUP BY 1, 2), m AS (SELECT max(ts) AS mx FROM events) " +
        "SELECT CAST(epoch(ws) AS BIGINT) AS win_epoch, event_type, n FROM w, m " +
        "WHERE ws + INTERVAL 1 HOUR <= mx - INTERVAL 1 HOUR ORDER BY 1, 2")),

    Gate("x42_writer_roundtrip", (s, dir) => {
      import s.implicits._
      // The WRITER through the gate: every x10 rotation payload (all 24
      // container families incl. crypt/objstm/repairs) is loaded, its
      // reachable object graph re-serialized by PdfWriter.rewrite (objstms
      // flattened, repairs normalized), and the REWRITTEN file re-extracted
      // — the text must still match documents.text byte-identically, the
      // writer's round-trip contract (read -> write -> read -> extract).
      // Rotation by doc_id%3: plain / WRITE-ENCRYPTED RC4-128 V2R3 /
      // WRITE-ENCRYPTED AESV2 V4R4 (empty user password -> transparent
      // reopen; real owner password -> real O/U/key derivations exercised
      // on every encrypted doc).
      PagesGen.pagesPdf(s, dir).map { row =>
        import graft.pdf.PdfWriter
        val id = docIdOf(row.url)
        val enc = (id % 3) match {
          case 1 => Some(PdfWriter.WriterEncrypt(
            ownerPass = "graft-owner".getBytes, aes = false, seed = s"x42-$id"))
          case 2 => Some(PdfWriter.WriterEncrypt(
            ownerPass = "graft-owner".getBytes, aes = true, seed = s"x42-$id"))
          case _ => None
        }
        val r = Extract(PdfWriter.rewrite(row.html, Nil, enc))
        (id, r.text)
      }.toDF("doc_id", "extracted").orderBy("doc_id")
    }, oracleSql = sourceTextSql),

    Gate("x44_creator_layout", (s, dir) => {
      import s.implicits._
      // CREATOR-LITE LAYOUT through the gate: a paragraph of constant-width
      // words ('w' + 4 digits: Helvetica 722 + 4x556 = 2946, space 278)
      // wrapped by the reference wrapText semantics (size 10, wrapWidth
      // 180 -> exactly 5 words + trailing space per full line), authored
      // one-paragraph-per-page via the writer scaffold and re-extracted by
      // our golden extractor. The oracle rebuilds the wrapped text as pure
      // SQL string aggregation — any drift in the AFM widths, the greedy
      // loop, the trailing-space quirk, authoring, or extraction breaks
      // the hash.
      docsSpread(s, dir).select("doc_id").as[Long]
        .map { id =>
          val n = 20 + (id % 30).toInt
          val words = (0 until n).map(j => f"w${(id + j) % 10000}%04d")
          val doc = graft.pdf.Creator.authorParagraphs(
            Seq(words.mkString(" "), s"end $id"))
          (id, Extract(doc).text)
        }.toDF("doc_id", "extracted").orderBy("doc_id")
    }, oracleSql =
      // Mirrors x44's synthesis: n words of 'w'+lpad4, 5 words per line
      // (constant-width words under the pinned Helvetica metrics), full
      // lines keep their trailing space, lines join with \n, page 2 is
      // "end <id>" after the page-glue newline.
      ("WITH d AS (SELECT doc_id, 20 + doc_id % 30 AS n FROM documents), " +
        "w AS (SELECT d.doc_id, r.j AS j, " +
        "'w' || lpad(CAST((d.doc_id + r.j) % 10000 AS VARCHAR), 4, '0') AS word " +
        "FROM d, range(0, 50) r(j) WHERE r.j < d.n), " +
        "l AS (SELECT doc_id, CAST(j // 5 AS BIGINT) AS li, " +
        "string_agg(word, ' ' ORDER BY j) AS line FROM w GROUP BY 1, 2), " +
        "m AS (SELECT doc_id, max(li) AS mx FROM l GROUP BY 1), " +
        "p1 AS (SELECT l.doc_id, string_agg(" +
        "CASE WHEN li < mx THEN line || ' ' ELSE line END, chr(10) ORDER BY li) AS t " +
        "FROM l JOIN m ON l.doc_id = m.doc_id GROUP BY 1) " +
        "SELECT doc_id, t || chr(10) || 'end ' || CAST(doc_id AS VARCHAR) AS extracted " +
        "FROM p1 ORDER BY doc_id")),
    Gate("x47_pipeline_images", (s, dir) => {
      // The IMAGES TABLE as a pipeline operator over the full 24-variant
      // rotation: one mapPartitions pass emits per-image rows (variant 22
      // carries the 4 formula images, variant 10 the s15 inline image) and
      // a no-image marker row for every other document. The oracle states
      // the per-variant expectation as doc_id arithmetic.
      val pages = PagesGen.pagesPdf(s, dir).toDF()
      Pipeline.extractImages(s, pages).toDF()
        .select(expr("CAST(element_at(split(url, '-'), -1) AS BIGINT)").as("doc_id"),
          col("idx"), col("source"), col("width"), col("height"), col("band0_sum"))
        .orderBy("doc_id", "idx")
    }, oracleSql =
      // Per-variant expectation: v10 -> the s15 inline 4x2 image (raw
      // bytes sum 369), v22 -> the four x43 formula images, every other
      // variant -> one 'none' marker row.
      ("WITH d AS (SELECT doc_id, doc_id % 24 AS v, " +
        "8 + doc_id % 24 AS w0, 8 + (doc_id // 7) % 16 AS h0, " +
        "4 + doc_id % 8 AS w1, 4 + (doc_id // 5) % 8 AS h1, " +
        "4 + doc_id % 6 AS w2, 3 + (doc_id // 3) % 5 AS h2 FROM documents) " +
        "SELECT doc_id, CAST(-1 AS INT) AS idx, 'none' AS source, " +
        "CAST(0 AS INT) AS width, CAST(0 AS INT) AS height, " +
        "CAST(0 AS BIGINT) AS band0_sum FROM d WHERE v <> 10 AND v <> 22 " +
        "UNION ALL SELECT doc_id, 0, 'inline', 4, 2, 369 FROM d WHERE v = 10 " +
        "UNION ALL SELECT doc_id, 0, 'xobject', CAST(w0 AS INT), CAST(h0 AS INT), " +
        "CAST(list_sum(list_transform(range(0, w0*h0), i -> ((i % w0) + (i // w0) + doc_id) % 256)) AS BIGINT) FROM d WHERE v = 22 " +
        "UNION ALL SELECT doc_id, 1, 'xobject', CAST(w1 AS INT), CAST(h1 AS INT), " +
        "CAST(list_sum(list_transform(range(0, w1*h1), i -> ((i % w1) + (i // w1) + doc_id) % 16)) AS BIGINT) FROM d WHERE v = 22 " +
        "UNION ALL SELECT doc_id, 2, 'xobject', CAST(w2 AS INT), CAST(h2 AS INT), " +
        "CAST(list_sum(list_transform(range(0, w2*h2), i -> ((i % w2) + 2*(i // w2) + doc_id) % 256)) AS BIGINT) FROM d WHERE v = 22 " +
        "UNION ALL SELECT doc_id, 3, 'inline', 8, 6, " +
        "CAST(list_sum(list_transform(range(0, 48), i -> (2*(i % 8) + (i // 8) + doc_id) % 256)) AS BIGINT) FROM d WHERE v = 22 " +
        "ORDER BY doc_id, idx")),
    Gate("x46_creator_table", (s, dir) => {
      import s.implicits._
      // CREATOR TABLE LAYOUT through the gate: a 3x3 grid of doc_id-derived
      // cells authored as an absolute-Tm cell grid (equal fractional column
      // widths, the NewTable default) and re-extracted — the golden
      // extractor's Tm semantics turn the grid into cells-joined-by-TAB /
      // rows-joined-by-NEWLINE, which the oracle rebuilds as pure string
      // concatenation.
      docsSpread(s, dir).select("doc_id").as[Long]
        .map { id =>
          val rows = (0 until 3).map(i => (0 until 3).map(j =>
            s"c${(id + i * 3 + j) % 100}"))
          (id, Extract(graft.pdf.Creator.authorTable(rows)).text)
        }.toDF("doc_id", "extracted").orderBy("doc_id")
    }, oracleSql = {
      // cell(i,j) = 'c' || (doc_id + i*3 + j) % 100; tabs within rows,
      // newlines between rows (the extractor's Tm grid semantics).
      def cell(i: Int, j: Int) =
        s"'c' || CAST((doc_id + ${i * 3 + j}) % 100 AS VARCHAR)"
      val rows = (0 until 3).map(i =>
        (0 until 3).map(j => cell(i, j)).mkString(" || chr(9) || "))
      s"SELECT doc_id, ${rows.mkString(" || chr(10) || ")} AS extracted " +
        "FROM documents ORDER BY doc_id"
    }),
    Gate("x45_stream_stream_join", (s, dir) => {
      // STREAM-STREAM inner join through the gate: impressions
      // (event_id%10==5) joined to same-user clicks (event_id%10==0)
      // within [imp_ts, imp_ts + 48 h], both sides watermarked, under
      // Trigger.AvailableNow. Inner-join output is not watermark-gated, so
      // the streamed result is exactly the batch join — the oracle states
      // the identical predicate in SQL.
      val tmp = scratchDir("graft-x45")
      graft.streaming.StreamingOps.streamStreamJoin(s, stagedEventsDir(s, dir),
        s"$tmp/ck", s"$tmp/out")
      s.read.parquet(s"$tmp/out")
        .select(col("imp_id"), col("user_id"), col("click_id"))
        .orderBy("imp_id", "click_id")
    }, oracleSql =
      ("SELECT i.event_id AS imp_id, i.user_id, c.event_id AS click_id " +
        "FROM events i JOIN events c ON i.user_id = c.user_id " +
        "AND i.event_id % 10 = 5 AND c.event_id % 10 = 0 " +
        "AND c.ts >= i.ts AND c.ts <= i.ts + INTERVAL 48 HOUR " +
        "ORDER BY imp_id, click_id")),
    Gate("x41_stream_enrich", (s, dir) => {
      // Stream-static enrichment through the streaming gate: events stream
      // inner-joined to the STATIC customer dimension (broadcast) on
      // user_id = c_custkey under Trigger.AvailableNow. The join is
      // stateless, so the streamed result is exactly the batch join — the
      // oracle states it directly in SQL.
      val tmp = scratchDir("graft-x41")
      val dim = s.read.parquet(s"$dir/customer.parquet")
        .select("c_custkey", "c_nationkey")
      graft.streaming.StreamingOps.enrichWithDim(s, stagedEventsDir(s, dir),
        s"$tmp/ck", s"$tmp/out", dim, "c_custkey", "c_nationkey")
      s.read.parquet(s"$tmp/out")
        .select(col("event_id"), col("user_id"), col("c_nationkey"),
          col("event_type"))
        .orderBy("event_id")
    }, oracleSql =
      ("SELECT e.event_id, e.user_id, c.c_nationkey, e.event_type " +
        "FROM events e JOIN customer c ON e.user_id = c.c_custkey " +
        "ORDER BY e.event_id")),

    // ----------------------------------------- SQL surface (Catalyst expr)
    Gate("x21_extract_sql", (s, dir) => {
      // The native extract_text Expression through plain SQL; same oracle as
      // the typed-kernel query x10.
      graft.spark.GraftFunctions.register(s)
      PagesGen.pagesPdf(s, dir).toDF().createOrReplaceTempView("graft_pages")
      // doc_id = digits after the LAST '-' (the docIdOf parse, in SQL).
      s.sql(
        """SELECT CAST(element_at(split(url, '-'), -1) AS BIGINT) AS doc_id,
          |       extract_text(html).text AS extracted
          |FROM graft_pages ORDER BY doc_id""".stripMargin)
    }, oracleSql = sourceTextSql),

    // -------------------------------------------------------- multimodal
    Gate("x20_multimodal_decode", (s, dir) => {
      Multimodal.decodeFeatures(Multimodal.mediaTable(s, dir)).toDF()
        .select("doc_id", "kind", "width", "height", "n_bytes")
        .orderBy("doc_id")
    }, oracleSql =
      // The decode stub is a DECLARED deterministic fake (Multimodal.scala):
      // width/height/bytes are pure doc_id arithmetic, mirrored here.
      ("SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN 'audio' ELSE 'image' END AS kind, " +
        "CAST(8 + doc_id % 24 AS INT) AS width, " +
        "CAST(8 + (doc_id // 7) % 16 AS INT) AS height, " +
        "CAST(5 + (8 + doc_id % 24) * (8 + (doc_id // 7) % 16) AS BIGINT) AS n_bytes " +
        "FROM documents ORDER BY doc_id")))

  require(gates.map(_.name).distinct.length == gates.length,
    s"duplicate gate names: ${gates.groupBy(_.name).collect { case (n, g) if g.length > 1 => n }}")
}
