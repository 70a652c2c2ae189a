package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.util.SplittableRandom

import graft.fixtures.PdfFixtures
import graft.spark.{PageRow, PagesGen}

/** One url of a workload: its captures and the row the job must commit for
  * it. Everything is a pure function of (seed, url index), so executors
  * build payloads and the driver builds expectations without shipping data.
  */
final case class UrlSpec(
    url: String,
    family: String,
    captures: Seq[Capture],
    expected: Expected)

/** One stored row of the pages table before its payload is built. */
final case class Capture(ts: Long, build: () => Array[Byte])

/** The committed row a url must end up as: the latest capture, with the
  * status, exact text bytes and span count known by construction.
  */
final case class Expected(ts: Long, status: String, text: Array[Byte], nSpans: Int)

/** A seeded input set and the `TableIO.runResumable` settings it runs with. */
sealed trait Workload extends Serializable {
  def name: String
  def nUrls: Int
  def numBuckets: Int
  def batchBuckets: Int
  /** Batches after which the first call is stopped; the job then resumes. */
  def failAfterBatches: Option[Int]
  /** Untimed jobs before timing starts: until about the tenth job of a run
    * the JIT is still compiling the planner, the kernel and the writer.
    */
  def warmJobs: Int
  def spec(seed: Long, i: Long): UrlSpec

  final def rows(seed: Long, i: Long): Iterator[PageRow] = {
    val s = spec(seed, i)
    s.captures.iterator.map(c => PageRow(s.url, new Timestamp(c.ts), c.build(), "", "en"))
  }
}

object Workloads {

  val all: Seq[Workload] = Seq(PdfFresh, PdfRotation, HtmlRecrawl)

  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))

  /** Independent stream per (seed, url, purpose): workloads never depend on
    * generation order or partitioning.
    */
  private def rng(seed: Long, i: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + salt)

  private val vocab: Array[String] = (
    "data table spark page text index query batch stream file block commit " +
    "resume bucket shuffle kernel parser object stream filter decode font " +
    "glyph width height matrix operator content layer stage task driver " +
    "executor memory disk network cluster crawl archive record capture url " +
    "snapshot manifest lineage version schema column partition row value " +
    "token word sentence paragraph article header footer section title body " +
    "alpha beta gamma delta epsilon zeta theta lambda sigma omega river " +
    "mountain forest ocean desert valley island harbor bridge tower garden"
  ).split(' ')

  /** `n` words; `sep` draws each separator (HTML lines use tabs and runs of
    * spaces, which the extractor must collapse).
    */
  private def words(r: SplittableRandom, n: Int, sep: SplittableRandom => String): String = {
    val sb = new java.lang.StringBuilder
    var k = 0
    while (k < n) {
      if (k > 0) sb.append(sep(r))
      sb.append(vocab(r.nextInt(vocab.length)))
      if (r.nextInt(8) == 0) sb.append(r.nextInt(10000))
      k += 1
    }
    sb.toString
  }

  private def space(r: SplittableRandom): String = " "

  private def bytes(s: String): Array[Byte] = s.getBytes(UTF_8)

  /** The x11/x23 oracle normalisation: whitespace runs collapse to one
    * space, then the line is trimmed.
    */
  def normalizeHtml(s: String): String =
    s.replaceAll("[ \\t\\r\\n\\x0B\\x0C]+", " ").trim

  /** Single-page PDFs of 40 operator-dense lines, one capture per url, the
    * four `PdfFixtures.multiLinePdf` containers in rotation. Expected text
    * is the lines joined by "\n" (each `0 -12 Td` starts a new line).
    */
  object PdfFresh extends Workload {
    val name = "pdf_fresh"
    val nUrls = 4000
    val numBuckets = 16
    val batchBuckets = 16
    val failAfterBatches: Option[Int] = None
    val warmJobs = 8
    val Lines = 40

    def spec(seed: Long, i: Long): UrlSpec = {
      val r = rng(seed, i, 1)
      val lines = (0 until Lines).map(k => s"L$k " + words(r, 6 + r.nextInt(8), space))
      val variant = (i % 4).toInt
      val ts = PagesGen.BaseTs + i
      UrlSpec(f"https://bench.test/fresh-$i%08d", s"multiLinePdf$variant",
        Seq(Capture(ts, () => PdfFixtures.multiLinePdf(lines, variant))),
        Expected(ts, "ok", bytes(lines.mkString("\n")), 1))
    }
  }

  /** Every `PagesGen.payloadFor` family, plus two-page documents and a
    * seeded 2% share of `PdfFixtures.s16`, whose second text object uses an
    * unknown colour space: it must come out as an `error` row holding the
    * text before it. Texts are one short sentence, so per-document fixed
    * cost dominates.
    */
  object PdfRotation extends Workload {
    val name = "pdf_rotation"
    val nUrls = 4000
    val numBuckets = 16
    val batchBuckets = 16
    val failAfterBatches: Option[Int] = None
    val warmJobs = 8
    val ErrorPerMille = 20

    def spec(seed: Long, i: Long): UrlSpec = {
      val r = rng(seed, i, 2)
      val text = words(r, 4 + r.nextInt(8), space)
      val ts = PagesGen.BaseTs + i
      val url = f"https://bench.test/rot-$i%08d"
      if (r.nextInt(1000) < ErrorPerMille)
        UrlSpec(url, "s16", Seq(Capture(ts, () => PdfFixtures.s16())),
          Expected(ts, "error", bytes("partial"), 1))
      else {
        val family = r.nextInt(PagesGen.PdfVariants + 1)
        if (family == PagesGen.PdfVariants) {
          val p2 = s"p2 of $i"
          UrlSpec(url, "twoPages", Seq(Capture(ts, () => PdfFixtures.twoPages(text, p2))),
            Expected(ts, "ok", bytes(text + "\n" + p2), 2))
        } else
          UrlSpec(url, f"payloadFor$family%02d",
            Seq(Capture(ts, () => PagesGen.payloadFor(i, text, family))),
            Expected(ts, "ok", bytes(text), 1))
      }
    }
  }

  /** Multi-paragraph HTML articles, each url captured three times with
    * distinct timestamps stored in shuffled order; the latest capture must
    * survive dedup. Runs with `Main`'s default 64 buckets in batches of 16,
    * stopped after 2 batches and resumed.
    */
  object HtmlRecrawl extends Workload {
    val name = "html_recrawl"
    val nUrls = 1000
    val numBuckets = 64
    val batchBuckets = 16
    val failAfterBatches: Option[Int] = Some(2)
    val warmJobs = 5
    val Captures = 3

    private def ws(r: SplittableRandom): String = r.nextInt(6) match {
      case 0 => "\t"
      case 1 => "   "
      case _ => " "
    }

    def spec(seed: Long, i: Long): UrlSpec = {
      val r = rng(seed, i, 3)
      // A random permutation of capture slots decides which one is latest;
      // the stored row order never gives it away.
      val slots = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
        .shuffle((0 until Captures).toList)
      val caps = (0 until Captures).map { c =>
        val lines = (0 until 8 + r.nextInt(9)).map(k => s"c$c p$k " + words(r, 8 + r.nextInt(9), ws))
        (PagesGen.BaseTs + i * 1000L + slots(c) * 100L, lines)
      }
      val (latestTs, latestLines) = caps.maxBy(_._1)
      UrlSpec(f"https://bench.test/html-$i%08d", "htmlMultiPara",
        caps.map { case (ts, lines) => Capture(ts, () => PdfFixtures.htmlMultiPara(lines)) },
        Expected(latestTs, "ok", bytes(latestLines.map(normalizeHtml).mkString("\n")),
          latestLines.length))
    }
  }
}
