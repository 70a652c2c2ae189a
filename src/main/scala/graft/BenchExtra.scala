package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.spark.PagesGen

/** Extra (non-contract) measurement harness for the optimization rounds —
  * guide §1.4: time computations against the noop sink so the measurement is
  * the transformation, not the sink or a count()'s column pruning. The
  * driver-contract bench (graft.Bench) is FROZEN; everything exploratory
  * lives here.
  *
  * Modes (args(0)):
  *  - "queries" [names...]: noop-time each named SparkEntry gate (default:
  *    the Bench headline set), cold + 2 warm reps, one JSON line each.
  *  - "micro": single-threaded per-variant microbench of payload BUILD and
  *    kernel EXTRACT cost (the two sides of every extraction query).
  *  - "plan" <name> <outFile>: write .explain("formatted") of a query.
  *
  * The end-to-end production-path profile (stage and kernel-layer tables)
  * lives in perfbench/.
  */
object BenchExtra {

  private def timed[T](f: => T): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val mode = if (args.nonEmpty) args(0) else "queries"

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

    mode match {
      case "queries" =>
        val names =
          if (args.length > 1) args.drop(1).toSeq
          else Seq("q01_lineitem_agg", "q02_top_orders", "q04_latest_event",
            "q05_token_count", "q06_exact_dedup", "q09_ann_topk",
            "x16_minhash_groups", "x17_simhash", "x14_ann_lsh",
            "x20_multimodal_decode", "x25_minhash_pairs", "x27_bpe_tokens",
            "x28_winnow", "x29_ann_ivf", "x39_bpe_merges", "x40_image_decode",
            "x42_writer_roundtrip", "x43_pdf_images")
        for (name <- names) {
          SparkEntry.gates.find(_.name == name).map(_.run) match {
            case None => println(s"""{"query":"$name","error":"missing"}""")
            case Some(fn) =>
              spark.sparkContext.setJobDescription(s"bx:$name")
              val cold = timed(noop(fn(spark, sfDir)))
              val w1 = timed(noop(fn(spark, sfDir)))
              val w2 = timed(noop(fn(spark, sfDir)))
              println(f"""{"query":"$name","cold":$cold%.3f,"warm":[$w1%.3f,$w2%.3f]}""")
          }
        }

      case "micro" =>
        import spark.implicits._
        // One local (driver-side) pass: per-variant build + extract cost over
        // the sf docs, single-threaded so the numbers are per-core truth.
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
          .select("doc_id", "text").as[(Long, String)].collect()
        val nDocs = math.min(docs.length, 500)
        val sample = docs.take(nDocs)
        // pagesBench shape: 40 perturbed lines, variants 0..4
        for (variant <- 0 until 5) {
          val lines0 = (0 until 40)
          var built: Array[Array[Byte]] = null
          val tBuild = timed {
            built = sample.map { case (id, text) =>
              val lines = lines0.map(k => s"[p$k r0 d$id] $text")
              if (variant == 4) graft.fixtures.PdfFixtures.htmlMultiPara(lines)
              else graft.fixtures.PdfFixtures.multiLinePdf(lines, variant)
            }
          }
          val bytes = built.map(_.length.toLong).sum
          val tExtract = timed { built.foreach(p => Extract(p)) }
          println(f"""{"micro":"bench_v$variant","n":$nDocs,"build_s":$tBuild%.3f,"extract_s":$tExtract%.3f,"payload_bytes":$bytes}""")
        }
        // x10/x42 shape: the 24 rotation variants, one doc each family
        for (variant <- 0 until PagesGen.PdfVariants) {
          val sub = sample.take(100)
          var built: Array[Array[Byte]] = null
          val tBuild = timed {
            built = sub.map { case (id, text) =>
              PagesGen.payloadFor(id, text, variant)
            }
          }
          val tExtract = timed { built.foreach(p => Extract(p)) }
          val tRewrite = timed {
            built.zip(sub).foreach { case (p, (id, _)) =>
              import graft.pdf.PdfWriter
              val enc = (id % 3) match {
                case 1 => Some(PdfWriter.WriterEncrypt(
                  ownerPass = "graft-owner".getBytes, aes = false, seed = s"x42-$id"))
                case 2 => Some(PdfWriter.WriterEncrypt(
                  ownerPass = "graft-owner".getBytes, aes = true, seed = s"x42-$id"))
                case _ => None
              }
              Extract(PdfWriter.rewrite(p, Nil, enc))
            }
          }
          println(f"""{"micro":"rot_v$variant","n":${sub.length},"build_s":$tBuild%.3f,"extract_s":$tExtract%.3f,"rewrite_extract_s":$tRewrite%.3f}""")
        }

      case "plan" =>
        val name = args(1)
        val outFile = args(2)
        val df = SparkEntry.gates.find(_.name == name)
          .getOrElse(sys.error(s"unknown gate: $name")).run(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
          txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"""{"plan":"$name","file":"$outFile"}""")

      case other =>
        System.err.println(s"unknown mode: $other")
    }
    spark.stop()
  }
}
