package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (array<float>). Every top-k
  * variant scores with the quantized integer dot product, so a SQL oracle
  * reproduces scores and tie-breaks bit-for-bit.
  *
  *  - bruteForceTopKQuant is the exact baseline: broadcast the (small) query
  *    set, one scan over the corpus, per-partition top-k via window rank.
  *    The dot product runs in codegen'd `zip_with`/`aggregate` SQL
  *    functions — no UDF in the hot path.
  *  - lshTopKQuant is the scale path: random-hyperplane signatures bucket
  *    the corpus (computed once, reusable as a materialized column); queries
  *    probe their own bucket plus the buckets within a hamming radius, so
  *    the candidate set is a small fraction of the corpus.
  *  - ivfTopKQuant partitions the corpus into cells around deterministic
  *    integer centroids; queries scan only their nearest cells.
  *  - signatures are Long (up to 62 planes) and `bitsFor` scales with corpus
  *    size UNCAPPED: at 10^12 vectors it picks ~35 bits (~2^35 buckets,
  *    ~32 rows each) where a fixed 12-bit cap would leave 10^8-row buckets.
  */
object Similarity {

  /** Quantized integer dot product (exact cross-engine arithmetic — used by
    * the DuckDB-oracle query): sum(round(x*1000) * round(y*1000)).
    */
  val QuantDotExpr: String =
    "aggregate(zip_with(embedding, qe, (x, y) -> " +
      "cast(round(cast(x as double)*1000) as bigint) * cast(round(cast(y as double)*1000) as bigint)), " +
      "0L, (acc, v) -> acc + v)"

  /** Double-precision cosine via SQL functions (no UDF). Zero-norm vectors
    * score -2 (below any real cosine) instead of NaN — Spark orders NaN
    * ABOVE every value, so an unguarded 0/0 would put a single all-zero
    * embedding at rank 1 of every descending top-k.
    */
  def cosineExpr(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"aggregate(zip_with($x, $y, (p, q) -> cast(p as double) * cast(q as double)), 0D, (acc, v) -> acc + v)"
    s"CASE WHEN ${dot(a, a)} = 0D OR ${dot(b, b)} = 0D THEN -2D " +
      s"ELSE ${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})) END"
  }

  /** Exact top-k nearest neighbors for each query id by QUANTIZED INTEGER
    * dot product.
    */
  def bruteForceTopKQuant(spark: SparkSession, embeddings: DataFrame, queryIds: Seq[Long],
                          k: Int = 10, idCol: String = "vec_id",
                          embCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val queries = broadcast(
      embeddings.filter(col(idCol).isInCollection(queryIds))
        .select(col(idCol).as("query_id"), col(embCol).as("qe")))
    val scored = embeddings.select(col(idCol), col(embCol).as("embedding"))
      .crossJoin(queries)
      .filter(col(idCol) =!= col("query_id"))
      .withColumn("dot", expr(QuantDotExpr))
    val w = Window.partitionBy("query_id").orderBy(col("dot").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol).as("neighbor_id"), col("dot"), col("rank"))
  }

  // --------------------------------------------------------------- LSH ANN

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * FNV-derived INTEGER in [-1000, 1000]. Integer components + quantized
    * vectors make the whole signature computation integer-exact — the same
    * arithmetic runs bit-for-bit in the DuckDB oracle (no FP sign-flip
    * hazard at near-zero dots), and quantized random projections hash as
    * well as real-valued ones.
    */
  def hyperplaneQ(plane: Int, dim: Int): Long =
    java.lang.Long.remainderUnsigned(TextOps.fnv1a64(plane + ":" + dim), 2001L) - 1000L

  /** round-half-away-from-zero (matches SQL round() in Spark and DuckDB). */
  def roundQ(x: Double): Long =
    (if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)).toLong

  val DefaultSignatureBits = 12
  val MaxSignatureBits = 62

  /** Random-hyperplane signature of a vector (Long: up to 62 planes).
    * INTEGER-exact: dot = sum(round(v_d * 1000) * hyperplaneQ(p, d)).
    */
  def lshSignature(v: Array[Float], bits: Int): Long = {
    var sig = 0L
    val q = new Array[Long](v.length)
    var d = 0
    while (d < v.length) { q(d) = roundQ(v(d).toDouble * 1000); d += 1 }
    var p = 0
    while (p < bits) {
      var dot = 0L
      d = 0
      while (d < v.length) { dot += q(d) * hyperplaneQ(p, d); d += 1 }
      if (dot >= 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  def withLshBucket(embeddings: DataFrame, embCol: String = "embedding",
                    bits: Int = DefaultSignatureBits): DataFrame = {
    val f = udf((v: Seq[Float]) => lshSignature(v.toArray, bits))
    embeddings.withColumn("lsh_bucket", f(col(embCol)))
  }

  /** Pick a signature width that keeps ~32 vectors per bucket. UNCAPPED in
    * corpus size (10^12 vectors -> 35 bits); bounded only by the Long width.
    */
  def bitsFor(corpusSize: Long): Int = {
    val b = math.ceil(math.log(math.max(1.0, corpusSize / 32.0)) / math.log(2)).toInt
    math.max(2, math.min(MaxSignatureBits, b))
  }

  /** All bucket signatures within hamming `radius` of `sig` (multi-probe
    * set): 1 + bits + C(bits,2) + ... buckets. Radius 2 recovers ~99% of
    * near-neighbours whose signatures drift by <= 2 planes while still
    * probing only ~(1 + b + b^2/2) / 2^b of the corpus.
    */
  def probeSet(sig: Long, bits: Int, radius: Int): Seq[Long] = {
    var cur = Set(sig)
    var all = Set(sig)
    var r = 0
    while (r < radius) {
      cur = cur.flatMap(s => (0 until bits).map(b => s ^ (1L << b)))
      all ++= cur
      r += 1
    }
    all.toSeq.sorted
  }

  /** Approximate top-k: probe the query's bucket and all buckets within
    * hamming `probeRadius`. Recall improves with probes; candidates stay
    * ~corpus * |probes| / 2^bits. With the integer signatures the
    * complete pipeline (bucket assignment, multi-probe, candidate scoring,
    * tie-breaks) is exact cross-engine arithmetic — DuckDB-oracle-checkable
    * end to end.
    */
  def lshTopKQuant(spark: SparkSession, embeddings: DataFrame, queryIds: Seq[Long],
                   k: Int = 10, idCol: String = "vec_id",
                   embCol: String = "embedding",
                   bits: Int = DefaultSignatureBits,
                   probeRadius: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucketed = withLshBucket(embeddings, embCol, bits)
    val probesUdf = udf((sig: Long) => probeSet(sig, bits, probeRadius))
    val queries = broadcast(
      bucketed.filter(col(idCol).isInCollection(queryIds))
        .select(col(idCol).as("query_id"), col(embCol).as("qe"), col("lsh_bucket").as("qb"))
        .withColumn("probe", explode(probesUdf(col("qb"))))
        .select("query_id", "qe", "probe"))
    val scored = bucketed
      // Alias the corpus column to the name QuantDotExpr expects (raw string
      // substitution on the expression text is unsafe for arbitrary embCol).
      .withColumn("embedding", col(embCol))
      .join(queries, col("lsh_bucket") === col("probe"))
      .filter(col(idCol) =!= col("query_id"))
      .withColumn("dot", expr(QuantDotExpr))
    val w = Window.partitionBy("query_id").orderBy(col("dot").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol).as("neighbor_id"), col("dot"), col("rank"))
  }

  // --------------------------------------------------------------- IVF ANN

  /** Deterministic, INTEGER-EXACT IVF ANN. Every step is exact integer
    * arithmetic, so a plain-SQL oracle reproduces the whole
    * pipeline bit-for-bit:
    *  - vectors quantize as q_d = round(v_d * 1000) (BIGINT);
    *  - initial centroids = quantized embeddings of the `nLists` vec_ids
    *    with the LOWEST fnv1a64(vec_id) — a deterministic hash-ordered
    *    sample, so id-clustered corpora (ids assigned by crawl order, say)
    *    still seed across the whole distribution;
    *  - exactly ONE Lloyd step: assign each vector to its nearest centroid
    *    by integer squared-L2 (tie -> lowest centroid index), then recompute
    *    each centroid as the per-dimension floorDiv(sum, count) of its cell
    *    (an empty cell keeps its initial centroid);
    *  - the inverted lists are the assignment under the stepped centroids.
    * Queries probe their `nProbe` nearest stepped centroids and score the
    * candidates with the quantized integer dot product. Centroids are tiny
    * driver-side state (2 collects of
    * nLists rows), assignment is one scan, probing is a broadcast join.
    */
  def ivfTopKQuant(spark: SparkSession, embeddings: DataFrame, queryIds: Seq[Long],
                   k: Int = 10, nLists: Int = 16, nProbe: Int = 4,
                   idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // Alias the embedding column to a fixed name before any expr() uses it
    // (raw string interpolation of arbitrary column names is unsafe).
    val quant = embeddings.select(col(idCol).as("vid"), col(embCol).as("__emb"))
      .select(col("vid"),
        expr("transform(__emb, x -> cast(round(cast(x as double) * 1000) as bigint))").as("qv"))

    def nearest(cents: Array[Array[Long]]) = udf { (q: Seq[Long]) =>
      var bestIdx = 0
      var bestDist = Long.MaxValue
      var ci = 0
      while (ci < cents.length) {
        val c = cents(ci)
        var dist = 0L
        var d = 0
        while (d < c.length) { val t = q(d) - c(d); dist += t * t; d += 1 }
        if (dist < bestDist) { bestDist = dist; bestIdx = ci } // tie -> lowest ci
        ci += 1
      }
      bestIdx
    }

    // Initial centroids: nLists lowest by (fnv1a64(vid), vid) — a fixed
    // hash-ordered sample (quantizer params — tiny collect). A corpus with
    // fewer than nLists rows simply seeds one cell per row (the SQL mirror's
    // LIMIT adapts identically); an empty corpus returns an empty result.
    val fnvUdf = udf((id: Long) => TextOps.fnv1a64(id.toString))
    val c0: Array[Array[Long]] = quant
      .withColumn("__h", fnvUdf(col("vid")))
      .orderBy(col("__h"), col("vid")).limit(nLists)
      .collect().map(_.getSeq[Long](1).toArray)
    if (c0.isEmpty)
      return spark.emptyDataset[(Long, Long, Long, Int)]
        .toDF("query_id", "neighbor_id", "dot", "rank")
    val lists = c0.length
    val dims = c0(0).length
    // One Lloyd step: per-cell per-dim integer sums + counts. NARROW shape —
    // posexplode to (cell, dim, value) rows and one 3-column aggregation —
    // instead of a dims-wide agg of `sum(element_at(qv, d))` columns: the
    // wide form generated 1 + dims aggregate expressions whose whole-stage
    // codegen compile dominated the query's wall time (guide §1.2 step 2 —
    // this is planning/compile cost, not data cost; the grouped row count
    // is nLists x dims either way, map-side combined). Sums are identical
    // integers, so the stepped centroids — and the oracle hash — are
    // unchanged.
    val cellRows = quant.withColumn("c0", nearest(c0)(col("qv")))
      .select(col("c0"), posexplode(col("qv")).as(Seq("d", "v")))
      .groupBy("c0", "d").agg(count(lit(1)).as("cnt"), sum("v").as("s"))
      .collect()
    val cellCnt = new Array[Long](lists)
    val cellSums = Array.fill(lists)(new Array[Long](dims))
    for (r <- cellRows) {
      val ci = r.getInt(0)
      cellCnt(ci) = r.getLong(2) // same count for every dim of the cell
      cellSums(ci)(r.getInt(1)) = r.getLong(3)
    }
    val c1: Array[Array[Long]] = Array.tabulate(lists) { ci =>
      if (cellCnt(ci) > 0) cellSums(ci).map(s => Math.floorDiv(s, cellCnt(ci)))
      else c0(ci) // empty cell keeps its initial centroid
    }
    val assigned = quant.withColumn("list_id", nearest(c1)(col("qv")))

    // Probe lists per query: nProbe nearest stepped centroids (driver-side —
    // queries and centroids are both tiny).
    val queryVecs = quant.filter(col("vid").isInCollection(queryIds))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
    val probeRows = queryVecs.toSeq.flatMap { case (qid, qv) =>
      c1.zipWithIndex.map { case (c, ci) =>
        var dist = 0L
        var d = 0
        while (d < c.length) { val t = qv(d) - c(d); dist += t * t; d += 1 }
        (qid, ci, dist)
      }.sortBy(p => (p._3, p._2)).take(nProbe).map(p => (qid, p._2))
    }
    val probes = broadcast(probeRows.toDF("query_id", "probe_list"))
    val queries = broadcast(
      quant.filter(col("vid").isInCollection(queryIds))
        .select(col("vid").as("query_id"), col("qv").as("qq")))
    val scored = assigned
      .join(probes, col("list_id") === col("probe_list"))
      .join(queries, "query_id")
      .filter(col("vid") =!= col("query_id"))
      .withColumn("dot",
        expr("aggregate(zip_with(qv, qq, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"))
    val w = Window.partitionBy("query_id").orderBy(col("dot").desc, col("vid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vid").as("neighbor_id"), col("dot"), col("rank"))
  }

  /** Embedding-cosine near-duplicate pairs via shared LSH bucket + exact
    * cosine verification (the embedding analogue of minhash dedup).
    *
    * Bucket-size guard: buckets larger than `maxBucket` are NOT self-joined
    * directly — their rows are re-bucketed with `extraBits` additional
    * hyperplanes per refinement round (up to `refineRounds`), splitting
    * crowded-but-heterogeneous buckets. Rows still crowded after the last
    * round ARE joined (they are near-identical vectors: every pair is a
    * true near-dup, so the output itself is what is quadratic — unavoidable).
    * NOTE: refinement trades recall at bucket boundaries for boundedness,
    * like any LSH scheme; near-dup pairs split by an extra plane are lost.
    */
  def embeddingNearDupPairs(embeddings: DataFrame, threshold: Double = 0.95,
                            idCol: String = "vec_id",
                            embCol: String = "embedding",
                            bits: Int = DefaultSignatureBits,
                            maxBucket: Int = 10000,
                            refineRounds: Int = 2,
                            extraBits: Int = 4): DataFrame = {
    require(bits + refineRounds * extraBits <= MaxSignatureBits,
      "bits + refinement exceeds the 62-bit signature budget")
    def pairsWithin(b: DataFrame): DataFrame =
      b.as("l")
        .join(b.as("r"),
          col("l.lsh_bucket") === col("r.lsh_bucket") && col("l.id") < col("r.id"))
        .withColumn("cosine", expr(cosineExpr("l.e", "r.e")))
        .filter(col("cosine") >= threshold)
        .select(col("l.id").as("a"), col("r.id").as("b"), col("cosine"))

    var cur = withLshBucket(embeddings, embCol, bits)
      .select(col(idCol).as("id"), col(embCol).as("e"), col("lsh_bucket"))
    var out: DataFrame = null
    var round = 0
    var curBits = bits
    // Each round reads `cur` three times (counts, small branch, big/next
    // branch); without a persist every read re-runs the signature UDF
    // lineage over the full surviving set — and round r's lineage chains
    // through every earlier round's UDF. Persist each round's working set
    // (MEMORY_AND_DISK, spills at scale): the caller's action materializes
    // each once and all three reads share it. Rounds shrink geometrically
    // (only big-bucket rows survive), so <= refineRounds+1 shrinking caches
    // are held; they release with the session (plan construction is lazy, so
    // an eager per-round unpersist here would empty the cache before the
    // caller ever runs it).
    while (round <= refineRounds && cur != null) {
      cur = cur.persist()
      val counts = cur.groupBy("lsh_bucket").agg(count(lit(1)).as("bn"))
      val small = cur.join(counts.filter(col("bn") <= maxBucket).select("lsh_bucket"), "lsh_bucket")
      val p = pairsWithin(small)
      out = if (out == null) p else out.unionByName(p)
      if (round < refineRounds) {
        val big = cur.join(counts.filter(col("bn") > maxBucket).select("lsh_bucket"), "lsh_bucket")
        // Refine: append extraBits new hyperplane signatures (planes continue
        // from curBits — deterministic, disjoint from the ones already used).
        val fromBit = curBits
        val refineUdf = udf((v: Seq[Float], bucket: Long) => {
          var sig = bucket
          var p2 = fromBit
          while (p2 < fromBit + extraBits) {
            var dot = 0L
            val arr = v
            var d = 0
            while (d < arr.length) { dot += roundQ(arr(d).toDouble * 1000) * hyperplaneQ(p2, d); d += 1 }
            if (dot >= 0) sig |= (1L << p2)
            p2 += 1
          }
          sig
        })
        cur = big.withColumn("lsh_bucket", refineUdf(col("e"), col("lsh_bucket")))
        curBits += extraBits
      } else {
        // Last round: join what remains (homogeneous near-identical buckets).
        val big = cur.join(counts.filter(col("bn") > maxBucket).select("lsh_bucket"), "lsh_bucket")
        out = out.unionByName(pairsWithin(big))
        cur = null
      }
      round += 1
    }
    out
  }
}
