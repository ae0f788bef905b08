package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge

import graft.expressions.TopKScoreId
import graft.functions.Vectors

/** Approximate-nearest-neighbor search over an `array<float>` embedding
  * column.
  *
  * Baseline: brute-force cosine top-k — the query set is broadcast, the
  * corpus is scanned exactly once, per-partition top-k is taken **before**
  * the shuffle so only `numPartitions × k` candidate rows move, then the
  * final top-k per query comes from a tiny sort. This is the plan that
  * survives a 100 TB corpus: no corpus shuffle, no window over the full
  * cross product.
  *
  * Scale path: SRP-LSH bucketing — corpus signatures computed scan-side,
  * candidates restricted to low-Hamming buckets, ranking only within
  * candidates.
  */
object SimilaritySearch {

  /** Exact top-k neighbors for each query vector.
    *
    * @param corpus  (idCol, vecCol, ...) — arbitrarily large
    * @param queries (idCol, vecCol)      — small, broadcastable
    * @return (query_id, neighbor_id, cosine, rank) with rank 1..k
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val scored = graft.Tables.spread(corpus)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", Vectors.cosine(col("__qv"), col("__cv")))
      .select("query_id", "neighbor_id", "cosine")
    topKPerKey(scored, "query_id", k)
  }

  /** SRP-LSH approximate top-k: corpus + queries get hyperplane bit
    * signatures; candidates are corpus rows whose signature is within
    * `maxHamming` of the query's (cheap bit ops on a broadcast query set),
    * ranked by exact cosine within the candidate set only.
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numPlanes: Int = 16,
      maxHamming: Int = 6): DataFrame = {
    val q = queries.select(
      col(idCol).as("query_id"),
      col(vecCol).as("__qv"),
      Vectors.hyperplaneSignature(col(vecCol), numPlanes).as("__qsig"))
    val c = graft.Tables.spread(corpus).select(
      col(idCol).as("neighbor_id"),
      col(vecCol).as("__cv"),
      Vectors.hyperplaneSignature(col(vecCol), numPlanes).as("__csig"))
    val scored = c
      .join(
        broadcast(q),
        col("query_id") =!= col("neighbor_id") &&
          bit_count(col("__qsig").bitwiseXOR(col("__csig"))) <= maxHamming)
      .withColumn("cosine", Vectors.cosine(col("__qv"), col("__cv")))
      .select("query_id", "neighbor_id", "cosine")
    topKPerKey(scored, "query_id", k)
  }

  /** Distributed top-k per key via the bounded-heap aggregate
    * [[TopKScoreId]]: every input row is an O(log k) MAP-SIDE heap update
    * inside the hash aggregate, partial buffers of ≤ k entries shuffle,
    * and the full candidate set is never sorted anywhere. Tie-break
    * (score desc, id asc) matches the window form and the oracle exactly.
    *
    * Null/NaN-score rows are unrankable and excluded (both forms); a key
    * with NO rankable candidates is absent from the output.
    */
  def topKPerKey(scored: DataFrame, keyCol: String, k: Int): DataFrame = {
    val agg = bridge.column(
      TopKScoreId(
        bridge.expression(col("cosine")),
        bridge.expression(col("neighbor_id")),
        k).toAggregateExpression())
    scored
      .groupBy(col(keyCol))
      .agg(agg.as("__topk"))
      .select(col(keyCol), posexplode(col("__topk")))
      .select(
        col(keyCol),
        col("col.id").as("neighbor_id"),
        col("col.score").as("cosine"),
        (col("pos") + 1).as("rank"))
  }

  /** Spherical k-means centroids over a deterministic hash-ordered sample
    * of the corpus: init = first `k` sample vectors (the previous
    * hash-sample behavior), then `iters` Lloyd rounds of cosine assignment
    * + mean recompute (means re-normalized implicitly by the cosine). The
    * sample (≤ `sampleSize` rows) and the iterations are a DRIVER-SIDE
    * MODEL FIT — like training any index structure — and the result ships
    * to executors as plan literals, never as a joined table.
    */
  private[operators] def kmeansCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      sampleSize: Int = 2048,
      iters: Int = 3): Array[Seq[Float]] = {
    val sample: Array[Array[Double]] = corpus
      .select(col(idCol), col(vecCol))
      .withColumn("__h", xxhash64(col(idCol)))
      .orderBy("__h")
      .limit(sampleSize)
      .collect()
      .map(_.getSeq[Float](1).toArray.map(_.toDouble))
    require(sample.nonEmpty, "kmeansCentroids: empty corpus")
    val dim = sample.head.length
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < dim) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      val n = math.sqrt(na) * math.sqrt(nb)
      if (n == 0) 0.0 else d / n
    }
    var cents = sample.take(k).map(_.clone)
    for (_ <- 0 until iters) {
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val counts = new Array[Int](cents.length)
      sample.foreach { v =>
        var best = 0; var bestS = Double.NegativeInfinity
        var c = 0
        while (c < cents.length) {
          val s = cos(cents(c), v); if (s > bestS) { bestS = s; best = c }; c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      cents = cents.indices.map { c =>
        if (counts(c) == 0) cents(c) // empty cell keeps its centroid
        else sums(c).map(_ / counts(c))
      }.toArray
    }
    cents.map(_.map(_.toFloat).toSeq)
  }

  /** IVF (inverted-file) approximate top-k: the corpus is partitioned into
    * Voronoi cells around `numCentroids` centroids; a query is ranked only
    * against the cells of its `nprobe` nearest centroids.
    *
    * Centroids come from [[kmeansCentroids]] — a deterministic sample +
    * Lloyd refinement on the driver; the centroid set is a MODEL ARTIFACT
    * (like any trained index) embedded as plan literals, so cell
    * assignment is scan-side arithmetic — no shuffle, no join against a
    * centroid table. The only movement: each corpus row to its cell's
    * reducers via the top-k hash aggregate, exactly as [[bruteForceTopK]]
    * but over corpus/numCentroids-sized slices.
    *
    * @param nprobe cells probed per query — recall/latency dial
    */
  /** Scan-side nearest-centroid assignment over plan-literal centroids:
    * the `n` best cells for vector `v`, best first. Shared with
    * [[AnnIndex]] so the persisted index assigns cells with the exact
    * expression the in-memory fit uses.
    */
  private[operators] def bestCellsOf(
      cLits: Array[org.apache.spark.sql.Column])(
      v: org.apache.spark.sql.Column,
      n: Int): org.apache.spark.sql.Column = {
    val scoredCells = array(cLits.zipWithIndex.map { case (c, i) =>
      struct(Vectors.cosine(v, c).as("s"), lit(i).as("cell"))
    }: _*)
    slice(reverse(array_sort(scoredCells)), 1, n)
  }

  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numCentroids: Int = 16,
      nprobe: Int = 4,
      kmeansIters: Int = 3): DataFrame = {
    require(nprobe <= numCentroids)
    val centroids = kmeansCentroids(corpus, idCol, vecCol, numCentroids, iters = kmeansIters)
    val cLits = centroids.map(c => typedlit(c))
    // nearest-centroid assignment, scan-side: argmax of dot over literals
    val bestCells = bestCellsOf(cLits) _
    val c = graft.Tables.spread(corpus).select(
      col(idCol).as("neighbor_id"),
      col(vecCol).as("__cv"),
      element_at(bestCells(col(vecCol), 1), 1).getField("cell").as("__cell"))
    val q = queries.select(
      col(idCol).as("query_id"),
      col(vecCol).as("__qv"),
      explode(transform(bestCells(col(vecCol), nprobe), e => e.getField("cell")))
        .as("__cell"))
    val scored = c
      .join(broadcast(q), Seq("__cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", Vectors.cosine(col("__qv"), col("__cv")))
      .select("query_id", "neighbor_id", "cosine")
    topKPerKey(scored, "query_id", k)
  }

  /** Product-quantization codebooks: the embedding space split into `m`
    * subspaces, each with its own `ksub`-codeword Lloyd (L2) k-means fit
    * over the deterministic hash-ordered sample — a DRIVER-SIDE MODEL FIT
    * like [[kmeansCentroids]], shipped to executors as plan literals.
    * `codebooks(s)(c)` is codeword `c` of subspace `s` (length dim/m).
    */
  private[operators] def pqCodebooks(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      ksub: Int,
      sampleSize: Int = 2048,
      iters: Int = 5): Array[Array[Array[Double]]] = {
    val sample: Array[Array[Double]] = corpus
      .select(col(idCol), col(vecCol))
      .withColumn("__h", xxhash64(col(idCol)))
      .orderBy("__h")
      .limit(sampleSize)
      .collect()
      .map(_.getSeq[Float](1).toArray.map(_.toDouble))
    require(sample.nonEmpty, "pqCodebooks: empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"pqCodebooks: dim $dim not divisible by m = $m")
    val dsub = dim / m
    def l2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    (0 until m).toArray.map { s =>
      val subs = sample.map(v => v.slice(s * dsub, (s + 1) * dsub))
      var cents = subs.map(_.toSeq).distinct.take(ksub).map(_.toArray)
      for (_ <- 0 until iters) {
        val sums = Array.fill(cents.length)(new Array[Double](dsub))
        val counts = new Array[Int](cents.length)
        subs.foreach { v =>
          var best = 0; var bestD = Double.PositiveInfinity; var c = 0
          while (c < cents.length) {
            val d = l2(cents(c), v); if (d < bestD) { bestD = d; best = c }; c += 1
          }
          var i = 0
          while (i < dsub) { sums(best)(i) += v(i); i += 1 }
          counts(best) += 1
        }
        cents = cents.indices.map { c =>
          if (counts(c) == 0) cents(c) else sums(c).map(_ / counts(c))
        }.toArray
      }
      // exactly ksub codewords per subspace: the flat ADC lookup table is
      // stride-indexed (s·ksub + c), so a short codebook (degenerate
      // sample) pads with duplicates — identical scores, harmless argmax
      if (cents.length < ksub) cents ++ Array.fill(ksub - cents.length)(cents.head.clone)
      else cents
    }
  }

  /** PQ-ADC approximate top-k with exact re-rank — the memory-bound scale
    * path beside SRP-LSH and IVF: each corpus vector is encoded scan-side
    * into `m` small codes (at 100 TB the candidate scan reads m bytes per
    * vector instead of 4·dim — the standard billion-scale compression),
    * each query precomputes its `m × ksub` dot-product lookup table ONCE
    * in the query-side projection, and per (query, vector) candidate
    * scoring is just `m` table lookups + adds (asymmetric distance). The
    * top `rerank` ADC candidates per query are then re-ranked by exact
    * cosine, so the output format and tie-break match the exact operators.
    *
    * @param rerank ADC candidates re-ranked exactly per query
    *               (recall/latency dial; default 5k)
    */
  /** Scan-side PQ encoding of the corpus against fitted codebooks:
    * `(neighbor_id, __codes array<int>, __cn norm)` — per subspace,
    * argmin_c ||x_s − c||² found as argmax of (x_s · c − ||c||²/2), the
    * ||x_s||² term being constant in c. The vector's norm is captured at
    * encode time (one float next to the m codes) so ADC scoring is a
    * genuine cosine approximation — a raw inner-product sum would bias
    * candidates toward large-norm vectors whenever the corpus is not
    * unit-normalized. Shared with [[AnnIndex]]: a persisted index encodes
    * ONCE here and serves every later job from the codes.
    */
  private[operators] def pqEncode(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      books: Array[Array[Array[Double]]]): DataFrame = {
    val m = books.length
    val dsub = books(0)(0).length
    def cwLit(s: Int, c: Int) = typedlit(books(s)(c).map(_.toFloat).toSeq)
    def codeFor(s: Int): org.apache.spark.sql.Column = {
      val sub = slice(col(vecCol), s * dsub + 1, dsub)
      val scored = array((0 until books(s).length).map { c =>
        val bias = books(s)(c).map(x => x * x).sum / 2.0
        struct((Vectors.dot(sub, cwLit(s, c)) - bias).as("s"), lit(c).as("code"))
      }: _*)
      array_max(scored).getField("code")
    }
    graft.Tables.spread(corpus).select(
      col(idCol).as("neighbor_id"),
      array((0 until m).map(codeFor): _*).as("__codes"),
      Vectors.norm(col(vecCol)).as("__cn"))
  }

  /** The top `k` of each query's candidates `(query_id, neighbor_id)`
    * re-ranked by exact cosine against the raw vectors.
    */
  private def exactRerank(
      cand: DataFrame, corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val rescored = cand.select("query_id", "neighbor_id")
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv")),
        "neighbor_id")
      .join(
        broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))),
        "query_id")
      .select(col("query_id"), col("neighbor_id"),
        Vectors.cosine(col("__qv"), col("__cv")).as("cosine"))
    topKPerKey(rescored, "query_id", k)
  }

  /** ADC candidate generation + exact re-rank over an already-encoded
    * corpus: each query precomputes its `m × ksub` dot-product lookup
    * table ONCE in the query-side projection, per (query, vector) scoring
    * is `m` table lookups + adds, and the top `nCand` ADC candidates are
    * re-ranked by exact cosine against `corpus` (only nCand rows per query
    * are ever joined back to raw vectors). Used by [[pqTopK]].
    */
  private[operators] def pqAdcRerank(
      encoded: DataFrame,
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      books: Array[Array[Array[Double]]],
      nCand: Int): DataFrame = {
    val m = books.length
    val ksub = books(0).length
    val dsub = books(0)(0).length
    def cwLit(s: Int, c: Int) = typedlit(books(s)(c).map(_.toFloat).toSeq)
    // per-query ADC lookup table: lut[s·ksub + c] = q_s · codeword(s, c)
    val lut = array((0 until m).flatMap(s => books(s).indices.map(c =>
      Vectors.dot(slice(col(vecCol), s * dsub + 1, dsub), cwLit(s, c)))): _*)
    val q = queries.select(col(idCol).as("query_id"), lut.as("__lut"),
      Vectors.norm(col(vecCol)).as("__qn"))
    val adcDot = aggregate(
      transform(sequence(lit(0), lit(m - 1)), s =>
        element_at(col("__lut"), s * ksub + element_at(col("__codes"), s + 1) + 1)),
      lit(0.0), (acc, x) => acc + x)
    val adcScore = when(col("__qn") * col("__cn") === 0, lit(0.0))
      .otherwise(adcDot / (col("__qn") * col("__cn")))
    val cand = topKPerKey(
      encoded.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), adcScore.as("cosine")),
      "query_id", nCand)
    exactRerank(cand, corpus, queries, idCol, vecCol, k)
  }

  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      m: Int = 8,
      ksub: Int = 16,
      rerank: Int = 0,
      kmeansIters: Int = 5): DataFrame = {
    val nCand = if (rerank > 0) rerank else 5 * k
    require(nCand >= k, "rerank must be at least k")
    val books = pqCodebooks(corpus, idCol, vecCol, m, ksub, iters = kmeansIters)
    pqAdcRerank(
      pqEncode(corpus, idCol, vecCol, books),
      corpus, queries, idCol, vecCol, k, books, nCand)
  }

  /** Int8 scalar-quantization ANN — the simplest memory-bound scale path
    * beside PQ: each vector compresses SCAN-SIDE to `array<tinyint>`
    * codes ([[Vectors.int8Codes]]; symmetric max-abs), so the candidate
    * scan reads 1 byte per dimension instead of 4. Cosine is
    * scale-invariant, so candidates are ranked DIRECTLY on the codes —
    * no dequantization, no stored scale; the top `rerank` candidates per
    * query are then re-ranked by exact cosine against the raw vectors,
    * so output format and tie-break match the exact operators. Fits
    * between brute force (4 bytes/dim) and PQ (m bytes/VECTOR) on the
    * compression/recall dial, with no model fit at all — nothing to
    * train, persist, or drift.
    */
  def int8TopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      rerank: Int = 0): DataFrame = {
    val nCand = if (rerank > 0) rerank else 3 * k
    require(nCand >= k, "rerank must be at least k")
    def floats(c: Column) = transform(c, x => x.cast("float"))
    val codes = graft.Tables.spread(corpus).select(
      col(idCol).as("neighbor_id"), Vectors.int8Codes(col(vecCol)).as("__cc"))
    val q = queries.select(
      col(idCol).as("query_id"), Vectors.int8Codes(col(vecCol)).as("__qc"))
    val cand = topKPerKey(
      codes.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          Vectors.cosine(floats(col("__qc")), floats(col("__cc"))).as("cosine")),
      "query_id", nCand)
    exactRerank(cand, corpus, queries, idCol, vecCol, k)
  }

  /** All corpus pairs with cosine ≥ threshold (embedding near-dup).
    * Exact O(n²) baseline via broadcast nested-loop — fine when the corpus
    * side fits in executor memory (dimension tables, verification). At
    * scale use [[blockedCosinePairs]] (exact, shuffle-only) or
    * [[srpPairs]] (approximate, subquadratic candidate generation).
    */
  def cosinePairs(
      corpus: DataFrame, idCol: String, vecCol: String, threshold: Double): DataFrame = {
    // the streamed (left) side of the nested-loop join is spread so pair
    // scoring parallelizes; the right side broadcasts
    val a = graft.Tables.spread(corpus).select(col(idCol).as("id_a"), col(vecCol).as("__va"))
    val b = corpus.select(col(idCol).as("id_b"), col(vecCol).as("__vb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine", Vectors.cosine(col("__va"), col("__vb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Exact cosine-threshold self-join WITHOUT broadcasting or collecting
    * the corpus: rows hash into `numBlocks` groups, a row in group g is
    * shuffled to the block-pair keys {(g,h): h ≥ g} as the a-side and
    * {(l,g): l ≤ g} as the b-side, so every unordered group pair meets at
    * exactly one equi-join key and every id pair is scored exactly once
    * (same-group pairs meet at (g,g) in both orders — the id inequality
    * keeps one; cross-group pairs meet once with the lower-group row as
    * the a-side).
    *
    * The O(n²) dot products are inherent to EXACT threshold semantics in
    * a dense space; what this plan fixes vs [[cosinePairs]] is the memory
    * model: shuffle volume is (numBlocks+1)·n rows spread over
    * numBlocks·(numBlocks+1)/2 reducer keys, nothing is materialized on
    * the driver or broadcast, so it runs at any corpus size. Size
    * numBlocks ≈ √(2 × cluster cores) for full parallelism.
    */
  def blockedCosinePairs(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      numBlocks: Int = 16): DataFrame = {
    require(numBlocks > 0)
    val base = graft.Tables.spread(corpus).select(
      col(idCol).as("__id"),
      col(vecCol).as("__v"),
      pmod(xxhash64(col(idCol)), lit(numBlocks)).cast("int").as("__g"))
    val aSide = base
      .select(col("__g").as("__lo"), explode(sequence(col("__g"), lit(numBlocks - 1))).as("__hi"),
        col("__id").as("__ida"), col("__v").as("__va"))
    val bSide = base
      .select(explode(sequence(lit(0), col("__g"))).as("__lo2"), col("__g").as("__hi2"),
        col("__id").as("__idb"), col("__v").as("__vb"))
    aSide
      .join(bSide,
        col("__lo") === col("__lo2") && col("__hi") === col("__hi2") &&
          (col("__lo") =!= col("__hi") || col("__ida") < col("__idb")))
      .withColumn("cosine", Vectors.cosine(col("__va"), col("__vb")))
      .filter(col("cosine") >= threshold)
      .select(
        least(col("__ida"), col("__idb")).as("id_a"),
        greatest(col("__ida"), col("__idb")).as("id_b"),
        col("cosine"))
  }

  /** Batch-hard triplet mining over a labeled embedding corpus (Hermans
    * et al., "In Defense of the Triplet Loss"): for every anchor, the
    * HARDEST POSITIVE (same-label vector with MINIMUM cosine — the
    * furthest example the model must still pull in) and the HARDEST
    * NEGATIVE (different-label vector with MAXIMUM cosine — the impostor
    * it must push out). One row per anchor:
    * `(anchor_id, label, pos_id, pos_cos, neg_id, neg_cos, margin,
    * violates)` with margin = pos_cos − neg_cos and violates =
    * (neg_cos ≥ pos_cos) — the triplet-constraint breaches a contrastive
    * fine-tune (or a label-quality audit) trains on first. Anchors whose
    * label has no second member, or with no other label present, have no
    * complete triplet and are absent.
    *
    * Plan shape: the [[blockedCosinePairs]] block-pair scheme carries the
    * label through the join (no second pass to re-attach it), each scored
    * unordered pair fans out to its two orientations scan-side, and ONE
    * hash aggregate holds two [[TopKScoreId]] k=1 heaps per anchor —
    * positives ranked on −cosine (max of −cos = min cos), null-score
    * routing sending each orientation to exactly one heap. Map-side
    * partials are ≤ 1 entry per heap, so the only O(n²) cost is the dot
    * products themselves, inherent to exact batch-hard semantics; at
    * corpus scale, mine within [[ivfTopK]]'s k-means cells (per-cell
    * batch-hard is the production form) by pre-filtering to a cell and
    * calling this per cell.
    *
    * Tie-breaks (equal cosine → smaller id) match the oracle's window
    * form exactly on both heaps.
    */
  def hardTriplets(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      numBlocks: Int = 16): DataFrame = {
    require(numBlocks > 0)
    val base = graft.Tables.spread(vecs).select(
      col(idCol).as("__id"),
      col(vecCol).as("__v"),
      col(labelCol).as("__l"),
      pmod(xxhash64(col(idCol)), lit(numBlocks)).cast("int").as("__g"))
    val aSide = base.select(
      col("__g").as("__lo"),
      explode(sequence(col("__g"), lit(numBlocks - 1))).as("__hi"),
      col("__id").as("__ida"), col("__v").as("__va"), col("__l").as("__la"))
    val bSide = base.select(
      explode(sequence(lit(0), col("__g"))).as("__lo2"),
      col("__g").as("__hi2"),
      col("__id").as("__idb"), col("__v").as("__vb"), col("__l").as("__lb"))
    val oriented = aSide
      .join(bSide,
        col("__lo") === col("__lo2") && col("__hi") === col("__hi2") &&
          (col("__lo") =!= col("__hi") || col("__ida") < col("__idb")))
      .withColumn("__cos", Vectors.cosine(col("__va"), col("__vb")))
      .select(explode(array(
        struct(col("__ida").as("anchor_id"), col("__la").as("label"),
          col("__idb").as("other_id"), col("__lb").as("other_label"),
          col("__cos").as("cos")),
        struct(col("__idb").as("anchor_id"), col("__lb").as("label"),
          col("__ida").as("other_id"), col("__la").as("other_label"),
          col("__cos").as("cos")))).as("o"))
      .select(col("o.*"))
    mineTriplets(oriented)
  }

  /** The production-scale form of [[hardTriplets]]: mine within k-means
    * Voronoi cells (the [[clusteredCosinePairs]] SemDeDup blocking, the
    * per-batch mining training pipelines actually run) — pair work
    * collapses from n²/2 to Σ|cell|²/2 and the shuffle keys by semantic
    * cell. APPROXIMATE by construction with one-sided error: the in-cell
    * positive set is a subset of the global one, so `pos_cos` can only
    * move UP (an easier positive) and `neg_cos` only DOWN (a softer
    * negative) versus the exact miner — spec-pinned bounds; anchors
    * whose cell lacks a second label drop out. Centroids are the
    * deterministic driver fit shipped as plan literals ([[ivfTopK]]'s
    * discipline); each vector is assigned to exactly ONE cell, so no
    * cross-cell dedup is needed.
    */
  def hardTripletsInCells(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      numCells: Int = 16,
      kmeansIters: Int = 3): DataFrame = {
    require(numCells > 0)
    val cents = kmeansCentroids(vecs, idCol, vecCol, numCells, iters = kmeansIters)
    val cLits = cents.map(c => typedlit(c))
    val assigned = graft.Tables.spread(vecs).select(
      col(idCol).as("__id"), col(vecCol).as("__v"), col(labelCol).as("__l"),
      transform(bestCellsOf(cLits)(col(vecCol), 1),
        s => s.getField("cell"))(0).as("__cell"))
    val a = assigned.select(col("__cell"), col("__id").as("anchor_id"),
      col("__v").as("__av"), col("__l").as("label"))
    val b = assigned.select(col("__cell"), col("__id").as("other_id"),
      col("__v").as("__bv"), col("__l").as("other_label"))
    val oriented = a
      .join(b, Seq("__cell"))
      .where(col("anchor_id") =!= col("other_id"))
      .select(col("anchor_id"), col("label"), col("other_id"),
        col("other_label"), Vectors.cosine(col("__av"), col("__bv")).as("cos"))
    mineTriplets(oriented)
  }

  /** Two k=1 [[TopKScoreId]] heaps per anchor over an oriented
    * (anchor, other, cosine) pair frame — null-score routing sends each
    * row to exactly one heap; positives rank on −cos (max −cos = min
    * cos). Shared by the exact and in-cell miners.
    */
  private def mineTriplets(oriented: DataFrame): DataFrame = {
    def heap(score: Column) = bridge.column(
      TopKScoreId(bridge.expression(score),
        bridge.expression(col("other_id")), 1).toAggregateExpression())
    oriented
      .groupBy(col("anchor_id"), col("label"))
      .agg(
        heap(when(col("other_label") === col("label"), -col("cos"))).as("__p"),
        heap(when(col("other_label") =!= col("label"), col("cos"))).as("__n"))
      .filter(size(col("__p")) > 0 && size(col("__n")) > 0)
      .select(
        col("anchor_id"), col("label"),
        col("__p")(0).getField("id").as("pos_id"),
        (-col("__p")(0).getField("score")).as("pos_cos"),
        col("__n")(0).getField("id").as("neg_id"),
        col("__n")(0).getField("score").as("neg_cos"))
      .withColumn("margin", col("pos_cos") - col("neg_cos"))
      .withColumn("violates", col("neg_cos") >= col("pos_cos"))
  }

  /** SemDeDup-shape semantic-dedup pair mining: k-means Voronoi cells
    * block the corpus, candidates pair only WITHIN a cell, and exact
    * cosine verifies every candidate — so false positives never escape;
    * recall is governed by clustering quality. Against
    * [[blockedCosinePairs]]'s (numBlocks+1)·n shuffle of ALL rows to
    * unordered block pairs, the shuffle here is assignProbes·n rows keyed
    * by semantic cell and pair work collapses from n²/2 to Σ|cell|²/2 —
    * the trade that makes embedding dedup tractable when n² isn't.
    *
    * `assignProbes` > 1 multi-probes the assignment (a row joins its top
    * cells, not just the nearest), which repairs near-dup pairs whose
    * members straddle a Voronoi boundary — the standard SemDeDup
    * hardening; candidates found through several shared cells dedup via
    * `distinct`. Centroids are the same deterministic driver fit as IVF
    * ([[kmeansCentroids]]), embedded as plan literals: assignment is
    * scan-side arithmetic, no centroid join.
    */
  def clusteredCosinePairs(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      numCells: Int = 16,
      assignProbes: Int = 2,
      kmeansIters: Int = 3): DataFrame = {
    require(numCells > 0 && assignProbes > 0)
    val cents = kmeansCentroids(corpus, idCol, vecCol, numCells, iters = kmeansIters)
    val cLits = cents.map(c => typedlit(c))
    val probed = math.min(assignProbes, cents.length)
    val assigned = graft.Tables.spread(corpus).select(
      col(idCol).as("__id"),
      col(vecCol).as("__v"),
      explode(transform(
        bestCellsOf(cLits)(col(vecCol), probed), s => s.getField("cell"))).as("__cell"))
    val a = assigned.select(col("__cell"), col("__id").as("id_a"), col("__v").as("__va"))
    val b = assigned.select(col("__cell"), col("__id").as("id_b"), col("__v").as("__vb"))
    a.join(b, Seq("__cell"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Vectors.cosine(col("__va"), col("__vb")).as("cosine"))
      .where(col("cosine") >= threshold)
      .distinct()
  }

  /** SRP-LSH banded near-dup pair mining — the embedding mirror of
    * [[graft.operators.NearDup.minHashLshPairs]]: per row, `numBands`
    * independent `bandBits`-bit hyperplane signatures (disjoint plane
    * slices) become band keys; rows sharing a (band, key) are candidates;
    * exact cosine verifies candidates, so false positives never escape.
    *
    * Recall is governed by band geometry: a pair at cosine c collides on
    * one band with probability p^bandBits where p = 1 − arccos(c)/π, so
    * the per-pair miss probability is (1 − p^bandBits)^numBands. The
    * defaults (6, 24) give miss ≈ 1.3e-4 at c = 0.85 while a random pair
    * (c ≈ 0) collides somewhere with probability ≈ 0.3. LOW thresholds
    * need wider geometry: at c = 0.45 use bandBits = 2, numBands = 64
    * (miss ≈ 7e-16) and accept that candidate pruning fades — SRP cannot
    * separate c = 0.45 from c = 0.40 background; its value regime is the
    * high-threshold near-dup band.
    */
  def srpPairs(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      bandBits: Int = 6,
      numBands: Int = 24): DataFrame = {
    require(bandBits > 0 && bandBits <= 63 && numBands > 0)
    val base = graft.Tables.spread(corpus)
      .select(col(idCol).as("__id"), col(vecCol).as("__v"))
    val banded = base
      .select(col("__id"), explode(array((0 until numBands).map(b =>
        struct(
          lit(b).as("band"),
          Vectors.hyperplaneSignature(col("__v"), bandBits, b * bandBits).as("key"))): _*))
        .as("__bk"))
      .select(col("__id"), col("__bk.band").as("__band"), col("__bk.key").as("__key"))
    val aB = banded.toDF("id_a", "__band", "__key")
    val bB = banded.toDF("id_b", "__band2", "__key2")
    val cand = aB
      .join(bB,
        aB("__band") === bB("__band2") && aB("__key") === bB("__key2") &&
          aB("id_a") < bB("id_b"))
      .select("id_a", "id_b")
      .distinct()
    val va = base.toDF("id_a", "__va")
    val vb = base.toDF("id_b", "__vb")
    cand
      .join(va, "id_a")
      .join(vb, "id_b")
      .withColumn("cosine", Vectors.cosine(col("__va"), col("__vb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Per-query recall of an approximate top-k result against the exact
    * one: |approx ∩ exact| / k over the exact result's query set (a query
    * the approximate index returned nothing for scores 0, not absent).
    * Both inputs are (query_id, neighbor_id, ...) frames as produced by
    * the *TopK operators.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    val hits = exact.select("query_id", "neighbor_id")
      .join(approx.select("query_id", "neighbor_id"), Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id")
      .agg(count(lit(1)).as("__hits"))
    exact.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(
        col("query_id"),
        (coalesce(col("__hits"), lit(0L)).cast("double") / k).as("recall"))
  }

  /** EMBEDDING OUTLIERS by diagonal-covariance Mahalanobis distance —
    * the geometric "is this vector even from the same distribution"
    * cut an embedding-quality pipeline applies before dedup/clustering
    * trusts the geometry (corrupt encodes, all-zero vectors, and
    * projection bugs all land in the tail). Per dimension d the corpus
    * mean μ_d and variance σ²_d come from exact DECIMAL sums (the
    * label-centroid discipline — shuffle-order-proof), ship back as
    * plan literals (one bounded dim-count artifact, the IVF-centroid
    * posture), and every vector's
    *
    *   D² = Σ_d (x_d − μ_d)² / σ²_d      (zero-variance dims skip)
    *
    * folds scan-side left-to-right. Returns the top `k` by
    * (D² rounded to 6 decimals) DESC then id ASC — the q_e19 rounded-
    * argmax discipline, so near-ties cannot flip between engines —
    * as `(vec_id, m_dist2, rank)`.
    *
    * Shape at scale: one posexplode aggregate for the stats (dims × a
    * hash agg), one literal-array scan for the distances, one
    * TakeOrderedAndProject for the cut. No joins, no state.
    */
  def mahalanobisOutliers(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "need a positive top-k")
    val stats = graft.Tables.spread(vectors)
      .select(posexplode(col(vecCol)).as(Seq("__p", "__v")))
      .groupBy(col("__p"))
      .agg(
        (sum(col("__v").cast("decimal(20,10)")).cast("double") / count(lit(1)))
          .as("__mu"),
        (sum((col("__v").cast("double") * col("__v").cast("double"))
          .cast("decimal(38,12)")).cast("double") / count(lit(1))).as("__m2"))
      .select(col("__p"), col("__mu"), (col("__m2") - col("__mu") * col("__mu")).as("__var"))
      .orderBy("__p")
      .collect() // bounded: one row per embedding dimension
    val muArr = array(stats.map(r => lit(r.getDouble(1))).toIndexedSeq: _*)
    val varArr = array(stats.map(r => lit(r.getDouble(2))).toIndexedSeq: _*)
    val terms = zip_with(
      zip_with(col(vecCol), muArr,
        (x, m) => (x.cast("double") - m) * (x.cast("double") - m)),
      varArr,
      (t, v) => when(v > 0.0, t / v).otherwise(0.0))
    vectors
      .select(
        col(idCol).as("vec_id"),
        aggregate(terms, lit(0.0), (acc, t) => acc + t).as("m_dist2"))
      .withColumn("__r6", round(col("m_dist2"), 6))
      .orderBy(col("__r6").desc, col("vec_id").asc)
      .limit(k)
      .select(
        // 4-decimal render: list_sum in the oracle engine is not a plain
        // left fold, so the last ulp of the 64-term sum can differ — the
        // ORDER uses 6 decimals, the VALUE ships at 4 (both engines)
        col("vec_id"), round(col("m_dist2"), 4).as("m_dist2"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("__r6").desc, col("vec_id").asc)).cast("int").as("rank"))
  }
}
