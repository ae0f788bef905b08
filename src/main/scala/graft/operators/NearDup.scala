package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.RunScope
import graft.RunScope.Pinning
import graft.functions.{Hashing, TextAnalysis}

/** Near-duplicate detection for training-data pipelines: exact, n-gram
  * Jaccard (inverted index), MinHash+LSH, SimHash. All emit a canonical
  * pair frame `(id_a, id_b, ...)` with `id_a < id_b`, which
  * [[dropDuplicatesByPairs]] turns into a deduplicated corpus.
  *
  * Scale notes (the 100 TB design):
  *   - signatures (minhash/simhash) are computed scan-side per document —
  *     no shuffle, embarrassingly parallel;
  *   - the only shuffles are (1) the explode+join on band/bucket keys and
  *     (2) the verify join back to shingle sets; both are equi-joins on
  *     high-cardinality keys, AQE-skew-splittable;
  *   - the exact inverted-index variant is the small-corpus oracle
  *     baseline: its bucket key is the shingle itself, so hot shingles
  *     (stopword n-grams) blow up the posting lists — `maxDocFreq` caps
  *     them; at real scale prefer MinHash LSH, whose bucket population is
  *     controlled by band/row geometry, not corpus statistics.
  */
object NearDup {

  /** Exact-duplicate removal: group by content hash, keep the row with the
    * minimum id (one hash-aggregate shuffle; the md5 is computed map-side).
    */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    Dedup.keepFirstBy(docs.withColumn("__h", md5(col(textCol))), Seq("__h"), idCol)
      .drop("__h")

  /** Distinct token-k-gram shingles per doc, exploded as (id, shingle).
    * The corpus is spread to full parallelism first: the shingle/signature
    * pass is the compute-heavy scan stage and must not serialize on one
    * input split (graft.Tables.spread is a no-op at real scale).
    */
  private def explodedShingles(
      docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    graft.Tables.spread(docs).select(
      col(idCol),
      explode(array_distinct(TextAnalysis.tokenShingles(col(textCol), k))).as("__s"))

  /** [[explodedShingles]] without the shingles occurring in more than
    * `maxDocFreq` docs (0 = no cap).
    */
  private def cappedShingles(
      docs: DataFrame, idCol: String, textCol: String, k: Int, maxDocFreq: Long): DataFrame = {
    val sh0 = explodedShingles(docs, idCol, textCol, k)
    if (maxDocFreq <= 0) sh0
    else {
      val hot = sh0.groupBy("__s").count().filter(col("count") > maxDocFreq).select("__s")
      sh0.join(hot, Seq("__s"), "left_anti")
    }
  }

  /** Exact n-gram Jaccard similar pairs via inverted index: docs sharing
    * ≥1 shingle are candidates; exact Jaccard from intersection counts +
    * per-doc set sizes (no second pass over text).
    *
    * @param maxDocFreq drop shingles occurring in more than this many docs
    *                   before the self-join (0 = no cap). With a cap the
    *                   result is a (documented) approximation: pairs whose
    *                   every shared shingle is hot can be missed.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      threshold: Double = 0.8,
      maxDocFreq: Long = 0L): DataFrame = {
    val sh = cappedShingles(docs, idCol, textCol, k, maxDocFreq)
    // sizes over the SAME (possibly capped) shingle space, so the Jaccard
    // is consistent: with a cap it is the exact Jaccard of the capped sets.
    // (Name-based selects, not positional toDF: the anti-join above moves
    // its using-column first in the output.)
    val sizes = sh.groupBy(idCol).agg(count(lit(1)).as("__n"))
    val a = sh.select(col(idCol).as("id_a"), col("__s").as("__sa"))
    val b = sh.select(col(idCol).as("id_b"), col("__s").as("__sb"))
    val inter = a
      .join(b, col("__sa") === col("__sb") && col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("__i"))
    inter
      .join(sizes.select(col(idCol).as("id_a"), col("__n").as("__na")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("__n").as("__nb")), "id_b")
      .withColumn(
        "jaccard",
        col("__i").cast("double") / (col("__na") + col("__nb") - col("__i")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** ASYMMETRIC containment pairs via the same inverted index:
    * `max(C(A,B), C(B,A)) = |A∩B| / min(|A|,|B|) >= threshold`, where
    * `C(A,B) = |A∩B| / |A|`. Containment is what Jaccard structurally
    * misses: a document EMBEDDED in a much larger one (quotes,
    * boilerplate wrappers, page-of-site extractions) has near-1.0
    * containment of the smaller side but arbitrarily low Jaccard —
    * `J >= C·min/max` shrinks with the size ratio — so a Jaccard
    * threshold can never find subset dups without drowning in false
    * positives. The standard companion pass in crawl dedup.
    *
    * Same scale posture as [[ngramJaccardPairs]]: the threshold filter
    * compares `shared >= ceil(t·min(n))` in EXACT INTEGER arithmetic
    * (containment itself is emitted as the integer ratio, exact in both
    * engines); `maxDocFreq` caps hot shingles with the q_d2b trade.
    */
  def containmentPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      threshold: Double = 0.5,
      maxDocFreq: Long = 0L): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1], got $threshold")
    val sh = cappedShingles(docs, idCol, textCol, k, maxDocFreq)
    val sizes = sh.groupBy(idCol).agg(count(lit(1)).as("__n"))
    val a = sh.select(col(idCol).as("id_a"), col("__s").as("__sa"))
    val b = sh.select(col(idCol).as("id_b"), col("__s").as("__sb"))
    a.join(b, col("__sa") === col("__sb") && col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared"))
      .join(sizes.select(col(idCol).as("id_a"), col("__n").as("n_a")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("__n").as("n_b")), "id_b")
      .filter(col("shared") >= ceil(lit(threshold) * least(col("n_a"), col("n_b"))))
      .select(
        col("id_a"), col("id_b"), col("shared"), col("n_a"), col("n_b"),
        (col("shared").cast("double") / least(col("n_a"), col("n_b"))).as("containment"))
  }

  /** Exact n-gram Jaccard pairs via PREFIX FILTERING (AllPairs/PPJoin):
    * each doc's shingle set is sorted by a global canonical order
    * (ascending document frequency, ties by shingle value — rare first),
    * and only the first `n − ⌈t·n⌉ + 1` shingles are indexed. Two sets
    * with J ≥ t must overlap ≥ t/(1+t)·(|A|+|B|) elements, so skipping
    * more than n − ⌈t·n⌉ of a set's canonical order cannot leave the
    * overlap intact — prefixes of any qualifying pair MUST share a
    * shingle, making the block provably complete and the oracle the
    * full exact pair set.
    *
    * Vs [[ngramJaccardPairs]]'s full inverted index, the posting list
    * shrinks to ≈ (1−t)·n + 1 entries per doc (5× at t = 0.8) AND is
    * df-ascending, so the hottest shingles — the O(f²) candidate bombs
    * the maxDocFreq cap exists for — mostly fall OUT of prefixes without
    * giving up exactness. Candidates carry their full sorted sets, so
    * verification is one `array_intersect` per distinct pair — no second
    * corpus join. The length filter t·|A| ≤ |B| prunes before
    * verification.
    */
  def ngramJaccardPairsPrefix(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    require(threshold > 0 && threshold <= 1, "prefix filtering needs t in (0, 1]")
    val sh = explodedShingles(docs, idCol, textCol, k)
    val byDf = sh.join(sh.groupBy("__s").agg(count(lit(1)).as("__df")), "__s")
    val sets = byDf
      .groupBy(idCol)
      .agg(sort_array(collect_list(struct(col("__df"), col("__s")))).as("__sorted"))
      .select(
        col(idCol),
        transform(col("__sorted"), e => e.getField("__s")).as("__set"),
        size(col("__sorted")).as("__n"))
    // ⌈t·n⌉ with a downward nudge: IEEE t·n can land a hair ABOVE an exact
    // integer product (0.8·5 = 4.0000000000000002 → ceil 5, not 4), which
    // would SHORTEN the prefix below the completeness bound. The nudge only
    // ever lengthens the prefix (extra work, never a miss); verification
    // stays exact.
    val prefixLen =
      (col("__n") - ceil(lit(threshold) * col("__n") - lit(1e-9)) + lit(1)).cast("int")
    val prefixed = sets.select(
      col(idCol), col("__set"), col("__n"),
      explode(slice(col("__set"), lit(1), prefixLen)).as("__p"))
    val a = prefixed.select(col("__p"), col(idCol).as("id_a"),
      col("__set").as("__seta"), col("__n").as("__na"))
    val b = prefixed.select(col("__p"), col(idCol).as("id_b"),
      col("__set").as("__setb"), col("__n").as("__nb"))
    a.join(b, Seq("__p"))
      // length filter (J ≥ t ⟹ t·|A| ≤ |B|), with the same downward nudge
      // so an exact-boundary pair (t·na == nb) survives IEEE rounding
      .where(col("id_a") < col("id_b") &&
        lit(threshold) * col("__na") - lit(1e-9) <= col("__nb") &&
        lit(threshold) * col("__nb") - lit(1e-9) <= col("__na"))
      .select("id_a", "id_b", "__seta", "__setb", "__na", "__nb")
      .distinct()
      .withColumn("__i", size(array_intersect(col("__seta"), col("__setb"))))
      .withColumn(
        "jaccard",
        col("__i").cast("double") / (col("__na") + col("__nb") - col("__i")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** MinHash + LSH near-dup pairs: signature per doc (scan-side), band
    * keys exploded, candidates from the band-bucket self-join, then exact
    * Jaccard verification on the candidates only. With numPerm=64 and
    * bands=16 (rows=4), a pair at J=0.8 is missed with probability
    * ~(1-0.8^4)^16 ≈ 2e-4 — the verified output matches the exact
    * inverted-index result with high probability while touching only
    * bucket-collision pairs.
    */
  def minHashLshPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      numPerm: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    require(numPerm % bands == 0, "numPerm must be divisible by bands")
    val rows = numPerm / bands
    // shingle arrays are cheap (O(tokens) per doc); the 64-permutation
    // signature is the expensive pass, so it is computed on exactly ONE
    // plan branch (banded) — the verify joins reuse only the shingles.
    val shingled = graft.Tables.spread(docs).select(
      col(idCol),
      array_distinct(TextAnalysis.tokenShingles(col(textCol), k)).as("__sh"))
    val banded = shingled
      .withColumn("__sig", Hashing.minHashSignature(col("__sh"), numPerm))
      .select(
        col(idCol),
        explode(Hashing.bandKeys(col("__sig"), bands, rows)).as("__bk"))
      .select(col(idCol), col("__bk.band").as("__band"), col("__bk.key").as("__key"))
    val aB = banded.toDF("id_a", "__band", "__key")
    val bB = banded.toDF("id_b", "__band2", "__key2")
    val cand = aB
      .join(bB,
        aB("__band") === bB("__band2") && aB("__key") === bB("__key2") &&
          aB("id_a") < bB("id_b"))
      .select("id_a", "id_b")
      .distinct()
    val setsA = shingled.select(col(idCol).as("id_a"), col("__sh").as("__sha"))
    val setsB = shingled.select(col(idCol).as("id_b"), col("__sh").as("__shb"))
    cand
      .join(setsA, "id_a")
      .join(setsB, "id_b")
      .withColumn("jaccard", Hashing.jaccard(col("__sha"), col("__shb")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** SimHash near-dup pairs: 64-bit signature per doc, Charikar block
    * keys (pigeonhole: hamming < numBlocks ⇒ ≥1 identical block), verify
    * with exact Hamming distance — the signature travels with the block
    * key so verification needs no join back to the corpus.
    *
    * @param signatureOf text column → 64-bit signature; default is the
    *                    codegen xxhash64 kernel, `Hashing.simHashPortable`
    *                    swaps in the md5-derived oracle-replayable variant
    */
  def simHashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      numBlocks: Int = 4,
      signatureOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        t => Hashing.simHash(TextAnalysis.tokens(t))): DataFrame = {
    require(maxHamming < numBlocks,
      s"pigeonhole guarantee needs maxHamming < numBlocks (got $maxHamming >= $numBlocks): " +
        "signatures differing in every block would be missed")
    val base = graft.Tables.spread(docs).select(
      col(idCol),
      signatureOf(col(textCol)).as("__sim"))
    // r18 opt (guide §2.5, the TimeSeries/q_e8 mechanism): the band-key
    // exchange carries KBs (8-byte signatures + band keys), so AQE's
    // byte-based coalescing folded the ENTIRE within-band pairing —
    // candidate enumeration, hamming, the distinct's partial aggregate —
    // onto one task (profiled: a 3.3 s tasks=1 stage under q_d18, ~60% of
    // the query). Pin an explicit keyed repartition; both join sides
    // derive from it, so the self-join reuses ONE exchange. 2× (not 1×)
    // parallelism: a pin identical to what the join would insert is
    // optimizer-removed as redundant. Scale-adaptive, not a local
    // constant: defaultParallelism is the executor-core total on a
    // real cluster.
    val blocked = base.select(
      col(idCol), col("__sim"),
      explode(Hashing.simHashBlocks(col("__sim"), numBlocks)).as("__bk"))
      .select(col(idCol), col("__sim"), col("__bk.band").as("__band"), col("__bk.key").as("__key"))
      .repartition(
        2 * docs.sparkSession.sparkContext.defaultParallelism,
        col("__band"), col("__key"))
    val aB = blocked.toDF("id_a", "__sima", "__band", "__key")
    val bB = blocked.toDF("id_b", "__simb", "__band2", "__key2")
    aB
      .join(bB,
        aB("__band") === bB("__band2") && aB("__key") === bB("__key2") &&
          aB("id_a") < bB("id_b"))
      .withColumn("hamming", Hashing.hamming(col("__sima"), col("__simb")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
      .distinct()
  }

  /** Apply a pair frame as a dedup: drop every doc that appears as the
    * greater id of a pair (keep-smallest-id policy; transitive chains
    * collapse to their minimum because every non-minimum member pairs with
    * something smaller, directly or through the chain's overlap structure).
    */
  def dropDuplicatesByPairs(
      docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    docs.join(
      pairs.select(col("id_b").as(idCol)).distinct(),
      Seq(idCol),
      "left_anti")

  /** Repeated-SPAN mining — the substring-level dedup signal (Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better"):
    * document-level near-dup misses boilerplate/quotes repeated ACROSS
    * otherwise-distinct documents, which memorize badly. A token
    * k-shingle occurring in ≥ `minDf` DISTINCT documents marks its
    * positions; maximal runs of marked positions (gap ≤ k, i.e.
    * overlapping or adjacent k-token windows) merge into spans. Returns
    * every document with `token_count`, `n_hot_shingles` (marked
    * positions), `n_spans` (merged repeated regions) and `covered_tokens`
    * (tokens inside repeated regions, clamped to the document length) —
    * the per-doc statistics a span-removal or doc-drop policy routes on.
    *
    * Scale shape: shingling is scan-side; the doc-frequency aggregate is
    * ONE shuffle over corpus shingles (O(corpus tokens) rows — no pair
    * enumeration, unlike the inverted-index O(f²) blowup); the hot set
    * (df ≥ minDf) is the REPEATED shingles only — small in a healthy
    * corpus, so AQE broadcasts it back over the position scan. Span
    * merging is a per-document window (per-doc partitions, never
    * corpus-wide).
    */
  def repeatedSpanStats(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 5,
      minDf: Long = 2L): DataFrame = {
    require(k > 0 && minDf >= 2, "need k > 0 and minDf >= 2")
    import org.apache.spark.sql.expressions.Window
    // positions matter here: no array_distinct, every shingle occurrence
    // keeps its offset
    val sh = graft.Tables.spread(docs)
      .select(col(idCol), posexplode(TextAnalysis.tokenShingles(col(textCol), k)))
      .toDF(idCol, "__pos", "__s")
    val hot = sh.groupBy("__s")
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDf)
      .select("__s")
    val w = Window.partitionBy(idCol).orderBy("__pos")
    val run = Window.partitionBy(idCol).orderBy("__pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val spans = sh.join(hot, "__s")
      .select(col(idCol), col("__pos"))
      .withColumn("__new",
        when(col("__pos") - lag("__pos", 1).over(w) > k, 1)
          .when(lag("__pos", 1).over(w).isNull, 1)
          .otherwise(0))
      .withColumn("__span", sum("__new").over(run))
      .groupBy(col(idCol), col("__span"))
      .agg(
        count(lit(1)).as("__n"),
        (max("__pos") - min("__pos") + k).as("__len"))
      .groupBy(idCol)
      .agg(
        sum("__n").as("__hot"),
        count(lit(1)).as("__spans"),
        sum("__len").as("__covered"))
    docs
      .select(col(idCol), TextAnalysis.tokenCount(col(textCol)).as("token_count"))
      .join(spans, Seq(idCol), "left")
      .select(
        col(idCol),
        col("token_count"),
        coalesce(col("__hot"), lit(0L)).cast("int").as("n_hot_shingles"),
        coalesce(col("__spans"), lit(0L)).cast("int").as("n_spans"),
        least(coalesce(col("__covered"), lit(0L)), col("token_count"))
          .cast("int").as("covered_tokens"))
  }

  /** Segment-level exact dedup (the C4 recipe, word-window form): split
    * each document into fixed `segWords`-word segments, keep the FIRST
    * occurrence of every distinct segment corpus-wide (first by doc id,
    * then by position), and reassemble each document from its surviving
    * segments in order. Catches boilerplate paragraphs repeated across
    * otherwise-distinct documents — the signal document-level dedup
    * cannot see and span STATS ([[repeatedSpanStats]]) only report.
    * Documents whose every segment is claimed elsewhere disappear.
    *
    * Scale shape: segmentation is scan-side (`transform` over a
    * `sequence` of offsets — no self-join); the keep/drop decision
    * shuffles only `(id, seg_idx, md5(seg))` — a 16-byte digest instead
    * of the segment text — through ONE window; the (typically small) drop
    * set then anti-joins back against the re-derived segments, and
    * reassembly is one aggregate on the doc id. Segment text therefore
    * crosses the wire once (to its reassembly reducer), never to the
    * dedup partition.
    *
    * Returns (idCol, n_segments_kept, dedup_md5) — the reassembled text
    * pinned by digest; join back to the corpus on the id to materialize
    * it when needed.
    */
  def segmentDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      segWords: Int): DataFrame = {
    require(segWords > 0, "segWords must be positive")
    import org.apache.spark.sql.expressions.Window
    val words = when(trim(col(textCol)) === "", array().cast("array<string>"))
      .otherwise(split(trim(col(textCol)), "\\s+"))
    def segments(base: DataFrame): DataFrame = base
      .filter(size(col("__w")) > 0)
      .select(
        col(idCol),
        posexplode(expr(
          s"""transform(
             |  sequence(0, (size(__w) + ${segWords - 1}) div $segWords - 1),
             |  i -> array_join(slice(__w, i * $segWords + 1, $segWords), ' '))""".stripMargin)))
      .toDF(idCol, "seg_idx", "seg")
    val base = graft.Tables.spread(docs).select(col(idCol), words.as("__w"))
    val byDigest = Window.partitionBy("__h").orderBy(col(idCol), col("seg_idx"))
    val drops = segments(base)
      .select(col(idCol), col("seg_idx"), md5(col("seg")).as("__h"))
      .withColumn("__rn", row_number().over(byDigest))
      .filter(col("__rn") > 1)
      .select(col(idCol), col("seg_idx"))
    segments(base)
      .join(drops, Seq(idCol, "seg_idx"), "left_anti")
      .groupBy(idCol)
      .agg(
        count(lit(1)).cast("int").as("n_segments_kept"),
        md5(array_join(
          transform(
            array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
            x => x.getField("seg")),
          " ")).as("dedup_md5"))
  }

  /** BLOCKING-QUALITY evaluation — the numbers that justify (or indict)
    * an approximate near-dup scheme before it runs at corpus scale:
    * measure the SimHash-blocked candidate pairs against the EXACT
    * k-shingle-Jaccard ground truth ([[ngramJaccardPairs]] — complete:
    * any pair at Jaccard ≥ t shares a shingle, so the inverted index
    * cannot miss it). One row:
    * `(n_docs, n_all_pairs, n_true_pairs, n_candidates, n_found,
    * pair_recall, precision, reduction_ratio)` — recall of the truth
    * set inside the candidates, precision of the candidates against the
    * truth, and the fraction of the n(n−1)/2 comparisons the blocking
    * avoided (the whole point of blocking). Guarded NULLs for the
    * empty-denominator cases.
    *
    * Shape at scale: both pair sets are the already-blocked operators
    * (inverted index / Charikar blocks), never all-pairs; the three
    * counts are bounded driver scalars. This is an EVALUATION operator —
    * run it on a labeled slice, read the trade-off, then ship the
    * blocking corpus-wide.
    */
  def blockingQuality(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      jaccardThreshold: Double = 0.8,
      maxHamming: Int = 3,
      numBlocks: Int = 4,
      signatureOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        t => Hashing.simHash(TextAnalysis.tokens(t))): DataFrame =
      RunScope.scope("NearDup.blockingQuality") {
    val spark = docs.sparkSession
    import spark.implicits._
    val truth = ngramJaccardPairs(docs, idCol, textCol, k, jaccardThreshold)
      .select("id_a", "id_b").pin()
    val cand = simHashPairs(docs, idCol, textCol, maxHamming, numBlocks, signatureOf)
      .select("id_a", "id_b").pin()
    val nDocs = docs.count()
    val nTrue = truth.count()
    val nCand = cand.count()
    val nFound = truth.join(cand, Seq("id_a", "id_b"), "left_semi").count()
    val allPairs = nDocs * (nDocs - 1) / 2
    Seq((nDocs, allPairs, nTrue, nCand, nFound))
      .toDF("n_docs", "n_all_pairs", "n_true_pairs", "n_candidates", "n_found")
      .select(
        col("*"),
        when(col("n_true_pairs") > 0,
          col("n_found").cast("double") / col("n_true_pairs")).as("pair_recall"),
        when(col("n_candidates") > 0,
          col("n_found").cast("double") / col("n_candidates")).as("precision"),
        when(col("n_all_pairs") > 0,
          lit(1.0) - col("n_candidates").cast("double") / col("n_all_pairs"))
          .as("reduction_ratio"))
  }
}
