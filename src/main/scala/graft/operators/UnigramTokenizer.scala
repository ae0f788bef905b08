package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.RunScope
import graft.RunScope.Pinning
import graft.functions.TextAnalysis

/** Unigram-LM (SentencePiece-style, Kudo 2018) tokenizer TRAINING —
  * the OTHER tokenizer family real pipelines train next to BPE
  * ([[Bpe]]), made deterministic and oracle-replayable (r15 VERDICT
  * task #5):
  *
  *   - seed vocabulary: every word substring up to `maxPieceLen` chars,
  *     weighted by word frequency; the top `topPieces` multi-char
  *     pieces under the TOTAL order (freq DESC, piece ASC) plus ALL
  *     single characters (coverage guarantee — every word stays
  *     segmentable); seed probabilities ∝ substring frequency;
  *   - EM rounds (hard/Viterbi EM, fixed unrolled round count): each
  *     round Viterbi-segments every DISTINCT word under the current
  *     piece log-probs, re-estimates `p(piece) ∝ viterbi_count + 1`
  *     (Laplace over the FIXED seed vocabulary — no zero logs, no
  *     mid-EM pruning, fully replayable);
  *   - Viterbi DP, exactly pinned: log-probs quantize to NANO units
  *     (`CAST(round(ln(f/t), 9) AS DECIMAL(20,9)) · 1e9` → BIGINT), so
  *     every DP score is an exact integer sum — bit-identical in any
  *     engine — and ties break (score DESC, piece length ASC).
  *
  * Shape at scale (the [[Bpe]] economics): after one corpus-wide word
  * count, every round touches only the DISTINCT-WORD frame — bounded
  * by Heaps' law, not corpus size. Candidate lookup is one broadcast
  * join of word substrings against the piece table re-aggregated to a
  * ≤ `maxWordLen`·`maxPieceLen`-entry per-word map; the DP itself is a
  * bounded scan-side fold over word positions (state = best score +
  * chosen length per prefix). No driver round-trips: rounds chain as
  * DataFrames, and the oracle replays them as chained CTEs with one
  * recursive-CTE Viterbi per round.
  */
object UnigramTokenizer {

  /** Distinct words (w, wc) of the corpus slice, capped to
    * `maxWordLen` chars (documented boundary — the DP is bounded by
    * word length; longer whitespace tokens are overwhelmingly
    * URLs/artifacts, not vocabulary).
    */
  def words(docs: DataFrame, textCol: String, maxWordLen: Int): DataFrame =
    // r18: the r17 spread was REVERTED here after the driver's r16→r17
    // bench showed q_t38/39/40 regressing 25-32% — the added round-robin
    // exchange costs more than the one-split tokenize at this corpus
    // size, because the downstream word-count aggregate immediately
    // re-shuffles to the vocabulary key anyway (unlike the Bm25/TextIndex
    // paths, where heavy per-row work follows the spread directly).
    docs
      .select(explode(TextAnalysis.tokens(col(textCol))).as("w"))
      .filter(length(col("w")).between(1, maxWordLen))
      .groupBy("w").agg(count(lit(1)).as("wc"))

  /** Quantized log-probability in nano units: exact-integer DP scores
    * (the q_f11/q_c13 determinism discipline — `round(ln,9)` agrees
    * across engines, the DECIMAL hop makes the nano conversion exact).
    */
  private def lpNanos(f: Column, t: Column): Column =
    (round(log(f.cast("double") / t.cast("double")), 9)
      .cast("decimal(20,9)") * lit(1000000000L)).cast("long")

  /** Seed piece table (piece, lpn): top multi-char substrings + all
    * single chars, probabilities ∝ weighted substring frequency.
    */
  def seedPieces(
      wrds: DataFrame,
      maxPieceLen: Int,
      topPieces: Int): DataFrame = {
    val subs = wrds
      .select(col("w"), col("wc"),
        explode(sequence(lit(1), length(col("w")))).as("ps"))
      .select(col("w"), col("wc"), col("ps"),
        explode(sequence(lit(1), lit(maxPieceLen))).as("ln"))
      .filter(col("ps") + col("ln") - 1 <= length(col("w")))
      .select(col("w").substr(col("ps"), col("ln")).as("piece"), col("wc"))
      .groupBy("piece").agg(sum(col("wc")).as("f"))
    val topp = subs.filter(length(col("piece")) > 1)
      .orderBy(col("f").desc, col("piece"))
      .limit(topPieces)
    val vocab = topp.unionByName(subs.filter(length(col("piece")) === 1))
    val tot = vocab.agg(sum(col("f")).as("t"))
    vocab.crossJoin(broadcast(tot))
      .select(col("piece"), lpNanos(col("f"), col("t")).as("lpn"))
  }

  /** Viterbi-segment every word under `pieces`: (w, wc, score_nanos,
    * n_pieces, seg_arr) with `seg_arr` the chosen pieces in order.
    */
  def segment(
      wrds: DataFrame,
      pieces: DataFrame,
      maxPieceLen: Int): DataFrame = {
    // candidate keys pack as endpos·16 + len: len must fit in the
    // radix or distinct (e, l) pairs would silently collide (r16 ADVICE)
    require(maxPieceLen >= 1 && maxPieceLen <= 16,
      s"maxPieceLen must be in [1,16] (key radix), got $maxPieceLen")
    val P = maxPieceLen
    // per-word candidate map: (endpos·16 + len) -> lpn, one broadcast
    // join over the word-substring frame (bounded: ≤ len·P rows/word)
    val lut = wrds
      .select(col("w"), explode(sequence(lit(1), length(col("w")))).as("e"))
      .select(col("w"), col("e"),
        explode(sequence(lit(1), least(lit(P), col("e")))).as("l"))
      .select(col("w"), col("e"), col("l"),
        col("w").substr(col("e") - col("l") + 1, col("l")).as("piece"))
      .join(broadcast(pieces), Seq("piece"))
      .groupBy("w")
      .agg(map_from_entries(collect_list(
        struct((col("e") * 16 + col("l")).as("k"), col("lpn").as("v"))))
        .as("__m"))
    // OUT-OF-VOCABULARY FLOOR (the SentencePiece byte-fallback posture):
    // a single-char candidate whose char the trainer never saw scores
    // one whole nat below the worst trained piece — strictly worse than
    // any in-vocabulary choice, so covered words segment EXACTLY as
    // before (the q_t38 oracle is untouched) while any char-novel
    // inference corpus stays TOTAL instead of undefined. The floor is a
    // pure function of the piece table (min lpn − 1e9 nanos):
    // deterministic and replayable.
    val floorLpn = broadcast(pieces.agg(
      (min(col("lpn")) - 1000000000L).as("__floor")))
    val emptyMap = map_from_entries(
      array().cast("array<struct<k:int,v:bigint>>"))
    val dp = wrds.join(lut, Seq("w"), "left").crossJoin(floorLpn)
      .select(col("w"), col("wc"),
        graft.functions.hof.bind(coalesce(col("__m"), emptyMap)) { mm =>
          aggregate(
            sequence(lit(1), length(col("w"))),
            struct(
              array(lit(0L)).as("sc"),
              array(lit(0)).as("ln")),
            (st, pos) => {
              val cands = filter(
                transform(sequence(lit(1), lit(P)), l => struct(
                  when(pos - l >= 0,
                    element_at(st.getField("sc"), pos - l + 1) +
                      when(l === 1,
                        coalesce(try_element_at(mm, pos * 16 + l),
                          col("__floor")))
                        .otherwise(try_element_at(mm, pos * 16 + l))).as("s"),
                  (-l).as("nl"))),
                c => c.getField("s").isNotNull)
              // argmax under (score DESC, len ASC): max struct compare
              // on (s, -len); coverage (single chars in vocab or the
              // OOV floor) guarantees cands is non-empty
              val best = array_max(cands)
              struct(
                concat(st.getField("sc"), array(best.getField("s")))
                  .as("sc"),
                concat(st.getField("ln"),
                  array(-best.getField("nl"))).as("ln"))
            })
        }.as("__dp"))
    dp.select(col("w"), col("wc"),
      element_at(col("__dp.sc"), length(col("w")) + 1).as("score_nanos"),
      graft.functions.hof.bind(col("__dp.ln")) { lens =>
        aggregate(
          sequence(lit(1), length(col("w"))),
          struct(length(col("w")).as("p"),
            array().cast("array<string>").as("seg")),
          (bt, _) => {
            val p = bt.getField("p")
            val l = element_at(lens, p + 1)
            when(p > 0, struct(
              (p - l).as("p"),
              concat(
                array(col("w").substr(p - l + 1, l)),
                bt.getField("seg")).as("seg")))
              .otherwise(bt)
          },
          fin => fin.getField("seg"))
      }.as("seg_arr"))
  }

  /** One hard-EM re-estimation: Viterbi counts over `segmented` +
    * Laplace 1 over the fixed `vocab` piece set → next (piece, lpn).
    */
  def reestimate(segmented: DataFrame, vocabPieces: DataFrame): DataFrame = {
    val used = segmented
      .select(col("wc"), explode(col("seg_arr")).as("piece"))
      .groupBy("piece").agg(sum(col("wc")).as("used"))
    val est = vocabPieces.select("piece")
      .join(used, Seq("piece"), "left")
      .select(col("piece"), (coalesce(col("used"), lit(0L)) + 1L).as("f2"))
    val tot = est.agg(sum(col("f2")).as("t"))
    est.crossJoin(broadcast(tot))
      .select(col("piece"), lpNanos(col("f2"), col("t")).as("lpn"))
  }

  /** Per-document tokenization under a TRAINED piece table — the
    * inference path, through a VOCABULARY dedup (the
    * [[Bpe.tokenizationSummaryByVocab]] Heaps-law economics: each
    * DISTINCT word Viterbi-segments once, per-word sufficient
    * statistics join back onto the positioned occurrence frame).
    * Output per document: `(idCol, n_words, n_words_long, n_pieces,
    * tok_digest)` with `tok_digest` = Σ len(piece)·(31·word_idx +
    * piece_pos) over the ordered tokenization (1-based) — the exact
    * order-sensitive integer pin of the BPE gates. Words longer than
    * `maxWordLen` are INELIGIBLE (counted in `n_words_long`,
    * contributing no pieces) — the documented DP bound. Char coverage
    * is TOTAL: characters the trainer never saw segment as single
    * chars at the OOV floor score (see [[segment]]), so any inference
    * corpus tokenizes.
    */
  def applyByVocab(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      pieces: DataFrame,
      maxPieceLen: Int = 4,
      maxWordLen: Int = 12): DataFrame = {
    require(maxPieceLen >= 1 && maxPieceLen <= 16,
      s"maxPieceLen must be in [1,16] (key radix), got $maxPieceLen")
    // r18: spread reverted (see [[words]] — the q_t38/39/40 A/B)
    val words = docs.select(
      col(idCol),
      posexplode_outer(TextAnalysis.tokens(col(textCol)))
        .as(Seq("__wi0", "w")))
    val eligible = words
      .filter(col("w").isNotNull && length(col("w")) <= maxWordLen)
      .select("w").distinct()
      .withColumn("wc", lit(1L))
    val vstats = segment(eligible, pieces, maxPieceLen)
      .select(col("w"), col("score_nanos"),
        graft.functions.hof.bind(col("seg_arr")) { seg =>
          struct(
            size(seg).as("n_pieces"),
            aggregate(seg, lit(0L), (a, s) => a + length(s)).as("s0len"),
            aggregate(
              seg,
              struct(lit(0L).as("d"), lit(1L).as("si")),
              (a, s) => struct(
                (a.getField("d") +
                  length(s).cast("bigint") * a.getField("si")).as("d"),
                (a.getField("si") + 1L).as("si")),
              fin => fin.getField("d")).as("s1len"))
        }.as("__vs"))
    words
      .join(vstats, Seq("w"), "left")
      .groupBy(col(idCol))
      .agg(
        sum(when(col("w").isNotNull, 1).otherwise(0)).cast("int")
          .as("n_words"),
        sum(when(col("w").isNotNull && length(col("w")) > maxWordLen, 1)
          .otherwise(0)).cast("int").as("n_words_long"),
        coalesce(sum(col("__vs.n_pieces")), lit(0L)).cast("bigint")
          .as("n_pieces"),
        coalesce(
          sum((col("__wi0") + 1L).cast("bigint") * 31L * col("__vs.s0len") +
            col("__vs.s1len")),
          lit(0L)).cast("bigint").as("tok_digest"),
        coalesce(sum(col("score_nanos")), lit(0L)).cast("bigint")
          .as("sum_score_nanos"))
  }

  /** CCNet-style quality screen on the TRAINED unigram LM, exact in
    * integers end to end: per document the summed Viterbi score (nano
    * log-prob units) over its eligible word occurrences, and
    * `keep` ⇔ the document's mean per-piece log-prob is at or above
    * the corpus mean — decided by CROSS-MULTIPLICATION
    * (`sum·N_total ≥ Sum_total·n`), never a division, so the flag is
    * bit-identical in any engine. Documents with no pieces are kept
    * (nothing to judge — the caller's length filters own them).
    */
  def qualityScreen(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      pieces: DataFrame,
      maxPieceLen: Int = 4,
      maxWordLen: Int = 12): DataFrame = {
    val perDoc = applyByVocab(docs, idCol, textCol, pieces,
      maxPieceLen, maxWordLen)
    val totals = perDoc.agg(
      sum(col("n_pieces")).cast("bigint").as("__tn"),
      sum(col("sum_score_nanos")).cast("bigint").as("__ts"))
    perDoc.crossJoin(broadcast(totals))
      .select(
        col(idCol), col("n_words"), col("n_words_long"),
        col("n_pieces"), col("sum_score_nanos"),
        (col("n_pieces") === 0L ||
          col("sum_score_nanos") * col("__tn") >=
            col("__ts") * col("n_pieces")).as("keep"))
  }

  /** [[seedPieces]] → `rounds` hard-EM re-estimations → the trained
    * piece table (piece, lpn), each stage pinned; the RETURNED frame
    * stays pinned.
    */
  def trainPieces(
      docs: DataFrame,
      textCol: String,
      rounds: Int,
      maxPieceLen: Int = 4,
      topPieces: Int = 250,
      maxWordLen: Int = 12): DataFrame = RunScope.scope("UnigramTokenizer.trainPieces") {
    require(rounds >= 1, "at least one EM round")
    require(maxPieceLen >= 1 && maxPieceLen <= 16,
      s"maxPieceLen must be in [1,16] (key radix), got $maxPieceLen")
    val wrds = words(docs, textCol, maxWordLen).pin()
    val vocab = seedPieces(wrds, maxPieceLen, topPieces).pin()
    var pieces = vocab
    var r = 0
    while (r < rounds) {
      val seg = segment(wrds, pieces, maxPieceLen)
      val next = reestimate(seg, vocab).pin()
      if (pieces ne vocab) RunScope.free(pieces)
      pieces = next
      r += 1
    }
    pieces
  }

  /** Persist a trained piece table as a versioned model artifact —
    * the [[ShardExport]] posture for the tokenizer: training runs and
    * landing zones load the SAME pinned vocabulary instead of
    * re-training (a tokenizer that drifts between runs silently
    * re-tokenizes the whole corpus). The artifact is plain parquet
    * (piece, lpn) plus a one-row `_model` descriptor (format version,
    * maxPieceLen, piece count) that [[loadPieces]] validates loudly.
    */
  def writePieces(
      pieces: DataFrame,
      maxPieceLen: Int,
      outDir: String): Unit = {
    val spark = pieces.sparkSession
    import spark.implicits._
    val n = pieces.count()
    pieces.coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$outDir/pieces")
    Seq(("graft-unigram-v1", maxPieceLen, n))
      .toDF("format", "max_piece_len", "n_pieces")
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$outDir/_model")
  }

  /** Load a [[writePieces]] artifact: (pieces, maxPieceLen). Fails
    * loudly on a format/count mismatch — a truncated model must never
    * silently tokenize differently.
    */
  def loadPieces(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, Int) = {
    val m = spark.read.parquet(s"$dir/_model").head()
    require(m.getAs[String]("format") == "graft-unigram-v1",
      s"unknown unigram model format: ${m.getAs[String]("format")}")
    val pieces = spark.read.parquet(s"$dir/pieces")
    val n = pieces.count()
    require(n == m.getAs[Long]("n_pieces"),
      s"unigram model truncated: ${m.getAs[Long]("n_pieces")} pieces " +
        s"declared, $n found")
    (pieces, m.getAs[Int]("max_piece_len"))
  }

  /** Train `rounds` hard-EM rounds and return the FINAL per-word
    * segmentation: (w, wc, score_nanos, n_pieces, seg) with `seg` the
    * pieces `|`-joined — the digest-pinned gate frame.
    */
  def trainAndSegment(
      docs: DataFrame,
      textCol: String,
      rounds: Int,
      maxPieceLen: Int = 4,
      topPieces: Int = 250,
      maxWordLen: Int = 12): DataFrame = RunScope.scope("UnigramTokenizer.trainAndSegment") {
    val pieces = trainPieces(docs, textCol, rounds, maxPieceLen,
      topPieces, maxWordLen)
    val wrds = words(docs, textCol, maxWordLen).pin()
    // pinned, so the intermediates free on return
    segment(wrds, pieces, maxPieceLen)
      .select(col("w"), col("wc"), col("score_nanos"),
        size(col("seg_arr")).cast("int").as("n_pieces"),
        concat_ws("|", col("seg_arr")).as("seg"))
      .pin()
  }
}
