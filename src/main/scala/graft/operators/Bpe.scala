package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._


import graft.RunScope
import graft.RunScope.Pinning
import graft.functions.TextAnalysis

/** Byte-pair-encoding tokenizer TRAINING (Sennrich et al. 2016) made
  * deterministic and oracle-replayable — the vocabulary-learning step a
  * corpus pipeline runs before token-budget accounting, here at the
  * word/character level of [[TextAnalysis.tokens]].
  *
  * Each round: count adjacent symbol pairs across the corpus (weighted by
  * word frequency), adopt the most frequent pair as a merge under the
  * TOTAL order (count DESC, left ASC, right ASC), and apply it
  * LEFTMOST-GREEDY to every word — within a run of overlapping matches
  * (`aaaa` under `(a,a)`), positions at even offset in the run merge,
  * exactly the sequential greedy result. The learned merge table is the
  * output; rounds 2+ count pairs over ALREADY-MERGED symbols, so the gate
  * verifies the application logic, not just the counting.
  *
  * Shape at scale: the working frame is the DISTINCT-WORD vocabulary with
  * counts — bounded by Heaps' law, not corpus size — so after the one
  * corpus-wide word count every round touches only vocabulary rows: one
  * lead() window per word, one hash aggregate for pair counts, a bounded
  * TakeOrderedAndProject for the argmax prefix (the driver-artifact
  * discipline — merges ship back as plan LITERALS, never a join), and
  * two (word, pos) equi-joins to apply them. The symbol frame is
  * pinned (and freed) each round — the PageRank/CC iterative
  * discipline — so lineage stays flat across rounds.
  * [[learnMergesBatched]] amortizes the driver round-trip over up to
  * `batchSize` provably-non-interacting merges per round — the path a
  * 32k–100k-merge production vocabulary needs.
  */
object Bpe {

  /** Learn `rounds` merges over the corpus's whitespace words.
    *
    * @return (round, left, right, pair_count), round 1-based; fewer rows
    *         than `rounds` only when the corpus runs out of pairs.
    */
  def learnMerges(docs: DataFrame, textCol: String, rounds: Int): DataFrame =
      RunScope.scope("Bpe.learnMerges") {
    val spark = docs.sparkSession
    import spark.implicits._
    train(docs, textCol, rounds)._1.toDF("round", "merge_left", "merge_right", "pair_count")
  }

  /** BATCHED merge learning — the production-vocabulary path: the
    * sequential algorithm costs one driver round-trip PER MERGE (10⁵
    * Spark jobs for a 100k vocabulary); this applies up to `batchSize`
    * merges per round-trip while remaining BIT-IDENTICAL to the
    * sequential result, because the batch is restricted to a prefix of
    * the total order that provably cannot interact:
    *
    *  1. Walk the count order (c DESC, a, b); select pairs greedily,
    *     STOPPING at the first pair sharing a symbol with any selected
    *     pair (so every sharing pair ranks at/below the stop point).
    *  2. A self-pair (a,a) closes the batch as its final member — its
    *     application creates pairs containing the merged symbol whose
    *     counts are bounded only by ⌊c/2⌋, which could outrank a later
    *     batch member.
    *  3. Truncate members after the first to counts STRICTLY above the
    *     stop pair's: merging (a,b) only creates pairs like (x,ab)
    *     whose occurrences embed an original sharing pair (x,a), so
    *     created counts are ≤ the stop count and can only tie — and a
    *     tie could win the lexicographic tie-break against an
    *     equal-count batch member, so ties are excluded.
    *
    *     Under 1–3, at each intermediate sequential step the next batch
    *     member is still the global argmax: its count is unchanged
    *     (symbol-disjointness), original competitors rank below it by
    *     the total order, and created competitors rank strictly below
    *     by the truncation bound. Degenerate corpora fall back to batch
    *     size 1 — the sequential step itself — so progress is always
    *     ≥ 1 merge per round-trip.
    *
    * @return (round, batch_round, merge_left, merge_right, pair_count):
    *         `round` is the SEQUENTIAL merge index (the rows equal
    *         [[learnMerges]]'s bit for bit), `batch_round` the driver
    *         round-trip that produced it.
    */
  def learnMergesBatched(
      docs: DataFrame, textCol: String, totalMerges: Int, batchSize: Int): DataFrame =
      RunScope.scope("Bpe.learnMergesBatched") {
    val spark = docs.sparkSession
    import spark.implicits._
    trainBatched(docs, textCol, totalMerges, batchSize)._1
      .toDF("round", "batch_round", "merge_left", "merge_right", "pair_count")
  }

  /** Corpus tokenization summary AFTER the learned merges — the
    * "how well does this tokenizer compress" number a vocabulary sweep
    * reads: one row (n_merges, total_words, total_chars, total_tokens,
    * vocab_symbols, chars_per_token, tokens_per_word). Everything is
    * exact integer sums over the vocabulary frame until the two final
    * divisions.
    */
  def compressionStats(docs: DataFrame, textCol: String, rounds: Int): DataFrame =
      RunScope.scope("Bpe.compressionStats") {
    val spark = docs.sparkSession
    import spark.implicits._
    val (merges, syms) = train(docs, textCol, rounds)
    val perWord = syms.groupBy("w")
      .agg(max("wc").as("wc"), count(lit(1)).as("n_syms"))
    val row = perWord
      .agg(
        sum(col("wc")).cast("long").as("total_words"),
        sum(col("wc") * length(col("w"))).cast("long").as("total_chars"),
        sum(col("wc") * col("n_syms")).cast("long").as("total_tokens"))
      .crossJoin(broadcast(
        syms.agg(count_distinct(col("sym")).cast("long").as("vocab_symbols"))))
      .head() // bounded: the one-row summary
    Seq((merges.size, row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3)))
      .toDF("n_merges", "total_words", "total_chars", "total_tokens", "vocab_symbols")
      .select(col("*"),
        (col("total_chars").cast("double") / col("total_tokens")).as("chars_per_token"),
        (col("total_tokens").cast("double") / col("total_words")).as("tokens_per_word"))
  }

  /** APPLY a learned merge list to a text column SCAN-SIDE — the
    * tokenizer's inference path, per row, no vocabulary join: each
    * whitespace token starts as its character sequence and every merge
    * round folds it leftmost-greedy (output last symbol = left AND
    * current = right → fuse). The single-pair greedy fold is EXACTLY
    * the training step's island/parity application: consecutive match
    * runs only arise for self-pairs (a run across matches needs b = a),
    * where greedy keeps every second fusion, and a fused symbol is
    * STRICTLY longer than the round's left symbol so it can never
    * re-fuse as `left` within its own round. Returns
    * `array<array<string>>` — one symbol array per token.
    *
    * This is the STREAMING shape: the merge table ships as plan
    * literals (like the classifier weights in the q_st16 gate), so a
    * landing zone tokenizes statelessly — no state store, no join, work
    * ∝ batch characters.
    */
  def applyMerges(text: Column, merges: Seq[(String, String)]): Column = {
    val words = graft.functions.TextAnalysis.tokens(text)
    transform(words, w => {
      val chars = transform(sequence(lit(1), length(w)), i => w.substr(i, lit(1)))
      merges.foldLeft(chars) { case (symsExpr, (a, b)) =>
        graft.functions.hof.bind(symsExpr) { ss =>
          aggregate(
            ss,
            array().cast("array<string>"),
            (acc, s) => {
              val n = size(acc)
              // 0-based `get`: NULL (never an ANSI fault) on the empty
              // accumulator — NULL ≠ literal, so the first symbol appends
              val lastS = get(acc, n - 1)
              when(lastS === lit(a) && s === lit(b),
                concat(slice(acc, lit(1), n - 1), array(concat(lastS, s))))
                .otherwise(concat(acc, array(s)))
            })
        }
      }
    })
  }

  /** Per-document tokenization summary under a FIXED merge list (the
    * [[applyMerges]] inference path): `(idCol, n_words, n_tokens,
    * tok_digest)` where `tok_digest` = Σ len(sym)·(31·word_idx +
    * sym_pos) over the document's full ordered tokenization (1-based
    * indices) — an exact-integer, order-SENSITIVE pin: a tokenizer that
    * produces the right multiset of symbols in the wrong positions
    * digests differently. Shared by the batch gate replay and the
    * streaming parity gate.
    */
  def tokenizationSummary(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val toks = applyMerges(col(textCol), merges)
    docs.select(
      col(idCol),
      size(toks).as("n_words"),
      coalesce(
        aggregate(toks, lit(0L), (acc, wsyms) => acc + size(wsyms)),
        lit(0L)).as("n_tokens"),
      coalesce(
        // index-carrying folds (no sequence(1, size): Spark's sequence
        // DESCENDS for empty arrays and would fault element_at)
        aggregate(
          toks,
          struct(lit(0L).as("d"), lit(1L).as("wi")),
          (acc, wsyms) => struct(
            (acc.getField("d") + aggregate(
              wsyms,
              struct(lit(0L).as("d"), lit(1L).as("si")),
              (a2, s) => struct(
                (a2.getField("d") + length(s).cast("bigint") *
                  (acc.getField("wi") * 31L + a2.getField("si"))).as("d"),
                (a2.getField("si") + 1L).as("si"))).getField("d")).as("d"),
            (acc.getField("wi") + 1L).as("wi")),
          fin => fin.getField("d")),
        lit(0L)).as("tok_digest"))
  }

  /** [[tokenizationSummary]] through a VOCABULARY dedup — the Heaps-law
    * economics that make BPE training tractable applied to INFERENCE:
    * tokenize each DISTINCT word once (merges folded per vocabulary
    * entry, not per occurrence) and join the per-word sufficient
    * statistics (n_syms, Σlen, Σlen·pos) back onto the positioned
    * occurrence frame. Per-document output is IDENTICAL to the
    * scan-side form (spec-pinned): the digest decomposes as
    * Σ_w (31·wi·s0len(w) + s1len(w)), so word-level stats suffice.
    *
    * Work drops from corpus-tokens × O(len·rounds) interpreted folds to
    * distinct-words × the same fold + one join the word frame usually
    * broadcasts — measured 10× on the 10×-corpus weak-scaling run. The
    * scan-side twin remains the right shape when a join is unavailable
    * (pure streaming append mode); this is the foreachBatch shape.
    */
  def tokenizationSummaryByVocab(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val words = docs.select(
      col(idCol),
      posexplode_outer(TextAnalysis.tokens(col(textCol))).as(Seq("__wi0", "w")))
    val vstats = words.select("w").filter(col("w").isNotNull).distinct()
      .select(col("w"),
        graft.functions.hof.bind(
          element_at(applyMerges(col("w"), merges), 1)) { syms =>
          struct(
            size(syms).as("n_syms"),
            aggregate(syms, lit(0L), (a, s) => a + length(s)).as("s0len"),
            aggregate(
              syms,
              struct(lit(0L).as("d"), lit(1L).as("si")),
              (a, s) => struct(
                (a.getField("d") + length(s).cast("bigint") * a.getField("si")).as("d"),
                (a.getField("si") + 1L).as("si")),
              fin => fin.getField("d")).as("s1len"))
        }.as("__vs"))
    words
      .join(vstats, Seq("w"), "left")
      .groupBy(col(idCol))
      .agg(
        sum(when(col("w").isNotNull, 1).otherwise(0)).cast("int").as("n_words"),
        coalesce(sum(col("__vs.n_syms")), lit(0L)).cast("bigint").as("n_tokens"),
        coalesce(
          sum((col("__wi0") + 1L).cast("bigint") * 31L * col("__vs.s0len") +
            col("__vs.s1len")),
          lit(0L)).cast("bigint").as("tok_digest"))
  }

  /** Sequential training = the batched core with batch size 1 (the
    * selection rule degenerates to the plain argmax), keeping ONE code
    * path for both gates.
    */
  private def train(
      docs: DataFrame,
      textCol: String,
      rounds: Int): (Seq[(Int, String, String, Long)], DataFrame) = {
    val (m, syms) = trainBatched(docs, textCol, rounds, batchSize = 1)
    (m.map { case (r, _, a, b, c) => (r, a, b, c) }, syms)
  }

  private def trainBatched(
      docs: DataFrame,
      textCol: String,
      totalMerges: Int,
      batchSize: Int): (Seq[(Int, Int, String, String, Long)], DataFrame) = {
    require(totalMerges >= 1, "learn at least one merge")
    require(batchSize >= 1, "batch at least one merge per round")

    val words = docs
      .select(explode(TextAnalysis.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
    // char-level symbols, densely positioned 1..len(w)
    var syms = words
      .select(col("w"), col("wc"),
        posexplode(transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1)))).as(Seq("__p", "sym")))
      .select(col("w"), col("wc"), (col("__p") + 1).as("pos"), col("sym"))
      .pin()

    val byPos = Window.partitionBy("w").orderBy("pos")
    val merges = Seq.newBuilder[(Int, Int, String, String, Long)]
    var seqRound = 1
    var batchRound = 1
    var exhausted = false
    while (seqRound <= totalMerges && !exhausted) {
      val withNext = syms.withColumn("nxt", lead(col("sym"), 1).over(byPos))
      val budget = math.min(batchSize, totalMerges - seqRound + 1)
      // enough rows to always see past the budget cap (the stop count
      // needs the first NON-selected pair) — still a bounded collect
      val lookahead = 3 * budget + 2
      val top = withNext.filter(col("nxt").isNotNull)
        .groupBy(col("sym").as("a"), col("nxt").as("b"))
        .agg(sum(col("wc")).as("c"))
        .orderBy(col("c").desc, col("a"), col("b"))
        .limit(lookahead)
        .collect() // bounded: ≤ 3·batchSize+2 rows — merges become literals
      if (top.isEmpty) { exhausted = true }
      else {
        // greedy prefix selection under the non-interaction rules
        var selected = Vector.empty[(String, String, Long)]
        var stopCount = -1L // -1 = no excluded pair exists
        var i = 0
        var open = true
        while (open && i < top.length) {
          val (a, b, c) =
            (top(i).getString(0), top(i).getString(1), top(i).getLong(2))
          if (selected.size == budget) { stopCount = c; open = false }
          else if (selected.exists(s =>
              s._1 == a || s._2 == a || s._1 == b || s._2 == b)) {
            stopCount = c; open = false
          } else {
            selected :+= ((a, b, c))
            if (a == b) { // self-pair closes the batch (rule 2)
              stopCount =
                if (i + 1 < top.length) top(i + 1).getLong(2)
                else if (top.length == lookahead) c // unknown tail: conservative
                else -1L
              open = false
            }
          }
          i += 1
        }
        // `open` here ⟺ the collect returned every existing pair and all
        // were disjoint (the budget cap always closes within lookahead)
        // → no sharing pairs exist at all → stopCount stays -1
        val kept =
          if (stopCount < 0) selected
          else selected.head +: selected.tail.takeWhile(_._3 > stopCount)
        kept.zipWithIndex.foreach { case ((a, b, c), j) =>
          merges += ((seqRound + j, batchRound, a, b, c))
        }
        val matchPred = kept
          .map(p => col("sym") === lit(p._1) && col("nxt") === lit(p._2))
          .reduce(_ || _)
        // leftmost-greedy application: among match positions, islands of
        // consecutive positions keep every second match (even in-run
        // offset). Runs of consecutive matches can only be the SAME
        // self-pair (a run across two pairs would need b_i = a_j —
        // excluded by symbol-disjointness), so the per-word island/parity
        // machinery is unchanged with many pairs in flight.
        val sel = withNext
          .filter(matchPred)
          .select(col("w").as("mw"), col("pos").as("mp"))
          .withColumn("__rn",
            row_number().over(Window.partitionBy("mw").orderBy("mp")))
          .withColumn("__island", col("mp") - col("__rn"))
          .withColumn("__idx",
            row_number().over(Window.partitionBy("mw", "__island").orderBy("mp")) - 1)
          .filter(col("__idx") % 2 === 0)
          .select(col("mw"), col("mp"))
        val applied = withNext
          .join(sel.select(col("mw").as("w"), col("mp").as("pos"),
            lit(true).as("__st")), Seq("w", "pos"), "left")
          .join(sel.select(col("mw").as("w"), (col("mp") + 1).as("pos"),
            lit(true).as("__dr")), Seq("w", "pos"), "left")
          .filter(col("__dr").isNull)
          .select(col("w"), col("wc"), col("pos"),
            // a kept match's merged symbol is its own (sym, nxt) pair
            when(col("__st"), concat(col("sym"), col("nxt")))
              .otherwise(col("sym")).as("sym"))
          .withColumn("__np", row_number().over(byPos))
          .select(col("w"), col("wc"), col("__np").as("pos"), col("sym"))
        val next = applied.pin()
        RunScope.free(syms)
        syms = next
        seqRound += kept.size
        batchRound += 1
      }
    }
    (merges.result(), syms)
  }
}
