package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.RunScope.Pinning

/** Distributed generalized suffix array over a document corpus — the
  * machinery behind EXACT-SUBSTRING training-data deduplication (Lee et
  * al. 2022, "Deduplicating Training Data Makes Language Models Better":
  * remove every verbatim span that recurs in the corpus, the strongest
  * form of dedup an LLM pipeline runs after doc-level near-dup).
  *
  * Construction is prefix doubling (Manber–Myers 1990) re-expressed as
  * relational rounds: `tables(k)` assigns every corpus position a rank
  * whose equality is exactly "the 2^k-char windows starting here are
  * identical", and round k+1 re-ranks the pair
  * (rank_k(p), rank_k(p + 2^k)) — the second half fetched with a
  * `lead(rank, 2^k)` window over the document (offsets are dense, so the
  * lookahead IS the shifted self-join, minus a shuffle).
  *
  * Two rank modes, chosen by what the consumer needs:
  *   - UNORDERED (dedup path, the default): rank = min global position
  *     over the equal-key group — equality-preserving, exact (no hashing,
  *     no collision risk), deterministic, and each round is just two hash
  *     shuffles (lead over doc, min over key). Order is irrelevant for
  *     duplicate detection, so none is paid for.
  *   - ORDERED (suffix-array path): rank = count of strictly smaller keys
  *     via sort → distributed `RDD.zipWithIndex` (one count job then
  *     per-partition offsets; never a single-reducer window) → min(idx)
  *     per key group. min-of-index over an equal-key group depends only
  *     on the sorted multiset position, so ranks are DETERMINISTIC even
  *     though equal-key placement across partitions is not.
  *
  * Scale shape (the reason this is the 100 TB algorithm): every round is
  * a constant number of shuffles over exactly one row per corpus
  * CHARACTER, and — because each document ends in a per-document sentinel
  * that sorts below every real character — every suffix is fully ranked
  * once the window covers the LONGEST DOCUMENT, so the round count is
  * ceil(log2(maxDocLen+1)): bounded by document length, NOT corpus size.
  * A 100 TB corpus of ≤1 MB documents needs ≤20 rounds regardless of how
  * many documents there are. Duplicate detection for a fixed span length
  * L needs only the first floor(log2 L)+1 tables (the overlapping-window
  * lemma at [[duplicateWindows]]), i.e. stops far earlier. The per-doc
  * `lead` window makes a single multi-GB document a single task; for
  * such corpora swap in the equivalent (doc, off+2^k) shift-join — at
  * ≤MB documents the window is strictly fewer shuffled bytes.
  *
  * Sentinel order: doc d's sentinel sorts below all real characters and
  * ascends with d, which makes engine suffix order identical to ordering
  * the plain suffix STRINGS with ties broken by doc id — exactly what a
  * SQL oracle can replay with `ORDER BY substr(txt, off), doc_id`.
  */
object SuffixArray {

  /** Doubling state: each table holds one row per corpus position —
    * (doc, off 1-based, len = its document's length, gpos = collision-free
    * global position, rank) — where rank equality ⟺ equality of the
    * w-char window at that position, for the table's window size w
    * (baseWindow · 2^i). In ORDERED mode sentinel rows sit at off = len+1
    * so windows rank past a document's end with per-doc tie semantics; in
    * UNORDERED mode there are no sentinel rows and windows crossing a
    * document's end may collide freely — they are never dedup candidates
    * (the off + L − 1 ≤ len filter), and windows fully inside the text
    * always rank exactly.
    */
  final case class SuffixContext(
      tables: Vector[(Int, DataFrame)],
      coversCorpus: Boolean) {
    /** Largest built window ≤ `w` with its table. */
    def tableFor(w: Int): (Int, DataFrame) = {
      require(w >= 1, s"window must be >= 1, got $w")
      val cand = tables.filter(_._1 <= w)
      require(cand.nonEmpty,
        s"window $w is below the base window ${tables.head._1} of this build")
      cand.last
    }
  }

  /** Build doubling tables until the window either covers the longest
    * document (+1 for its sentinel — full suffix distinction) or is the
    * largest power of two ≤ `maxWindow` (all a fixed-L dedup needs).
    *
    * `materializeRounds` pins each round (the
    * [[ConnectedComponents]] checkpoint-and-free discipline) — keep it on
    * when several tables are consumed repeatedly ([[repetitionProfile]]);
    * turn it off when only the last table feeds a single downstream plan
    * (the whole build then pipelines into ONE job, no per-round
    * materialization barrier).
    */
  def build(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxWindow: Int = Int.MaxValue,
      ordered: Boolean = false,
      materializeRounds: Boolean = true,
      baseWindow: Int = 1): SuffixContext = {
    require(maxWindow >= 1, "maxWindow must be positive")
    require(baseWindow >= 1 && Integer.bitCount(baseWindow) == 1 &&
      baseWindow <= maxWindow,
      s"baseWindow must be a power of two <= maxWindow, got $baseWindow")
    // ordered mode ranks char-by-char so the sentinel tie rule composes
    // exactly; the wide base key is a dedup-path (equality-only) shortcut
    val w0 = if (ordered) 1 else baseWindow
    // r17 opt: spread — the per-position base-window pass below is the
    // hot path, and a one-row-group corpus otherwise runs it (and the
    // whole first ranking round's map side) on one input split
    val base = graft.Tables.spread(docs).select(
      col(idCol).cast("long").as("doc"),
      coalesce(col(textCol).cast("string"), lit("")).as("txt"))

    val bounds = base.agg(
      max(length(col("txt"))).as("ml"), max(col("doc")).as("md")).head()
    val maxLen = if (bounds.isNullAt(0)) 0L else bounds.getInt(0).toLong
    val maxDoc = if (bounds.isNullAt(1)) 0L else bounds.getLong(1)
    val stride = maxLen + 2L
    require(maxDoc >= 0 && maxDoc < Long.MaxValue / stride,
      s"doc ids up to $maxDoc overflow the gpos space at stride $stride")

    // one row per real position; ordered mode adds the sentinel at len+1.
    // Unordered mode MUST drop zero-length documents before the explode:
    // sequence(1, 0) evaluates DESCENDING as [1, 0], which would mint two
    // phantom positions per empty doc (ordered mode's bound is len+1 >= 1,
    // so its sequence is never descending).
    val measured = base
      .select(col("doc"), col("txt"), length(col("txt")).cast("long").as("len"))
    val eligible = if (ordered) measured else measured.filter(col("len") > 0)
    // (r17 opt note: a per-char split + element_at/slice window was
    // A/B'd here against substr and did NOT win at these document
    // lengths — the allocation cost of the array path exceeds substr's
    // offset re-scan; kept on substr, unlike the 3-char q_t44 gram pass
    // where the array path is 2.3x.)
    val positions = eligible
      .select(col("doc"), col("len"), col("txt"),
        explode(sequence(lit(1L),
          col("len") + lit(if (ordered) 1L else 0L))).as("off"))
      .withColumn("gpos", col("doc") * lit(stride) + col("off"))

    val t0raw =
      if (ordered) {
        // rank of the 1-char window: real chars by byte order (above all
        // sentinels), sentinels by doc order. The composite key IS that order.
        val keyed0 = positions.select(
          col("doc"), col("off"), col("len"), col("gpos"),
          when(col("off") <= col("len"), lit(1)).otherwise(lit(0)).as("k_real"),
          when(col("off") <= col("len"),
            expr("substr(txt, CAST(off AS INT), 1)")).as("k_ch"),
          when(col("off") <= col("len"), lit(-1L)).otherwise(col("doc")).as("k_sent"))
        rankOrdered(keyed0, Seq("k_real", "k_ch", "k_sent"))
      } else {
        // rank of the w0-char window straight off the text — truncated
        // tail windows may collide, which only ever mis-ranks windows
        // crossing a document's end (never dedup candidates)
        val keyed0 = positions.select(
          col("doc"), col("off"), col("len"), col("gpos"),
          expr(s"substr(txt, CAST(off AS INT), $w0)").as("k_ch"))
        rankUnordered(keyed0, Seq("k_ch"))
      }
    val t0 = if (materializeRounds || ordered) t0raw.pin() else t0raw

    val needed = math.min(maxWindow.toLong, maxLen + 1L)
    var tables = Vector(w0 -> t0)
    var window = w0
    while (window < needed && window.toLong * 2 <= maxWindow.toLong) {
      val prev = tables.last._2
      val wDoc = Window.partitionBy("doc").orderBy("off")
      val paired = prev
        .select(col("doc"), col("off"), col("len"), col("gpos"),
          col("rank").as("k1"))
        .withColumn("k2",
          coalesce(lead(col("k1"), window).over(wDoc), lit(-1L)))
      val next =
        if (ordered) rankOrdered(paired, Seq("k1", "k2"))
        else rankUnordered(paired, Seq("k1", "k2"))
      window *= 2
      tables = tables :+
        (window -> (if (materializeRounds || ordered) next.pin() else next))
    }
    SuffixContext(tables, coversCorpus = window.toLong >= maxLen + 1L)
  }

  /** The generalized suffix array: one row per real suffix, `rk` its
    * 0-based position in the global order (suffix string ascending, ties
    * — identical suffixes of different documents — by doc ascending).
    * Columns: (rk, doc, off). Needs ORDERED ranks, so pays the per-round
    * sort; dedup consumers should go through [[duplicateWindows]], which
    * doesn't.
    */
  def suffixArray(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ctx = build(docs, idCol, textCol, ordered = true)
    val real = ctx.tables.last._2.filter(col("off") <= col("len"))
    // final ranks are distinct over all positions; restricting to real
    // suffixes keeps their relative order — re-densify distributed
    zipIndexSorted(real.select(col("doc"), col("off"), col("rank")), Seq("rank"))
      .select(col("__idx").as("rk"), col("doc"), col("off"))
  }

  /** Positions whose L-char window recurs (count ≥ 2; across ≥ 2 distinct
    * documents when `crossDocOnly`). Output: (doc, off).
    *
    * Overlapping-window lemma (the sparse-table equality trick): with
    * h = 2^floor(log2 L), two L-windows are equal iff their leading
    * h-windows AND their trailing h-windows (starting at off + L − h) are
    * equal — the overlap is harmless for EQUALITY testing. So one
    * doubling table answers any L, and candidate grouping shuffles one
    * 2-long key per position instead of L characters: at 100 TB the
    * shuffle is ~16 bytes per corpus char, independent of L.
    *
    * The duplicate test itself is one window over the (r1, r2) key:
    * count ≥ 2, and min(doc) ≠ max(doc) for the cross-doc rule (equivalent
    * to countDistinct ≥ 2, but window-computable in the same pass).
    */
  def duplicateWindows(
      ctx: SuffixContext,
      L: Int,
      crossDocOnly: Boolean = true): DataFrame = {
    require(L >= 1, "window length must be positive")
    val (h, t) = ctx.tableFor(L)
    // the two h-windows must cover the L-window (2h >= L). When the build
    // stopped because its last window already covers the longest document,
    // 2h < L means L exceeds every document — no candidates exist at all.
    if (2L * h < L) {
      require(ctx.coversCorpus,
        s"build stopped at window $h — raise maxWindow to cover L=$L")
      return t.filter(lit(false)).select("doc", "off")
    }
    val withR2 =
      if (L == h) t.withColumn("r2", col("rank"))
      else t.withColumn("r2",
        coalesce(lead(col("rank"), L - h)
          .over(Window.partitionBy("doc").orderBy("off")), lit(-1L)))
    val cand = withR2
      .filter(col("off") + lit(L.toLong - 1) <= col("len"))
      .select(col("doc"), col("off"), col("rank").as("r1"), col("r2"))
    val wKey = Window.partitionBy("r1", "r2")
    cand
      .withColumn("n_occ", count(lit(1)).over(wKey))
      .withColumn("mn_doc", min(col("doc")).over(wKey))
      .withColumn("mx_doc", max(col("doc")).over(wKey))
      .filter(col("n_occ") >= 2 &&
        (if (crossDocOnly) col("mn_doc") =!= col("mx_doc") else lit(true)))
      .select("doc", "off")
  }

  /** Maximal duplicated spans: merge overlapping-or-adjacent duplicate
    * L-windows per document into islands (gap ≤ L chars between window
    * starts keeps one island — coverage overlaps or touches). Output:
    * (doc, span_start, span_len, n_windows). Per-document window
    * functions only: partition width is bounded by document length.
    */
  def duplicatedSpans(
      ctx: SuffixContext,
      L: Int,
      crossDocOnly: Boolean = true): DataFrame = {
    val w = Window.partitionBy("doc").orderBy("off")
    duplicateWindows(ctx, L, crossDocOnly)
      .withColumn("brk",
        when(col("off") - lag(col("off"), 1).over(w) <= L, lit(0L)).otherwise(lit(1L)))
      .withColumn("isl", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc"), col("isl"))
      .agg(
        min(col("off")).as("span_start"),
        (max(col("off")) - min(col("off")) + lit(L.toLong)).as("span_len"),
        count(lit(1)).as("n_windows"))
      .drop("isl")
  }

  /** Corpus repetition profile: for each window length, how many
    * positions sit inside a recurring window and how many documents are
    * touched. One doubling build serves every length (build to
    * max(lengths) with materializeRounds on — several tables are read).
    * Output: (win_len, n_dup_windows, n_docs).
    */
  def repetitionProfile(
      ctx: SuffixContext,
      lengths: Seq[Int],
      crossDocOnly: Boolean = true): DataFrame = {
    require(lengths.nonEmpty, "need at least one window length")
    lengths.map { l =>
      duplicateWindows(ctx, l, crossDocOnly)
        .agg(count(lit(1)).as("n_dup_windows"),
          countDistinct(col("doc")).as("n_docs"))
        .select(lit(l.toLong).as("win_len"), col("n_dup_windows"), col("n_docs"))
    }.reduce(_.union(_))
  }

  /** Equality-preserving rank: min global position over the equal-key
    * group — exact (gpos is collision-free by construction), deterministic,
    * one hash shuffle. The dedup path's workhorse.
    */
  private def rankUnordered(df: DataFrame, keys: Seq[String]): DataFrame =
    df.withColumn("rank",
        min(col("gpos")).over(Window.partitionBy(keys.map(col): _*)))
      .select("doc", "off", "len", "gpos", "rank")

  /** Order- and equality-preserving rank over `keys`: sort, distributed
    * zipWithIndex, min index per key group (= count of strictly smaller
    * keys — deterministic under any equal-key placement). Dense exactly
    * when keys are distinct, which is all the doubling recurrence needs.
    */
  private def rankOrdered(df: DataFrame, keys: Seq[String]): DataFrame = {
    val idx = zipIndexSorted(df, keys)
    idx.withColumn("rank",
        min(col("__idx")).over(Window.partitionBy(keys.map(col): _*)))
      .select("doc", "off", "len", "gpos", "rank")
  }

  /** Sort by `keys` (asc, nulls first) and append the global 0-based row
    * index as `__idx` via RDD.zipWithIndex — one extra count job, no
    * single-reducer stage.
    */
  private def zipIndexSorted(df: DataFrame, keys: Seq[String]): DataFrame = {
    val spark: SparkSession = df.sparkSession
    val sorted = df.sort(keys.map(col): _*)
    val schema = StructType(sorted.schema.fields :+
      StructField("__idx", LongType, nullable = false))
    spark.createDataFrame(
      sorted.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ i) },
      schema)
  }
}
