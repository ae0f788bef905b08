package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

/** Benchmark decontamination: flag training documents that share any
  * k-token shingle with an evaluation/benchmark probe set — the standard
  * leakage guard a pretraining corpus runs before training (eval questions
  * quoted verbatim inside crawled pages inflate benchmark scores).
  *
  * Shape at scale: the probe side is shingled and deduplicated (benchmark
  * suites are thousands of documents — tiny next to the corpus), the
  * corpus side is shingled scan-side, and contamination is one shingle
  * equi-join + per-doc count. With a small probe set AQE broadcasts the
  * probe shingles, so the PROBE EQUI-JOIN never shuffles the corpus — the
  * match rides the ingest scan like the quality filters. Downstream of
  * that join, corpus-DERIVED rows can still shuffle: the hit-shingle
  * `groupBy(idCol)` shuffles one row per (matched doc, matched shingle),
  * and the final corpus left join shuffles both sides when the hit set
  * exceeds the broadcast threshold (a heavily contaminated corpus). In
  * the intended regime — contamination is rare — both frames are tiny.
  * No pair enumeration, no O(corpus²) anything: cost is corpus shingles
  * × hash probe.
  *
  * Reference scope ends at row-identity sync (SURVEY.md §2); this is part
  * of the beyond-reference training-data surface.
  */
object Decontamination {

  /** `(idCol, hitsCol)`: per corpus document with at least one hit, the
    * number of its distinct k-shingles that appear anywhere in `probes`.
    * Per-doc shingle dedup happens SCAN-SIDE (array_distinct before the
    * explode) — a DataFrame.distinct() over the corpus would shuffle every
    * corpus shingle, which is what these operators promise not to do.
    */
  private def shingleHits(
      corpus: DataFrame, probes: DataFrame, idCol: String, textCol: String, k: Int,
      hitsCol: String): DataFrame = {
    val probeShingles = graft.Tables.spread(probes)
      .select(explode(array_distinct(TextAnalysis.tokenShingles(col(textCol), k)))
        .as("__s"))
      .distinct()
    graft.Tables.spread(corpus)
      .select(col(idCol),
        explode(array_distinct(TextAnalysis.tokenShingles(col(textCol), k))).as("__s"))
      .join(probeShingles, "__s")
      .groupBy(idCol)
      .agg(count(lit(1)).as(hitsCol))
  }

  /** Per-corpus-document overlap with the probe set: every corpus column
    * plus `n_hits` (the document's DISTINCT k-shingles appearing anywhere
    * in `probes`) and `contaminated` = `n_hits > 0`. Every corpus row is
    * kept (zero-hit docs flag false) — the caller routes on the flag
    * without re-joining the corpus.
    */
  def flagOverlap(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8): DataFrame = {
    require(k > 0, "shingle size must be positive")
    corpus
      .join(shingleHits(corpus, probes, idCol, textCol, k, "n_hits"), Seq(idCol), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  /** GRADED contamination: every corpus column plus `n_shingles` (the
    * document's distinct k-shingle count), `n_hits`, and
    * `overlap_fraction` = n_hits / n_shingles — the score a curation
    * policy thresholds instead of [[flagOverlap]]'s boolean (a page
    * QUOTING one eval question is a different animal from a page that
    * IS the eval set; binary flagging can't tell them apart). Documents
    * with no shingles (shorter than k tokens) get NULL fraction — they
    * cannot be graded, and 0/0 must not read as "clean".
    *
    * Same scale shape as [[flagOverlap]] (probe shingles broadcast, one
    * equi-join riding the scan); the denominator is computed SCAN-SIDE
    * (size of the per-row distinct shingle array) — no extra aggregate,
    * no second corpus pass. Fractions are exact integer ratios.
    */
  def overlapFraction(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8): DataFrame = {
    require(k > 0, "shingle size must be positive")
    corpus.withColumn(
      "n_shingles",
      size(array_distinct(TextAnalysis.tokenShingles(col(textCol), k))).cast("bigint"))
      .join(shingleHits(corpus, probes, idCol, textCol, k, "__nh"), Seq(idCol), "left")
      .withColumn("n_hits", coalesce(col("__nh"), lit(0L)))
      .drop("__nh")
      .withColumn("overlap_fraction",
        when(col("n_shingles") > 0,
          col("n_hits").cast("double") / col("n_shingles")))
  }
}
