package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{RunScope, Tables}
import graft.functions.TextAnalysis._
import graft.RunScope.Pinning

/** Text-analysis operators over the documents table. */
object TextQueries extends QueryGroup {

  // Oracle fragments, margin text that the query strings interpolate
  // before their stripMargin. `docTokensSql` is the body of the `t` CTE:
  // each document's tokens under the engine's tokenization.
  private[queries] val docTokensSql =
    """  SELECT doc_id, CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
      |                      ELSE string_split_regex(lower(trim(text)), '\s+') END AS tk
      |  FROM documents),"""
  /** `t` plus `stats`, `tf` and `df`: q_t11's BM25 inputs for the terms
    * data, table and join.
    */
  private val bm25TermsSql =
    """  SELECT doc_id, CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
      |                      ELSE string_split_regex(lower(trim(text)), '\s+') END AS tk
      |  FROM documents),
      |stats AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
      |         CAST(sum(len(tk)) AS DOUBLE) / count(*) AS avgdl
      |  FROM t),
      |tf AS (
      |  SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
      |  FROM (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl, unnest(tk) AS term FROM t)
      |  WHERE term IN ('data', 'table', 'join')
      |  GROUP BY doc_id, dl, term),
      |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term)"""
  /** `t` with `lang` and `text`, plus `s`: stopword hits per language. */
  private val langStopwordHitsSql =
    """  SELECT doc_id, lang, text,
      |         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
      |              ELSE string_split_regex(lower(trim(text)), '\s+') END AS tk
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, lang, text,
      |    len(list_filter(tk, x -> list_contains(['der','die','und','das','ist','ich','nicht','sie',
      |        'mit','sich','auf','für','als','auch','es','ein','eine','zu'], x))) AS de,
      |    len(list_filter(tk, x -> list_contains(['the','of','and','to','in','is','you','that','it',
      |        'was','for','on','are','as','with','they','at','this','have'], x))) AS en,
      |    len(list_filter(tk, x -> list_contains(['el','la','de','que','y','en','un','se','no','por',
      |        'con','su','para','como','es','los','las','una','más'], x))) AS es,
      |    len(list_filter(tk, x -> list_contains(['le','la','et','les','des','est','un','une','du',
      |        'que','pas','pour','dans','ce','il','qui','ne','sur','se'], x))) AS fr
      |  FROM t)"""

  // Token counting + shape stats. Oracle mirrors the exact tokenization
  // (split lower(trim(text)) on \s+, empty text → zero tokens — DuckDB's
  // string_split_regex('') is [''], so the empty case is guarded explicitly
  // to keep the contract corpus-independent) so division matches bit-exact.
  private val qT1 = Q(
    "q_t1_token_stats",
    """WITH t AS (
      |  SELECT doc_id, n_chars,
      |         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
      |              ELSE string_split_regex(lower(trim(text)), '\s+') END AS tk
      |  FROM documents)
      |SELECT doc_id,
      |       CAST(n_chars AS INT) AS n_chars,
      |       CAST(len(tk) AS INT) AS token_count,
      |       CASE WHEN len(tk) = 0 THEN 0.0
      |            ELSE CAST(list_sum(list_transform(tk, t -> length(t))) AS DOUBLE) / len(tk)
      |       END AS mean_token_len
      |FROM t ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "documents")
      .select(
        col("doc_id"),
        col("n_chars").cast("int").as("n_chars"),
        tokenCount(col("text")).as("token_count"),
        meanTokenLen(col("text")).as("mean_token_len"))
      .orderBy("doc_id")
  }

  // Quality-signal ratios: punctuation + English-stopword evidence.
  private val qT2 = Q(
    "q_t2_quality_ratios",
    """WITH t AS (
      |  SELECT doc_id, text,
      |         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
      |              ELSE string_split_regex(lower(trim(text)), '\s+') END AS tk
      |  FROM documents)
      |SELECT doc_id,
      |       CASE WHEN length(text) = 0 THEN 0.0
      |            ELSE CAST(length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS DOUBLE)
      |                 / length(text) END AS punct_ratio,
      |       CASE WHEN len(tk) = 0 THEN 0.0
      |            ELSE CAST(len(list_filter(tk,
      |              t -> list_contains(['the','of','and','to','in','is','you','that','it','was',
      |                                  'for','on','are','as','with','they','at','this','have'], t))) AS DOUBLE)
      |                 / len(tk) END AS stopword_ratio
      |FROM t ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "documents")
      .select(
        col("doc_id"),
        punctRatio(col("text")).as("punct_ratio"),
        stopwordRatio(col("text")).as("stopword_ratio"))
      .orderBy("doc_id")
  }

  // Language ID: the stopword-evidence heuristic is deterministic token
  // arithmetic, so the oracle replays it exactly — per-language stopword
  // hit counts, best = (max score, then lexicographically max language
  // code), CJK script check first, no evidence → 'und'.
  private val qT3 = Q(
    "q_t3_lang_id",
    raw"""WITH t AS (
      |$langStopwordHitsSql
      |SELECT doc_id, lang AS lang_declared,
      |       CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
      |            WHEN greatest(de, en, es, fr) = 0 THEN 'und'
      |            WHEN fr >= de AND fr >= en AND fr >= es THEN 'fr'
      |            WHEN es >= de AND es >= en THEN 'es'
      |            WHEN en >= de THEN 'en'
      |            ELSE 'de' END AS lang_predicted
      |FROM s ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.spread(Tables.load(s, dir, "documents"))
      .select(
        col("doc_id"),
        col("lang").as("lang_declared"),
        langId(col("text")).as("lang_predicted"))
      .orderBy("doc_id")
  }

  // Composite quality score + BPE-ish token budget: all four score
  // components are deterministic ratios the oracle recomputes bit-exact;
  // the BPE-ish count is one RE2-compatible regexp_extract_all both
  // engines evaluate identically.
  private val qT4 = Q(
    "q_t4_quality_score",
    """WITH t AS (
      |  SELECT doc_id, text,
      |         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
      |              ELSE string_split_regex(lower(trim(text)), '\s+') END AS tk
      |  FROM documents),
      |m AS (
      |  SELECT doc_id, text, len(tk) AS ntok,
      |         CASE WHEN len(tk) = 0 THEN 0.0
      |              ELSE CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE) / len(tk) END AS mtl,
      |         CASE WHEN length(text) = 0 THEN 0.0
      |              ELSE CAST(length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS DOUBLE)
      |                   / length(text) END AS pr,
      |         CASE WHEN len(tk) = 0 THEN 0.0
      |              ELSE CAST(len(list_filter(tk, x -> list_contains(['the','of','and','to','in','is','you',
      |                     'that','it','was','for','on','are','as','with','they','at','this','have'], x))) AS DOUBLE)
      |                   / len(tk) END AS sr
      |  FROM t)
      |SELECT doc_id,
      |       ((CASE WHEN ntok BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END) +
      |        (CASE WHEN mtl BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.0 END) +
      |        (CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.0 END) +
      |        (CASE WHEN sr >= 0.05 THEN 1.0 ELSE 0.0 END)) / 4.0 AS quality_score,
      |       CAST(len(regexp_extract_all(text,
      |              '''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]+')) AS INT) AS bpe_ish_tokens
      |FROM m ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.spread(Tables.load(s, dir, "documents"))
      .select(
        col("doc_id"),
        qualityScore(col("text")).as("quality_score"),
        bpeIshTokenCount(col("text")).as("bpe_ish_tokens"))
      .orderBy("doc_id")
  }

  // Winnowing fingerprint, VALUE-exact oracle: the gate runs the portable
  // k-gram hash (md5-derived 60-bit — winnowingFingerprintPortable) and
  // the oracle replays shingling, windowed mins, dedup-sort, and the
  // canonical comma-joined md5 verbatim. The xxhash64 production variant
  // keeps its edit-robustness + brute-force specs.
  private val qT5 = Q(
    "q_t5_fingerprint",
    """WITH n AS (SELECT doc_id, lower(trim(text)) AS t FROM documents),
      |sh AS (
      |  SELECT doc_id, CASE WHEN length(t) < 5 THEN [t]
      |         ELSE list_transform(range(1, length(t) - 3), i -> substring(t, CAST(i AS INT), 5)) END AS sgs
      |  FROM n),
      |h AS (SELECT doc_id,
      |             list_transform(sgs, s -> ('0x' || substring(md5(s), 1, 15))::BIGINT) AS hs
      |      FROM sh),
      |m AS (
      |  SELECT doc_id, CASE WHEN len(hs) <= 4 THEN [list_min(hs)]
      |         ELSE list_transform(range(1, len(hs) - 2),
      |                             i -> list_min(hs[CAST(i AS INT):CAST(i + 3 AS INT)])) END AS mins
      |  FROM h),
      |fp AS (SELECT doc_id, list_sort(list_distinct(mins)) AS f FROM m)
      |SELECT doc_id, CAST(len(f) AS INT) AS fp_size,
      |       md5(array_to_string(f, ',')) AS fp_md5
      |FROM fp ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.spread(Tables.load(s, dir, "documents"))
      .select(
        col("doc_id"),
        // fingerprint bound once; a second bare reference would re-run the
        // whole winnowing pass for each derived column (no CSE in HOF exprs)
        graft.functions.hof.bind(winnowingFingerprintPortable(col("text"))) { fp =>
          struct(
            size(fp).as("fp_size"),
            md5(concat_ws(",", transform(fp, _.cast("string")))).as("fp_md5"))
        }.as("__fp"))
      .select(col("doc_id"), col("__fp.fp_size"), col("__fp.fp_md5"))
      .orderBy("doc_id")
  }

  // Gopher-style repetition metrics (top-token share + duplicate-bigram
  // fraction): the looped/templated-text filters an LLM corpus curation
  // pass runs next to quality scoring. Scan-side HOF arithmetic — per-doc
  // cost, no shuffle; the oracle replays the identical double math.
  private val qT9 = Q(
    "q_t9_repetition",
    s"""WITH t AS (
      |$docTokensSql
      |m AS (
      |  SELECT doc_id,
      |         CASE WHEN len(tk) = 0 THEN CAST(0.0 AS DOUBLE)
      |              ELSE CAST(list_max(list_transform(list_distinct(tk),
      |                     t -> len(list_filter(tk, x -> x = t)))) AS DOUBLE) / len(tk) END AS top_token_share,
      |         CASE WHEN len(tk) < 2 THEN CAST(0.0 AS DOUBLE)
      |              ELSE 1.0 - CAST(len(list_distinct(list_transform(range(1, len(tk)),
      |                     i -> tk[i] || ' ' || tk[i+1]))) AS DOUBLE)
      |                   / (len(tk) - 1) END AS dup_bigram_frac
      |  FROM t)
      |SELECT doc_id, top_token_share, dup_bigram_frac
      |FROM m ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.spread(Tables.load(s, dir, "documents"))
      .select(
        col("doc_id"),
        topTokenShare(col("text")).as("top_token_share"),
        dupBigramFraction(col("text")).as("dup_bigram_frac"))
      .orderBy("doc_id")
  }

  // PRODUCTION winnowing path, bench-visible: the xxhash64 k-gram hash
  // users run at scale (codegen, no md5 round-trip). DuckDB has no
  // xxhash64 built-in, so the oracle CARRIES the algorithm — a generated
  // pure-SQL XXH64 CTE chain (see DuckXxh64) feeding the winnowing
  // replay: signed-min over w=4 windows, distinct+sort, md5 of the
  // comma-joined signed values. q_t5 (portable md5 hash) stays the
  // second, structurally independent anchor.
  private val qT5x = Q("q_t5x_fingerprint_prod", DuckXxh64.fingerprintProdOracle) { (s, dir) =>
    Tables.spread(Tables.load(s, dir, "documents"))
      .select(
        col("doc_id"),
        graft.functions.hof.bind(winnowingFingerprint(col("text"))) { fp =>
          struct(
            size(fp).as("fp_size"),
            md5(concat_ws(",", transform(fp, _.cast("string")))).as("fp_md5"))
        }.as("__fp"))
      .select(col("doc_id"), col("__fp.fp_size"), col("__fp.fp_md5"))
      .orderBy("doc_id")
  }

  // Corpus TF-IDF, top-5 terms per doc — tf/df/N aggregations and the
  // smoothed sklearn idf replayed exactly in SQL (identical double math,
  // identical tie-break on the term).
  private val qT6 = Q(
    "q_t6_tfidf_topterms",
    s"""WITH t AS (
      |$docTokensSql
      |terms AS (SELECT doc_id, unnest(tk) AS term FROM t),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
      |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
      |n AS (SELECT count(DISTINCT doc_id) AS n FROM documents)
      |SELECT doc_id, term, tf, df, tfidf, rank FROM (
      |  SELECT tf.doc_id, tf.term,
      |         CAST(tf.tf AS INT) AS tf, CAST(df.df AS INT) AS df,
      |         tf.tf * (ln(CAST(n.n + 1 AS DOUBLE) / (df.df + 1)) + 1.0) AS tfidf,
      |         CAST(row_number() OVER (
      |           PARTITION BY tf.doc_id
      |           ORDER BY tf.tf * (ln(CAST(n.n + 1 AS DOUBLE) / (df.df + 1)) + 1.0) DESC,
      |                    tf.term) AS INT) AS rank
      |  FROM tf JOIN df USING (term) CROSS JOIN n)
      |WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin) { (s, dir) =>
    graft.operators.Tfidf
      .topTerms(Tables.load(s, dir, "documents"), "doc_id", "text", k = 5)
      .select(
        col("doc_id"), col("term"),
        col("tf").cast("int").as("tf"),
        col("df").cast("int").as("df"),
        col("tfidf"),
        col("rank").cast("int").as("rank"))
      .orderBy("doc_id", "rank")
  }

  // PII scrub: per-category hit counts + md5 of the redacted text; the
  // oracle runs the identical RE2-compatible regexes ('g' — DuckDB
  // replaces first-match-only by default).
  private val qT7 = Q(
    "q_t7_pii_redaction",
    """SELECT doc_id,
      |       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
      |       CAST(len(regexp_extract_all(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS INT) AS n_phones,
      |       CAST(len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) AS INT) AS n_ssns,
      |       md5(regexp_replace(regexp_replace(regexp_replace(text,
      |             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
      |             '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '[PHONE]', 'g'),
      |             '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g')) AS redacted_md5
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.spread(Tables.load(s, dir, "documents"))
      .select(
        col("doc_id"),
        piiCounts(col("text")).as("__p"),
        md5(redactPii(col("text"))).as("redacted_md5"))
      .select(
        col("doc_id"),
        col("__p.n_emails"), col("__p.n_phones"), col("__p.n_ssns"),
        col("redacted_md5"))
      .orderBy("doc_id")
  }

  // Unigram-LM quality score (CCNet-style perplexity filtering, in its
  // oracle-checkable Laplace-smoothed form): corpus token counts, (T, V)
  // totals, and per-doc mean log-probability replayed exactly in SQL.
  private val qT8 = Q(
    "q_t8_unigram_lm_score",
    s"""WITH t AS (
      |$docTokensSql
      |terms AS (SELECT doc_id, unnest(tk) AS term FROM t),
      |counts AS (SELECT term, count(*) AS c FROM terms GROUP BY term),
      |totals AS (SELECT sum(c) AS tt, count(*) AS v FROM counts)
      |SELECT doc_id,
      |       CAST(count(*) AS INT) AS n_tokens,
      |       avg(ln(CAST(c + 1 AS DOUBLE) / (tt + v))) AS mean_logprob
      |FROM terms JOIN counts USING (term) CROSS JOIN totals
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.operators.UnigramLm
      .meanLogProb(Tables.load(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")
  }

  // Ingest text normalization: lowercase → strip URLs → strip emails →
  // strip control chars → collapse whitespace → trim, the standard
  // cleanup pass before tokenization. The RE2-compatible patterns are
  // replayed verbatim in DuckDB; output pins the normalized text by md5 +
  // length so exotic characters never stress the harness compare.
  private val qT10 = Q(
    "q_t10_normalize",
    """SELECT doc_id, md5(norm) AS norm_md5, CAST(len(norm) AS INT) AS n_chars_norm
      |FROM (
      |  SELECT doc_id,
      |         trim(regexp_replace(
      |           regexp_replace(
      |             regexp_replace(
      |               regexp_replace(lower(text), 'https?://[^\s]+', ' ', 'g'),
      |               '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', ' ', 'g'),
      |             '[\x00-\x1f\x7f]', ' ', 'g'),
      |           '\s+', ' ', 'g')) AS norm
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), normalizeText(col("text")).as("norm"))
      .select(
        col("doc_id"),
        md5(col("norm").cast("binary")).as("norm_md5"),
        length(col("norm")).as("n_chars_norm"))
      .orderBy("doc_id")
  }

  // Overlapping-window chunking (200-char windows every 150 chars) with
  // provenance — the retrieval-ingest splitter. Chunks are pinned by md5
  // + length like q_t10 so exotic characters never stress the compare;
  // chunk_idx uses integer `div` on both sides (Spark `/` is double
  // division, DuckDB `//` is the integer form).
  private val qT12 = Q(
    "q_t12_chunk_overlap",
    """SELECT doc_id,
      |       CAST((start - 1) // 150 AS INT) AS chunk_idx,
      |       md5(substr(text, start, 200)) AS chunk_md5,
      |       CAST(length(substr(text, start, 200)) AS INT) AS n_chars
      |FROM (
      |  SELECT doc_id, text,
      |         unnest(range(1, greatest(len(text), 1) + 1, 150)) AS start
      |  FROM documents)
      |ORDER BY doc_id, chunk_idx""".stripMargin) { (s, dir) =>
    graft.operators.Chunking
      .chunkWithOverlap(Tables.load(s, dir, "documents"), "doc_id", "text",
        size = 200, stride = 150)
      .select(
        col("doc_id"),
        col("chunk_idx"),
        md5(col("chunk").cast("binary")).as("chunk_md5"),
        length(col("chunk")).as("n_chars"))
      .orderBy("doc_id", "chunk_idx")
  }

  // BM25 keyword retrieval (Lucene-style positive idf, k1=1.2 b=0.75):
  // postings carry doc length through the explode, df and corpus stats
  // broadcast — no corpus-sized join or sort. Per-term float products
  // sum in engine order; differences are ~1e-15 against the harness's
  // 6dp rounding.
  private val qT11 = Q(
    "q_t11_bm25",
    s"""WITH t AS (
      |$bm25TermsSql
      |SELECT tf.doc_id,
      |       CAST(count(*) AS INT) AS n_terms_matched,
      |       sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) *
      |           (tf * (1.2 + 1) / (tf + 1.2 * ((1 - 0.75) + 0.75 * dl / avgdl)))) AS bm25
      |FROM tf JOIN df USING (term) CROSS JOIN stats
      |GROUP BY tf.doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.operators.Bm25
      .score(Tables.load(s, dir, "documents"), "doc_id", "text",
        Seq("data", "table", "join"))
      .orderBy("doc_id")
  }

  // Bigram-LM quality score — one order up from q_t8 on the perplexity
  // ladder: Laplace-smoothed p(w2|w1) with the context count taken over
  // BIGRAM occurrences (so the conditional sums to ≤ 1 exactly) and the
  // unigram vocabulary as the smoothing denominator. DuckDB zips the
  // token list with its own tail via parallel unnest; the engine's
  // zip_with is scan-side (no self-join to form pairs).
  private val qT13 = Q(
    "q_t13_bigram_lm",
    s"""WITH t AS (
      |$docTokensSql
      |bg AS (SELECT doc_id, unnest(tk[1:len(tk)-1]) AS w1, unnest(tk[2:len(tk)]) AS w2
      |       FROM t WHERE len(tk) >= 2),
      |cnt AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
      |ctx AS (SELECT w1, sum(c12) AS c1 FROM cnt GROUP BY 1),
      |vocab AS (SELECT count(DISTINCT term) AS v
      |          FROM (SELECT unnest(tk) AS term FROM t)),
      |scored AS (SELECT bg.doc_id, ln(CAST(c12 + 1 AS DOUBLE) / (c1 + v)) AS lp
      |           FROM bg JOIN cnt USING (w1, w2) JOIN ctx USING (w1) CROSS JOIN vocab)
      |SELECT doc_id, CAST(count(*) AS INT) AS n_bigrams, avg(lp) AS mean_logprob
      |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.operators.BigramLm
      .meanLogProb(Tables.load(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")
  }

  // Jelinek-Mercer interpolated LM (λ = 0.7): the production smoothing —
  // ML bigram term + Laplace unigram backoff, every term a ratio of the
  // same integers in both engines (the identical left-to-right double
  // expression is replayed verbatim).
  private val qT14 = Q(
    "q_t14_interpolated_lm",
    s"""WITH t AS (
      |$docTokensSql
      |bg AS (SELECT doc_id, unnest(tk[1:len(tk)-1]) AS w1, unnest(tk[2:len(tk)]) AS w2
      |       FROM t WHERE len(tk) >= 2),
      |cnt AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
      |ctx AS (SELECT w1, sum(c12) AS c1 FROM cnt GROUP BY 1),
      |terms AS (SELECT unnest(tk) AS term FROM t),
      |uni AS (SELECT term AS w2, count(*) AS cu FROM terms GROUP BY 1),
      |tot AS (SELECT count(*) AS tt, count(DISTINCT term) AS v FROM terms),
      |scored AS (
      |  SELECT bg.doc_id,
      |         ln(0.7 * (CAST(c12 AS DOUBLE) / c1) +
      |            0.3 * (CAST(cu + 1 AS DOUBLE) / (tt + v))) AS lp
      |  FROM bg JOIN cnt USING (w1, w2) JOIN ctx USING (w1)
      |  JOIN uni USING (w2) CROSS JOIN tot)
      |SELECT doc_id, CAST(count(*) AS INT) AS n_bigrams, avg(lp) AS mean_logprob
      |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.operators.BigramLm
      .interpolatedMeanLogProb(Tables.load(s, dir, "documents"), "doc_id", "text",
        lambda = 0.7)
      .orderBy("doc_id")
  }

  // URL canonicalization + canonical-URL dedup — the FIRST-pass dedup of
  // a web corpus (tracking-decorated and case-varied re-crawls dominate
  // raw duplicates; collapsing them is pure string math, before any
  // content hashing). URLs are built deterministically from (doc_id,
  // source) so DuckDB mirrors the corpus: mixed-case scheme/host, a
  // default :443 port, a mixed-case PATH (which canonicalization must
  // PRESERVE), trailing slashes, utm_*/gclid tracking params around a
  // genuine id param (whose order survives), and fragments. The oracle
  // replays construction AND the full canonicalization chain; keep_id =
  // min doc_id per canonical URL is the dedup pick.
  private val qT15 = Q(
    "q_t15_url_canonical",
    """WITH u AS (
      |  SELECT doc_id,
      |         (CASE WHEN doc_id % 4 = 0 THEN 'HTTPS://WWW.' ELSE 'https://www.' END)
      |         || source || '.Example.COM'
      |         || (CASE WHEN doc_id % 6 = 0 THEN ':443' ELSE '' END)
      |         || '/Articles/' || CAST(doc_id % 13 AS VARCHAR)
      |         || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
      |         || (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&id=' || CAST(doc_id % 13 AS VARCHAR) || '&utm_campaign=x'
      |                  WHEN doc_id % 7 = 0 THEN '?id=' || CAST(doc_id % 13 AS VARCHAR) || '&gclid=abc'
      |                  ELSE '' END)
      |         || (CASE WHEN doc_id % 2 = 0 THEN '#section-2' ELSE '' END) AS url
      |  FROM documents),
      |nf AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM u),
      |parts AS (
      |  SELECT doc_id,
      |         regexp_replace(lower(regexp_extract(u, '(?i)^(https?://[^/?]*)', 1)), ':443$', '') AS sh,
      |         regexp_replace(regexp_extract(u, '(?i)^https?://[^/?]*([^?]*)', 1), '/$', '') AS pth,
      |         regexp_extract(u, '\?(.*)$', 1) AS q
      |  FROM nf),
      |canon AS (
      |  SELECT doc_id,
      |         sh || pth || CASE WHEN kept = '' THEN '' ELSE '?' || kept END AS canon_url
      |  FROM (SELECT doc_id, sh, pth,
      |               array_to_string(list_filter(string_split(q, '&'),
      |                 p -> NOT regexp_matches(p, '^(utm_[a-z]+|gclid|fbclid)=')), '&') AS kept
      |        FROM parts))
      |SELECT canon_url, min(doc_id) AS keep_id, CAST(count(*) AS INT) AS n_variants
      |FROM canon GROUP BY canon_url ORDER BY keep_id""".stripMargin) { (s, dir) =>
    val n = (col("doc_id") % 13).cast("string")
    val url = concat(
      when(col("doc_id") % 4 === 0, lit("HTTPS://WWW.")).otherwise(lit("https://www.")),
      col("source"), lit(".Example.COM"),
      when(col("doc_id") % 6 === 0, lit(":443")).otherwise(lit("")),
      lit("/Articles/"), n,
      when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit("")),
      when(col("doc_id") % 3 === 0,
          concat(lit("?utm_source=feed&id="), n, lit("&utm_campaign=x")))
        .when(col("doc_id") % 7 === 0,
          concat(lit("?id="), n, lit("&gclid=abc")))
        .otherwise(lit("")),
      when(col("doc_id") % 2 === 0, lit("#section-2")).otherwise(lit("")))
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), canonicalizeUrl(url).as("canon_url"))
      .groupBy("canon_url")
      .agg(
        min(col("doc_id")).as("keep_id"),
        count(lit(1)).cast("int").as("n_variants"))
      .orderBy("keep_id")
  }

  // Per-doc token-distribution entropy (TokenStats.tokenEntropy):
  // Shannon H in nats over the within-doc unigram distribution — the
  // lexical-diversity signal complementing q_t9's top-token share
  // (which only sees the hottest token). Same tokenization contract as
  // q_t1; empty docs keep a zero row.
  private val qT16 = Q(
    "q_t16_token_entropy",
    s"""WITH t AS (
      |$docTokensSql
      |cnt AS (SELECT doc_id, unnest(tk) AS term FROM t),
      |c AS (SELECT doc_id, term, count(*) AS c FROM cnt GROUP BY 1, 2),
      |n AS (SELECT doc_id, sum(c) AS n, count(*) AS v FROM c GROUP BY 1),
      |h AS (SELECT c.doc_id,
      |             sum((CAST(c.c AS DOUBLE) / n.n) * ln(CAST(n.n AS DOUBLE) / c.c)) AS h
      |      FROM c JOIN n ON c.doc_id = n.doc_id GROUP BY 1)
      |SELECT t.doc_id,
      |       CAST(coalesce(n.n, 0) AS INT) AS n_tokens,
      |       CAST(coalesce(n.v, 0) AS INT) AS n_distinct,
      |       coalesce(h.h, 0.0) AS token_entropy
      |FROM t LEFT JOIN n ON t.doc_id = n.doc_id
      |LEFT JOIN h ON t.doc_id = h.doc_id
      |ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
    graft.operators.TokenStats
      .tokenEntropy(Tables.load(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")
  }

  // Flesch reading ease — the classic prose-difficulty score as a
  // quality-filter feature. Words are the q_t1 tokenization; sentences
  // are [.!?]+ runs floored at 1; syllables are per-token [aeiouy]+
  // vowel-group runs floored at 1. The score is a fixed left-to-right
  // IEEE expression over three integers, so the oracle replays it
  // bit-exactly; empty docs carry a NULL score (undefined ≠ hard).
  private val qT17 = Q(
    "q_t17_readability",
    """WITH t AS (
      |  SELECT doc_id, text,
      |         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
      |              ELSE string_split_regex(lower(trim(text)), '\s+') END AS tk
      |  FROM documents),
      |m AS (
      |  SELECT doc_id,
      |         len(tk) AS n_words,
      |         greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS n_sents,
      |         coalesce(list_sum(list_transform(tk,
      |           x -> greatest(1, len(regexp_extract_all(x, '[aeiouy]+'))))), 0) AS n_syll
      |  FROM t)
      |SELECT doc_id,
      |       CAST(n_words AS INT) AS n_words,
      |       CAST(n_sents AS INT) AS n_sents,
      |       CAST(n_syll AS INT) AS n_syll,
      |       CASE WHEN n_words = 0 THEN NULL
      |            ELSE 206.835
      |                 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sents AS DOUBLE))
      |                 - 84.6 * (CAST(n_syll AS DOUBLE) / CAST(n_words AS DOUBLE))
      |       END AS flesch
      |FROM m ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "documents")
      .select(
        col("doc_id"),
        tokenCount(col("text")).as("n_words"),
        sentenceCount(col("text")).as("n_sents"),
        syllableCount(col("text")).as("n_syll"),
        fleschReadingEase(col("text")).as("flesch"))
      .orderBy("doc_id")
  }

  // Hybrid retrieval: BM25 lexical ranks (q_t11's scorer) fused with
  // vector-cosine ranks (query = embedding of vec_id 0; doc_id and
  // vec_id share the 0..N id space by construction of the testdata)
  // via Reciprocal Rank Fusion, k0 = 60. RRF fuses INTEGER ranks —
  // 1/(60+rank) is the same double in any engine, and with two systems
  // the sum is order-independent (IEEE addition is commutative) — so
  // the gate is value-exact with zero float-drift risk; both rank
  // lists use the round-6/id-tie discipline before the cut. Note the
  // oracle's CAST(1.0 AS DOUBLE): DuckDB's bare 1.0 is DECIMAL and
  // would fuse in decimal arithmetic.
  private val qT18 = {
    val cos = SimilarityQueries.duckCosine("embedding", "q")
    Q(
      "q_t18_rrf_hybrid",
      s"""WITH t AS (
         |$bm25TermsSql,
         |bm AS (
         |  SELECT tf.doc_id,
         |         sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) *
         |             (tf * (1.2 + 1) / (tf + 1.2 * ((1 - 0.75) + 0.75 * dl / avgdl)))) AS bm25
         |  FROM tf JOIN df USING (term) CROSS JOIN stats
         |  GROUP BY tf.doc_id),
         |lexr AS (SELECT doc_id,
         |                row_number() OVER (ORDER BY round(bm25, 6) DESC, doc_id) AS rank
         |         FROM bm),
         |lex AS (SELECT doc_id, rank FROM lexr WHERE rank <= 20),
         |qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
         |vs AS (SELECT vec_id AS doc_id, $cos AS c FROM embeddings, qv),
         |vr AS (SELECT doc_id,
         |              row_number() OVER (ORDER BY round(c, 6) DESC, doc_id) AS rank
         |       FROM vs),
         |vec AS (SELECT doc_id, rank FROM vr WHERE rank <= 20),
         |u AS (SELECT doc_id, rank FROM lex UNION ALL SELECT doc_id, rank FROM vec)
         |SELECT doc_id, CAST(count(*) AS INT) AS n_systems,
         |       sum(CAST(1.0 AS DOUBLE) / (60 + rank)) AS rrf
         |FROM u GROUP BY doc_id
         |ORDER BY round(sum(CAST(1.0 AS DOUBLE) / (60 + rank)), 6) DESC, doc_id
         |LIMIT 15""".stripMargin) { (s, dir) =>
      import graft.operators.{Bm25, HybridRetrieval}
      val docs = Tables.load(s, dir, "documents")
      val emb = Tables.load(s, dir, "embeddings")
      val lex = HybridRetrieval.rankTopN(
        Bm25.score(docs, "doc_id", "text", Seq("data", "table", "join")),
        "doc_id", "bm25", topN = 20)
      val qVec = emb.where(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val scored = emb.select(
        col("vec_id").as("doc_id"),
        graft.functions.Vectors.cosine(col("embedding"), typedlit(qVec)).as("cosine"))
      val vec = HybridRetrieval.rankTopN(scored, "doc_id", "cosine", topN = 20)
      HybridRetrieval.rrfFuse(Seq(lex, vec), "doc_id", k0 = 60)
        .orderBy(round(col("rrf"), 6).desc, col("doc_id"))
        .limit(15)
    }
  }

  // Persisted BM25 index (TextIndex): the retrieval twin of the
  // persisted dedup/ANN indexes — postings written ONCE partitioned by
  // the portable md5-bucket of the term, stats alongside; the query maps
  // its literal terms to buckets DRIVER-SIDE and the require() gates on
  // the bucket list reaching the scan as a PartitionFilter (directory
  // elimination: a 100 TB index serves a 3-term query from 3 buckets).
  // A second in-plan require pins index-vs-fresh parity at 1e-9 on every
  // doc, so a stale or mis-bucketed index fails loudly; the oracle is
  // q_t11's corpus-scan SQL — the index must reproduce the no-index
  // answer exactly.
  private val qT20 = Q(
    "q_t20_bm25_persisted",
    qT11.oracle.get) { (s, dir) =>
    val docs = Tables.load(s, dir, "documents")
    val terms = Seq("data", "table", "join")
    val idx = RunScope.scratchDir("graft_bm25idx")
    graft.operators.TextIndex.build(docs, "doc_id", "text", idx)
    val served = graft.operators.TextIndex.scoreFromIndex(s, idx, terms)
    require(graft.sources.Layout.hasPartitionFilter(served, "bucket"),
      "q_t20: the query's bucket list must reach the postings scan as a PartitionFilter")
    val fresh = graft.operators.Bm25.score(docs, "doc_id", "text", terms)
      .select(col("doc_id"), col("n_terms_matched").as("__nf"), col("bm25").as("__bf"))
    val disagree = served.join(fresh, Seq("doc_id"), "full_outer")
      .where(
        col("__nf").isNull || col("n_terms_matched").isNull ||
          col("__nf") =!= col("n_terms_matched") ||
          abs(col("__bf") - col("bm25")) > 1e-9)
    require(disagree.isEmpty,
      "q_t20: index-served scores must equal the fresh corpus-scan scores")
    served.orderBy("doc_id")
  }

  // Incremental BM25 index maintenance (TextIndex.appendBatch): docs
  // < 400 are indexed once; the 400+ batch folds in WITHOUT a corpus
  // rescan — postings append into their term-hash bucket directories and
  // the one-row stats fold by exact sufficient statistics (counts and
  // integer-valued length sums, one division at the end). The oracle is
  // the full-corpus BM25 scan (q_t20's), so appended-then-served must
  // reproduce the from-scratch answer bit-for-bit; the in-plan require
  // keeps the q_t20 directory-pruning guarantee on the appended index.
  private val qT21 = Q(
    "q_t21_bm25_append",
    qT11.oracle.get) { (s, dir) =>
    val docs = Tables.load(s, dir, "documents")
    val terms = Seq("data", "table", "join")
    val idx = RunScope.scratchDir("graft_bm25app")
    graft.operators.TextIndex.build(docs.where(col("doc_id") < 400), "doc_id", "text", idx)
    graft.operators.TextIndex.appendBatch(
      docs.where(col("doc_id") >= 400), "doc_id", "text", idx)
    val served = graft.operators.TextIndex.scoreFromIndex(s, idx, terms)
    require(graft.sources.Layout.hasPartitionFilter(served, "bucket"),
      "q_t21: the appended index must still prune to the query's bucket directories")
    served.orderBy("doc_id")
  }

  // Zipf power-law fit (TokenStats.zipfFit): OLS of ln(freq) on ln(rank)
  // over the top-200 corpus terms — the corpus-health fingerprint
  // (natural language ≈ slope −1; boilerplate flattens, spam steepens).
  // Rank ties break on (freq DESC, term ASC) in both engines; the OLS
  // moments replay q_e21's guarded-projection discipline in SQL.
  private val qT19 = Q(
    "q_t19_zipf_fit",
    """WITH t AS (
      |  SELECT CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
      |              ELSE string_split_regex(lower(trim(text)), '\s+') END AS tk
      |  FROM documents),
      |terms AS (SELECT unnest(tk) AS term FROM t),
      |f AS (SELECT term, count(*) AS freq FROM terms GROUP BY 1),
      |r AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, term ASC) AS rank
      |      FROM f),
      |p AS (SELECT ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(freq AS DOUBLE)) AS y
      |      FROM r WHERE rank <= 200),
      |m AS (SELECT CAST(count(*) AS INT) AS n_terms,
      |             covar_samp(x, y) AS cov, var_samp(x) AS vx, var_samp(y) AS vy,
      |             avg(x) AS mx, avg(y) AS my
      |      FROM p)
      |SELECT n_terms,
      |       CASE WHEN vx > 0 THEN cov / vx END AS slope,
      |       CASE WHEN vx > 0 THEN my - cov / vx * mx END AS intercept,
      |       CASE WHEN vx > 0 AND vy > 0 THEN cov * cov / (vx * vy) END AS r2
      |FROM m""".stripMargin) { (s, dir) =>
    graft.operators.TokenStats.zipfFit(
      Tables.load(s, dir, "documents"), "text", topN = 200)
  }

  /** The BPE training unroll as oracle CTEs (margin text, interpolated
    * before stripMargin): the body of `toks` (every word occurrence),
    * `words` with their counts, `s0` (one symbol per character), then
    * `rounds` [[bpeRound]]s.
    */
  private[queries] def bpeTrainSql(rounds: Int): String =
    s"""  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
       |  FROM documents WHERE trim(text) <> ''),
       |words AS (SELECT w, count(*) AS wc FROM toks GROUP BY w),
       |s0 AS (
       |  SELECT w, wc, CAST(ps.pos AS INT) AS pos, ps.sym AS sym
       |  FROM (SELECT w, wc, unnest(list_transform(range(len(w)),
       |               i -> {'pos': i + 1, 'sym': w[i+1:i+1]})) AS ps
       |        FROM words)),
       |${(1 to rounds).map(bpeRound).mkString(",\n")}"""

  /** One BPE training round as oracle CTEs (the q_v14 unroll discipline
    * brought to tokenizer training): pair-count over s{k−1} → total-order
    * argmax → leftmost-greedy application (islands of consecutive match
    * positions keep even in-run offsets) → re-packed s{k}. The Scala
    * operator runs the identical recurrence ([[graft.operators.Bpe]]).
    */
  private[queries] def bpeRound(k: Int): String = {
    val (s, n, cnt, top, sel, s2) =
      (s"s${k - 1}", s"n$k", s"cnt$k", s"top$k", s"sel$k", s"s$k")
    // every stage MATERIALIZED: the chain references each previous frame
    // several times, and DuckDB's default CTE inlining makes an unrolled
    // k-round oracle exponential in k (3 rounds ran, 6 rounds ran for
    // half an hour before materialization was added)
    s"""$n AS MATERIALIZED (SELECT w, wc, pos, sym, lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt FROM $s),
       |$cnt AS (SELECT sym AS a, nxt AS b, sum(wc) AS c FROM $n WHERE nxt IS NOT NULL GROUP BY 1, 2),
       |$top AS MATERIALIZED (SELECT a, b, c FROM $cnt ORDER BY c DESC, a, b LIMIT 1),
       |$sel AS MATERIALIZED (
       |  SELECT mw, mp FROM (
       |    SELECT mw, mp, row_number() OVER (PARTITION BY mw, mp - rn ORDER BY mp) - 1 AS idx
       |    FROM (SELECT x.w AS mw, x.pos AS mp,
       |                 row_number() OVER (PARTITION BY x.w ORDER BY x.pos) AS rn
       |          FROM $n x JOIN $top t ON x.sym = t.a AND x.nxt = t.b))
       |  WHERE idx % 2 = 0),
       |$s2 AS MATERIALIZED (
       |  SELECT w, wc, CAST(row_number() OVER (PARTITION BY w ORDER BY pos) AS INT) AS pos, sym FROM (
       |    SELECT s.w, s.wc, s.pos,
       |           CASE WHEN st.mp IS NOT NULL THEN (SELECT a || b FROM $top) ELSE s.sym END AS sym
       |    FROM $s s
       |    LEFT JOIN $sel st ON st.mw = s.w AND st.mp = s.pos
       |    LEFT JOIN $sel dr ON dr.mw = s.w AND dr.mp + 1 = s.pos
       |    WHERE dr.mp IS NULL))""".stripMargin
  }

  // BPE tokenizer training (operators.Bpe.learnMerges): 3 merge rounds
  // over the corpus vocabulary, each round's argmax pair adopted under
  // the total order (count DESC, left, right) and applied leftmost-greedy
  // before the next count — so rounds 2–3 gate the APPLICATION logic
  // (islands/parity), not just pair counting. The oracle unrolls all
  // three rounds as CTE stages over the identical char-level symbol
  // frame; exact integer pair counts make the argmax engine-stable.
  private val qT22 = Q(
    "q_t22_bpe_merges",
    s"""WITH toks AS (
       |${bpeTrainSql(3)}
       |SELECT CAST(1 AS INT) AS round, a AS merge_left, b AS merge_right,
       |       CAST(c AS BIGINT) AS pair_count FROM top1
       |UNION ALL SELECT 2, a, b, CAST(c AS BIGINT) FROM top2
       |UNION ALL SELECT 3, a, b, CAST(c AS BIGINT) FROM top3
       |ORDER BY round""".stripMargin) { (s, dir) =>
    graft.operators.Bpe
      .learnMerges(Tables.load(s, dir, "documents"), "text", rounds = 3)
      .orderBy("round")
  }

  // Tokenizer APPLICATION (operators.Bpe.compressionStats): the corpus
  // re-tokenized under the 3 learned merges, summarized as the
  // compression numbers a vocabulary sweep reads. The oracle reuses the
  // full q_t22 training unroll and reads the FINAL symbol frame s3 — so
  // this gates the applied segmentation itself, word by word, not just
  // the merge table. Integer sums throughout; two divisions at the end.
  private val qT23 = Q(
    "q_t23_bpe_compression",
    s"""WITH toks AS (
       |${bpeTrainSql(3)},
       |pw AS (SELECT w, any_value(wc) AS wc, count(*) AS n_syms FROM s3 GROUP BY w),
       |one AS (SELECT CAST(sum(wc) AS BIGINT) AS total_words,
       |               CAST(sum(wc * len(w)) AS BIGINT) AS total_chars,
       |               CAST(sum(wc * n_syms) AS BIGINT) AS total_tokens FROM pw),
       |v AS (SELECT CAST(count(DISTINCT sym) AS BIGINT) AS vocab_symbols FROM s3)
       |SELECT CAST(3 AS INT) AS n_merges, total_words, total_chars, total_tokens,
       |       vocab_symbols,
       |       CAST(total_chars AS DOUBLE) / total_tokens AS chars_per_token,
       |       CAST(total_tokens AS DOUBLE) / total_words AS tokens_per_word
       |FROM one, v""".stripMargin) { (s, dir) =>
    graft.operators.Bpe
      .compressionStats(Tables.load(s, dir, "documents"), "text", rounds = 3)
  }

  // BATCHED BPE merge learning (operators.Bpe.learnMergesBatched): up
  // to 3 provably-non-interacting merges per driver round-trip — the
  // production-vocabulary path (sequential = one Spark job per merge;
  // batching divides the round-trips by the achieved batch width). The
  // oracle is the SEQUENTIAL algorithm, six rounds unrolled with the
  // exact q_t22 CTE stages — so the gate asserts the batched result is
  // BIT-IDENTICAL to sequential on the real corpus, which is precisely
  // the operator's correctness claim (the prefix-selection rules make
  // equality a theorem, not a hope; the interacting/self-pair fallback
  // cases are spec-gated on adversarial corpora).
  private val qT24 = Q(
    "q_t24_bpe_batched",
    s"""WITH toks AS (
       |${bpeTrainSql(6)}
       |${(1 to 6).map(k =>
            s"SELECT CAST($k AS INT) AS round, a AS merge_left, b AS merge_right, " +
              s"CAST(c AS BIGINT) AS pair_count FROM top$k")
            .mkString("\nUNION ALL ")}
       |ORDER BY round""".stripMargin) { (s, dir) =>
    graft.operators.Bpe
      .learnMergesBatched(Tables.load(s, dir, "documents"), "text",
        totalMerges = 6, batchSize = 3)
      .select("round", "merge_left", "merge_right", "pair_count")
      .orderBy("round")
  }

  // Language-ID CONFUSION MATRIX — the evaluation view of q_t3's
  // heuristic against the declared `lang` column: one row per
  // (declared, predicted) cell with its count, the cell's share of the
  // declared class (recall contribution — the diagonal cell IS the
  // class recall) and of the predicted class (precision contribution).
  // The classifier a pipeline routes corpora with needs this table, not
  // an accuracy scalar. Shape: the q_t3 scan → ONE hash aggregate →
  // two window sums over the ≤|langs|²-row cell frame.
  private val qT25 = Q(
    "q_t25_langid_confusion",
    raw"""WITH t AS (
      |$langStopwordHitsSql,
      |p AS (
      |  SELECT lang AS lang_declared,
      |         CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
      |              WHEN greatest(de, en, es, fr) = 0 THEN 'und'
      |              WHEN fr >= de AND fr >= en AND fr >= es THEN 'fr'
      |              WHEN es >= de AND es >= en THEN 'es'
      |              WHEN en >= de THEN 'en'
      |              ELSE 'de' END AS lang_predicted
      |  FROM s),
      |cells AS (
      |  SELECT lang_declared, lang_predicted, CAST(count(*) AS BIGINT) AS n
      |  FROM p GROUP BY 1, 2)
      |SELECT lang_declared, lang_predicted, n,
      |       CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY lang_declared)
      |         AS declared_share,
      |       CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY lang_predicted)
      |         AS predicted_share
      |FROM cells
      |ORDER BY lang_declared, lang_predicted""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val cells = Tables.spread(Tables.load(s, dir, "documents"))
      .select(
        col("lang").as("lang_declared"),
        langId(col("text")).as("lang_predicted"))
      .groupBy("lang_declared", "lang_predicted")
      .agg(count(lit(1)).cast("bigint").as("n"))
    cells
      .withColumn("declared_share",
        col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy("lang_declared")))
      .withColumn("predicted_share",
        col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy("lang_predicted")))
      .orderBy("lang_declared", "lang_predicted")
  }

  // Heaps'-law vocabulary-growth fit (TokenStats.heapsFit): V(n) ≈ K·n^β
  // over 10 hash-ordered corpus prefixes — the growth dial complementing
  // q_t19's rank law (β → 0: the crawl re-reads itself; β → 1: unbounded
  // junk vocabulary). The prefix trick makes it ONE vocabulary-sized
  // aggregate: V(prefix ≤ i) counts terms whose FIRST-occurrence bucket
  // ≤ i, so no per-prefix distinct-count rescans. Both engines replay
  // the identical md5 bucket assignment, cumulation, and OLS moments.
  private val qT26 = Q(
    "q_t26_heaps_fit",
    """WITH t AS (
      |  SELECT doc_id,
      |         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
      |              ELSE string_split_regex(lower(trim(text)), '\s+') END AS tk
      |  FROM documents),
      |toks AS (
      |  SELECT CAST(floor((('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':heaps'), 1, 8))::BIGINT
      |                     / 4294967296.0) * 10) AS INT) AS b,
      |         unnest(tk) AS term
      |  FROM t),
      |pb AS (SELECT b, count(*) AS nt FROM toks GROUP BY 1),
      |fs AS (SELECT term, min(b) AS fb FROM toks GROUP BY 1),
      |nv AS (SELECT fb, count(*) AS nv FROM fs GROUP BY 1),
      |cum AS (SELECT pb.b,
      |               CAST(sum(pb.nt) OVER (ORDER BY pb.b) AS BIGINT) AS ct,
      |               CAST(sum(coalesce(nv.nv, 0)) OVER (ORDER BY pb.b) AS BIGINT) AS cv
      |        FROM pb LEFT JOIN nv ON pb.b = nv.fb),
      |p AS (SELECT ln(CAST(ct AS DOUBLE)) AS x, ln(CAST(cv AS DOUBLE)) AS y, ct, cv
      |      FROM cum WHERE ct > 0 AND cv > 0),
      |q AS (SELECT CAST(round(x, 9) AS DECIMAL(12,9)) AS xd,
      |             CAST(round(y, 9) AS DECIMAL(12,9)) AS yd, ct, cv FROM p),
      |m AS (SELECT CAST(count(*) AS INT) AS n_prefixes,
      |             max(ct) AS total_tokens, max(cv) AS vocabulary,
      |             sum(xd) AS sx, sum(yd) AS sy, sum(xd * yd) AS sxy,
      |             sum(xd * xd) AS sxx, sum(yd * yd) AS syy,
      |             max(xd) > min(xd) AS varx, max(yd) > min(yd) AS vary
      |      FROM q),
      |mm AS (SELECT n_prefixes, total_tokens, vocabulary, varx, vary,
      |         CAST(CAST(n_prefixes AS DECIMAL(4,0)) * CAST(sxy AS DECIMAL(25,18))
      |              - CAST(sx AS DECIMAL(15,9)) * CAST(sy AS DECIMAL(15,9)) AS DOUBLE) AS ncov,
      |         CAST(CAST(n_prefixes AS DECIMAL(4,0)) * CAST(sxx AS DECIMAL(25,18))
      |              - CAST(sx AS DECIMAL(15,9)) * CAST(sx AS DECIMAL(15,9)) AS DOUBLE) AS nvx,
      |         CAST(CAST(n_prefixes AS DECIMAL(4,0)) * CAST(syy AS DECIMAL(25,18))
      |              - CAST(sy AS DECIMAL(15,9)) * CAST(sy AS DECIMAL(15,9)) AS DOUBLE) AS nvy,
      |         CAST(CAST(sx AS DECIMAL(15,9)) AS DOUBLE) / CAST(n_prefixes AS DOUBLE) AS mx,
      |         CAST(CAST(sy AS DECIMAL(15,9)) AS DOUBLE) / CAST(n_prefixes AS DOUBLE) AS my
      |       FROM m)
      |SELECT n_prefixes, total_tokens, vocabulary,
      |       CASE WHEN varx THEN ncov / nvx END AS beta,
      |       CASE WHEN varx THEN exp(my - ncov / nvx * mx) END AS k,
      |       CASE WHEN varx AND vary THEN ncov * ncov / (nvx * nvy) END AS r2
      |FROM mm""".stripMargin) { (s, dir) =>
    graft.operators.TokenStats.heapsFit(
      Tables.load(s, dir, "documents"), "doc_id", "text", numPrefixes = 10)
  }

  // TextRank keyword extraction (TextRank.keywords, Mihalcea & Tarau
  // 2004): PageRank over the token co-occurrence graph — recursive
  // importance no frequency count expresses. Edges built row-locally
  // (token array zipped with its own tail — no window, no per-doc
  // shuffle), ONE hash aggregate to the vocabulary²-bounded edge
  // frame, then the SAME weighted PageRank q_g1 gates, so the oracle
  // reuses q_g1's 3-iteration unroll verbatim (GraphQueries.iter3)
  // with string nodes. Adjacency applies to the length-FILTERED
  // sequence (the original's POS-filter posture, deterministic here).
  private val qT27 = Q(
    "q_t27_textrank_keywords",
    s"""WITH dtoks AS (
      |  SELECT CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
      |              ELSE string_split_regex(lower(trim(text)), '\\s+') END AS tk
      |  FROM documents),
      |ftoks AS (SELECT list_filter(tk, t -> len(t) >= 4) AS tk FROM dtoks),
      |pairs AS (
      |  SELECT least(tk[i], tk[i + 1]) AS src, greatest(tk[i], tk[i + 1]) AS dst
      |  FROM (SELECT tk, unnest(range(1, len(tk))) AS i
      |        FROM ftoks WHERE len(tk) >= 2)
      |  WHERE tk[i] <> tk[i + 1]),
      |und AS (SELECT src, dst, CAST(count(*) AS DOUBLE) AS w
      |        FROM pairs GROUP BY 1, 2),
      |e AS (SELECT src, dst, w FROM und
      |      UNION ALL SELECT dst, src, w FROM und),
      |nodes AS (SELECT DISTINCT node FROM
      |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
      |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
      |ow AS (SELECT src, sum(w) AS out_w FROM e GROUP BY 1),
      |p AS (SELECT src, dst, w / out_w AS p FROM e JOIN ow USING (src)),
      |r0 AS (SELECT node, 1.0 / n AS rank FROM nodes CROSS JOIN nn),
      |${GraphQueries.iter3}
      |SELECT node AS token, round(rank, 6) AS rank
      |FROM r3
      |ORDER BY rank DESC, token LIMIT 20""".stripMargin) { (s, dir) =>
    graft.operators.TextRank.keywords(
      Tables.load(s, dir, "documents"), "text",
      minTokenLen = 4, iterations = 3, damping = 0.85, topK = 20)
  }

  // Dirichlet-smoothed query-likelihood retrieval
  // (QueryLikelihood.score, Zhai–Lafferty 2001): the probabilistic-LM
  // ranking next to BM25 (q_t11) — documents scored by the query's
  // log-likelihood under their μ-smoothed unigram LM. Query terms are
  // plan literals, so corpus tokens that aren't query terms never
  // shuffle (scan-side isin before the one (doc,term) aggregate);
  // per-term log contributions quantized to DECIMAL(18,9) so the
  // per-doc sum is exact in both engines.
  private val qT28 = Q(
    "q_t28_query_likelihood",
    """WITH t AS (
      |  SELECT doc_id,
      |         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
      |              ELSE string_split_regex(lower(trim(text)), '\s+') END AS tk
      |  FROM documents),
      |tok AS (SELECT doc_id, unnest(tk) AS tt FROM t),
      |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
      |ct AS (SELECT count(*) AS ct FROM tok),
      |cf AS (SELECT tt AS term, count(*) AS cf FROM tok
      |       WHERE tt IN ('window', 'scan', 'merge') GROUP BY 1),
      |tf AS (SELECT doc_id, tt AS term, count(*) AS tf FROM tok
      |       WHERE tt IN ('window', 'scan', 'merge') GROUP BY 1, 2),
      |grid AS (SELECT dl.doc_id, dl.dl, cf.term, cf.cf, ct.ct
      |         FROM dl CROSS JOIN cf CROSS JOIN ct),
      |sc AS (SELECT doc_id,
      |         sum(CAST(round(ln(
      |             (CAST(coalesce(tf.tf, 0) AS DOUBLE)
      |                + 50.0 * (CAST(cf AS DOUBLE) / CAST(ct AS DOUBLE)))
      |             / (CAST(dl AS DOUBLE) + 50.0)), 9) AS DECIMAL(18,9))) AS s
      |       FROM grid LEFT JOIN tf USING (doc_id, term)
      |       GROUP BY 1)
      |SELECT doc_id, round(CAST(s AS DOUBLE), 6) AS score
      |FROM sc ORDER BY score DESC, doc_id LIMIT 20""".stripMargin) { (s, dir) =>
    graft.operators.QueryLikelihood.score(
      Tables.load(s, dir, "documents"), "doc_id", "text",
      Seq("window", "scan", "merge"), mu = 50.0, topK = 20)
  }

  // PII redaction (PiiRedaction.redact): emails/SSNs/phones/IPv4s
  // counted and replaced by typed placeholders in ONE fixed sequential
  // order (each pattern counts against the CURRENT text, so a consumed
  // SSN never re-counts as a phone). The oracle's rewrite chain is
  // GENERATED from the same pattern list the engine folds over —
  // patterns stay in the Java-regex ∩ RE2 subset, so counts and the
  // final md5 of the redacted text match byte-for-byte. The synthetic
  // corpus has no PII, so three planted probe docs exercise every
  // pattern class and the overlap rules.
  private val qT29 = Q(
    "q_t29_pii_redaction", {
      val probeSql =
        """SELECT CAST(-1 AS BIGINT) AS doc_id,
          |       'mail john.doe@example.com and jane@test.org now' AS text
          |UNION ALL SELECT CAST(-2 AS BIGINT),
          |       'ssn 123-45-6789 phone 555.123.4567 ip 10.0.0.1'
          |UNION ALL SELECT CAST(-3 AS BIGINT),
          |       'edge 999-88-7777 at 192.168.001.1 end'""".stripMargin
      val steps = graft.operators.PiiRedaction.patterns.zipWithIndex.map {
        case ((name, pat, repl), i) =>
          val carry = graft.operators.PiiRedaction.patterns.take(i)
            .map(p => p._1).map(n => s"$n, ").mkString
          s"""r${i + 1} AS (
             |  SELECT doc_id, $carry
             |         CAST(len(regexp_extract_all(cur, '$pat')) AS INT) AS $name,
             |         regexp_replace(cur, '$pat', '$repl', 'g') AS cur
             |  FROM r$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH d AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL $probeSql),
         |r0 AS (SELECT doc_id, coalesce(text, '') AS cur FROM d),
         |$steps
         |SELECT doc_id, n_emails, n_ssns, n_phones, n_ips,
         |       md5(cur) AS redacted_md5
         |FROM r4 ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
    val probes = Seq(
      (-1L, "mail john.doe@example.com and jane@test.org now"),
      (-2L, "ssn 123-45-6789 phone 555.123.4567 ip 10.0.0.1"),
      (-3L, "edge 999-88-7777 at 192.168.001.1 end"))
    val sp = s
    import sp.implicits._
    val corpus = Tables.load(s, dir, "documents").select("doc_id", "text")
      .unionByName(probes.toDF("doc_id", "text"))
    graft.operators.PiiRedaction.redact(corpus, "doc_id", "text")
      .select(col("doc_id"), col("n_emails"), col("n_ssns"),
        col("n_phones"), col("n_ips"), md5(col("redacted")).as("redacted_md5"))
      .orderBy("doc_id")
  }

  // Windowed co-occurrence PMI (Cooccurrence.pmiPairs, Church–Hanks
  // 1990): unordered token pairs within 3 positions, exact corpus
  // counts, PMI rounded to 6 decimals (ln differs in the last ulp
  // across libm implementations — the q_e19/q_v19 rounding rule). Pair
  // generation is map-only (scan-side HOF, no positional self-join);
  // the oracle replays pair windows with a range-product, the same
  // canonicalization, and the identical double association order.
  private val qT30 = Q(
    "q_t30_pmi_cooccurrence",
    raw"""WITH t AS (
      |  SELECT doc_id,
      |         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
      |              ELSE string_split_regex(lower(trim(text)), '\s+') END AS tk
      |  FROM documents),
      |pr AS (
      |  SELECT least(tk[u.i + 1], tk[u.i + d.d + 1]) AS tok_a,
      |         greatest(tk[u.i + 1], tk[u.i + d.d + 1]) AS tok_b
      |  FROM t, unnest(range(len(tk) - 1)) AS u(i), unnest(range(1, 4)) AS d(d)
      |  WHERE u.i + d.d <= len(tk) - 1),
      |pc AS (
      |  SELECT tok_a, tok_b, CAST(count(*) AS BIGINT) AS c_ab
      |  FROM pr GROUP BY 1, 2 HAVING count(*) >= 5),
      |ug AS (
      |  SELECT u.tok AS tok, CAST(count(*) AS BIGINT) AS c
      |  FROM t, unnest(tk) AS u(tok) GROUP BY 1),
      |${GraphQueries.pmiScoresSql}""".stripMargin) { (s, dir) =>
    graft.operators.Cooccurrence
      .pmiPairs(Tables.load(s, dir, "documents"), "text",
        window = 3, minPairCount = 5L)
      .orderBy("tok_a", "tok_b")
  }

  // Rocchio pseudo-relevance feedback (operators.Rocchio, Rocchio
  // 1971): q_t11's BM25 query expanded by the strongest terms of its
  // own top-10 — the label-free retrieval-quality lever. Deterministic
  // by construction: the pseudo-relevant cut ranks on (bm25 ROUNDED to
  // 6, doc_id) — the q_e19 rounded-argmax rule — and expansion terms on
  // exact integer counts; the rescore replays the BM25 expression with
  // per-term α/β weights, its postings filter a broadcast join against
  // the ≤|Q|+E-row term frame (the term set is runtime-derived, so the
  // isin-literal path is structurally unavailable).
  private val qT31 = Q(
    "q_t31_rocchio_prf",
    s"""WITH t AS (
      |$docTokensSql
      |stats AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
      |         CAST(sum(len(tk)) AS DOUBLE) / count(*) AS avgdl
      |  FROM t),
      |tf0 AS (
      |  SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
      |  FROM (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl, unnest(tk) AS term FROM t)
      |  WHERE term IN ('data', 'table', 'join')
      |  GROUP BY doc_id, dl, term),
      |df0 AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf0 GROUP BY term),
      |base AS (
      |  SELECT tf0.doc_id,
      |         sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) *
      |             (tf * (1.2 + 1) / (tf + 1.2 * ((1 - 0.75) + 0.75 * dl / avgdl)))) AS bm25
      |  FROM tf0 JOIN df0 USING (term) CROSS JOIN stats
      |  GROUP BY tf0.doc_id),
      |top AS (SELECT doc_id FROM base ORDER BY round(bm25, 6) DESC, doc_id LIMIT 10),
      |exp AS (
      |  SELECT term, count(*) AS c
      |  FROM (SELECT unnest(tk) AS term FROM t
      |        WHERE doc_id IN (SELECT doc_id FROM top))
      |  WHERE term NOT IN ('data', 'table', 'join')
      |  GROUP BY 1 ORDER BY c DESC, term LIMIT 5),
      |w AS (
      |  SELECT term, CAST(0.5 AS DOUBLE) AS w FROM exp
      |  UNION ALL
      |  SELECT unnest(['data', 'table', 'join']), CAST(1.0 AS DOUBLE)),
      |tf AS (
      |  SELECT doc_id, dl, term, w, CAST(count(*) AS DOUBLE) AS tf
      |  FROM (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl, unnest(tk) AS term FROM t)
      |  JOIN w USING (term)
      |  GROUP BY doc_id, dl, term, w),
      |dfx AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term)
      |SELECT tf.doc_id,
      |       CAST(count(*) AS INT) AS n_terms_matched,
      |       round(sum(w * ln(1 + (n_docs - df + 0.5) / (df + 0.5)) *
      |                 (tf * (1.2 + 1) / (tf + 1.2 * ((1 - 0.75) + 0.75 * dl / avgdl)))), 6)
      |         AS rocchio
      |FROM tf JOIN dfx USING (term) CROSS JOIN stats
      |GROUP BY tf.doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.operators.Rocchio
      .prfScore(Tables.load(s, dir, "documents"), "doc_id", "text",
        Seq("data", "table", "join"), topR = 10, expandE = 5)
      .orderBy("doc_id")
  }

  // Dictionary (blocklist) annotation via ONE Aho-Corasick pass per doc
  // (expressions.MultiMatch): every (document, banned-phrase) hit with
  // its first offset. The dictionary deliberately plants a pattern that
  // is a SUFFIX of another ("agg" inside "fast agg") — the failure-link
  // outputs must surface both — plus an absent phrase (never emits).
  // The oracle rescans per pattern with contains(); the engine walks the
  // text once for the whole dictionary — O(text) vs O(patterns x text),
  // the 100 TB difference. Uncapped: scan-side, scales with SF.
  private[queries] val blockPats = Seq(
    "fast agg", "order join", "customer", "quantum flux", "agg",
    "join sm", "key fast")
  private[queries] val qT32 = Q(
    "q_t32_blocklist_annotate",
    """WITH pats(pid, p) AS (
      |  SELECT * FROM (VALUES
      |    (0, 'fast agg'), (1, 'order join'), (2, 'customer'),
      |    (3, 'quantum flux'), (4, 'agg'), (5, 'join sm'),
      |    (6, 'key fast')) t(pid, p))
      |SELECT CAST(d.doc_id AS BIGINT) AS doc_id, CAST(p.pid AS INT) AS pid,
      |       p.p AS pattern, CAST(instr(d.text, p.p) AS BIGINT) AS first_off
      |FROM documents d JOIN pats p ON contains(d.text, p.p)
      |ORDER BY doc_id, pid""".stripMargin) { (s, dir) =>
    graft.operators.Blocklist
      .annotate(Tables.load(s, dir, "documents"), "doc_id", "text", blockPats)
      .orderBy("doc_id", "pid")
  }

  // Weighted lexicon scoring (the toxicity/sentiment-lexicon pass): one
  // Aho-Corasick walk per document yields per-pattern OCCURRENCE counts
  // (overlapping included — every match end reports), folded against the
  // weight array inline. Weights are dyadic rationals (halves/quarters)
  // so count·weight sums are EXACT doubles — partition- and fold-order-
  // proof with no rounding rule needed. The oracle counts occurrences
  // positionally (substr at every offset) — the naive O(len·patterns)
  // algorithm replayed against the single-pass automaton.
  private val qT33 = Q(
    "q_t33_lexicon_score",
    """WITH pats(pid, p, w) AS (
      |  SELECT * FROM (VALUES
      |    (0, 'fast agg', -2.0), (1, 'order join', 1.5),
      |    (2, 'customer', 0.5), (3, 'agg', -0.25),
      |    (4, 'quantum flux', 8.0)) t(pid, p, w)),
      |occ AS (
      |  SELECT d.doc_id, pt.pid, pt.w, count(*) AS c
      |  FROM documents d, pats pt,
      |       unnest(range(1, length(d.text) - length(pt.p) + 2)) AS u(pos)
      |  WHERE substr(d.text, CAST(u.pos AS INT), length(pt.p)) = pt.p
      |  GROUP BY 1, 2, 3)
      |SELECT d.doc_id,
      |       CAST(coalesce(sum(o.c), 0) AS BIGINT) AS n_hits,
      |       CAST(coalesce(sum(o.c * o.w), 0.0) AS DOUBLE) AS score
      |FROM documents d LEFT JOIN occ o USING (doc_id)
      |GROUP BY d.doc_id
      |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    graft.operators.Blocklist
      .lexiconScore(Tables.load(s, dir, "documents"), "doc_id", "text",
        Seq("fast agg" -> -2.0, "order join" -> 1.5, "customer" -> 0.5,
          "agg" -> -0.25, "quantum flux" -> 8.0))
      .orderBy("doc_id")
  }

  /** In-plan tag-soup corpus for the HTML gates: every document wrapped
    * in a full page with planted chrome (title/nav/footer all links),
    * a script whose STRING contains markup, a comment, entities
    * (`&amp; &quot; &nbsp; &#39;`), a too-short block, a periodic
    * link-heavy paragraph (doc_id % 7) and a periodic MALFORMED unclosed
    * tag (doc_id % 9). Spark side of the construction; the oracle builds
    * the identical string with `||`.
    */
  private[queries] def htmlCorpusOf(docs: DataFrame): DataFrame = {
    val did = col("doc_id").cast("string")
    // r17 opt: spread inside the shared corpus constructor — the heavy
    // extract/hygiene chain downstream is scan-side and inherits this
    // partitioning, so one spread here parallelizes every caller
    graft.Tables.spread(docs).select(col("doc_id"), concat(
      lit("<html><head><title>Doc "), did,
      lit("</title><style>p{color:red}</style></head><body>"),
      lit("<script type=\"text/javascript\">var x = \"<p>nope</p>\";</script>"),
      lit("<!-- build "), did, lit(" -->"),
      lit("<nav><a href=\"/\">Home</a> <a href=\"/about\">About&nbsp;Us</a> " +
        "<a href=\"/more\">Read &amp; more</a></nav>"),
      lit("<h1>Title &quot;"), did, lit("&quot;</h1>"),
      lit("<p>"), expr("substring(coalesce(text, ''), 1, 220)"), lit("</p>"),
      lit("<div>"), expr("substring(coalesce(text, ''), 221)"),
      // hygiene dirt: cp1252 mojibake, a BEL control char, an NFD pair
      // — inert to the extract stage (md5-pinned), food for q_f15's
      // downstream hygiene pass
      lit(" caff\u00C3\u00A9 \u0007ctl a\u0300grave"),
      lit(" tail &#39;quoted&#39;</div><p>tiny</p>"),
      when(col("doc_id") % 7 === 0,
        concat(lit("<p>Linked para: <a href=\"/x\">"),
          expr("substring(coalesce(text, ''), 1, 40)"),
          lit("</a> plus trailing words here</p>"))).otherwise(lit("")),
      // a verbatim REPEAT of the first paragraph: survives extraction as
      // a duplicate line for q_f15's line-dedup stage
      lit("<p>"), expr("substring(coalesce(text, ''), 1, 220)"), lit("</p>"),
      when(col("doc_id") % 9 === 0, lit("<malformed attr=")).otherwise(lit("")),
      lit("<footer><a href=\"/terms\">Terms of Service</a> | " +
        "<a href=\"/privacy\">Privacy</a></footer></body></html>"))
      .as("html"))
  }

  /** The oracle's identical page construction (DuckDB `||` form). */
  private[queries] val htmlCorpusSql: String =
    """sel AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
      |h AS (
      |  SELECT doc_id,
      |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
      |    '</title><style>p{color:red}</style></head><body>' ||
      |    '<script type="text/javascript">var x = "<p>nope</p>";</script>' ||
      |    '<!-- build ' || CAST(doc_id AS VARCHAR) || ' -->' ||
      |    '<nav><a href="/">Home</a> <a href="/about">About&nbsp;Us</a> ' ||
      |    '<a href="/more">Read &amp; more</a></nav>' ||
      |    '<h1>Title &quot;' || CAST(doc_id AS VARCHAR) || '&quot;</h1>' ||
      |    '<p>' || substr(text, 1, 220) || '</p>' ||
      |    '<div>' || substr(text, 221) ||
      |    ' caffÃ© ' || chr(7) || 'ctl a' || chr(768) || 'grave' ||
      |    ' tail &#39;quoted&#39;</div><p>tiny</p>' ||
      |    CASE WHEN doc_id % 7 = 0
      |         THEN '<p>Linked para: <a href="/x">' || substr(text, 1, 40) ||
      |              '</a> plus trailing words here</p>' ELSE '' END ||
      |    '<p>' || substr(text, 1, 220) || '</p>' ||
      |    CASE WHEN doc_id % 9 = 0 THEN '<malformed attr=' ELSE '' END ||
      |    '<footer><a href="/terms">Terms of Service</a> | ' ||
      |    '<a href="/privacy">Privacy</a></footer></body></html>' AS html
      |  FROM sel)""".stripMargin

  /** The oracle's replay of [[graft.operators.HtmlExtract]].textify +
    * per-block classification, as CTEs from a table `h(doc_id, html)`:
    * the same RE2 chain (comments → script → style → anchor markers →
    * block delimiters → tag strip → entity decode), then split on U+0001
    * and score each block. DuckDB's regexp_replace needs the explicit
    * 'g' flag; replacement backrefs are `\1` (Java: `$1`) — the engines
    * differ ONLY in that spelling.
    */
  private[queries] val htmlBlocksSql: String =
    """t1 AS (SELECT doc_id,
      |         translate(html, chr(1)||chr(2)||chr(3), '') AS s FROM h),
      |t2 AS (SELECT doc_id,
      |         regexp_replace(s, '(?s)<!--.*?-->', ' ', 'g') AS s FROM t1),
      |t3 AS (SELECT doc_id, regexp_replace(s,
      |         '(?is)<script\b[^>]*>.*?</script>', ' ', 'g') AS s FROM t2),
      |t4 AS (SELECT doc_id, regexp_replace(s,
      |         '(?is)<style\b[^>]*>.*?</style>', ' ', 'g') AS s FROM t3),
      |t5 AS (SELECT doc_id, regexp_replace(s,
      |         '(?is)<a\b[^>]*>(.*?)</a>', chr(2)||'\1'||chr(3), 'g') AS s
      |       FROM t4),
      |t6 AS (SELECT doc_id, regexp_replace(s,
      |         '(?i)</?(?:p|div|h[1-6]|li|ul|ol|dl|dt|dd|br|hr|table|thead|tbody|tfoot|tr|td|th|section|article|header|footer|nav|aside|blockquote|pre|title|form|figure|figcaption|main|body|html|head)\b[^>]*>',
      |         chr(1), 'g') AS s FROM t5),
      |t7 AS (SELECT doc_id,
      |         regexp_replace(s, '(?s)<[^>]*>', ' ', 'g') AS s FROM t6),
      |ent AS (SELECT doc_id,
      |         replace(replace(replace(replace(replace(replace(replace(
      |         replace(replace(s,
      |           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#34;', '"'),
      |           '&apos;', ''''), '&#39;', ''''), '&nbsp;', ' '),
      |           '&#160;', ' '), '&amp;', '&') AS s FROM ent0),
      |sp AS (SELECT doc_id, string_split(s, chr(1)) AS l FROM ent),
      |blk AS (SELECT doc_id, unnest(range(1, len(l)+1)) AS i, l FROM sp),
      |b1 AS (SELECT doc_id, i - 1 AS bidx, l[i] AS raw,
      |         trim(regexp_replace(translate(l[i], chr(2)||chr(3), ''),
      |              '\s+', ' ', 'g')) AS block_text
      |       FROM blk),
      |b2 AS (SELECT * FROM b1 WHERE len(block_text) > 0),
      |b3 AS (SELECT doc_id,
      |         row_number() OVER (PARTITION BY doc_id ORDER BY bidx) - 1
      |           AS block_idx,
      |         block_text,
      |         CAST(len(block_text) AS INT) AS n_chars,
      |         CAST(len(string_split(block_text, ' ')) AS INT) AS n_words,
      |         CAST(coalesce(list_sum(list_transform(
      |           regexp_extract_all(raw, '\x02([^\x02\x03]*)\x03', 1),
      |           x -> len(trim(regexp_replace(x, '\s+', ' ', 'g'))))), 0)
      |           AS INT) AS n_link_chars
      |       FROM b2)""".stripMargin
      .replace("ent0", "t7")

  // HTML/markup boilerplate extraction (HtmlExtract.blocks — the
  // jusText/trafilatura heuristic family): tag-soup corpus built in-plan
  // (planted nav/footer chrome, script-with-markup, entities, malformed
  // unclosed tags), per-block link-density classification, everything a
  // fixed RE2 chain + pure arithmetic over per-block counts that the
  // oracle replays verbatim. Block text pinned by md5 + length (q_t10).
  private[queries] val qT34 = Q(
    "q_t34_html_extract",
    s"""WITH $htmlCorpusSql,
      |$htmlBlocksSql
      |SELECT doc_id, CAST(block_idx AS INT) AS block_idx,
      |       md5(block_text) AS block_md5, n_chars, n_words, n_link_chars,
      |       round(n_link_chars / CAST(n_chars AS DOUBLE), 6) AS link_density,
      |       CAST(CASE WHEN n_chars >= 25 AND
      |                      n_link_chars / CAST(n_chars AS DOUBLE) <= 0.33
      |                 THEN 1 ELSE 0 END AS INT) AS is_content
      |FROM b3
      |ORDER BY doc_id, block_idx""".stripMargin) { (s, dir) =>
    graft.operators.HtmlExtract
      .blocks(htmlCorpusOf(Tables.load(s, dir, "documents")), "doc_id", "html")
      .select(
        col("doc_id"),
        col("block_idx").cast("int").as("block_idx"),
        md5(col("block_text").cast("binary")).as("block_md5"),
        col("n_chars"), col("n_words"), col("n_link_chars"),
        col("link_density"),
        col("is_content").cast("int").as("is_content"))
      .orderBy("doc_id", "block_idx")
  }

  // FULL jusText block classification (HtmlExtract.blocksClassified):
  // link density AND stopword density over the same tag-soup corpus —
  // the strongest single prose signal (chrome/code carry almost no
  // function words). The oracle replays the q_t34 CTE chain plus one
  // list_filter stop count per block against the SAME embedded
  // stoplist; classes short/bad/good pinned per block.
  private val qT41 = {
    val stopsSql = graft.operators.HtmlExtract.defaultStopwords
      .map(s => s"'$s'").mkString("[", ", ", "]")
    Q(
      "q_t41_html_block_classes",
      s"""WITH $htmlCorpusSql,
        |$htmlBlocksSql
        |SELECT doc_id, CAST(block_idx AS INT) AS block_idx,
        |       md5(block_text) AS block_md5, n_chars, n_words,
        |       n_link_chars,
        |       CAST(len(list_filter(string_split(block_text, ' '),
        |            x -> list_contains($stopsSql, lower(x)))) AS INT)
        |         AS n_stop_words,
        |       round(len(list_filter(string_split(block_text, ' '),
        |            x -> list_contains($stopsSql, lower(x))))
        |            / CAST(n_words AS DOUBLE), 6) AS stop_density,
        |       CASE WHEN n_chars < 25 THEN 'short'
        |            WHEN n_link_chars / CAST(n_chars AS DOUBLE) > 0.33
        |              THEN 'bad'
        |            WHEN len(list_filter(string_split(block_text, ' '),
        |                 x -> list_contains($stopsSql, lower(x))))
        |                 / CAST(n_words AS DOUBLE) < 0.30 THEN 'bad'
        |            ELSE 'good' END AS blk_class
        |FROM b3
        |ORDER BY doc_id, block_idx""".stripMargin) { (s, dir) =>
      graft.operators.HtmlExtract
        .blocksClassified(
          htmlCorpusOf(Tables.load(s, dir, "documents")), "doc_id", "html")
        .select(
          col("doc_id"),
          col("block_idx").cast("int").as("block_idx"),
          md5(col("block_text").cast("binary")).as("block_md5"),
          col("n_chars"), col("n_words"), col("n_link_chars"),
          col("n_stop_words").cast("int").as("n_stop_words"),
          col("stop_density"), col("blk_class"))
        .orderBy("doc_id", "block_idx")
    }
  }

  // CORPUS-GLOBAL line dedup (DocRepetition.dedupLinesGlobal — the
  // cross-document half of the C4 rule): every doc carries one
  // corpus-wide banner (only the smallest (doc, idx) keeps it), one of
  // 7 shared footer classes (7 survivors), a short exempt separator
  // (everyone keeps), a text slice and a unique tail. The engine's
  // first-occurrence is a skew-proof min(struct) hash aggregate; the
  // oracle replays with the per-line window — same semantics, the
  // naive formulation.
  /** The q_t42 cross-doc planted corpus, shared with its streaming
    * twin. */
  private[queries] def globalDedupCorpusOf(docs: DataFrame): DataFrame =
    graft.Tables.spread(docs).select(
      col("doc_id"),
      concat(
        lit("SUBSCRIBE TO OUR NEWSLETTER TODAY PLEASE\n"),
        substring(coalesce(col("text"), lit("")), 1, 80), lit("\n"),
        lit("--\n"),
        lit("Copyright footer variant "), (col("doc_id") % 7).cast("string"),
        lit(" all rights reserved\n"),
        lit("tail line for doc "), col("doc_id").cast("string")).as("text"))

  /** The q_t42/q_st39 oracle, parametrized on the first-occurrence
    * TOTAL ORDER: batch semantics use (doc_id, idx); the streaming
    * twin uses ARRIVAL order ((doc_id % shards) batch index first — a
    * landing zone cannot keep a line that has not arrived yet).
    */
  private[queries] def globalDedupOracle(orderBySql: String): String =
    s"""WITH raw AS (
      |  SELECT doc_id,
      |    'SUBSCRIBE TO OUR NEWSLETTER TODAY PLEASE' || chr(10) ||
      |    substr(coalesce(text, ''), 1, 80) || chr(10) ||
      |    '--' || chr(10) ||
      |    'Copyright footer variant ' || CAST(doc_id % 7 AS VARCHAR) ||
      |    ' all rights reserved' || chr(10) ||
      |    'tail line for doc ' || CAST(doc_id AS VARCHAR) AS t
      |  FROM documents),
      |l0 AS (SELECT doc_id, string_split(t, chr(10)) AS l FROM raw),
      |l1 AS (SELECT doc_id, unnest(range(1, len(l)+1)) AS i, l FROM l0),
      |ln AS (SELECT doc_id, CAST(i AS INT) AS idx, l[CAST(i AS INT)] AS line
      |       FROM l1),
      |kp AS (SELECT *,
      |         (len(trim(line)) < 10 OR row_number() OVER (
      |            PARTITION BY line ORDER BY $orderBySql) = 1) AS keep
      |       FROM ln),
      |fin AS (SELECT doc_id,
      |          CAST(count(*) AS BIGINT) AS n_lines,
      |          CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
      |            AS n_lines_kept,
      |          string_agg(CASE WHEN keep THEN line END, chr(10)
      |                     ORDER BY idx) AS txt
      |        FROM kp GROUP BY doc_id)
      |SELECT doc_id, md5(coalesce(txt, '')) AS clean_md5,
      |       CAST(len(coalesce(txt, '')) AS INT) AS n_chars_clean,
      |       n_lines, n_lines_kept,
      |       round((n_lines - n_lines_kept) / CAST(n_lines AS DOUBLE), 6)
      |         AS dup_line_fraction
      |FROM fin ORDER BY doc_id""".stripMargin

  private val qT42 = Q(
    "q_t42_global_line_dedup",
    globalDedupOracle("doc_id, idx")) { (s, dir) =>
    graft.operators.DocRepetition
      .dedupLinesGlobal(
        globalDedupCorpusOf(Tables.load(s, dir, "documents")),
        "doc_id", "text")
      .select(
        col("doc_id"),
        md5(col("text_clean").cast("binary")).as("clean_md5"),
        col("n_chars_clean"),
        col("n_lines"), col("n_lines_kept"),
        col("dup_line_fraction"))
      .orderBy("doc_id")
  }

  // Unicode/encoding hygiene (TextHygiene.clean): planted mojibake /
  // zero-width / control / NFD suffixes by doc_id residue, then the
  // 4-stage pass (control scrub -> cp1252 mojibake repair -> invisible
  // scrub + NBSP->space -> NFC). The oracle replays each stage: regexp
  // scrubs, the literal replace chain (same byte sequences, NBSP/SHY
  // members built with chr()), DuckDB nfc_normalize for the native
  // NfcNormalize expression. Cleaned text pinned by md5 + lengths;
  // flags CAST to INT (the q_m10 boolean rule).
  /** The q_t35 planted-dirt construction, shared with its streaming
    * twin: mojibake / zero-width / control / NFD suffixes by doc_id
    * residue appended to the document text.
    */
  private[queries] def plantedHygieneCorpus(docs: DataFrame): DataFrame =
    graft.Tables.spread(docs).select(
      col("doc_id"),
      concat(
        coalesce(col("text"), lit("")),
        when(col("doc_id") % 3 === 0, lit(
          " caff\u00C3\u00A9 \u00E2\u20AC\u0153moji\u00E2\u20AC\u2122" +
            " l\u00C3\u00A0 v\u00C3\u00ADx")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0, lit(
          " ze\u200Bro\uFEFFwi\u00ADdth")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit(
          " ct\u0007rl\u000Bs")).otherwise(lit("")),
        when(col("doc_id") % 6 === 0, lit(
          " ne\u0301e a\u0300")).otherwise(lit("")))
        .as("text"))

  private[queries] val qT35 = Q(
    "q_t35_text_hygiene",
    """WITH raw AS (
      |  SELECT doc_id,
      |    coalesce(text, '')
      |    || CASE WHEN doc_id % 3 = 0
      |            THEN ' caffÃ© â€œmojiâ€™ l' || 'Ã' || chr(160) ||
      |                 ' v' || 'Ã' || chr(173) || 'x' ELSE '' END
      |    || CASE WHEN doc_id % 4 = 0
      |            THEN ' ze' || chr(8203) || 'ro' || chr(65279) || 'wi' ||
      |                 chr(173) || 'dth' ELSE '' END
      |    || CASE WHEN doc_id % 5 = 0
      |            THEN ' ct' || chr(7) || 'rl' || chr(11) || 's' ELSE '' END
      |    || CASE WHEN doc_id % 6 = 0
      |            THEN ' ne' || chr(769) || 'e a' || chr(768) ELSE '' END
      |    AS s0
      |  FROM documents),
      |s1 AS (SELECT doc_id, s0,
      |         regexp_replace(s0, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g')
      |           AS s FROM raw),
      |s2 AS (SELECT doc_id, s0, s1.s AS sa,
      |         CASE WHEN NOT regexp_matches(s1.s, '[ÃÂâ]') THEN s1.s ELSE
      |         replace(replace(replace(replace(replace(replace(replace(
      |         replace(replace(replace(replace(replace(replace(replace(
      |         replace(replace(replace(replace(replace(replace(replace(
      |         replace(replace(replace(replace(replace(replace(replace(
      |         replace(replace(replace(s1.s,
      |           'â€™', '’'), 'â€˜', '‘'), 'â€œ', '“'), 'â€“', '–'),
      |           'â€”', '—'), 'â€¦', '…'),
      |           'Ã©', 'é'), 'Ã¨', 'è'), 'Ãª', 'ê'), 'Ã«', 'ë'),
      |           'Ã¡', 'á'), 'Ã' || chr(160), 'à'), 'Ã¢', 'â'),
      |           'Ã¤', 'ä'), 'Ã§', 'ç'), 'Ã±', 'ñ'), 'Ã³', 'ó'),
      |           'Ã²', 'ò'), 'Ã´', 'ô'), 'Ã¶', 'ö'), 'Ãº', 'ú'),
      |           'Ã¹', 'ù'), 'Ã¼', 'ü'), 'Ã' || chr(173), 'í'),
      |           'Ã¬', 'ì'), 'Ã®', 'î'), 'Ã¯', 'ï'), 'Â«', '«'),
      |           'Â»', '»'), 'Â°', '°'), 'Â' || chr(160), chr(160))
      |         END AS s FROM s1),
      |s3 AS (SELECT doc_id, s0, sa, s2.s AS sb,
      |         replace(regexp_replace(s2.s,
      |           '[\x{200B}\x{200C}\x{200D}\x{FEFF}\x{00AD}]', '', 'g'),
      |           chr(160), ' ') AS s FROM s2),
      |s4 AS (SELECT doc_id, s0, sa, sb, s3.s AS sc,
      |         nfc_normalize(s3.s) AS clean FROM s3)
      |SELECT doc_id,
      |       md5(clean) AS clean_md5,
      |       CAST(len(s0) AS INT) AS n_chars_raw,
      |       CAST(len(clean) AS INT) AS n_chars_clean,
      |       CAST(CASE WHEN len(sa) < len(s0) THEN 1 ELSE 0 END AS INT)
      |         AS had_control,
      |       CAST(CASE WHEN sb <> sa THEN 1 ELSE 0 END AS INT) AS had_mojibake,
      |       CAST(CASE WHEN sc <> sb THEN 1 ELSE 0 END AS INT) AS had_invisible,
      |       CAST(CASE WHEN clean <> sc THEN 1 ELSE 0 END AS INT) AS had_nfc,
      |       CAST(CASE WHEN clean <> s0 THEN 1 ELSE 0 END AS INT) AS changed
      |FROM s4
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.operators.TextHygiene.clean(
      plantedHygieneCorpus(Tables.load(s, dir, "documents")),
      "doc_id", "text")
      .select(
        col("doc_id"),
        md5(col("text_clean").cast("binary")).as("clean_md5"),
        col("n_chars_raw"), col("n_chars_clean"),
        col("had_control").cast("int").as("had_control"),
        col("had_mojibake").cast("int").as("had_mojibake"),
        col("had_invisible").cast("int").as("had_invisible"),
        col("had_nfc").cast("int").as("had_nfc"),
        col("changed").cast("int").as("changed"))
      .orderBy("doc_id")
  }

  // Within-document repetition removal (DocRepetition.dedupLines — the
  // C4/Gopher template-line cleanup): planted nav/separator repeats
  // around real text slices; exact duplicate lines drop keeping the
  // FIRST occurrence, short lines (trimmed < 10 chars) exempt. The
  // oracle replays split, the exempt-or-first keep rule, and the
  // in-order reassembly; cleaned text pinned by md5 + length.
  private val qT36 = Q(
    "q_t36_line_dedup",
    """WITH raw AS (
      |  SELECT doc_id,
      |    substr(coalesce(text, ''), 1, 80) || chr(10) ||
      |    'Home | About | Contact us today' || chr(10) ||
      |    substr(coalesce(text, ''), 81, 80) || chr(10) ||
      |    'Home | About | Contact us today' || chr(10) ||
      |    '--' || chr(10) ||
      |    substr(coalesce(text, ''), 1, 80) || chr(10) ||
      |    '--' AS s
      |  FROM documents),
      |sp AS (SELECT doc_id, string_split(s, chr(10)) AS l FROM raw),
      |ln0 AS (SELECT doc_id, unnest(range(1, len(l)+1)) AS i, l FROM sp),
      |ln AS (SELECT doc_id, i AS idx, l[i] AS line,
      |              CAST(len(l) AS BIGINT) AS n_lines FROM ln0),
      |keepd AS (
      |  SELECT doc_id, idx, line, n_lines,
      |         (len(trim(line)) < 10 OR
      |          row_number() OVER (PARTITION BY doc_id, line ORDER BY idx) = 1)
      |           AS keep
      |  FROM ln),
      |agg AS (
      |  SELECT doc_id, n_lines,
      |         CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_lines_kept,
      |         string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY idx)
      |           AS clean
      |  FROM keepd GROUP BY doc_id, n_lines)
      |SELECT doc_id, md5(clean) AS clean_md5, n_lines, n_lines_kept,
      |       CAST(len(clean) AS INT) AS n_chars_clean,
      |       round((n_lines - n_lines_kept) / CAST(n_lines AS DOUBLE), 6)
      |         AS dup_line_fraction
      |FROM agg ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val nav = "Home | About | Contact us today"
    val planted = Tables.load(s, dir, "documents").select(
      col("doc_id"),
      concat_ws("\n",
        expr("substring(coalesce(text, ''), 1, 80)"), lit(nav),
        expr("substring(coalesce(text, ''), 81, 80)"), lit(nav),
        lit("--"), expr("substring(coalesce(text, ''), 1, 80)"), lit("--"))
        .as("text"))
    graft.operators.DocRepetition.dedupLines(planted, "doc_id", "text")
      .select(
        col("doc_id"),
        md5(col("text_clean").cast("binary")).as("clean_md5"),
        col("n_lines"), col("n_lines_kept"), col("n_chars_clean"),
        col("dup_line_fraction"))
      .orderBy("doc_id")
  }

  // Rule-based sentence segmentation (SentenceSplit.sentences): planted
  // prose with abbreviations, initials, e.g./i.e., quote/paren-trailing
  // terminators and digit openers around a real text slice; the oracle
  // replays the exact protect -> break -> restore regex chain (engines
  // differ only in backref spelling and the 'g' flag). Sentences pinned
  // by md5 + counts.
  private val qT37 = Q(
    "q_t37_sentence_split",
    """WITH raw AS (
      |  SELECT doc_id,
      |    'Dr. Smith reviewed doc ' || CAST(doc_id AS VARCHAR) || '. ' ||
      |    'The corpus says: ' || substr(coalesce(text, ''), 1, 120) || '. ' ||
      |    'It was written by J. K. Author (no. ' ||
      |    CAST(doc_id % 7 AS VARCHAR) || '). ' ||
      |    'What a finding! Was it real? See fig. ' ||
      |    CAST(doc_id % 9 AS VARCHAR) || ' vs. the baseline. ' ||
      |    '"Quoted end." (Parenthetical.) Final words, e.g. these.' AS t
      |  FROM documents),
      |c1 AS (SELECT doc_id, translate(t, chr(1) || chr(2), '') AS s FROM raw),
      |c2 AS (SELECT doc_id, regexp_replace(regexp_replace(s,
      |         '([ (\n\t])e\.g\.', '\1e' || chr(2) || 'g' || chr(2), 'g'),
      |         '([ (\n\t])i\.e\.', '\1i' || chr(2) || 'e' || chr(2), 'g') AS s
      |       FROM c1),
      |c3 AS (SELECT doc_id, regexp_replace(s,
      |         '(^|[ (\n\t])((?i:Mr|Mrs|Ms|Dr|Prof|St|vs|etc|Jr|Sr|Inc|Ltd|Co|No|Fig|al|approx|Dept)|[A-Z])\.',
      |         '\1\2' || chr(2), 'g') AS s FROM c2),
      |c4 AS (SELECT doc_id, regexp_replace(s,
      |         '(^|[ (\n\t])((?i:Mr|Mrs|Ms|Dr|Prof|St|vs|etc|Jr|Sr|Inc|Ltd|Co|No|Fig|al|approx|Dept)|[A-Z])\.',
      |         '\1\2' || chr(2), 'g') AS s FROM c3),
      |c5 AS (SELECT doc_id, replace(regexp_replace(s,
      |         '([.!?]+["'')\]]*) +(["''(\[]*[A-Z0-9])',
      |         '\1' || chr(1) || '\2', 'g'), chr(2), '.') AS s FROM c4),
      |sp AS (SELECT doc_id, string_split(s, chr(1)) AS l FROM c5),
      |sx AS (SELECT doc_id, unnest(range(1, len(l)+1)) AS i, l FROM sp),
      |st AS (SELECT doc_id, i, trim(l[i]) AS sentence FROM sx),
      |ne AS (SELECT doc_id, sentence,
      |         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1
      |              AS INT) AS sent_idx
      |       FROM st WHERE len(sentence) > 0)
      |SELECT doc_id, sent_idx, md5(sentence) AS sent_md5,
      |       CAST(len(sentence) AS INT) AS n_chars,
      |       CAST(len(string_split_regex(sentence, '\s+')) AS INT) AS n_words
      |FROM ne ORDER BY doc_id, sent_idx""".stripMargin) { (s, dir) =>
    val did = col("doc_id").cast("string")
    val planted = Tables.load(s, dir, "documents").select(
      col("doc_id"),
      concat(
        lit("Dr. Smith reviewed doc "), did, lit(". "),
        lit("The corpus says: "),
        expr("substring(coalesce(text, ''), 1, 120)"), lit(". "),
        lit("It was written by J. K. Author (no. "),
        (col("doc_id") % 7).cast("string"), lit("). "),
        lit("What a finding! Was it real? See fig. "),
        (col("doc_id") % 9).cast("string"), lit(" vs. the baseline. "),
        lit("\"Quoted end.\" (Parenthetical.) Final words, e.g. these."))
        .as("text"))
    graft.operators.SentenceSplit.sentences(planted, "doc_id", "text")
      .select(
        col("doc_id"), col("sent_idx").cast("int").as("sent_idx"),
        md5(col("sentence").cast("binary")).as("sent_md5"),
        col("n_chars"), col("n_words"))
      .orderBy("doc_id", "sent_idx")
  }

  /** One Viterbi DP + backtrace round of the q_t38 oracle: segment
    * every vocabulary word under `piecesRel`, exactly mirroring
    * [[graft.operators.UnigramTokenizer.segment]] (nano-quantized
    * integer scores; ties break score DESC, piece length ASC).
    *
    * The DP is fully UNROLLED — `maxWordLen` chained CTEs carrying the
    * growing (scores, lens) lists in-row, with each word's candidate
    * (pos, len) → lpn lookups pre-joined ONCE into a per-word list —
    * because DuckDB INLINES every non-recursive CTE per reference: the
    * natural recursive-CTE formulation re-executes each earlier
    * round's whole EM chain once per recursion step (12× per round —
    * exponential across rounds; round 3 went from seconds to >5 min),
    * and the `AS MATERIALIZED` hint silently DROPS rows when the
    * materialized CTE wraps an inner recursion (both found while
    * pinning this oracle). Unrolled, every CTE is referenced exactly
    * once and the chain is linear.
    */
  private val uniMaxWordLen = 12

  private def uniBestSql(p: Int): String =
    s"""list_sort(list_filter(list_transform([1,2,3,4], l ->
       | {'s': CASE WHEN l <= $p THEN scores[$p+1-l] +
       |   list_filter(cands, c -> c.pos = $p AND c.len = l)[1].lpn END,
       |  'nl': -l}), x -> x.s IS NOT NULL))[
       | len(list_filter(list_transform([1,2,3,4], l ->
       | {'s': CASE WHEN l <= $p THEN scores[$p+1-l] +
       |   list_filter(cands, c -> c.pos = $p AND c.len = l)[1].lpn END,
       |  'nl': -l}), x -> x.s IS NOT NULL))]""".stripMargin

  private def uniDpSql(n: Int, piecesRel: String): String = {
    val W = uniMaxWordLen
    val ctes = Seq.newBuilder[String]
    ctes += s"""cand$n AS (
      |  SELECT s.w, list(struct_pack(pos := s.e, len := s.l,
      |                               lpn := p.lpn)) AS cands
      |  FROM wsub s JOIN $piecesRel p ON p.piece = s.piece
      |  GROUP BY s.w)""".stripMargin
    ctes += s"""st${n}_0 AS (
      |  SELECT r.w, r.wc, c.cands, [CAST(0 AS BIGINT)] AS scores,
      |         [0] AS lens
      |  FROM wrds r JOIN cand$n c ON c.w = r.w)""".stripMargin
    (1 to W).foreach { p =>
      val b = uniBestSql(p)
      ctes += s"""st${n}_$p AS (
        |  SELECT w, wc, cands,
        |    CASE WHEN len(w) >= $p THEN list_append(scores, ($b).s)
        |         ELSE scores END AS scores,
        |    CASE WHEN len(w) >= $p THEN list_append(lens, -(($b).nl))
        |         ELSE lens END AS lens
        |  FROM st${n}_${p - 1})""".stripMargin
    }
    ctes += s"""bt${n}_0 AS (
      |  SELECT w, wc, scores[len(w)+1] AS score_nanos, lens,
      |         len(w) AS pos, CAST([] AS VARCHAR[]) AS seg
      |  FROM st${n}_$W)""".stripMargin
    (1 to W).foreach { p =>
      ctes += s"""bt${n}_$p AS (
        |  SELECT w, wc, score_nanos, lens,
        |    CASE WHEN pos > 0 THEN pos - lens[pos+1] ELSE pos END AS pos,
        |    CASE WHEN pos > 0 THEN list_prepend(
        |        substr(w, pos - lens[pos+1] + 1, lens[pos+1]), seg)
        |      ELSE seg END AS seg
        |  FROM bt${n}_${p - 1})""".stripMargin
    }
    ctes += s"bt$n AS (SELECT w, wc, score_nanos, seg FROM bt${n}_$W)"
    ctes.result().mkString(",\n")
  }

  /** Laplace re-estimation CTEs: Viterbi counts of round `n` over the
    * fixed seed vocabulary → pieces${n+1}.
    */
  private def uniReestSql(n: Int): String = s"""
    |cnt$n AS (SELECT piece, sum(wc) AS used
    |          FROM (SELECT wc, unnest(seg) AS piece FROM bt$n) GROUP BY 1),
    |est$n AS (SELECT v.piece, coalesce(c.used, 0) + 1 AS f2
    |          FROM vocab v LEFT JOIN cnt$n c USING (piece)),
    |tot$n AS (SELECT sum(f2) AS t FROM est$n),
    |pieces${n + 1} AS (
    |  SELECT piece,
    |         CAST(CAST(round(ln(f2 / t), 9) AS DECIMAL(20,9))
    |              * 1000000000 AS BIGINT) AS lpn
    |  FROM est$n CROSS JOIN tot$n)""".stripMargin

  // Unigram-LM (SentencePiece-style) tokenizer training
  // (UnigramTokenizer.trainAndSegment — the second tokenizer family
  // next to BPE, r15 VERDICT task #5): substring seed vocabulary
  // (top-250 multi-char pieces + all single chars), TWO hard-EM rounds
  // (Viterbi counts + Laplace over the fixed vocabulary), final
  // Viterbi segmentation per distinct word. Scores are nano-quantized
  // integer sums (exact in both engines); the oracle replays the EM as
  // chained CTEs with one recursive-CTE Viterbi per round and pins
  // every word's final score, piece count and '|'-joined segmentation.
  /** The shared q_t38/q_t39 oracle WITH-body: word slice, substring
    * seed, two EM rounds, final bt3 segmentation.
    */
  private lazy val uniOracleCtes: String =
    s"""wrds AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS wc
      |  FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
      |        FROM documents WHERE doc_id < 300 AND trim(text) <> '')
      |  WHERE len(w) BETWEEN 1 AND 12
      |  GROUP BY w),
      |wsub AS (
      |  SELECT w, CAST(e AS INT) AS e, CAST(l AS INT) AS l,
      |         substr(w, CAST(e - l + 1 AS INT), CAST(l AS INT)) AS piece
      |  FROM wrds, range(1, 13) t(e), range(1, 5) u(l)
      |  WHERE l <= e AND e <= len(w)),
      |subs AS (
      |  SELECT substr(w, CAST(ps AS INT), CAST(ln AS INT)) AS piece,
      |         sum(wc) AS f
      |  FROM wrds, range(1, 13) t(ps), range(1, 5) u(ln)
      |  WHERE ps + ln - 1 <= len(w)
      |  GROUP BY 1),
      |topp AS (SELECT piece, f FROM subs WHERE len(piece) > 1
      |         ORDER BY f DESC, piece LIMIT 250),
      |vocab AS (SELECT piece, f FROM topp
      |          UNION ALL SELECT piece, f FROM subs WHERE len(piece) = 1),
      |tot0 AS (SELECT sum(f) AS t FROM vocab),
      |pieces1 AS (
      |  SELECT piece,
      |         CAST(CAST(round(ln(f / t), 9) AS DECIMAL(20,9))
      |              * 1000000000 AS BIGINT) AS lpn
      |  FROM vocab CROSS JOIN tot0),${uniDpSql(1, "pieces1")},${uniReestSql(1)},${uniDpSql(2, "pieces2")},${uniReestSql(2)},${uniDpSql(3, "pieces3")}""".stripMargin

  private val qT38 = Q(
    "q_t38_unigram_tokenizer",
    s"""WITH $uniOracleCtes
      |SELECT w, wc, score_nanos, CAST(len(seg) AS INT) AS n_pieces,
      |       array_to_string(seg, '|') AS seg
      |FROM bt3 ORDER BY w""".stripMargin) { (s, dir) =>
    graft.operators.UnigramTokenizer
      .trainAndSegment(
        Tables.load(s, dir, "documents").filter(col("doc_id") < 300),
        "text", rounds = 2)
      .orderBy("w")
  }

  // Unigram tokenizer INFERENCE by vocabulary dedup
  // (UnigramTokenizer.applyByVocab — the q_st20/BPE Heaps-law
  // economics applied to the unigram family: each DISTINCT word
  // Viterbi-segments once under the trained pieces, per-word
  // sufficient statistics join back onto the positioned occurrence
  // frame): per document (n_words, n_words_long, n_pieces,
  // tok_digest) with the exact order-sensitive integer digest of the
  // BPE gates. The oracle extends the q_t38 EM chain: bt3's per-word
  // segmentations reduce to (n_pieces, Σlen, Σlen·pos) and fold over
  // the per-doc positioned word frame.
  private val qT39 = Q(
    "q_t39_unigram_apply",
    s"""WITH $uniOracleCtes,
      |wstats AS (
      |  SELECT w, CAST(len(seg) AS BIGINT) AS n_pieces,
      |         CAST(list_sum(list_transform(seg, s -> len(s)))
      |              AS BIGINT) AS s0len,
      |         CAST(list_sum(list_transform(seg, (s, i) -> len(s) * i))
      |              AS BIGINT) AS s1len
      |  FROM bt3),
      |dsplit AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS l
      |  FROM documents WHERE doc_id < 300 AND trim(text) <> ''),
      |dw0 AS (
      |  SELECT doc_id, unnest(range(1, len(l)+1)) AS i, l FROM dsplit),
      |dwords AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS wi, l[CAST(i AS INT)] AS w
      |  FROM dw0),
      |dagg AS (
      |  SELECT d.doc_id,
      |         CAST(count(*) AS INT) AS n_words,
      |         CAST(sum(CASE WHEN len(d.w) > 12 THEN 1 ELSE 0 END) AS INT)
      |           AS n_words_long,
      |         CAST(coalesce(sum(s.n_pieces), 0) AS BIGINT) AS n_pieces,
      |         CAST(coalesce(sum(d.wi * 31 * s.s0len + s.s1len), 0)
      |              AS BIGINT) AS tok_digest
      |  FROM dwords d LEFT JOIN wstats s ON s.w = d.w AND len(d.w) <= 12
      |  GROUP BY d.doc_id)
      |SELECT doc.doc_id,
      |       CAST(coalesce(a.n_words, 0) AS INT) AS n_words,
      |       CAST(coalesce(a.n_words_long, 0) AS INT) AS n_words_long,
      |       CAST(coalesce(a.n_pieces, 0) AS BIGINT) AS n_pieces,
      |       CAST(coalesce(a.tok_digest, 0) AS BIGINT) AS tok_digest
      |FROM (SELECT doc_id FROM documents WHERE doc_id < 300) doc
      |LEFT JOIN dagg a ON a.doc_id = doc.doc_id
      |ORDER BY doc.doc_id""".stripMargin) { (s, dir) =>
    val slice = Tables.load(s, dir, "documents")
      .filter(col("doc_id") < 300)
      .pin()
    val pieces = graft.operators.UnigramTokenizer
      .trainPieces(slice, "text", rounds = 2)
    graft.operators.UnigramTokenizer
      .applyByVocab(slice, "doc_id", "text", pieces)
      .select("doc_id", "n_words", "n_words_long", "n_pieces", "tok_digest")
      .orderBy("doc_id")
      .pin()
  }

  // CCNet-style quality screen on the TRAINED unigram LM
  // (UnigramTokenizer.qualityScreen): per-doc summed Viterbi score in
  // integer nanos, keep ⇔ the doc's mean per-piece log-prob clears the
  // corpus mean — decided by CROSS-MULTIPLICATION (sum·N_total ≥
  // Sum_total·n), never a division, so the flag is engine-exact. The
  // oracle extends the q_t38 chain: per-word scores from bt3 fold over
  // the positioned occurrence frame, totals via one scalar CTE.
  private val qT40 = Q(
    "q_t40_unigram_quality",
    s"""WITH $uniOracleCtes,
      |wstats AS (
      |  SELECT w, CAST(len(seg) AS BIGINT) AS n_pieces,
      |         CAST(score_nanos AS BIGINT) AS score_nanos
      |  FROM bt3),
      |dsplit AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS l
      |  FROM documents WHERE doc_id < 300 AND trim(text) <> ''),
      |dw0 AS (
      |  SELECT doc_id, unnest(range(1, len(l)+1)) AS i, l FROM dsplit),
      |dwords AS (
      |  SELECT doc_id, l[CAST(i AS INT)] AS w FROM dw0),
      |dagg AS (
      |  SELECT d.doc_id,
      |         CAST(count(*) AS INT) AS n_words,
      |         CAST(sum(CASE WHEN len(d.w) > 12 THEN 1 ELSE 0 END) AS INT)
      |           AS n_words_long,
      |         CAST(coalesce(sum(s.n_pieces), 0) AS BIGINT) AS n_pieces,
      |         CAST(coalesce(sum(s.score_nanos), 0) AS BIGINT)
      |           AS sum_score_nanos
      |  FROM dwords d LEFT JOIN wstats s ON s.w = d.w AND len(d.w) <= 12
      |  GROUP BY d.doc_id),
      |perdoc AS (
      |  SELECT doc.doc_id,
      |         CAST(coalesce(a.n_words, 0) AS INT) AS n_words,
      |         CAST(coalesce(a.n_words_long, 0) AS INT) AS n_words_long,
      |         CAST(coalesce(a.n_pieces, 0) AS BIGINT) AS n_pieces,
      |         CAST(coalesce(a.sum_score_nanos, 0) AS BIGINT)
      |           AS sum_score_nanos
      |  FROM (SELECT doc_id FROM documents WHERE doc_id < 300) doc
      |  LEFT JOIN dagg a ON a.doc_id = doc.doc_id),
      |tots AS (SELECT CAST(sum(n_pieces) AS BIGINT) AS tn,
      |                CAST(sum(sum_score_nanos) AS BIGINT) AS ts
      |         FROM perdoc)
      |SELECT p.doc_id, p.n_words, p.n_words_long, p.n_pieces,
      |       p.sum_score_nanos,
      |       CAST(CASE WHEN p.n_pieces = 0
      |                   OR p.sum_score_nanos * t.tn >= t.ts * p.n_pieces
      |                 THEN 1 ELSE 0 END AS INT) AS keep
      |FROM perdoc p CROSS JOIN tots t
      |ORDER BY p.doc_id""".stripMargin) { (s, dir) =>
    val slice = Tables.load(s, dir, "documents")
      .filter(col("doc_id") < 300)
      .pin()
    val pieces = graft.operators.UnigramTokenizer
      .trainPieces(slice, "text", rounds = 2)
    graft.operators.UnigramTokenizer
      .qualityScreen(slice, "doc_id", "text", pieces)
      .select(col("doc_id"), col("n_words"), col("n_words_long"),
        col("n_pieces"), col("sum_score_nanos"),
        col("keep").cast("int").as("keep"))
      .orderBy("doc_id")
      .pin()
  }

  // Charset SNIFF + DECODE (CharsetDecode.decodeAll — r16 VERDICT task
  // #2): six encoding classes planted in-plan — transport-declared
  // utf-8, BOM'd utf-8 with a real multibyte char, cp1252 declared via
  // an in-document <meta> (curly quotes + euro in the 0x80–0x9F range
  // the translate table maps), undeclared latin-1 riding the HTTP
  // default, a utf-16le BOM that must be DETECTED but honestly not
  // decoded, and a precedence probe where the transport header
  // (ISO-8859-1) outranks an in-document utf-8 meta so the utf-8 bytes
  // decode as mojibake Ã© — exactly the cp1252 pipeline TextHygiene
  // repairs downstream. The oracle rebuilds each expected decode with
  // chr() arithmetic — the ENGINE must sniff precedence and run the
  // table-driven decode arms to reach the same Unicode.
  private val qT43 = Q(
    "q_t43_charset_decode",
    """WITH src AS (
      |  SELECT doc_id,
      |         substr(rpad(coalesce(text, ''), 120, 'x'), 1,
      |                CAST(doc_id % 70 + 15 AS INT)) AS payload,
      |         CAST(doc_id % 6 AS INT) AS pc
      |  FROM documents WHERE doc_id < 600),
      |e AS (
      |  SELECT doc_id, pc,
      |    CASE pc
      |      WHEN 0 THEN payload
      |      WHEN 1 THEN payload || chr(233)
      |      WHEN 2 THEN '<html><head><meta charset="windows-1252">' ||
      |                  '</head><body>' || payload ||
      |                  chr(8220) || chr(8221) || chr(8364) ||
      |                  '</body></html>'
      |      WHEN 3 THEN payload || chr(233)
      |      WHEN 5 THEN '<html><head><meta charset=utf-8></head><body>' ||
      |                  payload || chr(195) || chr(169) ||
      |                  '</body></html>'
      |      ELSE NULL END AS expected
      |  FROM src)
      |SELECT doc_id,
      |  CASE pc WHEN 2 THEN 'windows-1252'
      |          WHEN 3 THEN 'iso-8859-1'
      |          WHEN 4 THEN 'utf-16le'
      |          WHEN 5 THEN 'iso-8859-1' ELSE 'utf-8' END AS charset,
      |  CASE pc WHEN 0 THEN 'header' WHEN 1 THEN 'bom'
      |          WHEN 2 THEN 'meta' WHEN 3 THEN 'default'
      |          WHEN 4 THEN 'bom' ELSE 'header' END AS charset_source,
      |  CAST(CASE WHEN pc = 4 THEN 0 ELSE 1 END AS INT) AS decodable,
      |  CAST(len(expected) AS INT) AS n_chars,
      |  md5(expected) AS text_md5
      |FROM e ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val base = Tables.load(s, dir, "documents")
      .filter(col("doc_id") < 600)
      .select(col("doc_id"),
        expr("substring(rpad(coalesce(text, ''), 120, 'x'), 1, " +
          "CAST(doc_id % 70 + 15 AS INT))").as("payload"))
      .pin()
    val pl = col("payload")
    val pc = (col("doc_id") % 6).cast("int")
    val raw = when(pc === 0, pl)
      .when(pc === 1,
        concat(lit("\u00EF\u00BB\u00BF"), pl, lit("\u00C3\u00A9")))
      .when(pc === 2, concat(
        lit("<html><head><meta charset=\"windows-1252\"></head><body>"),
        pl, lit("\u0093\u0094\u0080"), lit("</body></html>")))
      .when(pc === 3, concat(pl, lit("\u00E9")))
      .when(pc === 4, concat(lit("\u00FF\u00FE"), pl))
      .otherwise(concat(
        lit("<html><head><meta charset=utf-8></head><body>"),
        pl, lit("\u00C3\u00A9"), lit("</body></html>")))
    val hdrCs = when(pc === 0, "UTF-8")
      .when(pc === 5, "ISO-8859-1").otherwise("")
    val frame = base
      .select(col("doc_id"), raw.as("raw"), hdrCs.as("hdr_cs"))
      .pin()
    graft.operators.CharsetDecode
      .decodeAll(frame, "doc_id", "raw", Some("hdr_cs"))
      .select(
        col("doc_id"), col("charset"), col("charset_source"),
        col("decodable").cast("int").as("decodable"),
        col("n_chars"),
        md5(col("text").cast("binary")).as("text_md5"))
      .orderBy("doc_id")
      .pin()
  }

  // TRAINED language ID (TrainedLangId.trainAndPredict — r16 VERDICT
  // task #3): hashed char-trigram multiclass Naive Bayes, trained on
  // the corpus' declared labels and replayed in the oracle as chained
  // CTEs — trigram enumeration, the portable md5-bucket hash, the
  // complete labels×256 Laplace grid at 9-decimal DECIMAL quantization,
  // priors, per-doc histogram scoring, and the (score DESC, label ASC)
  // argmax. Per-doc predictions pinned with the winning posterior; the
  // TrainedLangIdSpec asserts this model beats the q_t3 stopword
  // heuristic on the same corpus.
  private val qT44 = Q(
    "q_t44_trained_langid",
    """WITH src AS (
      |  SELECT doc_id, lang, lower(coalesce(text, '')) AS t
      |  FROM documents),
      |g0 AS (
      |  SELECT doc_id, lang, t,
      |         CAST(unnest(range(1, greatest(len(t) - 1, 1))) AS INT) AS k
      |  FROM src),
      |g AS (
      |  SELECT doc_id, lang,
      |         CAST(('0x' || substring(md5(substr(t, k, 3)), 1, 15))::BIGINT
      |              % 256 AS INT) AS bucket
      |  FROM g0),
      |counts AS (
      |  SELECT lang AS label, bucket, CAST(count(*) AS BIGINT) AS c
      |  FROM g GROUP BY 1, 2),
      |tot AS (SELECT label, CAST(sum(c) AS BIGINT) AS tc
      |        FROM counts GROUP BY 1),
      |grid AS (
      |  SELECT l.lang AS label, CAST(b.range AS INT) AS bucket
      |  FROM (SELECT DISTINCT lang FROM src) l, range(0, 256) b),
      |model AS (
      |  SELECT grid.label, grid.bucket,
      |         CAST(round(ln((coalesce(c.c, 0) + 1) /
      |           CAST(t.tc + 256 AS DOUBLE)), 9) AS DECIMAL(18,9)) AS ll
      |  FROM grid
      |  LEFT JOIN counts c ON c.label = grid.label AND c.bucket = grid.bucket
      |  JOIN tot t ON t.label = grid.label),
      |priors AS (
      |  SELECT lang AS label,
      |         CAST(round(ln(count(*) /
      |           CAST((SELECT count(*) FROM src) AS DOUBLE)), 9)
      |           AS DECIMAL(18,9)) AS prior
      |  FROM src GROUP BY 1),
      |hist AS (
      |  SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt
      |  FROM g GROUP BY 1, 2),
      |dl AS (
      |  SELECT hist.doc_id, model.label, sum(hist.cnt * model.ll) AS sc
      |  FROM hist JOIN model USING (bucket) GROUP BY 1, 2),
      |scored AS (
      |  SELECT d.doc_id, p.label,
      |         p.prior + coalesce(dl.sc, CAST(0 AS DECIMAL(18,9))) AS score
      |  FROM (SELECT DISTINCT doc_id FROM src) d
      |  CROSS JOIN priors p
      |  LEFT JOIN dl ON dl.doc_id = d.doc_id AND dl.label = p.label),
      |pred AS (
      |  SELECT doc_id, label, score,
      |         row_number() OVER (PARTITION BY doc_id
      |                            ORDER BY score DESC, label ASC) AS rn
      |  FROM scored)
      |SELECT s.doc_id, s.lang AS lang_declared, p.label AS lang_predicted,
      |       CAST(p.score AS DOUBLE) AS score
      |FROM src s JOIN pred p ON p.doc_id = s.doc_id AND p.rn = 1
      |ORDER BY s.doc_id""".stripMargin) { (s, dir) =>
    graft.operators.TrainedLangId
      .trainAndPredict(Tables.load(s, dir, "documents"),
        "doc_id", "text", "lang")
      .select(col("doc_id"), col("lang_declared"), col("lang_predicted"),
        col("score"))
      .orderBy("doc_id")
  }

  // HTML document metadata (HtmlMeta.meta): six page classes exercise
  // both attribute orders, both quote forms, the first-match rule,
  // entity decode + whitespace collapse in the title, a keywords/
  // stylesheet decoy that must NOT leak into the selected fields, and
  // full absence → NULL. Every expected value is arithmetic from the
  // construction.
  /** The q_t45 metadata frame over a documents batch — construction
    * and extraction are per-row, so streamed ≡ batch (q_st42 reuses
    * this and the q_t45 oracle verbatim). Pins the page corpus, which
    * the returned plan reads.
    */
  private[queries] def htmlMetaOf(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val c = (col("doc_id") % 6).cast("int")
    val i = col("doc_id").cast("string")
    val html =
      when(c === 0, concat(
        lit("<html lang=\"en\"><head><title>Doc "), i,
        lit(" &amp; co</title><meta name=\"description\" content=\"Summary "),
        i, lit("\"><link rel=\"canonical\" href=\"https://c.example.net/p/"),
        i, lit("\"><meta property=\"og:title\" content=\"OG "), i,
        lit("\"></head></html>")))
        .when(c === 1, concat(
          lit("<html LANG=de-AT><head>"),
          lit("<meta content='desc first "), i,
          lit("' name='description'>"),
          lit("<link href='https://k.example.net/p/"), i,
          lit("' rel='canonical'>"),
          lit("<meta content='og first "), i,
          lit("' property='og:title'></head></html>")))
        .when(c === 2, concat(
          lit("<html><head><title>  T\n  "), i,
          lit(" </title></head></html>")))
        .when(c === 3, concat(
          lit("<head><meta name=\"description\" content=\"first "), i,
          lit("\"><meta name=\"description\" content=\"second "), i,
          lit("\"></head>")))
        .when(c === 4, lit("<html><body><p>no head</p></body></html>"))
        .otherwise(concat(
          lit("<head><meta name=\"keywords\" content=\"k1,k2\">"),
          lit("<link rel=\"stylesheet\" href=\"/s.css\">"),
          lit("<meta property=\"og:title\" content=\"Only OG "), i,
          lit("\"></head>")))
    val pages = graft.Tables.spread(docs.where(col("doc_id") < 1200))
      .select(col("doc_id"), html.as("html"))
      .pin()
    graft.operators.HtmlMeta.meta(pages, "doc_id", "html")
  }

  private[queries] val qT45 = Q(
    "q_t45_html_meta",
    """WITH d AS (
      |  SELECT doc_id, CAST(doc_id % 6 AS INT) AS c,
      |         CAST(doc_id AS VARCHAR) AS i
      |  FROM documents WHERE doc_id < 1200)
      |SELECT doc_id,
      |  CASE WHEN c = 0 THEN 'Doc ' || i || ' & co'
      |       WHEN c = 2 THEN 'T ' || i
      |       END AS title,
      |  CASE WHEN c = 0 THEN 'Summary ' || i
      |       WHEN c = 1 THEN 'desc first ' || i
      |       WHEN c = 3 THEN 'first ' || i
      |       END AS description,
      |  CASE WHEN c = 0 THEN 'https://c.example.net/p/' || i
      |       WHEN c = 1 THEN 'https://k.example.net/p/' || i
      |       END AS canonical,
      |  CASE WHEN c = 0 THEN 'OG ' || i
      |       WHEN c = 1 THEN 'og first ' || i
      |       WHEN c = 5 THEN 'Only OG ' || i
      |       END AS og_title,
      |  CASE WHEN c = 0 THEN 'en'
      |       WHEN c = 1 THEN 'de-AT'
      |       END AS lang
      |FROM d ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val pre = htmlMetaOf(Tables.load(s, dir, "documents"))
    pre.orderBy("doc_id").pin()
  }

  override val all: Seq[Q] =
    Seq(qT1, qT2, qT3, qT4, qT5, qT5x, qT6, qT7, qT8, qT9, qT10, qT11, qT12, qT13,
      qT14, qT15, qT16, qT17, qT18, qT19, qT20, qT21, qT22, qT23, qT24, qT25, qT26,
      qT27, qT28, qT29, qT30, qT31, qT32, qT33, qT34, qT35, qT36, qT37, qT38, qT39, qT40, qT41, qT42,
      qT43, qT44, qT45)
}
