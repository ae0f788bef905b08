package graft.queries

import org.apache.spark.sql.functions._

import graft.{RunScope, Tables}
import graft.operators.{FuzzyJoin, NearDup}
import graft.RunScope.Pinning

/** Deduplication operator suite over the documents table. The testdata
  * plants near-duplicates: ~5% of docs are an existing doc's text plus a
  * trailing " dup" token (token-3-gram Jaccard ≈ (n-2)/(n-1) ≥ 0.88).
  */
object DedupQueries extends QueryGroup {

  /** Oracle fragment (margin text, interpolated before stripMargin): the
    * near-dup `pairs` closed into components — `comp` maps every paired
    * doc to its cluster's minimum doc_id.
    */
  private[queries] val pairsClosureSql =
    """edges AS (
      |  SELECT id_a AS u, id_b AS v FROM pairs
      |  UNION SELECT id_b, id_a FROM pairs),
      |reach(u, lbl) AS (
      |  SELECT u, u FROM edges
      |  UNION
      |  SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.u),
      |comp AS (SELECT u, min(lbl) AS cluster_id FROM reach GROUP BY u)"""

  /** Body of a shingle CTE over `toks` (margin text): each doc's distinct
    * token k-shingles; a doc shorter than k tokens contributes its whole
    * text as its single shingle, as TextAnalysis.tokenShingles does.
    */
  private def shinglesSql(k: Int): String =
    s"""  SELECT DISTINCT doc_id, s FROM (
       |    SELECT doc_id,
       |           unnest(list_transform(range(1, len(tk) - ${k - 2}),
       |                                 i -> array_to_string(tk[i:i+${k - 1}], ' '))) AS s
       |    FROM toks WHERE len(tk) >= $k
       |    UNION ALL
       |    SELECT doc_id, array_to_string(tk, ' ') AS s
       |    FROM toks WHERE len(tk) < $k)),"""

  /** Shared oracle: exact token-3-gram Jaccard pairs at threshold 0.8.
    * Serves BOTH the inverted-index query (identical algorithm) and the
    * MinHash-LSH query (LSH recall at J≥0.8 with 16×4 bands is
    * 1-(1-0.8^4)^16 ≈ 0.9998 and candidates are verified with exact
    * Jaccard, so its output equals the exact pair set whp — the spec
    * asserts equality at sf0.001).
    */
  private[queries] val pairsOracle =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, s FROM (
      |    SELECT doc_id,
      |           unnest(list_transform(range(1, len(tk) - 1),
      |                                 i -> array_to_string(tk[i:i+2], ' '))) AS s
      |    FROM toks WHERE len(tk) >= 3
      |    UNION ALL
      |    -- docs shorter than k tokens contribute their whole text as the
      |    -- single shingle, exactly as TextAnalysis.tokenShingles does
      |    SELECT doc_id, array_to_string(tk, ' ') AS s
      |    FROM toks WHERE len(tk) < 3)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b,
      |       CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = id_a
      |JOIN sizes sb ON sb.doc_id = id_b
      |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8
      |ORDER BY id_a, id_b""".stripMargin

  // Exact dedup by content hash (identity on this corpus — no exact dups —
  // which the oracle confirms; the near-dup ops below do the real work).
  private val qD1 = Q(
    "q_d1_exact_dedup",
    """SELECT min(doc_id) AS doc_id, CAST(count(*) AS INT) AS n_copies, text
      |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.load(s, dir, "documents")
      .groupBy("text")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).cast("int").as("n_copies"))
      .select("doc_id", "n_copies", "text")
      .orderBy("doc_id")
  }

  // Exact n-gram Jaccard pairs (inverted-index baseline).
  private val qD2 = Q("q_d2_ngram_jaccard_pairs", pairsOracle) { (s, dir) =>
    NearDup
      .ngramJaccardPairs(Tables.load(s, dir, "documents"), "doc_id", "text",
        k = 3, threshold = 0.8)
      .orderBy("id_a", "id_b")
  }

  // Inverted-index pairs WITH the hot-shingle cap — the scale guard that
  // bounds posting-list blowup (a shingle in f docs yields O(f²) candidate
  // pairs; stopword n-grams make f huge at corpus scale). The oracle
  // applies the identical cap, so the (documented) approximation — the
  // Jaccard of the CAPPED shingle sets — is verified exactly. maxDocFreq=4
  // genuinely prunes on this corpus (max observed doc-freq is 7) while
  // preserving the full pair set.
  private val qD2b = Q(
    "q_d2b_ngram_jaccard_capped",
    raw"""WITH toks AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk FROM documents),
      |sh0 AS (
      |${shinglesSql(3)}
      |sh AS (
      |  SELECT sh0.doc_id, sh0.s FROM sh0
      |  JOIN (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= 4) keep USING (s)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b,
      |       CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = id_a
      |JOIN sizes sb ON sb.doc_id = id_b
      |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8
      |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    NearDup
      .ngramJaccardPairs(Tables.load(s, dir, "documents"), "doc_id", "text",
        k = 3, threshold = 0.8, maxDocFreq = 4L)
      .orderBy("id_a", "id_b")
  }

  // MinHash + LSH near-dup pairs (the 100 TB path) — verified candidates,
  // same oracle as the exact pair set.
  private val qD3 = Q("q_d3_minhash_lsh_pairs", pairsOracle) { (s, dir) =>
    NearDup
      .minHashLshPairs(Tables.load(s, dir, "documents"), "doc_id", "text",
        k = 3, numPerm = 64, bands = 16, threshold = 0.8)
      .orderBy("id_a", "id_b")
  }

  // SimHash near-dup pairs, VALUE-exact oracle: the gate runs the portable
  // signature (md5-derived 60-bit token hashes — Hashing.simHashPortable),
  // whose vote/pack arithmetic DuckDB replays verbatim; the oracle then
  // brute-forces all pairs at hamming ≤ 3, which equals the Charikar-
  // blocked engine output because blocking is pigeonhole-complete at
  // maxHamming < numBlocks (q_d4b proves that for the xxhash64 fast path).
  private val qD4 = Q(
    "q_d4_simhash_pairs",
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
      |  FROM documents WHERE trim(text) <> ''),
      |th AS (SELECT doc_id, ('0x' || substring(md5(t), 1, 15))::BIGINT AS h FROM toks),
      |votes AS (
      |  SELECT doc_id, j, sum(CASE WHEN (h >> CAST(j AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM th, (SELECT unnest(range(60)) AS j) bits
      |  GROUP BY doc_id, j),
      |sig0 AS (
      |  SELECT doc_id, sum(CASE WHEN v > 0 THEN (1::BIGINT << CAST(j AS INT)) ELSE 0 END) AS sim
      |  FROM votes GROUP BY doc_id),
      |sig AS (
      |  SELECT d.doc_id, coalesce(s.sim, 0) AS sim
      |  FROM documents d LEFT JOIN sig0 s USING (doc_id))
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |       CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
      |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.sim, b.sim)) <= 3
      |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    import graft.functions.{Hashing, TextAnalysis}
    NearDup
      .simHashPairs(Tables.load(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3, numBlocks = 4,
        signatureOf = t => Hashing.simHashPortable(TextAnalysis.tokens(t)))
      .select(col("id_a"), col("id_b"), col("hamming").cast("int").as("hamming"))
      .orderBy("id_a", "id_b")
  }

  // SimHash blocking CORRECTNESS as a gate row (the q_v3/q_v5 invariant
  // pattern): the Charikar-blocked pair set must equal the brute-force
  // all-pairs Hamming result exactly — pigeonhole guarantees no misses at
  // hamming < numBlocks, and the verify filter guarantees no false
  // positives. xxhash64 keeps the VALUES out of DuckDB's reach; the
  // EQUALITY is a boolean DuckDB can assert.
  private val qD4b = Q(
    "q_d4b_simhash_complete",
    "SELECT true AS pigeonhole_complete, true AS no_false_positives") { (s, dir) =>
    import graft.functions.{Hashing, TextAnalysis}
    val docs = Tables.load(s, dir, "documents")
    val base = Tables.spread(docs).select(
      col("doc_id"), Hashing.simHash(TextAnalysis.tokens(col("text"))).as("sim"))
    val blocked = NearDup.simHashPairs(docs, "doc_id", "text",
      maxHamming = 3, numBlocks = 4).select("id_a", "id_b")
    val a = base.toDF("id_a", "__sa")
    val b = base.toDF("id_b", "__sb")
    val brute = a.join(b, col("id_a") < col("id_b"))
      .filter(Hashing.hamming(col("__sa"), col("__sb")) <= 3)
      .select("id_a", "id_b")
    val missing = brute.join(blocked, Seq("id_a", "id_b"), "left_anti")
      .agg(count(lit(1)).as("__m"))
    val extra = blocked.join(brute, Seq("id_a", "id_b"), "left_anti")
      .agg(count(lit(1)).as("__e"))
    missing.crossJoin(extra).select(
      (col("__m") === 0).as("pigeonhole_complete"),
      (col("__e") === 0).as("no_false_positives"))
  }

  // PRODUCTION SimHash path, bench-visible: the xxhash64 codegen kernel
  // (expressions.SimHash64) users actually run at scale. DuckDB has no
  // xxhash64 built-in, so the oracle CARRIES the algorithm: a generated
  // pure-SQL XXH64 (seed 42, HUGEINT wraparound arithmetic — see
  // DuckXxh64) feeding the frequency-weighted Charikar vote replay, then
  // the brute-force hamming<=3 pair set (value-identical to the blocked
  // plan by q_d4b's pigeonhole-completeness gate). q_d4 (portable md5
  // signature) stays the second, structurally independent anchor.
  private val qD4x = Q("q_d4x_simhash_prod", DuckXxh64.simhashProdOracle) { (s, dir) =>
    NearDup
      .simHashPairs(Tables.load(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3, numBlocks = 4)
      .select(col("id_a"), col("id_b"), col("hamming").cast("int").as("hamming"))
      .orderBy("id_a", "id_b")
  }

  // End-to-end dedup application: corpus minus near-duplicates
  // (keep-smallest-id policy), oracle = anti-join against the pair set.
  private val qD5 = Q(
    "q_d5_dedup_corpus",
    s"""WITH pairs AS ($pairsOracle)
       |SELECT d.doc_id, d.text FROM documents d
       |WHERE NOT EXISTS (SELECT 1 FROM pairs p WHERE p.id_b = d.doc_id)
       |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.load(s, dir, "documents")
    val pairs = NearDup.minHashLshPairs(docs, "doc_id", "text",
      k = 3, numPerm = 64, bands = 16, threshold = 0.8)
    NearDup.dropDuplicatesByPairs(docs, "doc_id", pairs)
      .select("doc_id", "text")
      .orderBy("doc_id")
  }

  // Duplicate-CLUSTER assignment: connected components over the verified
  // near-dup pair graph (min-label propagation), every document labeled
  // with its component's minimum id (singletons label themselves). The
  // oracle recomputes the transitive closure with a recursive CTE over the
  // same exact pair set.
  private val qD6 = Q(
    "q_d6_dup_clusters",
    s"""WITH RECURSIVE pairs AS ($pairsOracle),
       |$pairsClosureSql
       |SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
       |FROM documents d LEFT JOIN comp c ON c.u = d.doc_id
       |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.load(s, dir, "documents")
    val pairs = NearDup.minHashLshPairs(docs, "doc_id", "text",
      k = 3, numPerm = 64, bands = 16, threshold = 0.8)
    graft.operators.ConnectedComponents.assignClusters(docs, "doc_id", pairs)
      .select("doc_id", "cluster_id")
      .orderBy("doc_id")
  }

  // Transitively-correct dedup application: one representative (minimum
  // id) per duplicate cluster — the policy q_d5's pairwise anti-join only
  // approximates when matches chain (see ConnectedComponentsSpec).
  private val qD7 = Q(
    "q_d7_dedup_transitive",
    s"""WITH RECURSIVE pairs AS ($pairsOracle),
       |$pairsClosureSql
       |SELECT d.doc_id, d.text
       |FROM documents d LEFT JOIN comp c ON c.u = d.doc_id
       |WHERE coalesce(c.cluster_id, d.doc_id) = d.doc_id
       |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.load(s, dir, "documents")
    val pairs = NearDup.minHashLshPairs(docs, "doc_id", "text",
      k = 3, numPerm = 64, bands = 16, threshold = 0.8)
    graft.operators.ConnectedComponents.dedupByComponents(docs, "doc_id", pairs)
      .select("doc_id", "text")
      .orderBy("doc_id")
  }

  // Benchmark decontamination: docs 0-4 act as the "eval set"; every
  // other document is flagged by its count of distinct 5-token shingles
  // appearing anywhere in the probe set. The planted near-dups guarantee
  // real hits (a dup of a probe doc shares nearly all its shingles); the
  // oracle replays the identical shingling + overlap join.
  private val qD8 = Q(
    "q_d8_decontaminate",
    raw"""WITH toks AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk FROM documents),
      |sh AS (
      |${shinglesSql(5)}
      |probe AS (SELECT DISTINCT s FROM sh WHERE doc_id < 5),
      |hits AS (
      |  SELECT sh.doc_id, count(*) AS n_hits
      |  FROM sh JOIN probe USING (s) WHERE sh.doc_id >= 5 GROUP BY 1)
      |SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits,
      |       coalesce(h.n_hits, 0) > 0 AS contaminated
      |FROM documents d LEFT JOIN hits h USING (doc_id)
      |WHERE d.doc_id >= 5 ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.load(s, dir, "documents")
    graft.operators.Decontamination
      .flagOverlap(
        docs.filter(col("doc_id") >= 5),
        docs.filter(col("doc_id") < 5),
        "doc_id", "text", k = 5)
      .select("doc_id", "n_hits", "contaminated")
      .orderBy("doc_id")
  }

  // Cluster REPRESENTATIVE selection — the curation policy on top of
  // q_d6's clusters: among near-dups keep the BEST document (here: the
  // longest, ties to the smallest id), not the accidental minimum id that
  // q_d7 keeps. Engine picks via the bounded-heap top-1 aggregate per
  // cluster; the oracle recomputes clusters with the recursive CTE and
  // ranks with the identical (score desc, id asc) order.
  private val qD9 = Q(
    "q_d9_cluster_representatives",
    s"""WITH RECURSIVE pairs AS ($pairsOracle),
       |$pairsClosureSql,
       |clustered AS (
       |  SELECT d.doc_id, d.n_chars, coalesce(c.cluster_id, d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN comp c ON c.u = d.doc_id),
       |ranked AS (
       |  SELECT doc_id, cluster_id, n_chars,
       |         row_number() OVER (PARTITION BY cluster_id
       |                            ORDER BY n_chars DESC, doc_id) AS rn
       |  FROM clustered)
       |SELECT doc_id, cluster_id, n_chars FROM ranked WHERE rn = 1
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.load(s, dir, "documents")
    val pairs = NearDup.minHashLshPairs(docs, "doc_id", "text",
      k = 3, numPerm = 64, bands = 16, threshold = 0.8)
    graft.operators.ConnectedComponents
      .representativesByScore(docs, "doc_id", pairs, col("n_chars"))
      .select("doc_id", "cluster_id", "n_chars")
      .orderBy("doc_id")
  }

  // Repeated-SPAN mining (substring-level dedup signal): 5-token shingles
  // in ≥ 2 distinct docs mark positions; gap ≤ k runs merge into spans.
  // The oracle replays shingling WITH positions, the doc-frequency cut,
  // and the identical lag-window span merge.
  private val qD10 = Q(
    "q_d10_repeated_spans",
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk FROM documents),
      |sh0 AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(tk) - 3),
      |           i -> {'pos': i, 's': array_to_string(tk[i:i+4], ' ')})) AS ps
      |  FROM toks WHERE len(tk) >= 5),
      |sh AS (
      |  SELECT doc_id, CAST(ps.pos AS INT) AS pos, ps.s AS s FROM sh0
      |  UNION ALL
      |  SELECT doc_id, 1 AS pos, array_to_string(tk, ' ') AS s
      |  FROM toks WHERE len(tk) < 5),
      |hot AS (SELECT s FROM sh GROUP BY s HAVING count(DISTINCT doc_id) >= 2),
      |hits AS (SELECT sh.doc_id, sh.pos FROM sh JOIN hot USING (s)),
      |flag AS (
      |  SELECT doc_id, pos,
      |         CASE WHEN lag(pos) OVER w IS NULL OR pos - lag(pos) OVER w > 5
      |              THEN 1 ELSE 0 END AS nw
      |  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      |sp AS (
      |  SELECT doc_id, pos,
      |         sum(nw) OVER (PARTITION BY doc_id ORDER BY pos
      |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span
      |  FROM flag),
      |spans AS (
      |  SELECT doc_id, span, count(*) AS n, max(pos) - min(pos) + 5 AS len
      |  FROM sp GROUP BY 1, 2),
      |agg AS (
      |  SELECT doc_id, sum(n) AS hot_n, count(*) AS n_spans, sum(len) AS covered
      |  FROM spans GROUP BY 1),
      |tc AS (
      |  SELECT doc_id, CAST(CASE WHEN trim(text) = '' THEN 0
      |                      ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS INT) AS token_count
      |  FROM documents)
      |SELECT t.doc_id, t.token_count,
      |       CAST(coalesce(a.hot_n, 0) AS INT) AS n_hot_shingles,
      |       CAST(coalesce(a.n_spans, 0) AS INT) AS n_spans,
      |       CAST(least(coalesce(a.covered, 0), t.token_count) AS INT) AS covered_tokens
      |FROM tc t LEFT JOIN agg a USING (doc_id)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    NearDup
      .repeatedSpanStats(Tables.load(s, dir, "documents"), "doc_id", "text",
        k = 5, minDf = 2L)
      .orderBy("doc_id")
  }

  // Edit-distance fuzzy self-join over distinct part names: bigram
  // count-filter blocking (provably complete — see FuzzyJoin scaladoc)
  // then thresholded levenshtein on survivors. The oracle is the
  // exhaustive all-pairs scan, so the gate proves the blocking loses
  // nothing; the Spark path never materializes the cross product.
  private val qD11 = Q(
    "q_d11_fuzzy_name_join",
    """WITH n AS (SELECT DISTINCT p_name FROM part WHERE p_name IS NOT NULL)
      |SELECT a.p_name AS name_a, b.p_name AS name_b,
      |       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
      |FROM n a JOIN n b
      |  ON a.p_name < b.p_name AND levenshtein(a.p_name, b.p_name) <= 2
      |ORDER BY name_a, name_b""".stripMargin) { (s, dir) =>
    FuzzyJoin
      .fuzzySelfPairs(Tables.load(s, dir, "part"), "p_name", maxDist = 2)
      .orderBy("name_a", "name_b")
  }

  // Prefix-filtered exact Jaccard (AllPairs/PPJoin): df-ascending
  // canonical order, only the (1−t)·n+1 rarest shingles indexed —
  // provably complete, so the oracle is the SAME full exact pair set as
  // q_d2. The hot shingles that force q_d2b's cap mostly fall out of
  // prefixes here without giving up exactness.
  private val qD12 = Q("q_d12_jaccard_prefix", pairsOracle) { (s, dir) =>
    NearDup
      .ngramJaccardPairsPrefix(Tables.load(s, dir, "documents"), "doc_id", "text",
        k = 3, threshold = 0.8)
      .orderBy("id_a", "id_b")
  }

  // Segment-level exact dedup (C4 recipe): 20-word segments, first
  // occurrence corpus-wide wins (doc id, then position), documents
  // reassembled from surviving segments — pinned by digest + kept-count.
  // The oracle replays the identical segmentation (1-based word slices)
  // and first-wins window; the engine shuffles only 16-byte digests to
  // the dedup partition (see NearDup.segmentDedup scaladoc).
  private val qD13 = Q(
    "q_d13_segment_dedup",
    """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS wds
      |           FROM documents WHERE trim(text) <> ''),
      |idx AS (SELECT doc_id, wds,
      |               unnest(range(0, CAST(ceil(len(wds) / 20.0) AS BIGINT))) AS seg_idx
      |        FROM w),
      |segs AS (SELECT doc_id, seg_idx,
      |                array_to_string(wds[seg_idx * 20 + 1 : seg_idx * 20 + 20], ' ') AS seg
      |         FROM idx),
      |keep AS (SELECT doc_id, seg_idx, seg,
      |                row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
      |         FROM segs)
      |SELECT doc_id, CAST(count(*) AS INT) AS n_segments_kept,
      |       md5(string_agg(seg, ' ' ORDER BY seg_idx)) AS dedup_md5
      |FROM keep WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    NearDup.segmentDedup(Tables.load(s, dir, "documents"), "doc_id", "text", segWords = 20)
      .orderBy("doc_id")
  }

  // Incremental dedup against a PERSISTED MinHash index: docs < 400 are
  // indexed once; the 400+ batch is probed without re-hashing the
  // corpus (work ∝ batch + candidates). Every exact near-dup pair
  // involving a batch doc must surface — since id_a < id_b, "involves a
  // batch doc" is exactly id_b >= 400. Band recall matches q_d3 (the
  // full-corpus LSH gate): the oracle is the EXACT pair set, so a
  // recall miss fails the row.
  private val qD14 = Q(
    "q_d14_incremental_dedup",
    pairsOracle.replace("WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8",
      "WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8 AND id_b >= 400")) { (s, dir) =>
    val docs = Tables.load(s, dir, "documents")
    val idx = RunScope.scratchDir("graft_dedup_idx")
    graft.operators.DedupIndex.write(
      docs.where(col("doc_id") < 400), "doc_id", "text", idx)
    graft.operators.DedupIndex.probe(
      s, idx, docs.where(col("doc_id") >= 400), "doc_id", "text")
      .orderBy("id_a", "id_b")
  }

  // Asymmetric shingle-set CONTAINMENT pairs — the subset-dup detector
  // Jaccard structurally misses (a doc embedded in a much larger one has
  // containment ≈ 1 but arbitrarily low Jaccard). Threshold compares
  // shared >= ceil(t·min(n)) in integer arithmetic; the emitted
  // containment is an exact integer ratio. Same inverted index as q_d2;
  // at 0.5 on this corpus the pair set strictly contains the q_d2
  // near-dup pairs plus the size-skewed overlaps Jaccard 0.8 drops.
  private val qD15 = Q(
    "q_d15_containment_pairs",
    raw"""WITH toks AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk FROM documents),
      |sh AS (
      |${shinglesSql(3)}
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b, shared, sa.n AS n_a, sb.n AS n_b,
      |       CAST(shared AS DOUBLE) / least(sa.n, sb.n) AS containment
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = id_a
      |JOIN sizes sb ON sb.doc_id = id_b
      |WHERE shared >= ceil(0.5 * least(sa.n, sb.n))
      |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    NearDup.containmentPairs(
      Tables.load(s, dir, "documents"), "doc_id", "text", k = 3, threshold = 0.5)
      .orderBy("id_a", "id_b")
  }

  // Incremental component maintenance (ConnectedComponents.appendEdges):
  // the corpus is split 80/20 by doc_id, components are built on the old
  // slice's pairs only, and the remaining pairs fold in WITHOUT re-closing
  // over the corpus pair set — the closure runs on the CONTRACTED batch
  // graph, and the corpus labeling is touched by one relabel join. The
  // oracle is the FRESH full-corpus closure, so the gate is exactly
  // appended ≡ rebuilt (the q_d14/q_t21 persisted-index discipline at the
  // transitive layer).
  private[queries] val qD16 = Q(
    "q_d16_incremental_components",
    s"""WITH RECURSIVE pairs AS ($pairsOracle),
       |$pairsClosureSql
       |SELECT d.doc_id, CAST(coalesce(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id
       |FROM documents d LEFT JOIN comp c ON c.u = d.doc_id
       |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    import graft.operators.ConnectedComponents
    val docs = Tables.load(s, dir, "documents")
    val pairs = NearDup.minHashLshPairs(docs, "doc_id", "text",
      k = 3, numPerm = 64, bands = 16, threshold = 0.8)
      .select("id_a", "id_b")
      .pin() // split consumed twice (old slice + batch)
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val cut = (maxId * 4) / 5
    val labeling0 = ConnectedComponents.alternatingStar(
      pairs.filter(col("id_a") < cut && col("id_b") < cut))
    val appended = ConnectedComponents.appendEdges(
      labeling0,
      pairs.filter(col("id_a") >= cut || col("id_b") >= cut))
    val out = docs
      .join(appended.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster_id"))
      .orderBy("doc_id")
    out.pin()
  }

  // GRADED decontamination (Decontamination.overlapFraction): q_d8's
  // boolean flag upgraded to the score a curation policy actually
  // thresholds — overlap_fraction = matched distinct shingles / the
  // doc's distinct shingle count (a page QUOTING one eval question vs a
  // page that IS the eval set). Denominator computed scan-side (no
  // second corpus pass); fractions are exact integer ratios. Same
  // shingling contract as q_d8 (k=5, whole-text fallback under k
  // tokens), probes = docs 0–4, graded over docs ≥ 5.
  private[queries] val qD17 = Q(
    "q_d17_contamination_fraction",
    raw"""WITH toks AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk FROM documents),
      |sh AS (
      |${shinglesSql(5)}
      |probe AS (SELECT DISTINCT s FROM sh WHERE doc_id < 5),
      |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
      |        FROM sh WHERE doc_id >= 5 GROUP BY 1),
      |hits AS (
      |  SELECT sh.doc_id, count(*) AS n_hits
      |  FROM sh JOIN probe USING (s) WHERE sh.doc_id >= 5 GROUP BY 1)
      |SELECT d.doc_id, c.n_shingles,
      |       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
      |       CAST(coalesce(h.n_hits, 0) AS DOUBLE) / c.n_shingles AS overlap_fraction
      |FROM documents d
      |JOIN cnt c USING (doc_id)
      |LEFT JOIN hits h USING (doc_id)
      |WHERE d.doc_id >= 5 ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.load(s, dir, "documents")
    graft.operators.Decontamination
      .overlapFraction(
        docs.filter(col("doc_id") >= 5),
        docs.filter(col("doc_id") < 5),
        "doc_id", "text", k = 5)
      .select("doc_id", "n_shingles", "n_hits", "overlap_fraction")
      .orderBy("doc_id")
  }

  // Blocking-quality evaluation (NearDup.blockingQuality): SimHash
  // blocking graded against the EXACT shingle-Jaccard ground truth —
  // pair recall, precision, and the reduction ratio that justifies
  // blocking at all. Portable md5 signature keeps EVERY number in
  // DuckDB's reach: the oracle recomputes the candidate set (q_d4's
  // sig replay, brute hamming ≡ blocked by pigeonhole), the truth set
  // (the pairsOracle shingle machinery), their intersection, and the
  // ratios — a value-exact evaluation harness, not a floor gate.
  private val qD18 = Q(
    "q_d18_blocking_quality",
    raw"""WITH toks AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
      |  FROM documents WHERE trim(text) <> ''),
      |sh AS (
      |${shinglesSql(3)}
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |truth AS (
      |  SELECT id_a, id_b FROM inter
      |  JOIN sizes sa ON sa.doc_id = id_a
      |  JOIN sizes sb ON sb.doc_id = id_b
      |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8),
      |tw AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
      |  FROM documents WHERE trim(text) <> ''),
      |th AS (SELECT doc_id, ('0x' || substring(md5(t), 1, 15))::BIGINT AS h FROM tw),
      |votes AS (
      |  SELECT doc_id, j, sum(CASE WHEN (h >> CAST(j AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM th, (SELECT unnest(range(60)) AS j) bits
      |  GROUP BY doc_id, j),
      |sig0 AS (
      |  SELECT doc_id, sum(CASE WHEN v > 0 THEN (1::BIGINT << CAST(j AS INT)) ELSE 0 END) AS sim
      |  FROM votes GROUP BY doc_id),
      |sig AS (
      |  SELECT d.doc_id, coalesce(s.sim, 0) AS sim
      |  FROM documents d LEFT JOIN sig0 s USING (doc_id)),
      |cand AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.sim, b.sim)) <= 3),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
      |cnt AS (
      |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true_pairs,
      |         (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
      |         (SELECT CAST(count(*) AS BIGINT)
      |          FROM truth t JOIN cand c ON t.id_a = c.id_a AND t.id_b = c.id_b)
      |           AS n_found)
      |SELECT nn.n_docs,
      |       CAST(nn.n_docs * (nn.n_docs - 1) // 2 AS BIGINT) AS n_all_pairs,
      |       cnt.n_true_pairs, cnt.n_candidates, cnt.n_found,
      |       CASE WHEN cnt.n_true_pairs > 0
      |            THEN CAST(cnt.n_found AS DOUBLE) / cnt.n_true_pairs END AS pair_recall,
      |       CASE WHEN cnt.n_candidates > 0
      |            THEN CAST(cnt.n_found AS DOUBLE) / cnt.n_candidates END AS precision,
      |       CASE WHEN nn.n_docs > 1
      |            THEN 1.0 - CAST(cnt.n_candidates AS DOUBLE)
      |                 / (nn.n_docs * (nn.n_docs - 1) // 2) END AS reduction_ratio
      |FROM nn CROSS JOIN cnt""".stripMargin) { (s, dir) =>
    import graft.functions.{Hashing, TextAnalysis}
    NearDup.blockingQuality(
      Tables.load(s, dir, "documents"), "doc_id", "text",
      signatureOf = t => Hashing.simHashPortable(TextAnalysis.tokens(t)))
  }

  // Content-defined chunking dedup (Chunking.cdcChunks, the Rabin/LBFS
  // scheme): every doc gets a VARIABLE-LENGTH prefix (doc_id % 37 + 10
  // chars of its own text) before one shared 608-char paragraph — the
  // adversarial case for fixed-size chunking, where a one-char shift
  // destroys every block alignment. CDC boundaries depend only on local
  // content, so the paragraph's interior chunks are IDENTICAL across all
  // docs regardless of prefix length; the gate output is the cross-doc
  // duplicated-chunk inventory, and the oracle replays boundary
  // detection (md5-60 of each 16-char window, mod 32), lag-window chunk
  // assembly, and chunk hashing verbatim. Engine-side REQUIRE pins
  // non-vacuity: the shared paragraph must surface as duplicated chunks.
  private[queries] val sharedPara =
    "the five boxing wizards jump quickly over content defined chunk boundaries "
  private[queries] val qD19 = Q(
    "q_d19_cdc_chunk_dedup",
    s"""WITH src AS (
       |  SELECT doc_id,
       |         substr(text, 1, CAST(doc_id % 37 AS INT) + 10)
       |         || repeat('$sharedPara', 8)
       |         || substr(text, 50, 150) AS txt
       |  FROM documents WHERE doc_id < 1000),
       |pos AS (
       |  SELECT doc_id, u.p
       |  FROM src, unnest(range(16, length(txt) + 1)) AS u(p)
       |  WHERE (('0x' || substring(md5(substr(txt, CAST(u.p AS INT) - 15, 16)), 1, 15))::BIGINT) % 32 = 0),
       |ends AS (
       |  SELECT doc_id, p FROM pos
       |  UNION
       |  SELECT doc_id, length(txt) FROM src WHERE length(txt) >= 1),
       |ch AS (
       |  SELECT e.doc_id, s.txt,
       |         coalesce(lag(e.p) OVER (PARTITION BY e.doc_id ORDER BY e.p), 0) + 1 AS start,
       |         e.p AS e
       |  FROM ends e JOIN src s ON s.doc_id = e.doc_id),
       |hashed AS (
       |  SELECT doc_id,
       |         ('0x' || substring(md5(substr(txt, CAST(start AS INT), CAST(e - start + 1 AS INT))), 1, 15))::BIGINT AS chunk_hash,
       |         e - start + 1 AS len
       |  FROM ch)
       |SELECT chunk_hash, CAST(len AS BIGINT) AS len,
       |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |       CAST(count(*) AS BIGINT) AS n_occ
       |FROM hashed
       |GROUP BY 1, 2
       |HAVING count(DISTINCT doc_id) >= 2
       |ORDER BY chunk_hash""".stripMargin) { (s, dir) =>
    val txt = concat(
      col("text").substr(lit(1), (col("doc_id") % 37 + 10).cast("int")),
      lit(sharedPara * 8),
      col("text").substr(lit(50), lit(150)))
    // doc_id < 1000 caps the gate corpus (the q_r3 rule): the boundary
    // hash is one md5 PER POSITION for oracle portability — the
    // production path would swap a cheap rolling hash into the same
    // boundary rule; the gate grades the chunking semantics
    val docs = graft.Tables.load(s, dir, "documents")
      .filter(col("doc_id") < 1000)
      .select(col("doc_id"), txt.as("txt"))
    val out = graft.operators.Chunking
      .cdcChunks(docs, "doc_id", "txt", window = 16, modulus = 32)
      .groupBy("chunk_hash", "len")
      .agg(
        countDistinct("doc_id").cast("bigint").as("n_docs"),
        count(lit(1)).cast("bigint").as("n_occ"))
      .filter(col("n_docs") >= 2)
      .select(col("chunk_hash"), col("len").cast("bigint").as("len"),
        col("n_docs"), col("n_occ"))
      .orderBy("chunk_hash")
    // the whole point of CDC: the shifted shared paragraph MUST dedup
    require(out.limit(1).count() >= 1,
      "q_d19: shared-paragraph interior chunks must surface as duplicates")
    out
  }

  // Generalized suffix array (operators.SuffixArray, prefix doubling):
  // the full suffix ORDER of a 120-doc corpus — every (doc, offset)
  // suffix ranked globally, identical suffixes tie-broken by doc id.
  // The oracle sorts the suffix STRINGS directly; the engine never
  // materializes a suffix, only log-many rank tables (rounds bounded by
  // the longest DOCUMENT, not the corpus — the 100 TB property). The
  // corpus contains exact-duplicate docs, so cross-doc full-suffix ties
  // are exercised, and the doc-ascending sentinel rule is load-bearing.
  private val qD20 = Q(
    "q_d20_suffix_array",
    """WITH src AS (
      |  SELECT doc_id, coalesce(text, '') AS txt
      |  FROM documents WHERE doc_id < 120),
      |sfx AS (
      |  SELECT doc_id, CAST(u.o AS BIGINT) AS off,
      |         substr(txt, CAST(u.o AS INT)) AS s
      |  FROM src, unnest(range(1, length(txt) + 1)) AS u(o))
      |SELECT CAST(row_number() OVER (ORDER BY s, doc_id, off) - 1 AS BIGINT) AS rk,
      |       CAST(doc_id AS BIGINT) AS doc_id, off
      |FROM sfx
      |ORDER BY rk""".stripMargin) { (s, dir) =>
    import graft.operators.SuffixArray
    // doc_id < 120 caps the gate corpus (the q_r3 rule) — SF-invariant
    val docs = Tables.load(s, dir, "documents").filter(col("doc_id") < 120)
    SuffixArray.suffixArray(docs, "doc_id", "text")
      .select(col("rk"), col("doc").cast("bigint").as("doc_id"), col("off"))
      .orderBy("rk")
  }

  /** Oracle fragment (margin text): the 40-grams `g` that repeat across
    * docs, each doc's covered positions, and `isl`, which numbers each
    * maximal run `i` of windows that overlap or touch.
    */
  private val dupGramIslandsSql =
    """dup AS (
      |  SELECT gram FROM g GROUP BY gram
      |  HAVING count(*) >= 2 AND count(DISTINCT doc_id) >= 2),
      |cov AS (SELECT g.doc_id, g.p FROM g JOIN dup USING (gram)),
      |brk AS (
      |  SELECT doc_id, p,
      |         CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) <= 40
      |              THEN 0 ELSE 1 END AS b
      |  FROM cov),
      |isl AS (
      |  SELECT doc_id, p,
      |         sum(b) OVER (PARTITION BY doc_id ORDER BY p
      |                      ROWS UNBOUNDED PRECEDING) AS i
      |  FROM brk)"""

  // Exact-substring dedup spans (Lee et al. 2022): every doc gets a
  // doc-dependent variable-length prefix before a shared 308-char
  // paragraph (the q_d19 shifted-duplicate construction), and the gate
  // reports the MAXIMAL per-doc spans covered by cross-doc duplicated
  // 40-char windows. Engine detects duplicates via ONE doubling table
  // (overlapping 32-char rank pairs — the sparse-table equality trick);
  // the oracle re-derives the same set by brute 40-gram grouping: two
  // different algorithms, provably the same answer.
  private val qD21 = Q(
    "q_d21_exact_substring_spans",
    s"""WITH src AS (
       |  SELECT doc_id,
       |         substr(text, 1, CAST(doc_id % 37 AS INT) + 10)
       |         || repeat('$sharedPara', 4)
       |         || substr(text, 50, 150) AS txt
       |  FROM documents WHERE doc_id < 250),
       |g AS (
       |  SELECT doc_id, CAST(u.p AS BIGINT) AS p,
       |         substr(txt, CAST(u.p AS INT), 40) AS gram
       |  FROM src, unnest(range(1, length(txt) - 38)) AS u(p)),
       |$dupGramIslandsSql
       |SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |       min(p) AS span_start,
       |       CAST(max(p) - min(p) + 40 AS BIGINT) AS span_len,
       |       CAST(count(*) AS BIGINT) AS n_windows
       |FROM isl GROUP BY doc_id, i
       |ORDER BY doc_id, span_start""".stripMargin) { (s, dir) =>
    import graft.operators.SuffixArray
    val txt = concat(
      col("text").substr(lit(1), (col("doc_id") % 37 + 10).cast("int")),
      lit(sharedPara * 4),
      col("text").substr(lit(50), lit(150)))
    val src = Tables.load(s, dir, "documents")
      .filter(col("doc_id") < 250)
      .select(col("doc_id"), txt.as("txt"))
    // only the last doubling table feeds one plan → skip per-round
    // checkpoints, the whole build pipelines into one job
    val ctx = SuffixArray.build(src, "doc_id", "txt", maxWindow = 40,
      materializeRounds = false, baseWindow = 8)
    val out = SuffixArray.duplicatedSpans(ctx, 40)
      .select(col("doc").cast("bigint").as("doc_id"),
        col("span_start"), col("span_len"), col("n_windows"))
      .orderBy("doc_id", "span_start")
      // checkpointed so the non-vacuity probe and the driver's consumption
      // share one materialization
      .pin()
    // the whole point: the shifted shared paragraph MUST surface as spans
    require(out.limit(1).count() >= 1,
      "q_d21: shared-paragraph duplicate spans must exist")
    out
  }

  // Corpus repetition profile: duplicated-window position counts at four
  // scales (20/40/80/160 chars) from ONE doubling build — the dedup
  // dial-setting diagnostic ("how much of the corpus recurs verbatim,
  // and at what granularity") run before choosing the span threshold.
  private val qD22 = Q(
    "q_d22_repetition_profile",
    s"""WITH src AS (
       |  SELECT doc_id,
       |         substr(text, 1, CAST(doc_id % 37 AS INT) + 10)
       |         || repeat('$sharedPara', 4)
       |         || substr(text, 50, 150) AS txt
       |  FROM documents WHERE doc_id < 150),
       |ls(l) AS (SELECT * FROM (VALUES (20), (40), (80), (160)) t(l)),
       |g AS (
       |  SELECT ls.l, s.doc_id, CAST(u.p AS BIGINT) AS p,
       |         substr(s.txt, CAST(u.p AS INT), ls.l) AS gram
       |  FROM src s CROSS JOIN ls, unnest(range(1, length(s.txt) - ls.l + 2)) AS u(p)),
       |dup AS (
       |  SELECT l, gram FROM g GROUP BY l, gram
       |  HAVING count(*) >= 2 AND count(DISTINCT doc_id) >= 2)
       |SELECT CAST(g.l AS BIGINT) AS win_len,
       |       CAST(count(*) AS BIGINT) AS n_dup_windows,
       |       CAST(count(DISTINCT g.doc_id) AS BIGINT) AS n_docs
       |FROM g JOIN dup ON g.l = dup.l AND g.gram = dup.gram
       |GROUP BY g.l
       |ORDER BY win_len""".stripMargin) { (s, dir) =>
    import graft.operators.SuffixArray
    val txt = concat(
      col("text").substr(lit(1), (col("doc_id") % 37 + 10).cast("int")),
      lit(sharedPara * 4),
      col("text").substr(lit(50), lit(150)))
    val src = Tables.load(s, dir, "documents")
      .filter(col("doc_id") < 150)
      .select(col("doc_id"), txt.as("txt"))
    val ctx = SuffixArray.build(src, "doc_id", "txt", maxWindow = 160,
      baseWindow = 8)
    SuffixArray.repetitionProfile(ctx, Seq(20, 40, 80, 160))
      .orderBy("win_len")
  }

  // Corpus-scale exact-substring dedup — the UNCAPPED twin of q_d21 on
  // the natural documents table (the planted near-dup docs share their
  // whole source text, so 40-char duplicate windows exist organically).
  // This row is the suffix-array family's bench/scale signal: positions
  // grow with SF (~1.3M at sf0.1), rounds stay fixed at 6 (window 32
  // covers L=40 via the overlapping-rank trick), and the per-doc output
  // is the dedup ledger a pipeline would act on: how many duplicated
  // chars each doc carries and in how many maximal spans.
  private val qD23 = Q(
    "q_d23_exact_substring_corpus",
    s"""WITH g AS (
      |  SELECT doc_id, CAST(u.p AS BIGINT) AS p,
      |         substr(text, CAST(u.p AS INT), 40) AS gram
      |  FROM documents, unnest(range(1, length(text) - 38)) AS u(p)),
      |$dupGramIslandsSql,
      |spans AS (
      |  SELECT doc_id, i,
      |         max(p) - min(p) + 40 AS span_len,
      |         count(*) AS n_win
      |  FROM isl GROUP BY doc_id, i)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |       CAST(count(*) AS BIGINT) AS n_spans,
      |       CAST(sum(span_len) AS BIGINT) AS dup_chars,
      |       CAST(sum(n_win) AS BIGINT) AS n_windows
      |FROM spans GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import graft.operators.SuffixArray
    val docs = Tables.load(s, dir, "documents")
    val ctx = SuffixArray.build(docs, "doc_id", "text", maxWindow = 40,
      materializeRounds = false, baseWindow = 8)
    SuffixArray.duplicatedSpans(ctx, 40)
      .groupBy(col("doc").cast("bigint").as("doc_id"))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(col("span_len")).as("dup_chars"),
        sum(col("n_windows")).as("n_windows"))
      .orderBy("doc_id")
  }

  // Incremental exact-substring dedup (SubstringIndex): the q_d14
  // persisted-index discipline applied to the suffix-array family —
  // index docs (doc_id % 4 != 0) fingerprint once into kp-partitioned
  // postings, the batch (doc_id % 4 == 0) probes with work ∝ batch
  // (broadcast key-prefix pruning + full-fingerprint join), and
  // probe ∪ index-internal dups must equal the full rebuild over
  // index ∪ batch. The oracle computes that full set directly with the
  // same md5-60 fingerprints per position (the q_d19 per-position md5
  // portability idiom); positions are compared, not hashes, so the
  // equality gate IS the incremental-≡-rebuild contract.
  private[queries] val qD24 = Q(
    "q_d24_substring_index_probe",
    """WITH d AS (SELECT doc_id, coalesce(text, '') AS txt FROM documents),
      |pos AS (
      |  SELECT doc_id, CAST(u.p AS BIGINT) AS off,
      |         ('0x' || substring(md5(substr(txt, CAST(u.p AS INT), 40)),
      |                            1, 15))::BIGINT AS fp
      |  FROM d, unnest(range(1, len(txt) - 38)) AS u(p)
      |  WHERE len(txt) >= 40),
      |g AS (SELECT fp, count(*) AS c, min(doc_id) AS mn, max(doc_id) AS mx
      |      FROM pos GROUP BY fp)
      |SELECT CAST(p.doc_id AS BIGINT) AS doc,
      |       CAST(p.off AS BIGINT) AS off
      |FROM pos p JOIN g USING (fp)
      |WHERE g.c >= 2 AND g.mn <> g.mx
      |ORDER BY doc, off""".stripMargin) { (s, dir) =>
    import graft.operators.SubstringIndex
    val docs = Tables.load(s, dir, "documents")
    val idx = RunScope.scratchDir("graft_ssi_idx")
    // r18 opt: writeAndDuplicates — the index docs fingerprint ONCE
    // (checkpointed) and the index-internal duplicate windows come off
    // that frame instead of a full read-back of the just-written
    // postings (the streaming twin q_st34 already ran this fused shape);
    // same rows by construction — both forms window over the identical
    // postings. Probe unchanged.
    val idxDups = SubstringIndex.writeAndDuplicates(
      docs.where(col("doc_id") % 4 =!= 0), "doc_id", "text", idx, L = 40)
    // distinct: an index position can be BOTH an index-internal dup and
    // a probe hit (its window recurs in the index AND in the batch)
    SubstringIndex.probe(
      s, idx, docs.where(col("doc_id") % 4 === 0), "doc_id", "text", L = 40)
      .unionByName(idxDups)
      .distinct()
      .orderBy("doc", "off")
  }

  // Canonical-link collapse (CanonicalDedup.collapse): groups of 5
  // pages per canonical cluster — the target itself (no canonical
  // link), a session-id variant declaring the absolute target, a
  // /print variant declaring a RELATIVE canonical (`../<g>` must
  // resolve through the dot-segment chain), a solo page (own group),
  // and a variant whose declared canonical carries tracking params
  // that must strip before keying. The target is the kept
  // representative; the oracle computes keys and keep flags
  // arithmetically.
  private val qD25 = Q(
    "q_d25_canonical_collapse",
    """WITH d AS (
      |  SELECT doc_id, CAST(doc_id % 5 AS INT) AS c,
      |         doc_id // 5 AS g, CAST(doc_id AS VARCHAR) AS i
      |  FROM documents WHERE doc_id < 1500),
      |b AS (
      |  SELECT doc_id, c, i,
      |         's' || CAST(g % 17 AS VARCHAR) || '.example.org' AS host,
      |         'https://s' || CAST(g % 17 AS VARCHAR) ||
      |           '.example.org/a/' || CAST(g AS VARCHAR) AS tgt
      |  FROM d)
      |SELECT doc_id,
      |  CASE c WHEN 0 THEN tgt
      |         WHEN 1 THEN tgt || '?sess=' || i
      |         WHEN 2 THEN tgt || '/print'
      |         WHEN 3 THEN 'https://' || host || '/solo/' || i
      |         ELSE tgt || '?v=2' END AS url_canon,
      |  CASE WHEN c = 3 THEN 'https://' || host || '/solo/' || i
      |       ELSE tgt END AS canonical_key,
      |  CAST(CASE WHEN c = 0 OR c = 3 THEN 1 ELSE 0 END AS INT) AS is_self,
      |  CAST(CASE WHEN c = 0 OR c = 3 THEN 1 ELSE 0 END AS INT) AS is_kept
      |FROM b ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val c = (col("doc_id") % 5).cast("int")
    val g = (col("doc_id") / 5).cast("long")
    val i = col("doc_id").cast("string")
    val host = concat(lit("s"), (g % 17).cast("string"),
      lit(".example.org"))
    val tgt = concat(lit("https://"), host, lit("/a/"), g.cast("string"))
    val url =
      when(c === 0, tgt)
        .when(c === 1, concat(tgt, lit("?sess="), i))
        .when(c === 2, concat(tgt, lit("/print")))
        .when(c === 3, concat(lit("https://"), host, lit("/solo/"), i))
        .otherwise(concat(tgt, lit("?v=2")))
    val html =
      when(c === 0, lit("<html><p>the canonical target</p></html>"))
        .when(c === 1, concat(
          lit("<link rel=\"canonical\" href=\""), tgt, lit("\">")))
        .when(c === 2, concat(
          lit("<link href='../"), g.cast("string"),
          lit("' rel='canonical'>")))
        .when(c === 3, lit("<html><p>solo</p></html>"))
        .otherwise(concat(
          lit("<link rel=canonical href=\""), tgt,
          lit("?utm_source=z\">")))
    val pages = Tables.load(s, dir, "documents")
      .where(col("doc_id") < 1500)
      .select(col("doc_id"), url.as("url"), html.as("html"))
      .pin()
    graft.operators.CanonicalDedup
      .collapse(pages, "doc_id", "url", "html")
      .select(col("doc_id"), col("url_canon"), col("canonical_key"),
        col("is_self").cast("int").as("is_self"),
        col("is_kept").cast("int").as("is_kept"))
      .orderBy("doc_id")
      .pin()
  }

  override val all: Seq[Q] =
    Seq(qD1, qD2, qD2b, qD3, qD4, qD4b, qD4x, qD5, qD6, qD7, qD8, qD9, qD10, qD11,
      qD12, qD13, qD14, qD15, qD16, qD17, qD18, qD19, qD20, qD21, qD22, qD23, qD24,
      qD25)
}
