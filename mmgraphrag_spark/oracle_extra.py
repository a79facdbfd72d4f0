"""DuckDB-SQL twins of the document operators (dedup / textstats).
Integer-scaled metrics throughout → bit-exact cross-engine comparison.
Parameters mirror the operator defaults.
"""

from __future__ import annotations

from .config import DEFAULT, PipelineConfig


def dup_exact_sql() -> str:
    return """
WITH h AS (SELECT doc_id, md5(text) AS content_hash FROM documents)
SELECT doc_id, keep_id, content_hash FROM (
  SELECT doc_id, content_hash,
         min(doc_id) OVER (PARTITION BY content_hash) AS keep_id
  FROM h
) t WHERE doc_id <> keep_id
"""


def _shingle_cte(cfg: PipelineConfig) -> str:
    k = cfg.shingle_size
    return f"""
d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(list_slice(w, j + 1, j + {k}), ' ')
                        for j in range(greatest(len(w) - {k}, 0) + 1)]) AS sh
  FROM d
)"""


def dup_minhash_sql(threshold: float = 0.5, cfg: PipelineConfig = DEFAULT) -> str:
    perms, bands = cfg.minhash_perms, cfg.minhash_bands
    r = perms // bands
    t = int(threshold * 1_000_000)
    return f"""
WITH {_shingle_cte(cfg)},
mh AS (
  SELECT doc_id, CAST(p.i AS INT) AS i,
         min(md5(CAST(p.i AS VARCHAR) || '|' || u.s)) AS m
  FROM sh, UNNEST(sh.sh) AS u(s), UNNEST(range({perms})) AS p(i)
  GROUP BY doc_id, p.i
),
bands AS (
  SELECT doc_id, i // {r} AS band,
         md5(string_agg(m, '|' ORDER BY i)) AS bkey
  FROM mh GROUP BY doc_id, i // {r}
),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
)
SELECT c.a, c.b,
       len(list_intersect(sa.sh, sb.sh)) * 1000000
         // len(list_distinct(sa.sh || sb.sh)) AS jaccard_pm
FROM cand c JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b
WHERE len(list_intersect(sa.sh, sb.sh)) * 1000000
      // len(list_distinct(sa.sh || sb.sh)) >= {t}
"""


def dup_clusters_sql(threshold: float = 0.5, cfg: PipelineConfig = DEFAULT) -> str:
    """Connected components over the verified minhash pair graph via a
    recursive transitive-closure CTE: cluster_rep = min doc_id reachable
    (singletons are their own representative) — the exact twin of the
    Spark min-label-propagation fixpoint."""
    perms, bands = cfg.minhash_perms, cfg.minhash_bands
    r = perms // bands
    t = int(threshold * 1_000_000)
    return f"""
WITH RECURSIVE {_shingle_cte(cfg)},
mh AS (
  SELECT doc_id, CAST(p.i AS INT) AS i,
         min(md5(CAST(p.i AS VARCHAR) || '|' || u.s)) AS m
  FROM sh, UNNEST(sh.sh) AS u(s), UNNEST(range({perms})) AS p(i)
  GROUP BY doc_id, p.i
),
bands AS (
  SELECT doc_id, i // {r} AS band,
         md5(string_agg(m, '|' ORDER BY i)) AS bkey
  FROM mh GROUP BY doc_id, i // {r}
),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
),
pairs AS (
  SELECT c.a, c.b
  FROM cand c JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b
  WHERE len(list_intersect(sa.sh, sb.sh)) * 1000000
        // len(list_distinct(sa.sh || sb.sh)) >= {t}
),
edges AS (
  SELECT a AS x, b AS y FROM pairs UNION SELECT b, a FROM pairs
),
reach(x, y) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x
)
SELECT x AS doc_id, min(y) AS cluster_rep FROM reach GROUP BY x
"""


def _simhash_cte() -> str:
    from .operators.dedup import SIMHASH_BITS

    return f"""
st AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
hv AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, {SIMHASH_BITS // 4}))::BIGINT AS hv FROM st),
votes AS (
  SELECT doc_id, CAST(r.j AS INT) AS j,
         sum(CASE WHEN (hv >> CAST(r.j AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM hv, UNNEST(range({SIMHASH_BITS})) AS r(j) GROUP BY doc_id, r.j
),
sim AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id
)"""


def dup_simhash_sql() -> str:
    return f"WITH {_simhash_cte()} SELECT doc_id, simhash FROM sim"


def dup_simhash_pairs_sql(max_hamming: int = 2) -> str:
    from .operators.dedup import SIMHASH_BLOCKS, _BLOCK_BITS, _BLOCK_MASK

    blocks = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {i} AS h,"
        f" (simhash >> {i * _BLOCK_BITS}) & {_BLOCK_MASK} AS hk FROM sim"
        for i in range(SIMHASH_BLOCKS)
    )
    return f"""
WITH {_simhash_cte()},
halves AS (
  SELECT doc_id, simhash, h, hk FROM ({blocks}) u
),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
         x.simhash AS sa, y.simhash AS sb
  FROM halves x JOIN halves y
    ON x.h = y.h AND x.hk = y.hk AND x.doc_id < y.doc_id
)
SELECT a, b, bit_count(xor(sa, sb)) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= {max_hamming}
"""


def token_stats_sql() -> str:
    return """
WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
SELECT doc_id,
       len(w) AS n_tokens,
       len(regexp_extract_all(text, '[a-z]+')) AS n_alpha_tokens,
       length(text) AS n_chars,
       CAST(list_sum([length(x) for x in w]) * 1000000 // len(w) AS BIGINT)
         AS avg_token_len_ppm
FROM d
"""


def quality_sql() -> str:
    from .operators.textstats import STOPWORDS

    lst = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
c AS (
  SELECT doc_id,
         len(list_filter(w, x -> x IN ({lst}))) * 1000000::BIGINT AS stop_num,
         len(list_distinct(w)) * 1000000::BIGINT AS dist_num,
         least(len(w), 200) * 1000000::BIGINT AS len_num,
         len(w) AS n
  FROM d
)
SELECT doc_id,
       stop_num // n AS stopword_ppm,
       dist_num // n AS distinct_ratio_ppm,
       ((dist_num // n) * 5 + (1000000 - stop_num // n) * 3
        + (len_num // 200) * 2) // 10 AS quality_ppm
FROM c
"""


def langid_sql() -> str:
    from .operators.textstats import LANG_PROFILES

    branches = []
    for lang, words in sorted(LANG_PROFILES.items()):
        lst = ", ".join(f"'{s}'" for s in words)
        branches.append(
            f"SELECT doc_id, '{lang}' AS lang,"
            f" len(list_filter(w, x -> x IN ({lst}))) AS hits FROM d"
        )
    union = " UNION ALL ".join(branches)
    return f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
scores AS ({union}),
best AS (
  SELECT doc_id, lang, hits,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY hits DESC, lang ASC) AS rn
  FROM scores
)
SELECT doc_id,
       CASE WHEN hits > 0 THEN lang ELSE 'und' END AS lang_guess,
       hits
FROM best WHERE rn = 1
"""


def fingerprints_sql(window: int = 5) -> str:
    return f"""
WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
SELECT doc_id, md5(text) AS doc_md5,
       list_min([md5(array_to_string(list_slice(w, j + 1, j + {window}), ' '))
                 for j in range(greatest(len(w) - {window}, 0) + 1)]) AS winnow
FROM d
"""


def ngram_jaccard_sql(
    threshold: float = 0.5, max_df: int = 100000, cfg: PipelineConfig = DEFAULT
) -> str:
    """Twin of dedup.ngram_jaccard_pairs: inverted-index exact Jaccard with
    the identical stop-shingle df cap; union sizes from the FULL sets."""
    t = int(threshold * 1_000_000)
    return f"""
WITH {_shingle_cte(cfg)},
posted0 AS (
  SELECT doc_id, u.s AS s FROM sh, UNNEST(sh.sh) AS u(s)
),
rare AS (
  SELECT s FROM posted0 GROUP BY s HAVING count(*) <= {max_df}
),
posted AS (
  SELECT p.doc_id, p.s FROM posted0 p JOIN rare r ON r.s = p.s
),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
  FROM posted x JOIN posted y ON x.s = y.s AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM posted0 GROUP BY doc_id)
SELECT i.a, i.b,
       i.inter * 1000000 // (sa.n + sb.n - i.inter) AS jaccard_pm
FROM inter i JOIN sizes sa ON sa.doc_id = i.a JOIN sizes sb ON sb.doc_id = i.b
WHERE i.inter * 1000000 // (sa.n + sb.n - i.inter) >= {t}
"""


def tfidf_sql(k: int = 5) -> str:
    """Twin of textstats.tfidf_topk: raw-ratio integer IDF, top-k per doc by
    (tfidf_ppm desc, term asc)."""
    return f"""
WITH toks AS (
  SELECT doc_id, u.t AS term
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       UNNEST(w) AS u(t)
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT doc_id, term, tf, df, tfidf_ppm, rnk FROM (
  SELECT t.doc_id, t.term, t.tf, d.df,
         t.tf * ((n.n_docs * 1000000) // d.df) AS tfidf_ppm,
         ROW_NUMBER() OVER (
           PARTITION BY t.doc_id
           ORDER BY t.tf * ((n.n_docs * 1000000) // d.df) DESC, t.term ASC
         ) AS rnk
  FROM tf t JOIN dfq d USING (term), n
) WHERE rnk <= {k}
"""


def repetition_sql() -> str:
    """Twin of textstats.repetition_scores: most-frequent 2-gram share +
    duplicated 3-gram position fraction, exact integers."""
    return """
WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
g2 AS (
  SELECT doc_id, u.g AS gram FROM (
    SELECT doc_id,
           [array_to_string(list_slice(w, j + 1, j + 2), ' ')
            for j in range(greatest(len(w) - 2, 0) + 1)] AS gs
    FROM d), UNNEST(gs) AS u(g)
),
c2 AS (SELECT doc_id, gram, count(*) AS cnt FROM g2 GROUP BY doc_id, gram),
top2 AS (
  SELECT doc_id, gram AS top_2gram, cnt FROM (
    SELECT doc_id, gram, cnt,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY cnt DESC, gram ASC) AS rn
    FROM c2) WHERE rn = 1
),
g3 AS (
  SELECT doc_id, u.g AS gram FROM (
    SELECT doc_id,
           [array_to_string(list_slice(w, j + 1, j + 3), ' ')
            for j in range(greatest(len(w) - 3, 0) + 1)] AS gs
    FROM d), UNNEST(gs) AS u(g)
),
c3 AS (SELECT doc_id, gram, count(*) AS cnt FROM g3 GROUP BY doc_id, gram),
dup3 AS (
  SELECT doc_id,
         COALESCE(SUM(CASE WHEN cnt >= 2 THEN cnt END), 0) AS dup_pos,
         SUM(cnt) AS tot3
  FROM c3 GROUP BY doc_id
),
sz AS (SELECT doc_id, greatest(len(w) - 2, 0) + 1 AS tot2 FROM d)
SELECT t.doc_id, t.top_2gram,
       CAST(t.cnt * 1000000 // s.tot2 AS BIGINT) AS top2gram_ppm,
       CAST(d3.dup_pos * 1000000 // d3.tot3 AS BIGINT) AS dup3gram_ppm
FROM top2 t JOIN sz s USING (doc_id) JOIN dup3 d3 USING (doc_id)
"""


def crossdoc_span_sql(n: int = 8, min_docs: int = 2, max_df: int = 100_000) -> str:
    """Twin of dedup.crossdoc_span_coverage: cross-document duplicated
    k-gram interval-union coverage per doc, exact integers."""
    return f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
occ AS (
  SELECT doc_id, u.o.j AS j, u.o.g AS g FROM (
    SELECT doc_id,
           CASE WHEN len(w) >= {n} THEN
             [{{'j': j,
                'g': md5(array_to_string(list_slice(w, j + 1, j + {n}), ' '))}}
              for j in range(len(w) - {n} + 1)]
           ELSE [] END AS os
    FROM d), UNNEST(os) AS u(o)
),
dup AS (
  SELECT g FROM occ GROUP BY g
  HAVING count(DISTINCT doc_id) >= {min_docs}
     AND count(DISTINCT doc_id) <= {max_df}
),
hit AS (SELECT doc_id, j FROM occ WHERE g IN (SELECT g FROM dup)),
cov AS (
  SELECT doc_id, count(*) AS dup_starts,
         SUM(CASE WHEN prev IS NULL THEN {n}
                  ELSE least({n}, j - prev) END) AS covered
  FROM (SELECT doc_id, j,
               lag(j) OVER (PARTITION BY doc_id ORDER BY j) AS prev
        FROM hit)
  GROUP BY doc_id
),
sz AS (SELECT doc_id, len(w) AS n_tokens FROM d)
SELECT s.doc_id,
       CAST(s.n_tokens AS BIGINT) AS n_tokens,
       CAST(COALESCE(c.dup_starts, 0) AS BIGINT) AS dup_starts,
       CAST(COALESCE(c.covered, 0) AS BIGINT) AS covered_tokens,
       CAST(COALESCE(c.covered, 0) * 1000000 // s.n_tokens AS BIGINT) AS dup_ppm
FROM sz s LEFT JOIN cov c USING (doc_id)
"""


def bm25_sql(k: int = 10, n_query_terms: int = 3) -> str:
    """Twin of textstats.bm25_topk: rarest-terms query set, raw-ratio integer
    IDF, integer-cleared tf saturation (k1=1.2, b=0.75). All-integer => exact
    hash; `//` on non-negative operands == Spark's `div` here."""
    score = (
        "(((2 * (n.n_docs - t.df) + 1) * 1000000) // (2 * t.df + 1))"
        " * ((22 * t2.tf * n.total_len * 1000000)"
        "    // (10 * t2.tf * n.total_len + 3 * n.total_len + 9 * l.dl * n.n_docs))"
        " // 1000000"
    )
    return f"""
WITH base AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
toks AS (
  SELECT doc_id, u.t AS term FROM base, UNNEST(w) AS u(t)
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs, CAST(SUM(len(w)) AS BIGINT) AS total_len FROM base),
dls AS (SELECT doc_id, len(w) AS dl FROM base),
qterms AS (SELECT term, df FROM dfq ORDER BY df ASC, term ASC LIMIT {n_query_terms})
SELECT term, doc_id, tf, df, score_ppm, rnk FROM (
  SELECT t2.term, t2.doc_id, t2.tf, t.df, {score} AS score_ppm,
         ROW_NUMBER() OVER (
           PARTITION BY t2.term ORDER BY {score} DESC, t2.doc_id ASC
         ) AS rnk
  FROM tf t2 JOIN qterms t USING (term) JOIN dls l USING (doc_id), n
) WHERE rnk <= {k}
"""


def paragraph_dedup_sql(para_words: int = 16) -> str:
    """Twin of dedup.paragraph_dedup: identical block split, md5 hash, and
    keep-first occurrence rank by (doc_id, para_idx)."""
    return f"""
WITH base AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
paras AS (
  SELECT doc_id, g.i AS para_idx,
         md5(array_to_string(
           w[g.i * {para_words} + 1 : g.i * {para_words} + {para_words}],
           ' ')) AS para_hash
  FROM base, UNNEST(generate_series(0, (len(w) - 1) // {para_words})) AS g(i)
),
flagged AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (PARTITION BY para_hash
                            ORDER BY doc_id, para_idx) AS rn
  FROM paras
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_paras,
       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_paras,
       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
            AS BIGINT) AS dup_ppm
FROM flagged GROUP BY doc_id
"""


def winnow_sql(k: int = 5, window: int = 4) -> str:
    """Twin of textstats.winnow_fingerprints: identical md5-int64 gram hash,
    strict trailing-window minimum selector, fp sharing count."""
    return f"""
WITH base AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
grams AS (
  SELECT doc_id, g.j AS pos,
         ('0x' || substr(md5(array_to_string(
            w[g.j + 1 : g.j + {k}], ' ')), 1, 15))::BIGINT AS h
  FROM base, UNNEST(generate_series(0, len(w) - {k})) AS g(j)
  WHERE len(w) >= {k}
),
sel AS (
  SELECT doc_id, CAST(pos AS BIGINT) AS pos, h AS fp
  FROM (
    SELECT doc_id, pos, h,
           MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN {window - 1} PRECEDING AND 1 PRECEDING)
             AS prev_min
    FROM grams)
  WHERE prev_min IS NULL OR h < prev_min
),
sharing AS (
  SELECT fp, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM sel GROUP BY fp
)
SELECT s.doc_id, s.pos, s.fp, sh.n_docs
FROM sel s JOIN sharing sh USING (fp)
"""


def lm_scores_sql() -> str:
    """Twin of textstats.lm_scores: per-(doc,bigram) tf, corpus conditional
    ratios in integer ppm, per-doc occurrence-weighted mean."""
    return """
WITH base AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
occ AS (
  SELECT doc_id, w[g.j + 1] AS w1, w[g.j + 2] AS w2
  FROM base, UNNEST(generate_series(0, len(w) - 2)) AS g(j)
  WHERE len(w) >= 2
),
tf AS (
  SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS tf
  FROM occ GROUP BY doc_id, w1, w2
),
big AS (SELECT w1, w2, SUM(tf) AS c2 FROM tf GROUP BY w1, w2),
pre AS (SELECT w1, SUM(c2) AS c1 FROM big GROUP BY w1),
vocab AS (
  SELECT COUNT(DISTINCT w) AS v FROM (
    SELECT w2 AS w FROM big UNION ALL SELECT w1 AS w FROM big)
),
ratios AS (
  SELECT b.w1, b.w2, b.c2 * 1000000 // (p.c1 + vb.v) AS ratio_ppm
  FROM big b JOIN pre p USING (w1) CROSS JOIN vocab vb
)
SELECT t.doc_id,
       CAST(SUM(t.tf) AS BIGINT) AS n_bigrams,
       CAST(SUM(t.tf * r.ratio_ppm) AS BIGINT) AS sum_ppm,
       CAST(SUM(t.tf * r.ratio_ppm) // SUM(t.tf) AS BIGINT) AS avg_ppm
FROM tf t JOIN ratios r ON t.w1 = r.w1 AND t.w2 = r.w2
GROUP BY t.doc_id
"""


def gini_sql() -> str:
    """Twin of textstats.gini_diversity: exact integer Gini impurity."""
    return """
WITH counts AS (
  SELECT doc_id, u.w AS word, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       UNNEST(ws) AS u(w)
  GROUP BY doc_id, u.w
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(SUM(c * c) AS BIGINT) AS sum_sq,
       CAST(1000000 - SUM(c * c) * 1000000 // (SUM(c) * SUM(c)) AS BIGINT)
         AS gini_ppm
FROM counts GROUP BY doc_id
"""


def containment_sql(
    threshold: float = 0.5, max_df: int = 100_000, cfg: PipelineConfig = DEFAULT
) -> str:
    """Twin of dedup.containment_pairs: directed shingle containment
    |S_src ∩ S_dst| / |S_src| with the identical stop-shingle df cap;
    denominators from the FULL sets."""
    t = int(threshold * 1_000_000)
    return f"""
WITH {_shingle_cte(cfg)},
posted0 AS (
  SELECT doc_id, u.s AS s FROM sh, UNNEST(sh.sh) AS u(s)
),
rare AS (
  SELECT s FROM posted0 GROUP BY s HAVING count(*) <= {max_df}
),
posted AS (
  SELECT p.doc_id, p.s FROM posted0 p JOIN rare r ON r.s = p.s
),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
  FROM posted x JOIN posted y ON x.s = y.s AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
),
dirs AS (
  SELECT a AS src, b AS dst, inter FROM inter
  UNION ALL
  SELECT b AS src, a AS dst, inter FROM inter
),
sizes AS (SELECT doc_id, count(*) AS n FROM posted0 GROUP BY doc_id)
SELECT b.src, b.dst, b.inter * 1000000 // s.n AS containment_pm
FROM dirs b JOIN sizes s ON s.doc_id = b.src
WHERE b.inter * 1000000 // s.n >= {t}
"""


def readability_sql() -> str:
    """Twin of textstats.readability: integer LIX with the same greedy
    `[^ ]{{7,}}` long-word regex and min-1 sentence floor."""
    return """
WITH base AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
           AS n_sentences,
         CAST(len(regexp_extract_all(text, '[^ ]{7,}')) AS BIGINT) AS n_long
  FROM documents
)
SELECT doc_id, n_words, n_sentences,
       n_words * 1000000 // n_sentences AS wps_ppm,
       n_long * 1000000 // n_words AS long_ppm,
       n_words * 1000000 // n_sentences
         + 100 * (n_long * 1000000 // n_words) AS lix_ppm
FROM base
"""


def hapax_sql() -> str:
    """Twin of textstats.hapax_stats."""
    return """
WITH tok AS (
  SELECT doc_id, u.t AS t
  FROM documents, UNNEST(string_split(text, ' ')) AS u(t)
),
per AS (
  SELECT doc_id, t, count(*) AS c FROM tok GROUP BY doc_id, t
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_distinct,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000 // count(*)
            AS BIGINT) AS hapax_ppm,
       CAST(count(*) * 1000000 // sum(c) AS BIGINT) AS ttr_ppm
FROM per GROUP BY doc_id
"""


def docsim_sql(k: int = 3, max_df: int = 200, tf_cap: int = 1000) -> str:
    """Twin of textstats.docsim_topk: identical df-capped feature space,
    integer idf_mil weights, unnormalized dot, per-doc top-k with
    (dot DESC, other_id ASC) ties."""
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
total AS (SELECT COUNT(*) AS n_docs FROM documents),
feat AS (
  SELECT t.term, t.doc_id,
         least(t.tf, {tf_cap}) * ((x.n_docs * 1000) // f.df) AS w
  FROM tf t JOIN dfreq f ON t.term = f.term AND f.df <= {max_df}
  CROSS JOIN total x
),
pairs AS (
  SELECT a.doc_id AS doc_id, b.doc_id AS other_id,
         SUM(CAST(a.w AS HUGEINT) * b.w) AS dot_x,
         CAST(COUNT(*) AS BIGINT) AS shared_terms
  FROM feat a JOIN feat b
    ON a.term = b.term AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_id, other_id, CAST(dot_x AS DOUBLE) AS dot_w, shared_terms, rnk
FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
             ORDER BY dot_x DESC, other_id ASC) AS BIGINT) AS rnk
  FROM pairs
) WHERE rnk <= {k}
"""


def source_drift_sql() -> str:
    """Twin of textstats.source_drift: identical ppm floor-div
    distributions and total-variation halving."""
    return """
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
),
sc AS (SELECT source, term, COUNT(*) AS c FROM toks GROUP BY source, term),
stot AS (SELECT source, SUM(c) AS tot_s FROM sc GROUP BY source),
corpus AS (SELECT term, COUNT(*) AS cc FROM toks GROUP BY term),
ctot AS (SELECT SUM(cc) AS tot FROM corpus),
corpus_p AS (
  SELECT term, cc * 1000000 // tot AS p_ppm FROM corpus CROSS JOIN ctot
),
aligned AS (
  SELECT s.source, p.term, p.p_ppm,
         COALESCE(c.c, 0) * 1000000 // s.tot_s AS ps_ppm,
         CASE WHEN c.c IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM corpus_p p
  CROSS JOIN stot s
  LEFT JOIN sc c ON c.source = s.source AND c.term = p.term
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_terms,
       CAST(SUM(hit) AS BIGINT) AS n_overlap,
       CAST(SUM(abs(ps_ppm - p_ppm)) // 2 AS BIGINT) AS tv_ppm
FROM aligned GROUP BY source
"""


def bpe_pairs_sql(k: int = 32) -> str:
    """Twin of textstats.bpe_pair_counts: identical in-word adjacent
    char-pair rule and (count DESC, left, right) top-k."""
    return f"""
WITH words AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
),
pairs AS (
  SELECT substr(word, i, 1) AS "left", substr(word, i + 1, 1) AS "right"
  FROM (SELECT word, unnest(range(1, length(word))) AS i
        FROM words WHERE length(word) >= 2)
),
counts AS (
  SELECT "left", "right", CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM pairs GROUP BY 1, 2
)
SELECT "left", "right", n_pairs, rnk FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY n_pairs DESC, "left", "right")
                 AS BIGINT) AS rnk
  FROM counts
) WHERE rnk <= {k}
"""


def canonical_docs_sql() -> str:
    """Twin of dedup.canonical_documents: the dup_clusters and quality
    stage twins composed verbatim, then one full-frame first_value window
    per cluster with the identical (quality DESC, doc_id ASC) election."""
    return f"""
WITH cl AS ({dup_clusters_sql()}),
q AS ({quality_sql()})
SELECT doc_id, cluster_rep, quality_ppm,
       FIRST_VALUE(doc_id) OVER (
         PARTITION BY cluster_rep
         ORDER BY quality_ppm DESC, doc_id ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
       ) AS canonical_id,
       doc_id = FIRST_VALUE(doc_id) OVER (
         PARTITION BY cluster_rep
         ORDER BY quality_ppm DESC, doc_id ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
       ) AS kept
FROM (
  SELECT cl.doc_id, cl.cluster_rep, q.quality_ppm
  FROM cl JOIN q USING (doc_id)
)
"""
