"""DuckDB-SQL twins of the textstats operators.
Integer-scaled metrics throughout → bit-exact cross-engine comparison.
Parameters mirror the operator defaults.
"""

from __future__ import annotations


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
