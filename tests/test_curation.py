"""Text statistics over the documents table: TF-IDF keywords, repetition
signals, BM25 retrieval, bigram-LM scores and hapax profiles — engine vs
pure-Python twins and the operators' contracts.

The curation operators these tests once shared a file with are deleted; the
file keeps its name so the textstats tests keep theirs."""

from __future__ import annotations

from conftest import SF_TINY

from pyspark.sql import functions as F

from mmgraphrag_spark.operators import textstats


def _docs(spark):
    return textstats.docs_table(spark, SF_TINY)


def test_tfidf_topk_matches_python_twin(spark):
    docs = textstats.docs_table(spark, SF_TINY).limit(40)
    rows = docs.collect()
    n_docs = len(rows)
    tf: dict[tuple[int, str], int] = {}
    dfq: dict[str, int] = {}
    for r in rows:
        seen = {}
        for t in r.text.split(" "):
            seen[t] = seen.get(t, 0) + 1
        for t, c in seen.items():
            tf[(r.doc_id, t)] = c
            dfq[t] = dfq.get(t, 0) + 1
    k = 5
    want = set()
    by_doc: dict[int, list] = {}
    for (d, t), c in tf.items():
        score = c * ((n_docs * 1_000_000) // dfq[t])
        by_doc.setdefault(d, []).append((-score, t, c))
    for d, terms in by_doc.items():
        for rnk, (negs, t, c) in enumerate(sorted(terms)[:k], start=1):
            want.add((d, t, c, dfq[t], -negs, rnk))
    got = {
        (r.doc_id, r.term, r.tf, r.df, r.tfidf_ppm, r.rnk)
        for r in textstats.tfidf_topk(docs, k).collect()
    }
    assert got == want


def test_repetition_scores_matches_python_twin(spark):
    docs = _docs(spark).limit(40)
    rows = docs.collect()
    want = {}
    for r in rows:
        w = r.text.split(" ")
        g2 = [" ".join(w[j : j + 2]) for j in range(max(len(w) - 2, 0) + 1)]
        g3 = [" ".join(w[j : j + 3]) for j in range(max(len(w) - 3, 0) + 1)]
        c2: dict[str, int] = {}
        for g in g2:
            c2[g] = c2.get(g, 0) + 1
        top_gram, top_cnt = sorted(c2.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        c3: dict[str, int] = {}
        for g in g3:
            c3[g] = c3.get(g, 0) + 1
        dup_pos = sum(c for c in c3.values() if c >= 2)
        want[r.doc_id] = (
            top_gram,
            top_cnt * 1_000_000 // len(g2),
            dup_pos * 1_000_000 // len(g3),
        )
    got = {
        r.doc_id: (r.top_2gram, r.top2gram_ppm, r.dup3gram_ppm)
        for r in textstats.repetition_scores(docs).collect()
    }
    assert got == want


def test_repetition_scores_degenerate_bounds(spark):
    df = spark.createDataFrame(
        [(1, "a a a a a a"), (2, "b c d e f g")], ["doc_id", "text"]
    )
    by = {r.doc_id: r for r in textstats.repetition_scores(df).collect()}
    # pure repetition saturates both signals; all-unique text zeroes dup3
    assert by[1].top2gram_ppm == 1_000_000 and by[1].dup3gram_ppm == 1_000_000
    assert by[2].dup3gram_ppm == 0 and by[2].top2gram_ppm == 1_000_000 // 5


def test_bm25_topk_matches_python_twin(spark):
    docs = textstats.docs_table(spark, SF_TINY).limit(40)
    rows = docs.collect()
    n_docs = len(rows)
    tf: dict[tuple[int, str], int] = {}
    dfq: dict[str, int] = {}
    dl: dict[int, int] = {}
    total_len = 0
    for r in rows:
        toks = r.text.split(" ")
        dl[r.doc_id] = len(toks)
        total_len += len(toks)
        seen: dict[str, int] = {}
        for t in toks:
            seen[t] = seen.get(t, 0) + 1
        for t, c in seen.items():
            tf[(r.doc_id, t)] = c
            dfq[t] = dfq.get(t, 0) + 1
    nq, k = 3, 10
    qterms = sorted(dfq, key=lambda t: (dfq[t], t))[:nq]
    want = set()
    for term in qterms:
        scored = []
        for (d, t), c in tf.items():
            if t != term:
                continue
            idf = ((2 * (n_docs - dfq[t]) + 1) * 1_000_000) // (2 * dfq[t] + 1)
            sat = (22 * c * total_len * 1_000_000) // (
                10 * c * total_len + 3 * total_len + 9 * dl[d] * n_docs
            )
            scored.append((-(idf * sat // 1_000_000), d, c))
        for rnk, (negs, d, c) in enumerate(sorted(scored)[:k], start=1):
            want.add((term, d, c, dfq[term], -negs, rnk))
    got = {
        (r.term, r.doc_id, r.tf, r.df, r.score_ppm, r.rnk)
        for r in textstats.bm25_topk(docs, k=k, n_query_terms=nq).collect()
    }
    assert got == want


def test_bm25_rewards_tf_and_penalizes_doc_length(spark):
    """Saturating tf: higher tf ranks higher at equal length; at equal tf the
    shorter document ranks higher (b = 0.75 length normalization)."""
    rows = [
        (0, "apple " + "pad " * 10, "en", "s", 0),
        (1, "apple apple " + "pad " * 9, "en", "s", 0),
        (2, "apple " + "pad " * 40, "en", "s", 0),
        (3, "pad pad pad", "en", "s", 0),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).select("doc_id", F.rtrim("text").alias("text"), "lang", "source", "n_chars")
    got = {
        r.doc_id: (r.rnk, r.score_ppm)
        for r in textstats.bm25_topk(docs, k=10, n_query_terms=1).collect()
    }
    assert set(got) == {0, 1, 2}  # 'apple' is the rarest term; doc 3 unmatched
    assert got[1][0] == 1  # tf=2 wins
    assert got[0][0] == 2 and got[2][0] == 3  # equal tf: shorter doc first
    assert got[0][1] > got[2][1] > 0


def test_lm_scores_matches_python_twin_and_ranks_garble_low(spark):
    docs = textstats.docs_table(spark, SF_TINY).collect()
    big: dict[tuple, int] = {}
    pre: dict[str, int] = {}
    per_doc: dict[int, list] = {}
    for r in docs:
        w = r.text.split(" ")
        for j in range(len(w) - 1):
            b = (w[j], w[j + 1])
            big[b] = big.get(b, 0) + 1
            pre[w[j]] = pre.get(w[j], 0) + 1
            per_doc.setdefault(r.doc_id, []).append(b)
    vocab = len({w for b in big for w in b})
    want = {}
    for d, bs in per_doc.items():
        s = sum(big[b] * 1_000_000 // (pre[b[0]] + vocab) for b in bs)
        want[d] = (len(bs), s, s // len(bs))
    got = {
        r.doc_id: (r.n_bigrams, r.sum_ppm, r.avg_ppm)
        for r in textstats.lm_scores(
            textstats.docs_table(spark, SF_TINY)
        ).collect()
    }
    assert got == want

    # a garbled doc (every bigram unique to it) must score below the
    # corpus median: append one and re-score
    from pyspark.sql import functions as F

    garble = " ".join(f"xq{i}z" for i in range(40))
    aug = textstats.docs_table(spark, SF_TINY).unionByName(
        textstats.docs_table(spark, SF_TINY)
        .limit(1)
        .select(
            F.lit(999_999).alias("doc_id"), F.lit(garble).alias("text"),
            F.lit("xx").alias("lang"), F.lit("srcX").alias("source"),
        )
    )
    scores = {r.doc_id: r.avg_ppm for r in textstats.lm_scores(aug).collect()}
    med = sorted(scores.values())[len(scores) // 2]
    assert scores[999_999] < med


def test_hapax_stats_matches_python_twin(spark):
    rows = textstats.docs_table(spark, SF_TINY).collect()
    want = {}
    for r in rows:
        toks = r.text.split(" ")
        from collections import Counter
        c = Counter(toks)
        n, nd = len(toks), len(c)
        nh = sum(1 for v in c.values() if v == 1)
        want[r.doc_id] = (n, nd, nh, nh * 1_000_000 // nd,
                          nd * 1_000_000 // n)
    got = {
        r.doc_id: (r.n_tokens, r.n_distinct, r.n_hapax, r.hapax_ppm,
                   r.ttr_ppm)
        for r in textstats.hapax_stats(
            textstats.docs_table(spark, SF_TINY)
        ).collect()
    }
    assert got == want
