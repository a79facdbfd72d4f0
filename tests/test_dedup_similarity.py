"""Textstats operator semantics on crafted inputs.

The document-dedup operators these tests once shared a file with are
deleted; the file keeps its name so the textstats tests keep theirs."""

from __future__ import annotations

from conftest import SF_TINY

from mmgraphrag_spark.operators import textstats


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_quality_monotone_on_repetition(spark):
    d = _docs(spark, [(1, "a b c d e f g h"), (2, "a a a a a a a a")])
    q = {r.doc_id: r.quality_ppm for r in textstats.quality_scores(d).collect()}
    assert q[1] > q[2]


def test_langid_profiles(spark):
    d = _docs(spark, [(1, "the cat of the house"), (2, "el gato de la casa"),
                      (3, "zz yy")])
    got = {r.doc_id: r.lang_guess for r in textstats.language_id(d).collect()}
    assert got == {1: "en", 2: "es", 3: "und"}


def test_fingerprint_stable_under_local_edit(spark):
    base = " ".join(f"w{i}" for i in range(30))
    edited = base.replace("w29", "zz")  # tail edit: winnow (min 5-gram) usually stable
    d = _docs(spark, [(1, base), (2, edited)])
    fp = {r.doc_id: (r.doc_md5, r.winnow) for r in textstats.fingerprints(d).collect()}
    assert fp[1][0] != fp[2][0]  # full-doc hash differs


def test_winnow_fingerprints_matches_python_twin(spark):
    import hashlib

    k, window = 5, 4
    rows = textstats.docs_table(spark, SF_TINY).collect()
    sel = []
    for r in rows:
        w = r.text.split(" ")
        hs = [
            int(
                hashlib.md5(" ".join(w[j : j + k]).encode()).hexdigest()[:15], 16
            )
            for j in range(len(w) - k + 1)
        ]
        for p, h in enumerate(hs):
            prev = hs[max(0, p - (window - 1)) : p]
            if not prev or h < min(prev):
                sel.append((r.doc_id, p, h))
    share: dict[int, set] = {}
    for d, _p, h in sel:
        share.setdefault(h, set()).add(d)
    want = {(d, p, h, len(share[h])) for d, p, h in sel}
    got = {
        (r.doc_id, r.pos, r.fp, r.n_docs)
        for r in textstats.winnow_fingerprints(
            textstats.docs_table(spark, SF_TINY)
        ).collect()
    }
    assert got == want
    # density sanity: roughly 1/window of gram positions get selected
    n_grams = sum(max(len(r.text.split(" ")) - k + 1, 0) for r in rows)
    assert 0.15 * n_grams < len(got) < 0.6 * n_grams
    # cross-doc shared fingerprints exist (the match-candidate signal)
    assert any(n > 1 for *_, n in got)


def test_gini_diversity_bounds_and_twin(spark):
    d = _docs(
        spark,
        [
            (1, "a a a a"),              # degenerate: gini = 0
            (2, "a b c d"),              # uniform over 4: 1 - 4/16 = 750000
            (3, "a a b"),                # 1 - (4+1)/9 = 444444 (floor 444445?)
        ],
    )
    got = {
        r.doc_id: (r.n_tokens, r.sum_sq, r.gini_ppm)
        for r in textstats.gini_diversity(d).collect()
    }
    assert got[1] == (4, 16, 0)
    assert got[2] == (4, 4, 750_000)
    assert got[3] == (3, 5, 1_000_000 - 5 * 1_000_000 // 9)
    # full-table python twin
    rows = textstats.docs_table(spark, SF_TINY).collect()
    want = {}
    for r in rows:
        w = r.text.split(" ")
        from collections import Counter

        c = Counter(w)
        ss = sum(v * v for v in c.values())
        want[r.doc_id] = (len(w), ss, 1_000_000 - ss * 1_000_000 // (len(w) ** 2))
    full = {
        r.doc_id: (r.n_tokens, r.sum_sq, r.gini_ppm)
        for r in textstats.gini_diversity(
            textstats.docs_table(spark, SF_TINY)
        ).collect()
    }
    assert full == want


def test_readability_matches_python_twin(spark):
    rows = textstats.docs_table(spark, SF_TINY).collect()
    want = {}
    import re
    for r in rows:
        nw = len(r.text.split(" "))
        ns = max(len(re.findall(r"[.!?]+", r.text)), 1)
        nl = len(re.findall(r"[^ ]{7,}", r.text))
        wps = nw * 1_000_000 // ns
        lng = nl * 1_000_000 // nw
        want[r.doc_id] = (nw, ns, wps, lng, wps + 100 * lng)
    got = {
        r.doc_id: (r.n_words, r.n_sentences, r.wps_ppm, r.long_ppm, r.lix_ppm)
        for r in textstats.readability(
            textstats.docs_table(spark, SF_TINY)
        ).collect()
    }
    assert got == want


def test_readability_ranks_dense_prose_harder(spark):
    """Long-worded, long-sentence text scores above short choppy text."""
    docs = spark.createDataFrame(
        [
            (1, "institutional considerations notwithstanding "
                "parliamentary procedures demand exhaustive deliberation."),
            (2, "See spot. Spot runs. Run spot run. Go now."),
        ],
        "doc_id long, text string",
    )
    r = {x.doc_id: x.lix_ppm for x in textstats.readability(docs).collect()}
    assert r[1] > r[2]


def _docs_src(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_docsim_topk_matches_python_twin(spark):
    d = _docs(spark, [
        (1, "spark shuffle join window spark"),
        (2, "spark shuffle join batch"),
        (3, "window spark stream stream"),
        (4, "totally disjoint tokens here"),
    ])
    n_docs, tf, dfq = 4, {}, {}
    rows = [(1, "spark shuffle join window spark"),
            (2, "spark shuffle join batch"),
            (3, "window spark stream stream"),
            (4, "totally disjoint tokens here")]
    for did, text in rows:
        seen = {}
        for t in text.split(" "):
            seen[t] = seen.get(t, 0) + 1
        for t, c in seen.items():
            tf[(did, t)] = c
            dfq[t] = dfq.get(t, 0) + 1
    max_df, k = 200, 3
    dots, shared = {}, {}
    for (a, ta), ca in tf.items():
        for (b, tb), cb in tf.items():
            if ta != tb or a == b or dfq[ta] > max_df:
                continue
            w = (n_docs * 1000) // dfq[ta]
            dots[(a, b)] = dots.get((a, b), 0) + min(ca, 1000) * w * min(cb, 1000) * w
            shared[(a, b)] = shared.get((a, b), 0) + 1
    want = set()
    by_a = {}
    for (a, b), dot in dots.items():
        by_a.setdefault(a, []).append((-dot, b))
    for a, lst in by_a.items():
        for rnk, (negd, b) in enumerate(sorted(lst)[:k], start=1):
            want.add((a, b, -negd, shared[(a, b)], rnk))
    got = {
        (r.doc_id, r.other_id, r.dot_w, r.shared_terms, r.rnk)
        for r in textstats.docsim_topk(d, k=k, max_df=max_df).collect()
    }
    assert got == want
    assert not any(r[0] == 4 or r[1] == 4 for r in got)  # disjoint doc absent


def test_docsim_df_cap_drops_stop_terms_from_features(spark):
    # 'the' appears in every doc; with max_df=2 it must carry zero weight,
    # so docs sharing ONLY 'the' form no pair at all
    d = _docs(spark, [
        (1, "the alpha beta"), (2, "the alpha beta"),
        (3, "the gamma delta"),
    ])
    got = {(r.doc_id, r.other_id) for r in
           textstats.docsim_topk(d, k=3, max_df=2).collect()}
    assert got == {(1, 2), (2, 1)}


def test_source_drift_matches_python_twin_and_orders_sources(spark):
    d = _docs_src(spark, [
        (1, "a a b", "mix"),      # near-corpus blend
        (2, "a b c", "mix"),
        (3, "z z z z", "weird"),  # far from the blend
    ])
    # python twin with identical floor-div ppm math
    toks = [("mix", t) for t in "a a b a b c".split()] + [
        ("weird", t) for t in "z z z z".split()
    ]
    corpus, per_src, stot = {}, {}, {}
    for s, t in toks:
        corpus[t] = corpus.get(t, 0) + 1
        per_src[(s, t)] = per_src.get((s, t), 0) + 1
        stot[s] = stot.get(s, 0) + 1
    tot = sum(corpus.values())
    want = {}
    for s in stot:
        tv = sum(
            abs(per_src.get((s, t), 0) * 1_000_000 // stot[s]
                - c * 1_000_000 // tot)
            for t, c in corpus.items()
        ) // 2
        want[s] = (len(corpus), sum(1 for (s2, _) in per_src if s2 == s), tv)
    got = {
        r.source: (r.n_terms, r.n_overlap, r.tv_ppm)
        for r in textstats.source_drift(d).collect()
    }
    assert got == want
    assert got["weird"][2] > got["mix"][2]  # outlier source drifts further


def test_bpe_pair_counts_matches_python_twin(spark):
    d = _docs(spark, [(1, "aab ab x"), (2, "bba aab")])
    texts = ["aab ab x", "bba aab"]
    counts = {}
    for t in texts:
        for word in t.split(" "):
            if len(word) < 2:
                continue  # 1-char words contribute nothing
            for i in range(len(word) - 1):
                counts[(word[i], word[i + 1])] = counts.get(
                    (word[i], word[i + 1]), 0
                ) + 1
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    want = {
        (l, r, n, i + 1) for i, ((l, r), n) in enumerate(ranked)
    }
    got = {
        (r["left"], r["right"], r["n_pairs"], r["rnk"])
        for r in textstats.bpe_pair_counts(d, k=32).collect()
    }
    assert got == want
    # 'ab' is the dominant pair (appears in aab x2, ab, aab) -> rank 1
    top = [x for x in got if x[3] == 1][0]
    assert (top[0], top[1]) == ("a", "b")


def test_bpe_pair_counts_plan_is_takeordered_not_full_sort(spark):
    """The global top-k must plan as TakeOrderedAndProject (Catalyst's
    rank-filter rewrite), never a single-partition full sort of the count
    relation, and the only joins are none at all (map + one aggregate)."""
    d = _docs(spark, [(1, "ab ab"), (2, "abc")])
    plan = (
        textstats.bpe_pair_counts(d)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_docsim_plan_has_no_unbounded_nested_loop(spark):
    """docsim's only BNLJs must be the single-row n_docs scalar pattern:
    assert there is no cartesian product and the posting self-join is an
    equi-join (hash or sort-merge, never nested-loop on the pair side)."""
    d = _docs(spark, [(1, "a b"), (2, "a c")])
    q = textstats.docsim_topk(d)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # every BNLJ build side is a 1-row aggregate (the scalar count):
    # at most 2 BNLJs, the scalar count(1) build must actually be present,
    # and the posting self-join must stay an EQUI-join (hash or sort-merge)
    # so a regression cannot smuggle the pair join into a nested loop
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert "count(1)" in plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )
