"""Dedup / textstats operator semantics on crafted inputs."""

from __future__ import annotations

from conftest import SF_TINY

from mmgraphrag_spark.operators import dedup, textstats


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(spark):
    d = _docs(spark, [(1, "a b c"), (5, "a b c"), (3, "a b c"), (2, "x y")])
    got = {(r.doc_id, r.keep_id) for r in dedup.exact_duplicates(d).collect()}
    assert got == {(3, 1), (5, 1)}


def test_minhash_catches_near_dup(spark):
    base = " ".join(f"w{i}" for i in range(40))
    edited = base.replace("w20", "zz")  # one-token edit: high jaccard
    other = " ".join(f"q{i}" for i in range(40))
    d = _docs(spark, [(1, base), (2, edited), (3, other)])
    got = {(r.a, r.b) for r in dedup.minhash_near_duplicates(d, 0.5).collect()}
    assert (1, 2) in got
    assert not any(3 in p for p in got)


def test_minhash_jaccard_value(spark):
    # identical docs → jaccard 1.0 exactly
    d = _docs(spark, [(1, "a b c d e"), (2, "a b c d e")])
    rows = dedup.minhash_near_duplicates(d, 0.5).collect()
    assert [(r.a, r.b, r.jaccard_pm) for r in rows] == [(1, 2, 1_000_000)]


def test_simhash_identical_and_disjoint(spark):
    d = _docs(spark, [(1, "a b c"), (2, "a b c"), (3, "zz yy xx qq")])
    pairs = dedup.simhash_near_duplicates(d, max_hamming=2).collect()
    got = {(r.a, r.b): r.hamming for r in pairs}
    assert got.get((1, 2)) == 0


def test_simhash_blocking_is_lossless_vs_bruteforce(spark):
    """Pigeonhole completeness: the 4-block banding must return EXACTLY the
    pairs a brute-force all-pairs hamming scan finds (the old 2-half scheme
    lost ~40% of hamming<=2 pairs whose differing bits straddled the halves)."""
    rows = [
        (i, " ".join(f"w{j}" for j in range(30) if (j + i) % 7 or j % (i + 2)))
        for i in range(40)
    ]
    d = _docs(spark, rows)
    sigs = {r.doc_id: r.simhash for r in dedup.simhash(d).collect()}
    ids = sorted(sigs)
    brute = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if bin(sigs[a] ^ sigs[b]).count("1") <= 2
    }
    got = {(r.a, r.b): r.hamming for r in dedup.simhash_near_duplicates(d, 2).collect()}
    assert got == brute
    assert brute, "fixture produced no close pairs — weaken the variation"


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


def test_minhash_signature_plan_is_lambda_free_with_partial_agg(spark):
    """The signature build is the minhash job at corpus scale: it must be
    flat codegen min-aggregates (map-side partial combine), with zero
    interpreted higher-order-function lambdas anywhere in the plan."""
    docs = dedup.docs_table(spark, SF_TINY)
    plan = dedup.minhash_signatures(docs)._jdf.queryExecution().executedPlan().toString()
    assert "lambdavariable" not in plan.lower()
    assert "partial_min" in plan
    pairs_plan = (
        dedup.minhash_near_duplicates(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "lambdavariable" not in pairs_plan.lower()


def test_ngram_jaccard_exact_vs_python(spark):
    """Inverted-index Jaccard equals an in-memory set computation; the
    minhash path's verified pairs are a subset (its candidates are LSH-
    limited; its Jaccard values must agree exactly where both report)."""
    docs = dedup.docs_table(spark, SF_TINY)
    got = {
        (r.a, r.b): r.jaccard_pm
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    pdf = docs.toPandas()
    k = 3
    sets = {
        r.doc_id: {
            " ".join(r.text.split()[j:j + k])
            for j in range(max(len(r.text.split()) - k, 0) + 1)
        }
        for r in pdf.itertuples()
    }
    want = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sets[a] & sets[b])
            if inter == 0:
                continue
            jac = inter * 1_000_000 // (len(sets[a]) + len(sets[b]) - inter)
            if jac >= 300_000:
                want[(a, b)] = jac
    assert got == want
    mh = {
        (r.a, r.b): r.jaccard_pm
        for r in dedup.minhash_near_duplicates(docs, threshold=0.3).collect()
    }
    assert set(mh) <= set(got)
    for p_, v in mh.items():
        assert got[p_] == v


def test_ngram_jaccard_df_cap_drops_stop_shingles(spark):
    """With max_df=1 every shared shingle is dropped before the join -> no
    pairs at all (the cap is a real pre-join filter, not post-hoc)."""
    docs = dedup.docs_table(spark, SF_TINY)
    assert dedup.ngram_jaccard_pairs(docs, threshold=0.0, max_df=1).count() == 0


def test_duplicate_clusters_transitive_collapse(spark):
    """Component collapse is transitive: A~B and B~C (but A!~C directly)
    land in ONE cluster with rep = min doc_id; untouched docs are their own
    representative."""
    from mmgraphrag_spark.operators.dedup import duplicate_clusters

    docs = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "x"), (9, "y")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "a long, b long"
    )
    got = {
        r.doc_id: r.cluster_rep
        for r in duplicate_clusters(docs, pairs=pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 9: 9}


def test_duplicate_clusters_converges_on_a_path_graph(spark):
    """Min-label propagation needs diameter rounds: a 6-node path is the
    adversarial shape for the fixpoint (labels flow one hop per round)."""
    from mmgraphrag_spark.operators.dedup import duplicate_clusters

    n = 6
    docs = spark.createDataFrame([(i, "t") for i in range(n)], "doc_id long, text string")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "a long, b long")
    got = {
        r.doc_id: r.cluster_rep
        for r in duplicate_clusters(docs, pairs=pairs).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_duplicate_clusters_star_agrees_with_fixpoint(spark):
    """method='star' (large-star/small-star, O(log n) rounds on any shape)
    equals the pointer-jumping fixpoint on the adversarial stringy shape —
    a 16-node path — and on a clique+singleton mix; round counts recorded
    via stats and bounded logarithmically."""
    from mmgraphrag_spark.operators.dedup import duplicate_clusters

    n = 16
    docs = spark.createDataFrame(
        [(i, "t") for i in range(n)] + [(99, "s")], "doc_id long, text string"
    )
    path = [(i, i + 1) for i in range(n - 1)]
    clique = [(20, 21), (21, 22), (20, 22)]
    pairs = spark.createDataFrame(path + clique, "a long, b long")
    docs2 = docs.unionByName(
        spark.createDataFrame([(20, "c"), (21, "c"), (22, "c")],
                              "doc_id long, text string")
    )
    fix_stats, star_stats = {}, {}
    fix = {
        r.doc_id: r.cluster_rep
        for r in duplicate_clusters(
            docs2, pairs=pairs, stats=fix_stats
        ).collect()
    }
    star = {
        r.doc_id: r.cluster_rep
        for r in duplicate_clusters(
            docs2, pairs=pairs, method="star", stats=star_stats
        ).collect()
    }
    assert star == fix
    assert fix == {**{i: 0 for i in range(n)}, 99: 99, 20: 20, 21: 20, 22: 20}
    # both are O(log) on the 15-hop path: star by construction, the
    # fixpoint via pointer jumping — neither may degrade to diameter rounds
    assert 1 <= star_stats["rounds"] <= 7
    assert 1 <= fix_stats["rounds"] <= 7

    import pytest

    with pytest.raises(ValueError):
        duplicate_clusters(docs2, pairs=pairs, method="union-find")


def test_duplicate_clusters_matches_union_find_on_random_graph(spark):
    """Components equal a pure-python union-find on a seeded random graph
    (independent algorithmic oracle, beyond the driver's recursive CTE)."""
    import random

    from mmgraphrag_spark.operators.dedup import duplicate_clusters

    rng = random.Random(42)
    n = 40
    edges = sorted({tuple(sorted(rng.sample(range(n), 2))) for _ in range(50)})

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {i: find(i) for i in range(n)}

    docs = spark.createDataFrame([(i, "t") for i in range(n)], "doc_id long, text string")
    pairs = spark.createDataFrame(edges, "a long, b long")
    got = {
        r.doc_id: r.cluster_rep
        for r in duplicate_clusters(docs, pairs=pairs).collect()
    }
    assert got == want


def test_crossdoc_span_coverage_matches_python_twin(spark):
    """Interval-union coverage vs a brute-force position-set twin on the
    fixed corpus — the window-lag trick must equal the naive union."""
    import hashlib

    k = 8
    docs = dedup.docs_table(spark, SF_TINY)
    rows = docs.collect()

    def grams(text):
        w = text.split(" ")
        return [
            hashlib.md5(" ".join(w[j : j + k]).encode()).hexdigest()
            for j in range(len(w) - k + 1)
        ] if len(w) >= k else []

    by_doc = {r.doc_id: grams(r.text) for r in rows}
    df_docs: dict[str, set] = {}
    for d, gs in by_doc.items():
        for g in set(gs):
            df_docs.setdefault(g, set()).add(d)
    dup = {g for g, ds in df_docs.items() if len(ds) >= 2}
    want = {}
    for r in rows:
        gs = by_doc[r.doc_id]
        starts = [j for j, g in enumerate(gs) if g in dup]
        covered = set()
        for j in starts:
            covered.update(range(j, j + k))
        n_tok = len(r.text.split(" "))
        want[r.doc_id] = (
            n_tok, len(starts), len(covered),
            len(covered) * 1_000_000 // n_tok,
        )
    got = {
        r.doc_id: (r.n_tokens, r.dup_starts, r.covered_tokens, r.dup_ppm)
        for r in dedup.crossdoc_span_coverage(docs, k=k).collect()
    }
    assert got == want


def test_crossdoc_span_coverage_interval_union(spark):
    """Overlapping duplicated spans within one doc count each position once:
    two docs share a 9-token run -> two overlapping 8-gram starts covering
    exactly 9 tokens, not 16."""
    shared = "q w e r t y u i o"  # 9 tokens -> 2 dup 8-gram starts
    df = spark.createDataFrame(
        [
            (1, shared + " z1 z2 z3"),
            (2, shared + " y1 y2 y3"),
            (3, "totally different words here with no shared run at all"),
        ],
        ["doc_id", "text"],
    )
    by = {r.doc_id: r for r in dedup.crossdoc_span_coverage(df, k=8).collect()}
    assert by[1].dup_starts == 2 and by[1].covered_tokens == 9
    assert by[2].dup_starts == 2 and by[2].covered_tokens == 9
    assert by[3].dup_starts == 0 and by[3].covered_tokens == 0 and by[3].dup_ppm == 0
    assert by[1].dup_ppm == 9 * 1_000_000 // 12


def test_paragraph_dedup_keep_first_contract(spark):
    """16-word blocks hash corpus-wide; only the first (doc_id, para_idx)
    occurrence of a hash is original, everything later is a duplicate."""
    blk_a = " ".join(f"a{i}" for i in range(16))
    blk_b = " ".join(f"b{i}" for i in range(16))
    blk_c = " ".join(f"c{i}" for i in range(16))
    d = _docs(
        spark,
        [
            (1, f"{blk_a} {blk_b}"),          # both blocks original
            (2, f"{blk_a} {blk_c}"),          # blk_a is a dup of doc 1
            (3, f"{blk_b} {blk_b}"),          # first is dup of doc1, second of its own first
            (4, " ".join(f"z{i}" for i in range(8))),  # short tail block, unique
        ],
    )
    got = {
        r.doc_id: (r.n_paras, r.n_dup_paras, r.dup_ppm)
        for r in dedup.paragraph_dedup(d).collect()
    }
    assert got == {
        1: (2, 0, 0),
        2: (2, 1, 500_000),
        3: (2, 2, 1_000_000),
        4: (1, 0, 0),
    }


def test_paragraph_dedup_matches_python_twin(spark):
    import hashlib

    rows = dedup.docs_table(spark, SF_TINY).collect()
    first_seen: dict[str, tuple] = {}
    paras = []
    for r in rows:
        w = r.text.split(" ")
        for i in range(0, (len(w) - 1) // 16 + 1):
            h = hashlib.md5(
                " ".join(w[i * 16 : i * 16 + 16]).encode()
            ).hexdigest()
            paras.append((r.doc_id, i, h))
    want: dict[int, list] = {}
    for doc_id, i, h in sorted(paras, key=lambda t: (t[2], t[0], t[1])):
        dup = h in first_seen
        if not dup:
            first_seen[h] = (doc_id, i)
        want.setdefault(doc_id, [0, 0])
        want[doc_id][0] += 1
        want[doc_id][1] += int(dup)
    expect = {
        d: (n, dup, dup * 1_000_000 // n) for d, (n, dup) in want.items()
    }
    got = {
        r.doc_id: (r.n_paras, r.n_dup_paras, r.dup_ppm)
        for r in dedup.paragraph_dedup(
            dedup.docs_table(spark, SF_TINY)
        ).collect()
    }
    assert got == expect


def test_winnow_fingerprints_matches_python_twin(spark):
    import hashlib

    k, window = 5, 4
    rows = dedup.docs_table(spark, SF_TINY).collect()
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
            dedup.docs_table(spark, SF_TINY)
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
    rows = dedup.docs_table(spark, SF_TINY).collect()
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
            dedup.docs_table(spark, SF_TINY)
        ).collect()
    }
    assert full == want


def test_containment_exact_vs_python(spark):
    """Directed containment equals the in-memory set computation, is
    asymmetric in general, and contains the Jaccard relation: for any pair
    both engines emit, jaccard <= min(containment) always."""
    docs = dedup.docs_table(spark, SF_TINY)
    got = {
        (r.src, r.dst): r.containment_pm
        for r in dedup.containment_pairs(docs, threshold=0.2).collect()
    }
    pdf = docs.toPandas()
    k = 3
    sets = {
        r.doc_id: {
            " ".join(r.text.split()[j:j + k])
            for j in range(max(len(r.text.split()) - k, 0) + 1)
        }
        for r in pdf.itertuples()
    }
    want = {}
    ids = sorted(sets)
    for a in ids:
        for b in ids:
            if a == b:
                continue
            inter = len(sets[a] & sets[b])
            if inter == 0:
                continue
            c = inter * 1_000_000 // len(sets[a])
            if c >= 200_000:
                want[(a, b)] = c
    assert got == want
    jac = {
        (r.a, r.b): r.jaccard_pm
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.2).collect()
    }
    for (a, b), j in jac.items():
        for d in ((a, b), (b, a)):
            if d in got:
                assert j <= got[d]


def test_containment_catches_embedded_short_doc(spark):
    """A short doc pasted verbatim inside a long one: containment(short ⊆
    long) = 10^6 while Jaccard stays below a 0.5 threshold — the exact case
    the asymmetric measure exists for."""
    short = "alpha beta gamma delta epsilon zeta"
    long_ = short + " " + " ".join(f"filler{i} pad{i} word{i}" for i in range(12))
    docs = spark.createDataFrame(
        [(1, short), (2, long_)], "doc_id long, text string"
    )
    got = {
        (r.src, r.dst): r.containment_pm
        for r in dedup.containment_pairs(docs, threshold=0.0).collect()
    }
    assert got[(1, 2)] == 1_000_000
    assert got[(2, 1)] < 500_000
    assert (
        dedup.ngram_jaccard_pairs(docs, threshold=0.5).count() == 0
    )


def test_containment_df_cap_is_pre_join(spark):
    """max_df=1 drops every shared shingle before the pair join."""
    docs = dedup.docs_table(spark, SF_TINY)
    assert dedup.containment_pairs(docs, threshold=0.0, max_df=1).count() == 0


def test_readability_matches_python_twin(spark):
    rows = dedup.docs_table(spark, SF_TINY).collect()
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
            dedup.docs_table(spark, SF_TINY)
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


def test_canonical_documents_elects_highest_quality_member(spark):
    # base/edited are near-dups (one-token edit); 'other' is a singleton
    base = " ".join(f"w{i}" for i in range(40))
    edited = base.replace("w20", "zz")
    other = " ".join(f"q{i}" for i in range(40))
    d = _docs(spark, [(1, base), (2, edited), (3, other)])
    got = {
        r.doc_id: (r.cluster_rep, r.canonical_id, r.kept)
        for r in dedup.canonical_documents(d).collect()
    }
    # 1 and 2 share a cluster (rep = min doc_id = 1); 3 is a singleton
    assert got[1][0] == got[2][0] == 1 and got[3][0] == 3
    # composition invariant: the canonical member is the quality argmax
    q = {
        r.doc_id: r.quality_ppm
        for r in textstats.quality_scores(d).collect()
    }
    expect_canon = min([1, 2], key=lambda i: (-q[i], i))
    assert got[1][1] == got[2][1] == expect_canon
    assert got[3][1] == 3 and got[3][2] is True
    # exactly one kept member per cluster
    assert sum(1 for v in got.values() if v[2]) == 2


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
