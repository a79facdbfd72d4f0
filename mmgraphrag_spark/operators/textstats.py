"""Text analysis over the documents table: language-ID heuristic, quality
scoring, token counting, document fingerprinting.

All pure column expressions (whole-stage codegen; zero Python) with exact
DuckDB twins. Float-valued scores are emitted as 10^6-scaled integers so the
cross-engine comparison is bit-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# tiny per-language stopword profiles (public common function words);
# the heuristic is argmax hit-count with deterministic tie-break by lang code
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "y", "que"),
    "fr": ("le", "la", "de", "et", "un"),
    "de": ("der", "die", "das", "und", "ein"),
    "zh": ("的", "是", "了", "在", "和"),
}

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")


def docs_table(spark, sf_dir: str) -> DataFrame:
    """The documents relation: id, text, language and source."""
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text", "lang", "source"
    )


def _count_in_list(w, words):
    """Token occurrences (with duplicates) of ``words`` in array ``w`` as a
    flat native expression: size(w) - size(array_remove(... , each word)).
    ``array_remove`` is a native function (stays in codegen), unlike a
    ``filter`` lambda, which evaluates interpreted — the round-1 hot-path
    anti-pattern this module was flagged for."""
    pruned = w
    for s in words:
        pruned = F.array_remove(pruned, s)
    return F.size(w) - F.size(pruned)


def token_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_alpha_tokens, n_chars, avg_token_len_ppm).

    Sum of token lengths uses the split identity
    Σ len(tok) = len(text) − (n_tokens − 1) (single-char separators), so the
    former aggregate-lambda is a flat arithmetic expression with identical
    values (the DuckDB twin keeps the explicit list_sum — same number).
    """
    w = F.split("text", " ")
    return docs.select(
        "doc_id",
        F.size(w).cast("long").alias("n_tokens"),
        F.size(F.expr("regexp_extract_all(text, '[a-z]+', 0)")).cast("long").alias("n_alpha_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        F.expr(
            "(length(text) - size(split(text, ' ')) + 1)"
            " * 1000000L div size(split(text, ' '))"
        ).alias("avg_token_len_ppm"),
    )


def quality_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, stopword_ppm, distinct_ratio_ppm, quality_ppm).

    quality = 0.5·distinct_ratio + 0.3·(1 − stopword_ratio) + 0.2·len_norm,
    len_norm = min(n_tokens, 200)/200 — a standard heuristic mix of
    repetitiveness, boilerplate and length signals, integer-scaled.
    """
    w = F.split("text", " ")
    n = F.size(w)
    n_stop = _count_in_list(w, STOPWORDS)
    n_dist = F.size(F.array_distinct(w))
    out = docs.select(
        "doc_id",
        (n_stop * F.lit(1_000_000)).alias("_stop_num"),
        (n_dist * F.lit(1_000_000)).alias("_dist_num"),
        (F.least(n, F.lit(200)) * F.lit(1_000_000)).alias("_len_num"),
        n.alias("_n"),
    ).selectExpr(
        "doc_id",
        "_stop_num div _n AS stopword_ppm",
        "_dist_num div _n AS distinct_ratio_ppm",
        "((_dist_num div _n) * 5 + (1000000 - _stop_num div _n) * 3"
        " + (_len_num div 200) * 2) div 10 AS quality_ppm",
    )
    return out


def language_id(docs: DataFrame) -> DataFrame:
    """(doc_id, lang_guess, hits): stopword-profile argmax with tie-break by
    (hits desc, lang asc); 'und' when no profile hits."""
    w = F.split("text", " ")
    # argmax over a fixed, small language set: hit counts staged as columns
    # (evaluated once each), then a flat CASE chain (langs in asc order,
    # strict > keeps the earlier lang on ties — the same (hits desc, lang asc)
    # rule the oracle's window implements); no interpreted comparator lambda
    langs = sorted(LANG_PROFILES.items())
    staged = docs.select(
        "*", *[_count_in_list(w, words).alias(f"_h_{lang}") for lang, words in langs]
    )
    best = None
    for lang, _ in langs:
        s = F.struct(F.col(f"_h_{lang}").alias("hits"), F.lit(lang).alias("lang"))
        best = s if best is None else F.when(s["hits"] > best["hits"], s).otherwise(best)
    out = staged.withColumn("best", best)
    return out.select(
        "doc_id",
        F.when(F.col("best.hits") > 0, F.col("best.lang")).otherwise(F.lit("und")).alias("lang_guess"),
        F.col("best.hits").cast("long").alias("hits"),
    )


def fingerprints(docs: DataFrame, window: int = 5) -> DataFrame:
    """(doc_id, doc_md5, winnow): winnowing-lite fingerprint — the minimum
    md5 over sliding word 5-grams (robust to local edits), plus full-doc md5."""
    return docs.select(
        "doc_id",
        F.md5("text").alias("doc_md5"),
        F.array_min(
            F.expr(
                f"transform(sequence(0, greatest(size(split(text, ' ')) - {window}, 0)),"
                f" j -> md5(concat_ws(' ', slice(split(text, ' '), j + 1, {window}))))"
            )
        ).alias("winnow"),
    )


def gini_diversity(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, sum_sq, gini_ppm): lexical diversity as EXACT
    Gini impurity over the document's unigram distribution —
    1 − Σ p(w)² = 1 − Σ c(w)² / n², in integer ppm (entropy needs a log,
    which is float-engine-defined; Gini ranks the same degenerate tails —
    near 0 for one-token spam, near 1 − 1/V for diverse text — and hashes
    bit-exactly). Complements ``quality_scores``' distinct-token ratio,
    which can't tell "one token repeated 99× plus 99 singletons" from a
    flat 50/50 split.

    Explode → per-(doc, word) count → per-doc sum of squares: two
    map-side-combined aggregates, both keyed by doc_id first, so the
    second groupBy reuses the first's exchange (zero extra shuffles).
    """
    counts = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("word")
        )
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(F.expr("c * c")).cast("long").alias("sum_sq"),
        )
        .select(
            "doc_id", "n_tokens", "sum_sq",
            F.expr(
                "1000000 - sum_sq * 1000000 div (n_tokens * n_tokens)"
            ).alias("gini_ppm"),
        )
    )


def lm_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, n_bigrams, sum_ppm, avg_ppm): corpus bigram-LM fluency score
    — the exact-integer stand-in for KenLM perplexity filtering (CCNet's
    quality signal): each word-bigram occurrence scores the corpus
    conditional p(w2|w1) = c(w1 w2)/c(w1 ·) as an integer ppm ratio, and a
    document's score is the mean over its bigram occurrences. Documents
    whose transitions are rare given the corpus (garbled text, wrong-corpus
    inserts) score low. Log-prob sums are float-engine-defined; mean ratio
    ppm ranks the same tails and hashes bit-exactly cross-engine.

    The conditional is Laplace-smoothed with the corpus vocabulary size V:
    p = c(w1 w2) / (c(w1 ·) + V). Without the +V an out-of-corpus doc is
    a perfect self-predictor (its unique prefix has exactly one unique
    successor — c2 = c1 = 1 → ratio 10^6, the classic unsmoothed-LM
    artifact); with it, a singleton transition scores 10^6/(1+V) while an
    established corpus transition keeps c2/(c1+V) ≫ that, so garble ranks
    low (pytest-pinned).

    Shape at scale: the bigram/prefix counts are whole-partition COUNT
    windows over the occurrence stream — no join of corpus-sized state, no
    recomputation of the gram subtree (a tf-join formulation re-derives the
    explode twice and re-exchanges it on every key; this one is exactly
    three corpus exchanges: (w1, w2), (w1), doc_id). The vocabulary size is
    a 1-row aggregate broadcast via crossJoin. Everything is linear in
    corpus token count.
    """
    occ = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(split(text, ' ')) >= 2 THEN"
                " transform(sequence(0, size(split(text, ' ')) - 2),"
                "  j -> struct(element_at(split(text, ' '), j + 1) AS w1,"
                "              element_at(split(text, ' '), j + 2) AS w2))"
                " ELSE array() END"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    vocab = occ.select(F.explode(F.array("w1", "w2")).alias("w")).agg(
        F.countDistinct("w").alias("v")
    )
    scored = (
        occ.withColumn(
            "c2", F.count(F.lit(1)).over(Window.partitionBy("w1", "w2"))
        )
        .withColumn("c1", F.count(F.lit(1)).over(Window.partitionBy("w1")))
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.expr("c2 * 1000000 div (c1 + v)").alias("ratio_ppm"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("ratio_ppm").cast("long").alias("sum_ppm"),
        )
        .select(
            "doc_id", "n_bigrams", "sum_ppm",
            F.expr("sum_ppm div n_bigrams").alias("avg_ppm"),
        )
    )


def winnow_fingerprints(docs: DataFrame, k: int = 5, window: int = 4) -> DataFrame:
    """(doc_id, pos, fp, n_docs): full winnowing fingerprint selection
    (Schleimer et al. 2003, MOSS) — unlike :func:`fingerprints` (one global
    min per doc), this selects a ~1/window density of positions per
    document so shared FRAGMENTS between documents are localizable: a
    position is selected when its k-gram hash is STRICTLY smaller than all
    ``window - 1`` preceding hashes (vacuously selected near the start of
    the doc) — a deterministic local-minimum selector both engines evaluate
    identically, trading classic winnowing's per-window guarantee for an
    order-free exact contract. ``n_docs`` counts documents sharing the
    fingerprint (>1 = a cross-document match candidate, the plagiarism /
    mirror-detection signal).

    Shape at scale: gram hashing is a generator, selection is one lag-window
    min on (doc_id, pos) — ONE doc-keyed exchange — and the sharing count is
    a map-side-combined groupBy(fp) joined back on the fp key
    (co-partitioned). Selected density ~1/window keeps the fp relation at a
    fraction of corpus token count.
    """
    grams = docs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"CASE WHEN size(split(text, ' ')) >= {k} THEN"
                f" transform(sequence(0, size(split(text, ' ')) - {k}),"
                f"  j -> cast(conv(substr(md5(concat_ws(' ',"
                f"       slice(split(text, ' '), j + 1, {k}))), 1, 15),"
                f"       16, 10) as bigint))"
                f" ELSE array() END"
            )
        ).alias("pos", "h"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-(window - 1), -1)
    sel = (
        grams.withColumn("prev_min", F.min("h").over(w))
        .filter(F.col("prev_min").isNull() | (F.col("h") < F.col("prev_min")))
        .select("doc_id", F.col("pos").cast("long").alias("pos"), F.col("h").alias("fp"))
    )
    sharing = sel.groupBy("fp").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs")
    )
    return sel.join(sharing, "fp").select("doc_id", "pos", "fp", "n_docs")


def repetition_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, top_2gram, top2gram_ppm, dup3gram_ppm): Gopher-style
    repetition signals — the quality rules that catch boilerplate and
    degenerate generations plain distinct-token ratios miss:

    - ``top2gram_ppm``: positions claimed by the single most frequent word
      2-gram (ties by gram asc), as an exact integer fraction of all 2-gram
      positions;
    - ``dup3gram_ppm``: fraction of word 3-gram positions whose gram occurs
      more than once in the document.

    Shape at scale: both signals are explode (generator, no shuffle) →
    groupBy (doc_id, gram) with map-side combine → one per-doc reduction —
    everything keys on doc_id, so the three joins co-partition and AQE
    reuses the exchange. Position totals come arithmetically from the token
    count (greatest(|w|−n,0)+1), not a second aggregation. All-integer, so
    the DuckDB twin hashes bit-exactly.
    """
    from pyspark.sql import Window

    def gram_pos(k: int) -> str:
        return (
            f"transform(sequence(0, greatest(size(w) - {k}, 0)),"
            f" j -> concat_ws(' ', slice(w, j + 1, {k})))"
        )

    base = docs.select("doc_id", F.split("text", " ").alias("w"))
    c2 = (
        base.select("doc_id", F.explode(F.expr(gram_pos(2))).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w2 = Window.partitionBy("doc_id").orderBy(F.desc("cnt"), F.asc("gram"))
    top2 = (
        c2.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("gram").alias("top_2gram"), F.col("cnt").alias("top2_cnt"))
    )
    dup3 = (
        base.select("doc_id", F.explode(F.expr(gram_pos(3))).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("cnt") >= 2, F.col("cnt"))), F.lit(0)
            ).alias("dup_pos"),
            F.sum("cnt").alias("tot3"),
        )
    )
    sizes = base.select(
        "doc_id",
        (F.greatest(F.size("w") - 2, F.lit(0)) + 1).cast("long").alias("tot2"),
    )
    return (
        top2.join(dup3, "doc_id")
        .join(sizes, "doc_id")
        .select(
            "doc_id", "top_2gram",
            F.expr("top2_cnt * 1000000L div tot2").alias("top2gram_ppm"),
            F.expr("dup_pos * 1000000L div tot3").alias("dup3gram_ppm"),
        )
    )


def tfidf_topk(docs: DataFrame, k: int = 5) -> DataFrame:
    """(doc_id, term, tf, df, tfidf_ppm, rnk): each document's top-k keyword
    terms by TF-IDF — the raw-ratio IDF variant idf = (N·10^6) div df, kept
    in exact integer arithmetic so the DuckDB twin hashes bit-identically
    (log-IDF would put a float in the RANKING, where a one-ulp divergence
    flips which terms survive the top-k cut, not just the reported score).

    Shape at scale: tokenize is a generator (no shuffle), TF one groupBy on
    (doc_id, term) with map-side combine, DF one groupBy on term, the corpus
    size a 1-row broadcast; the final top-k window partitions by doc_id —
    millions of tiny independent partitions. Ties break by term asc.

    Plan note: the corpus-size crossJoin plans as a
    BroadcastNestedLoopJoin with a SINGLE-ROW build side — the scalar-
    subquery pattern (O(n), not all-pairs); the repo's no-BNLJ plan asserts
    target unbounded builds, which this is not.
    """
    from pyspark.sql import Window

    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    total = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id", "term", "tf", "df",
            F.expr("tf * ((n_docs * 1000000L) div df)").alias("tfidf_ppm"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf_ppm"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )


def bm25_topk(docs: DataFrame, k: int = 10, n_query_terms: int = 3) -> DataFrame:
    """(term, doc_id, tf, df, score_ppm, rnk): BM25 retrieval — for each of
    ``n_query_terms`` automatically chosen query terms, the top-k documents
    by an exact-integer BM25 score (k1 = 1.2, b = 0.75).

    Query terms are data-derived and deterministic: the ``n_query_terms``
    RAREST corpus terms (df asc, term asc) — the high-IDF case retrieval
    exists for. IDF uses the raw-ratio variant (2·(N−df)+1)·10⁶ div (2·df+1)
    (the BM25+ idf argument sans log), for the same reason
    :func:`tfidf_topk` does: a log would put a float in the RANKING where a
    one-ulp cross-engine divergence flips which docs survive the cut. The
    tf-saturation factor tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) is cleared to
    integers by multiplying through by 10·total_len (avgdl = total_len/N):
    sat_ppm = (22·tf·total_len·10⁶) div (10·tf·total_len + 3·total_len +
    9·dl·N); score_ppm = idf_ppm·sat_ppm div 10⁶. Both engines evaluate the
    IDENTICAL integer expression, so the DuckDB twin
    (`oracle_extra.bm25_sql`) hashes bit-for-bit. int64 headroom:
    22·tf·total_len·10⁶ needs tf·total_len < 4·10¹¹ — fine to ~10⁹ corpus
    tokens; past that swap the two 10⁶ scale factors for decimal(38,0).

    Shape at scale: tf / df are the same two map-side-combined groupBys as
    TF-IDF; the query-term set is a tiny global sort-limit broadcast to the
    tf relation (probe side never shuffles); dl joins on doc_id; the corpus
    aggregate is a 1-row broadcast (single-row-build BNLJ, the scalar-
    subquery pattern); the final top-k window partitions by query term.
    """
    from pyspark.sql import Window

    base = docs.select("doc_id", F.split("text", " ").alias("w"))
    toks = base.select("doc_id", F.explode("w").alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    corpus = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("w")).cast("long").alias("total_len"),
    )
    dl = base.select("doc_id", F.size("w").cast("long").alias("dl"))
    qterms = dfreq.orderBy(F.asc("df"), F.asc("term")).limit(n_query_terms)
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .select(
            "term", "doc_id", "tf", "df",
            F.expr(
                "(((2 * (n_docs - df) + 1) * 1000000L) div (2 * df + 1))"
                " * ((22 * tf * total_len * 1000000L)"
                "    div (10 * tf * total_len + 3 * total_len + 9 * dl * n_docs))"
                " div 1000000L"
            ).alias("score_ppm"),
        )
    )
    w = Window.partitionBy("term").orderBy(F.desc("score_ppm"), F.asc("doc_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )


def readability(docs: DataFrame) -> DataFrame:
    """(doc_id, n_words, n_sentences, wps_ppm, long_ppm, lix_ppm): LIX
    readability (Björnsson 1968) in exact integer ppm — LIX was chosen over
    Flesch precisely because it is log- and syllable-free (words per
    sentence + percentage of words longer than 6 chars), so the score is
    bit-exact across engines with no float in sight:

        lix_ppm = n_words*10^6 div n_sentences + 100 * (long*10^6 div n_words)

    Sentences = runs of [.!?] (min 1 so headline-only docs don't divide by
    zero); words = whitespace split; long word = >6 chars, counted with ONE
    flat regex over the raw text (`[^ ]{7,}` — greedy, so each ≥7-char token
    matches exactly once) instead of a filter() lambda, which would run
    interpreted (the module-wide anti-pattern ban). Pure column expressions,
    one pass, zero shuffles — at 100 TB this is a map-only scan that
    pipelines with whatever filter consumes it.
    """
    w = F.split("text", " ")
    base = docs.select(
        "doc_id",
        F.size(w).cast("long").alias("n_words"),
        F.greatest(
            F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")), F.lit(1)
        ).cast("long").alias("n_sentences"),
        F.size(F.expr("regexp_extract_all(text, '[^ ]{7,}', 0)"))
        .cast("long").alias("n_long"),
    )
    return base.selectExpr(
        "doc_id", "n_words", "n_sentences",
        "n_words * 1000000L div n_sentences AS wps_ppm",
        "n_long * 1000000L div n_words AS long_ppm",
        "n_words * 1000000L div n_sentences"
        " + 100 * (n_long * 1000000L div n_words) AS lix_ppm",
    )


def hapax_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_distinct, n_hapax, hapax_ppm, ttr_ppm):
    vocabulary profile per document — type-token ratio (lexical richness)
    and the hapax-legomenon share (fraction of the vocabulary used exactly
    once; high hapax + low TTR separates natural prose from template spam,
    the complement of the repetition_scores signal).

    Shape: one explode + one (doc_id, token) count (map-side combined —
    the shuffle carries one row per DISTINCT (doc, token), not per
    occurrence) + one doc-grain aggregate on the same doc_id key. Exact
    integer ppm throughout.
    """
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("t")
    )
    per = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("c"))
    return per.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("long").alias("n_hapax"),
    ).selectExpr(
        "doc_id", "n_tokens", "n_distinct", "n_hapax",
        "n_hapax * 1000000L div n_distinct AS hapax_ppm",
        "n_distinct * 1000000L div n_tokens AS ttr_ppm",
    )


def docsim_topk(
    docs: DataFrame, k: int = 3, max_df: int = 200, tf_cap: int = 1000
) -> DataFrame:
    """(doc_id, other_id, dot_w, shared_terms, rnk): each document's top-k
    nearest documents by sparse TF-IDF dot product over a df-capped
    inverted index — the classic sparse-retrieval near-duplicate
    primitive (Salton's vector model): it needs no encoder and surfaces
    lexical overlap.

    Exact-integer contract: idf_mil = (N·1000) div df (raw-ratio IDF, the
    bm25_topk convention), weight w = min(tf, tf_cap) · idf_mil; the score
    is the UNNORMALIZED dot Σ w_a·w_b — like BM25, ranking-oriented, no
    float norm anywhere, so the DuckDB twin hashes bit-identically. Ties
    break by other_id asc. Overflow contract: each
    w fits int64 up to ~10^12 docs (w ≤ tf_cap·1000·N), but the PAIR
    product w_a·w_b wraps int64 at only N ≈ 6000 for a df=2 term hitting
    both caps — so the product and its sum accumulate in DECIMAL(38,0)
    (HUGEINT in the twin), the top-k RANKS on that exact decimal, and
    ``dot_w`` is emitted as DOUBLE (both engines apply the same
    correctly-rounded decimal→double conversion, so the gate still
    hashes identically; exact to the last digit below 2^53, approximate
    only in the display column beyond).

    Scale shape: terms with df > ``max_df`` are dropped from the FEATURE
    SPACE (stop-word semantics, documented contract — they carry near-zero
    idf anyway); the pair join is a posting-list self-join on term, so its
    output is Σ_term df² ≤ max_df · |postings| — linear in corpus size with
    a hard per-term bound, never all-pairs. One groupBy on (doc_a, doc_b)
    with map-side combine, then a per-doc top-k window (millions of tiny
    partitions).
    """
    from pyspark.sql import Window

    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    total = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    feat = (
        tf.join(dfreq.filter(F.col("df") <= max_df), "term")
        .crossJoin(F.broadcast(total))
        .selectExpr(
            "term", "doc_id",
            f"least(tf, {tf_cap}) * ((n_docs * 1000L) div df) AS w",
        )
    )
    pairs = (
        feat.alias("a")
        .join(
            feat.alias("b"),
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id"),
            F.col("b.doc_id").alias("other_id"),
        )
        .agg(
            F.sum(
                F.expr("cast(a.w AS DECIMAL(38,0)) * b.w")
            ).cast("decimal(38,0)").alias("dot_w"),
            F.count(F.lit(1)).alias("shared_terms"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("dot_w"), F.asc("other_id")
    )
    return (
        pairs.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .withColumn("dot_w", F.col("dot_w").cast("double"))
    )


def source_drift(docs: DataFrame) -> DataFrame:
    """(source, n_terms, n_overlap, tv_ppm): per-source unigram
    distribution drift vs the whole corpus as total-variation distance

        TV(s) = 1/2 · Σ_w |p_s(w) − p(w)|

    in exact integer ppm (p in ppm by integer div; missing terms count 0) —
    the log-free sibling of the KL domain-shift audit every mixture-tuned
    training corpus needs (domain_mix decides WEIGHTS; this measures how
    far each source's token distribution actually sits from the blend).
    TV is chosen over KL exactly because it needs no log: the whole
    statistic survives the bit-exact cross-engine hash gate.

    Shape: one (source, term) count groupBy and one term groupBy over the
    same token stream; the full-vocabulary alignment is sources × V rows —
    the source dimension is tiny (a mixture has tens of sources, not
    millions), so the cross join is bounded at |V|·S with the small side
    broadcast; per-source absolute-difference sum is one map-side-combined
    aggregate. n_overlap counts vocabulary terms the source actually emits.
    """
    toks = docs.select("source", F.explode(F.split("text", " ")).alias("term"))
    sc = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    stot = sc.groupBy("source").agg(F.sum("c").alias("tot_s"))
    corpus = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cc"))
    ctot = corpus.agg(F.sum("cc").alias("tot"))
    corpus_p = corpus.crossJoin(F.broadcast(ctot)).selectExpr(
        "term", "cc * 1000000L div tot AS p_ppm"
    )
    aligned = (
        corpus_p.crossJoin(F.broadcast(stot))
        .join(sc, ["source", "term"], "left")
        .selectExpr(
            "source",
            "term",
            "p_ppm",
            "coalesce(c, 0L) * 1000000L div tot_s AS ps_ppm",
            "CASE WHEN c IS NOT NULL THEN 1L ELSE 0L END AS hit",
        )
    )
    return (
        aligned.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("hit").alias("n_overlap"),
            F.expr("sum(abs(ps_ppm - p_ppm)) div 2").alias("tv_ppm"),
        )
    )


def bpe_pair_counts(docs: DataFrame, k: int = 32) -> DataFrame:
    """(left, right, n_pairs, rnk): the first BPE merge round (Sennrich et
    al. 2016) — corpus-wide adjacent character-pair frequencies within
    words, global top-k. Iterated with a merge table this IS tokenizer
    training; the first round is the exact primitive (and the by-far
    heaviest: later rounds shrink the symbol stream), so it is the right
    single-round operator for a tokenizer-training data pipeline at
    corpus scale.

    Exact contract both engines share: words split on single spaces,
    1-char words contribute nothing, position i pairs substr(i,1) with
    substr(i+1,1); top-k by (count DESC, left ASC, right ASC).

    Shape: two generators (word explode, position explode — no shuffle),
    ONE map-side-combined (left, right) count whose key space is bounded
    by |alphabet|² — the partial aggregate collapses the char stream
    before the exchange, so the shuffle is ~constant-size regardless of
    corpus bytes; the global top-k row_number plans as
    TakeOrderedAndProject (limit pushed below the rank window), never a
    single-partition sort of the full count relation.
    """
    from pyspark.sql import Window

    words = docs.select(
        F.explode(F.split("text", " ")).alias("word")
    ).filter(F.length("word") >= 2)
    pairs = words.select(
        F.expr("explode(sequence(1, length(word) - 1))").alias("i"), "word"
    ).select(
        F.expr("substring(word, i, 1)").alias("left"),
        F.expr("substring(word, i + 1, 1)").alias("right"),
    )
    counts = pairs.groupBy("left", "right").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    w = Window.orderBy(F.desc("n_pairs"), F.asc("left"), F.asc("right"))
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )
