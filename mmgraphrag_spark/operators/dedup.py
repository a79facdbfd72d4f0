"""Deduplication suite over the documents table.

Large-scale training-data pipeline operators, each expressed Spark-first with
an exact DuckDB oracle twin (see oracle_extra.py):

* exact         — md5(text) groupBy (the reference's content-hash dedup,
                  /root/reference/mmgraphrag/preprocessing.py:106-149, A6/P6)
* minhash LSH   — k-word shingles → 16 seeded minhashes (lexicographic min of
                  md5(seed || shingle), engine-portable) → 4 bands × 4 rows →
                  band-bucket self-join → verified n-gram Jaccard
* simhash       — 16-bit simhash over tokens; near-dup pairs bucketed by
                  8-bit halves (pigeonhole: hamming ≤ 2 ⇒ one half equal)

Scale notes: exact/minhash/simhash are shuffle-bounded by their blocking key
(hash, band bucket, simhash half) — candidate verification joins are
per-bucket, never all-pairs. Skewed buckets (boilerplate shingles) hit AQE
skew-join; signatures are fixed-width so map-side combine applies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..config import DEFAULT, PipelineConfig


def docs_table(spark, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )


# ---- exact ------------------------------------------------------------------

def exact_duplicates(docs: DataFrame) -> DataFrame:
    """(doc_id, keep_id, content_hash): rows that are exact duplicates of an
    earlier doc (keep_id = min doc_id of the hash group)."""
    h = docs.select("doc_id", F.md5("text").alias("content_hash"))
    w = Window.partitionBy("content_hash")
    return (
        h.withColumn("keep_id", F.min("doc_id").over(w))
        .filter(F.col("doc_id") != F.col("keep_id"))
        .select("doc_id", "keep_id", "content_hash")
    )


# ---- minhash + LSH ----------------------------------------------------------

def shingle_rows(docs: DataFrame, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """(doc_id, s): one row per k-word shingle OCCURRENCE (duplicates kept).

    Flat construction — explode an index range and read the k words with
    ``F.get`` element accesses (codegen; concat_ws skips the nulls past the
    array end, matching slice semantics on short docs). Zero higher-order
    lambdas: the earlier ``transform(sequence, j -> concat_ws(slice(...)))``
    per-row array build ran interpreted (the ~30x-vs-flat anti-pattern
    PLANS.md documents), and at 100 TB the shingle pass IS the minhash job.
    Consumers that need per-doc-DISTINCT shingles dedup with an aggregation
    (map-side partial combine) instead of a per-row HOF.
    """
    k = cfg.shingle_size
    idx = docs.select("doc_id", F.split("text", " ").alias("w")).select(
        "doc_id", "w",
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.size("w") - k, F.lit(0)))
        ).alias("j"),
    )
    parts = [F.get("w", (F.col("j") + i).cast("int")) for i in range(k)]
    return idx.select("doc_id", F.concat_ws(" ", *parts).alias("s"))


def _shingle_sets(sh_rows: DataFrame) -> DataFrame:
    """(doc_id, sh array<string>): distinct shingle set per doc (for the
    exact-Jaccard verifiers; call on a candidate-restricted relation)."""
    return sh_rows.groupBy("doc_id").agg(F.collect_set("s").alias("sh"))


def minhash_signatures(docs: DataFrame, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """(doc_id, sig array<string>): lexicographic-min md5 per seeded permutation.

    String-min minhash keeps the math engine-portable (no 64-bit hash
    parity issues); collision behavior matches integer minhash.

    Shape: shingle rows -> ONE groupBy(doc_id) computing all ``perms`` min
    aggregates as flat codegen md5 expressions — map-side partial combine
    collapses each task's rows to one row per doc before the exchange
    (min over occurrences == min over the distinct set, so no dedup pass
    is needed). Replaces the 16-lambda ``transform`` chain the round-2
    audit flagged as the interpreted hot path.
    """
    sh = shingle_rows(docs, cfg)
    mins = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("s")))).alias(f"m{i}")
        for i in range(cfg.minhash_perms)
    ]
    return (
        sh.groupBy("doc_id")
        .agg(*mins)
        .select(
            "doc_id",
            F.array(*[F.col(f"m{i}") for i in range(cfg.minhash_perms)]).alias("sig"),
        )
    )


def lsh_bucket_rows(docs: DataFrame, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """(doc_id, band, bkey): one row per LSH band bucket membership — the
    joinable form of the signature (band rows equi-join on (band, bkey))."""
    sigs = minhash_signatures(docs, cfg)
    r = cfg.minhash_perms // cfg.minhash_bands
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.md5(
                        F.concat_ws("|", *[F.col("sig")[b * r + j] for j in range(r)])
                    ).alias("bkey"),
                )
                for b in range(cfg.minhash_bands)
            ])
        ).alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey"))


def lsh_candidates(docs: DataFrame, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """(a, b, band): candidate pairs sharing an LSH band bucket (a < b)."""
    bands = lsh_bucket_rows(docs, cfg)
    left = bands.alias("x")
    right = bands.alias("y")
    return (
        left.join(
            right,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bkey") == F.col("y.bkey"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("a"),
            F.col("y.doc_id").alias("b"),
            F.col("x.band").alias("band"),
        )
    )


def minhash_near_duplicates(
    docs: DataFrame, threshold: float = 0.5, cfg: PipelineConfig = DEFAULT
) -> DataFrame:
    """(a, b, jaccard_pm): LSH candidates verified by true shingle Jaccard.

    jaccard_pm = 10^6-scaled integer Jaccard (floor), engine-exact.

    The exact-verify step materializes distinct shingle SETS only for docs
    that appear in some candidate pair (left_semi before collect_set), so
    the verification cost follows the candidate count, not the corpus.
    """
    pairs = lsh_candidates(docs, cfg).select("a", "b").distinct()
    in_pairs = (
        pairs.select(F.col("a").alias("doc_id"))
        .unionByName(pairs.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    sh = _shingle_sets(
        shingle_rows(docs, cfg).join(in_pairs, "doc_id", "left_semi")
    )
    j = (
        pairs.join(sh.withColumnRenamed("doc_id", "a").withColumnRenamed("sh", "sha"), "a")
        .join(sh.withColumnRenamed("doc_id", "b").withColumnRenamed("sh", "shb"), "b")
        .selectExpr(
            "a", "b",
            "size(array_intersect(sha, shb)) * 1000000L"
            " div size(array_union(sha, shb)) AS jaccard_pm",
        )
    )
    return j.filter(F.col("jaccard_pm") >= int(threshold * 1_000_000)).select(
        "a", "b", "jaccard_pm"
    )


# ---- simhash ----------------------------------------------------------------

SIMHASH_BITS = 60    # 15 md5 hex chars -> always positive in signed int64,
                     # identical arithmetic in Spark and DuckDB
SIMHASH_BLOCKS = 4   # pigeonhole: hamming <= B-1 guarantees a matching block;
                     # 4 blocks covers max_hamming <= 3
_BLOCK_BITS = SIMHASH_BITS // SIMHASH_BLOCKS  # 15
_BLOCK_MASK = (1 << _BLOCK_BITS) - 1


def simhash(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """(doc_id, simhash): per-token ``bits``-wide hash = leading md5 hex chars;
    signature bit j set iff more tokens have bit j than not.

    60 bits (not 16): at web-corpus scale a narrow signature collapses the
    banding buckets into giant candidate groups; 60 bits / 4 x 15-bit blocks
    keeps expected bucket occupancy ~n/2^15 per block.
    """
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    h = toks.select(
        "doc_id",
        F.conv(F.substring(F.md5("tok"), 1, bits // 4), 16, 10).cast("long").alias("hv"),
    )
    votes = [
        F.sum(F.when(F.shiftright(F.col("hv"), j).bitwiseAND(1) == 1, 1).otherwise(-1))
        .alias(f"v{j}")
        for j in range(bits)
    ]
    agg = h.groupBy("doc_id").agg(*votes)
    sig = None
    for j in range(bits):
        term = F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return agg.select("doc_id", sig.cast("long").alias("simhash"))


def simhash_near_duplicates(docs: DataFrame, max_hamming: int = 2) -> DataFrame:
    """(a, b, hamming): pairs within hamming distance, blocked on 4 x 15-bit
    signature blocks (pigeonhole: hamming <= 3 < 4 blocks ⇒ at least one block
    matches exactly; the old 2-half scheme silently lost hamming-2 pairs whose
    differing bits straddled both halves)."""
    assert max_hamming < SIMHASH_BLOCKS, "pigeonhole needs blocks > max_hamming"
    s = simhash(docs)
    halves = s.select(
        "doc_id", "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("h"),
                    F.shiftright(F.col("simhash"), i * _BLOCK_BITS)
                    .bitwiseAND(F.lit(_BLOCK_MASK)).cast("long").alias("hk"),
                )
                for i in range(SIMHASH_BLOCKS)
            ])
        ).alias("p"),
    ).select("doc_id", "simhash", F.col("p.h").alias("h"), F.col("p.hk").alias("hk"))
    x, y = halves.alias("x"), halves.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.h") == F.col("y.h"))
            & (F.col("x.hk") == F.col("y.hk"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"),
            F.col("x.simhash").alias("sa"), F.col("y.simhash").alias("sb"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


# ---- exact n-gram Jaccard (inverted-index join) -----------------------------


def ngram_jaccard_pairs(
    docs: DataFrame, threshold: float = 0.5, max_df: int = 100000,
    cfg: PipelineConfig = DEFAULT,
) -> DataFrame:
    """(a, b, jaccard_pm): EXACT shingle-Jaccard pairs via the inverted
    index — the deterministic sibling of the MinHash path (which estimates
    candidates first and verifies after).

    Shape: explode shingles -> posting-list self-equi-join on the shingle ->
    count shared shingles per pair -> |A∪B| = na + nb - inter. Every join is
    equi (shuffle-bounded); no all-pairs anywhere. ``max_df`` drops
    stop-shingles whose posting lists exceed it BEFORE the join (the
    standard scale guard: a boilerplate shingle shared by 10^6 docs would
    otherwise emit 10^12 pair rows). Pairs are exact whenever their common
    shingles all survive the cap; union sizes always use the FULL sets. The
    DuckDB twin applies the identical cap, so parity is bit-exact at any
    setting.
    """
    # per-doc-distinct shingle rows: flat construction + one hash-aggregate
    # dedup (map-side partial combine) — replaces the interpreted per-row
    # transform/array_distinct HOF build
    sh = shingle_rows(docs, cfg).dropDuplicates(["doc_id", "s"])
    rare = (
        sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_df)
        .select("s")
    )
    posted = sh.join(rare, "s")
    inter = (
        posted.alias("x")
        .join(
            posted.alias("y"),
            (F.col("x.s") == F.col("y.s"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .groupBy(
            F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    j = (
        inter.join(sizes.select(F.col("doc_id").alias("a"),
                                F.col("n").alias("na")), "a")
        .join(sizes.select(F.col("doc_id").alias("b"),
                           F.col("n").alias("nb")), "b")
        .selectExpr(
            "a", "b",
            "inter * 1000000L div (na + nb - inter) AS jaccard_pm",
        )
    )
    return j.filter(
        F.col("jaccard_pm") >= int(threshold * 1_000_000)
    ).select("a", "b", "jaccard_pm")


# ---- cross-document span coverage (ExactSubstr-style signal) ----------------


def crossdoc_span_coverage(
    docs: DataFrame, k: int = 8, min_docs: int = 2, max_df: int = 100_000
) -> DataFrame:
    """(doc_id, n_tokens, dup_starts, covered_tokens, dup_ppm): per-document
    fraction of token positions covered by word ``k``-grams that also occur
    in at least ``min_docs - 1`` OTHER documents — the signal behind
    exact-substring deduplication (Lee et al. 2021, "Deduplicating Training
    Data Makes Language Models Better"): long verbatim spans shared across
    documents are boilerplate/mirrored text a pretraining corpus wants cut,
    and a doc's ``dup_ppm`` is the budget such a cut would reclaim.

    Exact interval-union semantics with NO k-times row blowup: duplicated
    gram START positions per doc are sorted once, and each start contributes
    ``least(k, j - lag(j))`` covered tokens (the lag window collapses
    overlapping [j, j+k) intervals exactly). Docs shorter than ``k`` tokens
    have no k-gram and report zero coverage; every doc emits a row.

    Shape at scale: explode fixed-width md5 gram keys (generator — no
    shuffle) -> groupBy(gram) distinct-doc count with map-side partial
    aggregation -> left_semi join the occurrences against the duplicated
    grams (co-partitioned on the gram key; ``max_df`` drops degenerate
    boilerplate grams whose posting lists exceed it, same hub guard as
    :func:`ngram_jaccard_pairs`) -> one per-doc window + one groupBy(doc_id).
    Everything is linear in corpus token count.
    """
    base = docs.select(
        "doc_id",
        F.split("text", " ").alias("w"),
    ).select(
        "doc_id",
        F.size("w").cast("long").alias("n_tokens"),
        F.expr(
            f"CASE WHEN size(w) >= {k} THEN"
            f" transform(sequence(0, size(w) - {k}),"
            f"  j -> struct(j, md5(concat_ws(' ', slice(w, j + 1, {k}))) AS g))"
            f" ELSE array() END"
        ).alias("grams"),
    )
    occ = base.select("doc_id", F.explode("grams").alias("o")).select(
        "doc_id", F.col("o.j").alias("j"), F.col("o.g").alias("g")
    )
    dup_grams = (
        occ.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter((F.col("df") >= min_docs) & (F.col("df") <= max_df))
        .select("g")
    )
    lagw = Window.partitionBy("doc_id").orderBy("j")
    covered = (
        occ.join(dup_grams, "g", "left_semi")
        .withColumn("prev", F.lag("j").over(lagw))
        .select(
            "doc_id",
            F.when(
                F.col("prev").isNull(), F.lit(k).cast("long")
            ).otherwise(
                F.least(F.lit(k).cast("long"), F.col("j") - F.col("prev"))
            ).alias("add"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("dup_starts"),
            F.sum("add").cast("long").alias("covered_tokens"),
        )
    )
    return (
        base.select("doc_id", "n_tokens")
        .join(covered, "doc_id", "left")
        .select(
            "doc_id", "n_tokens",
            F.coalesce("dup_starts", F.lit(0).cast("long")).alias("dup_starts"),
            F.coalesce("covered_tokens", F.lit(0).cast("long")).alias(
                "covered_tokens"
            ),
            F.expr(
                "coalesce(covered_tokens, 0L) * 1000000L div n_tokens"
            ).alias("dup_ppm"),
        )
    )


# ---- paragraph-level exact dedup (CCNet-style) ------------------------------


def paragraph_dedup(docs: DataFrame, para_words: int = 16) -> DataFrame:
    """(doc_id, n_paras, n_dup_paras, dup_ppm): paragraph-grain exact
    deduplication — the CCNet recipe (Wenzek et al. 2020): split every
    document into paragraphs, hash each, and keep only the FIRST occurrence
    of every hash corpus-wide; a doc's ``dup_ppm`` is the fraction of its
    paragraphs a keep-first pass would delete. The synthetic corpus has no
    newlines, so "paragraphs" are fixed ``para_words``-word blocks — the
    same plan shape either way (swap the splitter expression).

    Keep-first is made deterministic by ranking occurrences of a hash by
    (doc_id, para_idx): occurrence rank 1 survives, everything later is a
    duplicate — an exact, order-free contract both engines agree on.

    Shape at scale: paragraph construction is a generator (split + slice —
    zero shuffle), then ONE hash exchange on para_hash for the rank window
    and ONE map-side-combined groupBy(doc_id). Posting lists per hash are
    bounded by the duplicate multiplicity itself (no df explosion — rank,
    not pairs), so unlike pair-join dedup this stays linear in corpus size
    even when one paragraph repeats a million times.
    """
    paras = docs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, (size(split(text, ' ')) - 1) div {para_words}),"
                f" i -> md5(array_join(slice(split(text, ' '),"
                f" i * {para_words} + 1, {para_words}), ' ')))"
            )
        ).alias("para_idx", "para_hash"),
    )
    w = Window.partitionBy("para_hash").orderBy("doc_id", "para_idx")
    return (
        paras.withColumn("rn", F.row_number().over(w))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_paras"),
            F.sum(F.when(F.col("rn") > 1, F.lit(1)).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_dup_paras"),
        )
        .select(
            "doc_id", "n_paras", "n_dup_paras",
            F.expr("n_dup_paras * 1000000 div n_paras").alias("dup_ppm"),
        )
    )


# ---- near-duplicate cluster collapse ---------------------------------------


def duplicate_clusters(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    cfg: PipelineConfig = DEFAULT,
    max_iter: int = 20,
    method: str = "fixpoint",
    stats: dict | None = None,
) -> DataFrame:
    """(doc_id, cluster_rep): connected components over the near-duplicate
    pair graph — the collapse step a dedup pipeline actually applies (keep
    the representative ``cluster_rep = min doc_id`` of each component, drop
    the rest). Singleton docs are their own representative.

    Distributed iterative min-label propagation: each round joins the
    (symmetric) edge list against the current labels, takes the min of own
    and neighbor labels with a map-side-combined groupBy, and stops when a
    round changes nothing (driver-side count per round — the standard
    driver-coordinated fixpoint, same tier as any iterative graph
    algorithm; every round's work is fully distributed). Rounds needed =
    component diameter; near-dup components are replica cliques, so 2-3
    rounds in practice, ``max_iter`` is a backstop. Labels are
    localCheckpointed per round so the plan does not compound.

    Scale shape: edges come from the LSH-verified pair list (bounded by
    true near-dups, not the corpus); each round is one equi-join + one
    keyed aggregation on doc_id. ``method='star'`` switches to the
    alternating large-star/small-star algorithm (Kiveris et al., "Connected
    Components in MapReduce and Beyond") — O(log n) rounds on ANY graph
    shape, the right pick at 10^12 docs when components are stringy rather
    than clique-like; both methods are equality-tested against each other.
    ``stats``, if given, receives {"rounds": n} for protocol assertions.
    """
    if method not in ("fixpoint", "star"):
        raise ValueError(f"method={method!r}: expected 'fixpoint' or 'star'")
    if pairs is None:
        pairs = minhash_near_duplicates(docs, cfg=cfg)
    if method == "star":
        return _duplicate_clusters_star(docs, pairs, max_iter, stats)
    edges = (
        pairs.select(F.col("a").alias("x"), F.col("b").alias("y"))
        .unionByName(pairs.select(F.col("b").alias("x"), F.col("a").alias("y")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = docs.select("doc_id", F.col("doc_id").alias("label")).localCheckpoint(
        eager=True
    )
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        nbr = (
            edges.join(labels.withColumnRenamed("doc_id", "y"), "y")
            .groupBy("x")
            .agg(F.min("label").alias("nbr_label"))
            .withColumnRenamed("x", "doc_id")
        )
        stepped = labels.join(nbr, "doc_id", "left").select(
            "doc_id",
            F.least("label", F.coalesce("nbr_label", F.col("label"))).alias("label"),
        )
        # pointer jumping (path halving): label <- label[label]. Turns the
        # fixpoint from O(diameter) rounds into O(log diameter) — on a
        # 10^12-doc graph with stringy components this is the difference
        # between tens of rounds and a handful; each jump is one self-join
        # on the label key.
        jump = stepped.select(
            F.col("doc_id").alias("label"), F.col("label").alias("label2")
        )
        new = (
            stepped.join(jump, "label", "left")
            .select(
                "doc_id",
                F.least(
                    "label", F.coalesce("label2", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    if stats is not None:
        stats["rounds"] = rounds
    return labels.select("doc_id", F.col("label").alias("cluster_rep"))


def _duplicate_clusters_star(
    docs: DataFrame, pairs: DataFrame, max_iter: int, stats: dict | None
) -> DataFrame:
    """Alternating large-star/small-star connected components.

    Edges live as deduped (u, v) pairs. One round = large-star (every node
    hooks its strictly-larger neighbors onto its minimum) then small-star
    (every node hooks its smaller-or-equal neighbors onto its minimum);
    converged when the edge set stops changing, at which point every
    non-root node carries exactly one edge to its component minimum.
    O(log n) rounds on any graph shape (Kiveris et al.). Both steps are
    pure join+min-aggregate — no per-node neighbor arrays, so a hub node
    never materializes its adjacency list in one task.
    """
    e = (
        pairs.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # large-star: symmetric neighborhoods; for each u emit (v, min) for
        # every STRICTLY larger neighbor v (min over N(u) ∪ {u})
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        m = F.least("u", "mn")
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), m.alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: orient every edge to its larger endpoint; for each u
        # emit (v, min) for all smaller neighbors plus (u, min)
        omins = large.groupBy("u").agg(F.min("v").alias("mn"))
        small = (
            large.join(omins, "u")
            .filter(F.col("v") != F.col("mn"))
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .unionByName(omins.select("u", F.col("mn").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        same = (
            small.count() == e.count()
            and small.join(e, ["u", "v"], "left_anti").count() == 0
        )
        e = small
        if same:
            break
    if stats is not None:
        stats["rounds"] = rounds
    roots = e.groupBy("u").agg(F.min("v").alias("rep"))
    return docs.select("doc_id").join(
        roots.withColumnRenamed("u", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id", F.coalesce("rep", F.col("doc_id")).alias("cluster_rep")
    )


# ---- directed shingle containment (doc-in-doc detection) --------------------


def containment_pairs(
    docs: DataFrame, threshold: float = 0.5, max_df: int = 100_000,
    cfg: PipelineConfig = DEFAULT,
) -> DataFrame:
    """(src, dst, containment_pm): EXACT directed shingle containment
    C(src ⊆ dst) = |S_src ∩ S_dst| / |S_src| — the asymmetric sibling of
    Jaccard that catches a short document embedded verbatim inside a long
    one (quote farms, concatenated crawls), which Jaccard misses because
    the union is dominated by the long side (Broder 1997's "containment").

    Same inverted-index shape as ``ngram_jaccard_pairs`` (posting-list
    equi-join, never all-pairs) with the same ``max_df`` stop-shingle cap
    BEFORE the join; denominators always use the FULL per-doc set so the
    ratio is exact whenever the pair's common shingles survive the cap. One
    undirected intersection join feeds BOTH directions (src→dst and
    dst→src), so the pair join runs once, not twice. Emits rows with
    ``containment_pm >= threshold``; src == dst is excluded.
    """
    sh = shingle_rows(docs, cfg).dropDuplicates(["doc_id", "s"])
    rare = (
        sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_df)
        .select("s")
    )
    posted = sh.join(rare, "s")
    inter = (
        posted.alias("x")
        .join(
            posted.alias("y"),
            (F.col("x.s") == F.col("y.s"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .groupBy(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    both = inter.selectExpr("a AS src", "b AS dst", "inter").unionByName(
        inter.selectExpr("b AS src", "a AS dst", "inter")
    )
    out = both.join(
        sizes.select(F.col("doc_id").alias("src"), F.col("n").alias("nsrc")),
        "src",
    ).selectExpr("src", "dst", "inter * 1000000L div nsrc AS containment_pm")
    return out.filter(
        F.col("containment_pm") >= int(threshold * 1_000_000)
    ).select("src", "dst", "containment_pm")


def canonical_documents(
    docs: DataFrame, cfg: PipelineConfig = DEFAULT
) -> DataFrame:
    """(doc_id, cluster_rep, quality_ppm, canonical_id, kept): canonical-
    document election — CCNet/C4-style "keep the best duplicate": within
    each near-duplicate cluster the member with the highest quality score
    (ties by doc_id asc) is elected canonical; every member row carries
    its verdict, so the relation is the dedup decision's audit trail
    (filter ``kept`` for the surviving corpus).

    Pure composition of two verified operators —
    :func:`duplicate_clusters` (min-label components over the
    LSH-verified pair graph) × ``textstats.quality_scores`` — one
    equi-join on doc_id and one full-frame first_value window per
    cluster. The DuckDB twin composes both stage twins verbatim
    (compositional verification). Cluster partitions are bounded by the
    largest near-dup clique — the same bound the collapse itself has.
    """
    from pyspark.sql import Window

    from .textstats import quality_scores

    clusters = duplicate_clusters(docs, cfg=cfg)
    q = quality_scores(docs).select("doc_id", "quality_ppm")
    j = clusters.join(q, "doc_id")
    w = (
        Window.partitionBy("cluster_rep")
        .orderBy(F.desc("quality_ppm"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return j.withColumn(
        "canonical_id", F.first("doc_id").over(w)
    ).selectExpr(
        "doc_id", "cluster_rep", "quality_ppm", "canonical_id",
        "doc_id = canonical_id AS kept",
    )
