"""M2–M7 + J5/J6 — spectral-clustering fusion of image and text entities.

Reference lifecycle (/root/reference/mmgraphrag/fusion.py): per image, collect
nearby text entities (J2 range join :141-179), build a cosine affinity matrix
weighted by relation strength (M2 :212-226), unnormalized Laplacian +
eigendecomposition with k = max(2, ceil(sqrt(n))) (M3 :228-243), DBSCAN
(eps=0.5, min_samples=max(1, ceil(n/10))) on the spectral embedding (M4
:245-251), kNN label transfer to image entities (M5 :256-267), LLM judge picks
merges (M7 :387-464), then the merge-map rewires the graph (J6 :757-801).

Spark-first re-architecture:

* the neighborhood is a **word-window** around each media span's anchor (the
  reference's ±1-chunk window, expressed in word offsets so it is independent
  of chunk dedup) — built with one range-condition join;
* embeddings are signed feature-hashed char-trigram count vectors
  (``trigram_vector``) — the deterministic stand-in for the sentence encoder
  that preserves the property the reference's fusion math depends on: NEAR
  surfaces get high cosine without being equal (SPARK~SPARKS ≈ 0.87), so the
  clustering/judge never degenerate to string equality; scoring runs in exact
  int64 fixed-point, bit-reproducible in the DuckDB oracle;
* each media block (media_ref) is one ``applyInPandas`` group emitting three
  row kinds: M6 cluster groups as *connected components of the thresholded
  affinity* (exact integers — the value-checked clustering), the M3/M4
  spectral-DBSCAN twin (``eigh`` on the symmetrized Laplacian — §4.2
  determinism — verified against an independent NumPy oracle in pytest), and
  M5/M7 merges: kNN majority-label transfer (k = fusion_knn over the exact
  cosine order) then *merge iff the nearest in-cluster text entity clears
  merge_cos* (reference fusion.py:256-267,387-464);
* J6 rewiring = broadcast merge-map join + re-canonicalization (A1/A2),
  whose map-side-combined aggregates absorb hub skew (canonicalize.py).

Blocks are small (≤ ~2·fusion_window/min_len + scene entities), so per-block
O(n³) eigendecomposition is microseconds; the stage parallelizes over blocks
(one shuffle on media_ref).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from ..config import DEFAULT, PipelineConfig
from . import canonicalize as canon

MERGE_SCHEMA = "doc_id string, media_ref string, old_name string, new_name string"
# one applyInPandas pass emits all products of the block computation:
#   kind='cluster' : (entity_name, label, new_name=cluster_rep) — M6 groups as
#                    connected components of the thresholded trigram-cosine
#                    affinity, in EXACT integer arithmetic (value-checked by
#                    the DuckDB recursive-CTE oracle)
#   kind='spectral': (entity_name, label) — M3/M4 spectral embedding + DBSCAN
#                    (real eigendecomposition; verified against an independent
#                    NumPy oracle in pytest, not SQL-expressible)
#   kind='merge'   : (entity_name=old, new_name) — M5 kNN majority-label
#                    transfer + M7 threshold judge, exact integers
FUSION_SCHEMA = (
    "doc_id string, media_ref string, kind string, entity_name string,"
    " label long, new_name string"
)

# fixed-point scales for exact cross-engine comparisons (DuckDB twin uses the
# same constants): cos >= t  <=>  dot > 0  AND  dot^2 * SCALE >= t2 * na2 * nb2
TRIGRAM_SCALE = 10**8
RANK_SCALE = 10**12


def trigram_vector(s: str, dims: int):
    """Signed feature-hashed char-3-gram count vector (int64).

    Exact twin of the DuckDB SQL in oracle.py (md5-based bucket and sign, the
    only hash primitive both engines share): gram list = substr(s, i, 3) for
    i in range(max(len-2, 1)); bucket = md5[:4] hex % dims; sign from md5[4].
    Production swap point: replace with the sentence-encoder batch UDF — the
    reference embeds with a SentenceTransformer (parameter.py:14-20).
    """
    import hashlib

    import numpy as np

    v = np.zeros(dims, dtype=np.int64)
    for i in range(max(len(s) - 2, 1)):
        h = hashlib.md5(s[i:i + 3].encode("utf-8")).hexdigest()
        v[int(h[:4], 16) % dims] += 1 if int(h[4], 16) % 2 == 0 else -1
    return v


def _int_cos_ge(dot: int, na2: int, nb2: int, t2: int) -> bool:
    """cos(a,b) >= t in exact integers (t2 = round(t^2 * TRIGRAM_SCALE))."""
    return dot > 0 and dot * dot * TRIGRAM_SCALE >= t2 * na2 * nb2


def _rank_key(dot: int, na2: int, nb2: int) -> int:
    """Monotone-in-cosine integer sort key (sign-aware, exact)."""
    sign = 1 if dot >= 0 else -1
    return sign * ((dot * dot * RANK_SCALE) // max(na2 * nb2, 1))


def word_positions(flat_spans: DataFrame, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """(doc_id, wpos, tok): global word offsets from the text spans.

    Text spans partition the doc's words losslessly (synth contract), so
    global position = span_index * span_words + position-in-span. We recover
    the span index from the span's text-rank within the doc rather than trust
    ``offset`` (media spans interleave).
    """
    # text spans ordered by offset == ordered by span index
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("offset")
    t = (
        flat_spans.filter(F.col("kind") == "text")
        .withColumn("span_idx", F.row_number().over(w) - 1)
    )
    return t.select(
        "doc_id", "span_idx",
        F.posexplode(F.split("text", " ")).alias("j", "tok"),
    ).select(
        "doc_id",
        (F.col("span_idx") * F.lit(cfg.span_words) + F.col("j")).alias("wpos"),
        "tok",
    )


def media_anchors(media: DataFrame, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """(doc_id, media_ref, anchor): word offset the media span interleaves at.

    media_ref = '<doc>/image_<k>' is emitted after text span i = k*every - 1
    (synth contract), so anchor = i * span_words.
    """
    # try_cast: ANSI constant folding would otherwise evaluate the cast on
    # the union branch whose media_ref is the literal '' (text spans) before
    # the kind-filter prunes it.
    k = F.expr(r"try_cast(regexp_extract(media_ref, '_(\\d+)$', 1) AS int)")
    i = k * cfg.media_every - 1
    return media.select(
        "doc_id", "media_ref", (i * cfg.span_words).alias("anchor")
    )


def nearby_text_entities(
    flat_spans: DataFrame, media: DataFrame, cfg: PipelineConfig = DEFAULT
) -> DataFrame:
    """J2 analogue: distinct text entity surface forms within ±fusion_window
    words of each media anchor.

    Shape: join anchors to the doc's TEXT SPANS first (equi-join on doc_id
    — docs without media never join), keep only spans whose word range can
    overlap the ±K window, and explode words from those spans alone. The
    former shape (word_positions ⋈ anchors) exploded every word of every
    media doc and ranked spans with a per-doc row_number window; this one
    explodes O(anchors · K/span_words) spans, and the span index comes in
    closed form from ``offset`` — the interleave contract
    (media span after every ``media_every``-th text span) that
    :func:`media_anchors` already encodes gives, on media docs,
    offset(text i) = i + i div every, inverted by
    i = (offset div (every+1))·every + offset mod (every+1).
    Zero exchanges beyond the one doc_id join; no window, no sort.
    """
    anchors = media_anchors(media, cfg)
    K, W, every = cfg.fusion_window, cfg.span_words, cfg.media_every
    txt = flat_spans.filter(F.col("kind") == "text").select(
        "doc_id", "offset", "text"
    )
    spans_near = (
        anchors.join(txt, "doc_id")
        .withColumn(
            "span_idx",
            F.expr(f"(offset div {every + 1}) * {every}"
                   f" + offset % {every + 1}"),
        )
        # span i covers words [i*W, i*W + W): overlap with [anchor-K, anchor+K)
        .filter(
            (F.col("span_idx") * W < F.col("anchor") + K)
            & (F.col("span_idx") * W + W > F.col("anchor") - K)
        )
    )
    return (
        spans_near.select(
            "doc_id", "media_ref", "anchor", "span_idx",
            F.posexplode(F.split("text", " ")).alias("j", "tok"),
        )
        .withColumn("wpos", F.col("span_idx") * W + F.col("j"))
        .filter(
            (F.col("wpos") >= F.col("anchor") - K)
            & (F.col("wpos") < F.col("anchor") + K)
            & (F.length("tok") >= cfg.mention_min_len)
        )
        .select(
            "doc_id", "media_ref", F.upper("tok").alias("entity_name"),
        )
        .distinct()
    )


def _dbscan(X, eps: float, min_samples: int):
    """Self-contained deterministic DBSCAN (euclidean), index-ordered BFS."""
    import numpy as np

    n = len(X)
    d2 = ((X[:, None, :] - X[None, :, :]) ** 2).sum(-1)
    nbr = d2 <= eps * eps
    core = nbr.sum(1) >= min_samples
    labels = np.full(n, -1, dtype=np.int64)
    cur = 0
    for i in range(n):
        if labels[i] != -1 or not core[i]:
            continue
        stack = [i]
        labels[i] = cur
        while stack:
            p = stack.pop()
            if not core[p]:
                continue
            for q in np.nonzero(nbr[p])[0]:
                if labels[q] == -1:
                    labels[q] = cur
                    if core[q]:
                        stack.append(q)
        cur += 1
    return labels


def _fuse_partition(part, eps: float, merge_t2: int, cluster_t2: int,
                    dims: int, knn: int):
    """Every media block of one shuffle partition: exact-integer components +
    spectral twin + kNN majority transfer + threshold judge.

    Emits FUSION_SCHEMA rows: per text entity one 'cluster' row (component
    label + canonical representative = min entity_name in the component) and
    one 'spectral' row (DBSCAN label on the spectral embedding); per accepted
    image→text merge one 'merge' row.

    Layout: ONE sort by (media_ref, side, entity_name) puts each block
    contiguous with its image rows leading ('image' < 'text') and both sides
    name-sorted; blocks are then index slices over flat numpy arrays. The
    per-block work (vstack, slicing, three DataFrame constructions, concat)
    that the former per-block function paid on every ~6-row group — measured
    as the dominant term of the stage, ~1.3 ms/block against microseconds of
    numpy math — happens once per PARTITION here; outputs accumulate in
    plain lists and build a single frame.
    """
    import numpy as np
    import pandas as pd

    part = part.sort_values(
        ["media_ref", "side", "entity_name"], ignore_index=True
    )
    refs = part["media_ref"].to_numpy()
    sides = part["side"].to_numpy()
    names = part["entity_name"].to_numpy()
    docs = part["doc_id"].to_numpy()
    # vectors arrive precomputed from the JVM trigram stage (fusion_blocks):
    # one codegen pass per DISTINCT surface corpus-wide, instead of hashlib
    # md5 per gram per block occurrence (hot Zipf surfaces appear in ~every
    # block — measured as the round-2 fusion-stage scaling killer)
    V = np.vstack(part["vec"].to_numpy()).astype(np.int64)
    n_all = len(part)

    o_doc: list = []
    o_ref: list = []
    o_kind: list = []
    o_name: list = []
    o_label: list = []
    o_new: list = []

    starts = np.flatnonzero(np.r_[True, refs[1:] != refs[:-1]])
    ends = np.r_[starts[1:], n_all]
    for s, e in zip(starts, ends):
        # image rows lead the block; first text row splits the slice
        t0 = s + int(np.searchsorted(sides[s:e], "text", side="left"))
        n = e - t0
        if n == 0:
            continue
        tnames = names[t0:e]
        V_t = V[t0:e]
        n2_t = (V_t * V_t).sum(1)

        # ---- M6 clusters = components of the thresholded affinity ----------
        # exact integers; text rows are name-sorted, so BFS from ascending
        # index gives component rep = min entity_name (the oracle's label)
        D_tt = V_t @ V_t.T
        adj = (D_tt > 0) & (
            D_tt.astype(np.int64) ** 2 * TRIGRAM_SCALE
            >= cluster_t2 * np.outer(n2_t, n2_t)
        )
        np.fill_diagonal(adj, False)
        comp = np.full(n, -1, dtype=np.int64)
        reps: list[str] = []
        for i in range(n):
            if comp[i] != -1:
                continue
            cid = len(reps)
            reps.append(tnames[i])
            stack = [i]
            comp[i] = cid
            while stack:
                p = stack.pop()
                for q in np.nonzero(adj[p])[0]:
                    if comp[q] == -1:
                        comp[q] = cid
                        stack.append(int(q))
        o_doc.extend(docs[t0:e]); o_ref.extend(refs[t0:e])
        o_kind.extend(["cluster"] * n); o_name.extend(tnames)
        o_label.extend(int(c) for c in comp)
        o_new.extend(reps[c] for c in comp)

        # ---- M2/M3/M4 spectral twin (real math, NumPy-oracle-verified) -----
        with np.errstate(divide="ignore", invalid="ignore"):
            U = np.where(n2_t[:, None] > 0, V_t / np.sqrt(n2_t)[:, None], 0.0)
        A = U @ U.T
        A = np.clip(A, 0.0, None)
        np.fill_diagonal(A, 0.0)
        if n >= 2:
            # M3: unnormalized Laplacian, k = max(2, ceil(sqrt(n))) smallest
            # eigenvectors of the symmetrized L (reference fusion.py:228-243)
            L = np.diag(A.sum(1)) - A
            vals, vecs = np.linalg.eigh((L + L.T) / 2.0)
            k = min(n, max(2, math.ceil(math.sqrt(n))))
            Y = vecs[:, :k]
            # M4: DBSCAN on the spectral embedding (fusion.py:245-251)
            slabels = _dbscan(Y, eps, max(1, math.ceil(n / 10)))
        else:
            slabels = np.zeros(n, dtype=np.int64)
        o_doc.extend(docs[t0:e]); o_ref.extend(refs[t0:e])
        o_kind.extend(["spectral"] * n); o_name.extend(tnames)
        o_label.extend(int(x) for x in slabels)
        o_new.extend([None] * n)

        # ---- M5 kNN majority-label transfer + M7 threshold judge -----------
        m = t0 - s
        if m == 0:
            continue
        V_i = V[s:t0]
        n2_i = (V_i * V_i).sum(1)
        D_it = V_i @ V_t.T
        for a in range(m):
            keys = [
                (-_rank_key(int(D_it[a, j]), int(n2_i[a]), int(n2_t[j])),
                 tnames[j], j)
                for j in range(n)
            ]
            keys.sort()
            top = keys[: min(knn, n)]
            # majority component label over the k nearest; ties go to the
            # component holding the nearest candidate (kNN-faithful: the
            # closest neighbor dominates when votes split)
            votes: dict[int, int] = {}
            first: dict[int, int] = {}
            for idx, (_, _, j) in enumerate(top):
                c = int(comp[j])
                votes[c] = votes.get(c, 0) + 1
                first.setdefault(c, idx)
            maj = min(votes, key=lambda c: (-votes[c], first[c]))
            # target = nearest text entity within the majority component
            in_comp = [t for t in keys if comp[t[2]] == maj]
            _, _, j = in_comp[0]
            if _int_cos_ge(int(D_it[a, j]), int(n2_i[a]), int(n2_t[j]), merge_t2):
                o_doc.append(docs[s + a]); o_ref.append(refs[s + a])
                o_kind.append("merge"); o_name.append(names[s + a])
                o_label.append(int(maj)); o_new.append(tnames[j])

    return pd.DataFrame({
        "doc_id": pd.Series(o_doc, dtype=object),
        "media_ref": pd.Series(o_ref, dtype=object),
        "kind": pd.Series(o_kind, dtype=object),
        "entity_name": pd.Series(o_name, dtype=object),
        "label": pd.Series(o_label, dtype="int64"),
        "new_name": pd.Series(o_new, dtype=object),
    })


def fusion_blocks(
    flat_spans: DataFrame,
    media: DataFrame,
    img_mentions: DataFrame,
    cfg: PipelineConfig = DEFAULT,
) -> DataFrame:
    """M2–M7 in one pass per media block: FUSION_SCHEMA rows (clusters +
    merge decisions). Deterministic; one shuffle on media_ref."""
    scene = (
        img_mentions.filter(~F.col("entity_type").isin("ORI_IMG", "IMG"))  # P7
        .select("doc_id", "entity_name", "source_id")
        .withColumnRenamed("source_id", "media_ref")
        .distinct()
        .withColumn("side", F.lit("image"))
        # surface form = the part the mm-extractor saw (before the block tag)
        .withColumn("surface", F.expr("split(entity_name, '@')[0]"))
    )
    nearby = (
        nearby_text_entities(flat_spans, media, cfg)
        .withColumn("side", F.lit("text"))
        .withColumn("surface", F.col("entity_name"))
    )
    both = nearby.unionByName(
        scene.select("doc_id", "media_ref", "entity_name", "side", "surface")
    )

    eps = cfg.fusion_eps
    merge_t2 = int(round(cfg.merge_cos * cfg.merge_cos * TRIGRAM_SCALE))
    cluster_t2 = int(round(cfg.cluster_cos * cfg.cluster_cos * TRIGRAM_SCALE))
    dims, knn = cfg.trigram_dims, cfg.fusion_knn
    # trigram vectors computed ONCE per distinct surface, JVM-side codegen
    # (functions.trigram == trigram_vector bit-for-bit, unit-tested), then
    # broadcast-joined onto the block rows — the per-block Python sees dense
    # int arrays and does only the numpy math. dense_vectors builds the
    # array in ONE map-side-combined aggregation (dims conditional sums);
    # the former sparse-groupBy → map-pivot shape cost a second exchange.
    from ..functions.trigram import dense_vectors

    surf = both.select("surface").distinct()
    dense = dense_vectors(surf, ["surface"], "surface", dims)
    # plain equi-join on surface: AQE broadcasts the vocab side while it is
    # small and falls back to a shuffled join at web-corpus vocabulary sizes
    both = both.join(dense, "surface")
    # explicit partition count: the per-block numpy work is row-compute-bound,
    # not byte-bound, so AQE's byte-based coalescing misjudges it (measured:
    # coalesced to 10 tasks with an 18.9 s straggler at local[32]). 4x the
    # cluster parallelism gives the scheduler slack to smooth block skew.
    # mapInPandas over the hash-partitioned rows + block slicing INSIDE the
    # task (_fuse_partition) replaces groupBy().applyInPandas: blocks are
    # tiny (a handful of rows each), and applyInPandas pays one Arrow batch
    # + one Python call per GROUP, which at ~6 rows/block made the boundary
    # overhead — not the numpy math — the stage cost. A task materializes
    # its whole partition once (bounded by the shuffle partition size, the
    # same envelope any aggregation task holds). Identical rows: hash
    # partitioning on media_ref keeps every block whole within one task.
    nparts = 4 * both.sparkSession.sparkContext.defaultParallelism

    def run_partition(batches):
        import pandas as pd

        dfs = list(batches)
        if not dfs:
            return
        part = pd.concat(dfs, ignore_index=True)
        if len(part):
            yield _fuse_partition(part, eps, merge_t2, cluster_t2, dims, knn)

    # project to exactly what _fuse_partition consumes BEFORE the exchange and
    # the Python boundary (the join key 'surface' duplicated the vec's
    # information into every shuffled row)
    cols = both.select("doc_id", "media_ref", "entity_name", "side", "vec")
    return cols.repartition(nparts, "media_ref").mapInPandas(
        run_partition, schema=FUSION_SCHEMA
    )


def merge_map_from_blocks(blocks: DataFrame) -> DataFrame:
    """(doc_id, media_ref, old_name, new_name) merge decisions."""
    return blocks.filter(F.col("kind") == "merge").select(
        "doc_id", "media_ref",
        F.col("entity_name").alias("old_name"), "new_name",
    )


def cluster_assignments(blocks: DataFrame) -> DataFrame:
    """(doc_id, media_ref, entity_name, label, cluster_rep): M6 cluster groups
    as exact-integer affinity components (value-checked against the DuckDB
    recursive-CTE oracle; cluster_rep = min entity_name in the component)."""
    return blocks.filter(F.col("kind") == "cluster").select(
        "doc_id", "media_ref", "entity_name", "label",
        F.col("new_name").alias("cluster_rep"),
    )


def spectral_assignments(blocks: DataFrame) -> DataFrame:
    """(doc_id, media_ref, entity_name, label): M3/M4 spectral-DBSCAN labels
    (the real eigendecomposition path; NumPy-oracle-verified in pytest)."""
    return blocks.filter(F.col("kind") == "spectral").select(
        "doc_id", "media_ref", "entity_name", "label"
    )


def merge_map(
    flat_spans: DataFrame,
    media: DataFrame,
    img_mentions: DataFrame,
    cfg: PipelineConfig = DEFAULT,
) -> DataFrame:
    return merge_map_from_blocks(fusion_blocks(flat_spans, media, img_mentions, cfg))


def apply_merge_map(df: DataFrame, mm: DataFrame, cols: list[str]) -> DataFrame:
    """J6 rewiring: replace every occurrence of an old name in ``cols`` with
    its canonical name. The merge map is small (≤ scene entities) →
    broadcast; old names are globally unique (block-tagged) so the map join
    is unambiguous."""
    m = F.broadcast(
        mm.select("old_name", "new_name").distinct()
    )
    out = df
    for c in cols:
        out = (
            out.join(m, out[c] == m["old_name"], "left")
            .withColumn(c, F.coalesce("new_name", c))
            .drop("old_name", "new_name")
        )
    return out


def fuse_graph(
    all_mentions: DataFrame,
    all_triples: DataFrame,
    mm: DataFrame,
    cfg: PipelineConfig | None = None,
) -> tuple[DataFrame, DataFrame]:
    """J5/J6 + final A1/A2: the unified graph after fusion.

    Rewrites mention/triple endpoints through the merge map, then
    re-canonicalizes — equivalent to the reference's compose + rewire +
    merge (fusion.py:707-807) but order-independent (scored on triples)."""
    # the map is joined three times (entity_name, subj, obj); persist so the
    # spectral applyInPandas subtree runs once, not per join (the pipeline
    # runner gets the same effect from its checkpoint)
    mm = mm.persist()
    m2, t2 = fuse_inputs(all_mentions, all_triples, mm)
    nodes = canon.build_nodes(m2, cfg=cfg)
    edges = canon.build_edges(t2, cfg=cfg)
    return canon.add_stub_nodes(nodes, edges), edges


def fuse_inputs(
    all_mentions: DataFrame, all_triples: DataFrame, mm: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Merge-map-rewritten mention/triple relations (the J6 rewiring step
    alone): the relations the Pipeline's graph stage aggregates into the
    served graph, storing the ranks itself."""
    m2 = apply_merge_map(all_mentions, mm, ["entity_name"])
    t2 = apply_merge_map(all_triples, mm, ["subj", "obj"])
    t2 = t2.select(
        F.least("subj", "obj").alias("subj"),
        F.greatest("subj", "obj").alias("obj"),
        "description", "weight", "source_id", "order",
    )
    return m2, t2
