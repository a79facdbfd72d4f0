"""Pipeline invariants (SURVEY.md §5.2): span-sequence equality, endpoint
closure, deterministic re-runs."""

from __future__ import annotations

from conftest import SF_TINY

from mmgraphrag_spark import api, synth


def test_span_sequence_invariant(spark):
    """explode(interleaved_docs) reproduces flat spans exactly —
    the per-row (kind, text, media_ref, order) invariant of BASELINE.json."""
    flat = synth.flat_spans(spark, SF_TINY).toPandas()
    nested = synth.explode_spans(synth.interleaved_docs(spark, SF_TINY)).toPandas()
    key = ["doc_id", "offset"]
    a = flat.sort_values(key).reset_index(drop=True)
    b = nested.sort_values(key).reset_index(drop=True)
    assert a[["doc_id", "kind", "text", "media_ref", "offset"]].equals(
        b[["doc_id", "kind", "text", "media_ref", "offset"]]
    )


def test_offsets_dense_and_zero_based(spark):
    import pandas as pd

    flat = synth.flat_spans(spark, SF_TINY).toPandas()
    for _, g in flat.groupby("doc_id"):
        offs = sorted(g["offset"])
        assert offs == list(range(len(offs)))


def test_media_spans_follow_text(spark):
    flat = synth.flat_spans(spark, SF_TINY).toPandas()
    media_docs = flat[flat["kind"] == "image"]["doc_id"].unique()
    assert len(media_docs) > 0
    # first span of any doc is text (media interleaves after text spans)
    first = flat[flat["offset"] == 0]
    assert (first["kind"] == "text").all()


def test_triple_endpoints_are_nodes(spark):
    nodes = {r.entity_name for r in api.nodes(spark, SF_TINY).collect()}
    edges = api.edges(spark, SF_TINY).collect()
    for e in edges:
        assert e.src in nodes and e.dst in nodes


def test_rerun_deterministic(spark):
    a = api.nodes(spark, SF_TINY).toPandas().sort_values("entity_name").reset_index(drop=True)
    b = api.nodes(spark, SF_TINY).toPandas().sort_values("entity_name").reset_index(drop=True)
    assert a.equals(b)


def test_no_oracle_queries_match_pinned_goldens(spark):
    """Committed golden value-hash for the one driver query whose
    semantics are not SQL-expressible (kg_spectral: iterative eigh+DBSCAN).
    It already carries an independent algorithmic oracle (its NumPy twin);
    this pin makes the exact output on the fixed testdata a regression
    contract too. Hash verified stable across local[4]/local[8]/local[32]
    (tools/goldenpin.py). Regenerate with:  python tools/goldenpin.py
    """
    import __spark_entry__ as entry
    from tools.goldenpin import value_hash

    GOLDEN = {  # sf_dir -> {query: (rows, md5)}
        "/root/testdata/sf0.001": {
            "kg_spectral": (2174, "5278e604cc860e67cded94676351f47b"),
        },
    }
    qs = entry.queries()
    for sf_dir, pins in GOLDEN.items():
        for name, (rows, digest) in pins.items():
            pdf = qs[name](spark, sf_dir).toPandas()
            assert len(pdf) == rows, name
            assert value_hash(pdf) == digest, name
