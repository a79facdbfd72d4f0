"""Self-tests for the benchmark: ``python3 -m pytest perfbench -q``.

The tests that run the benchmark start Spark and take one to three minutes
each; run them one at a time (runs share the ``.bench_work`` directory).
The traced ``serve_mixed`` run also gates the served graph's schema against
the pipeline's own checkpoints, so its passing covers that gate.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import checks  # noqa: E402
import gen  # noqa: E402
import specs  # noqa: E402
from mmgraphrag_spark import oracle  # noqa: E402
from run import WORKLOADS  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def run_bench(*args: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, str(cwd / "perfbench" / "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=400,
    )


def last_json(p: subprocess.CompletedProcess) -> dict:
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_generator_is_deterministic(tmp_path, workload):
    def render(seed: int, tag: str) -> tuple[list[bytes], list[str]]:
        inp = specs.inputs(workload, seed)
        tables = [inp.documents, *inp.batches[:3]]
        out = []
        for i, t in enumerate(tables):
            path = tmp_path / f"{tag}-{i}.parquet"
            gen.write(t, str(path))
            out.append(path.read_bytes())
        return out, inp.queries

    a, qa = render(5, "a")
    b, qb = render(5, "b")
    c, qc = render(6, "c")
    assert a == b and qa == qb
    assert a[0] != c[0] and qa != qc


def test_media_share_is_set_through_the_doc_id_residue():
    mod = specs.MIXED.media_doc_mod
    ids = specs.inputs("serve_mixed", 1).documents.column("doc_id").to_pylist()
    assert len(set(ids)) == len(ids)
    assert abs(sum(i % mod == 0 for i in ids) / len(ids) - specs.MIXED.media_share) < 0.08
    build = specs.inputs("build_mixed", 1).documents.column("doc_id").to_pylist()
    text, hub = build[:specs.TEXT_WIDE.n_docs], build[specs.TEXT_WIDE.n_docs:]
    assert not any(i % mod == 0 for i in text)
    assert sum(i % mod == 0 for i in hub) / len(hub) > 0.75


def test_resent_batches_repeat_earlier_text():
    batches = specs.inputs("serve_mixed", 1).batches[:3]
    first = set(batches[0].column("text").to_pylist())
    second = batches[1].column("text").to_pylist()
    resent = sum(t in first for t in second)
    assert resent == round(specs.BATCH_DOCS * specs.MIXED.resend_share)


def test_queries_seed_on_corpus_entities():
    inp = specs.inputs("serve_mixed", 1)
    words = {w for t in inp.documents.column("text").to_pylist() for w in t.split()}
    for q in inp.queries:
        *known, oov = q.split()
        assert oov not in words
        assert all((w in words and len(w) >= 5) or w.startswith("doc") for w in known)
    assert any(q.startswith("doc") for q in inp.queries)


def test_materialized_oracle_gives_the_same_rows(tmp_path):
    docs = tmp_path / "documents.parquet"
    gen.write(specs.inputs("serve_mixed", 2).documents.slice(0, 20), str(docs))
    con = checks.connect([docs], 1, tmp_path)
    for select in (oracle.nodes_select(), oracle.edges_select()):
        assert checks.diff_rows(con, checks.oracle_sql(select), oracle.q(select)) == 0
    assert con.execute(f"SELECT count(*) FROM ({checks.oracle_sql(oracle.nodes_select())})"
                       ).fetchone()[0] > 0


def test_gate_counts_rows_on_one_side_only(tmp_path):
    con = checks.open_db(1, tmp_path)
    con.execute("CREATE TABLE a AS SELECT range AS x FROM range(10)")
    assert checks.diff_rows(con, "SELECT x FROM a", "SELECT x FROM a") == 0
    assert checks.diff_rows(con, "SELECT x FROM a WHERE x > 0", "SELECT x FROM a") == 1
    assert checks.diff_rows(con, "SELECT x FROM a UNION ALL SELECT 3",
                            "SELECT x FROM a") == 1


def test_fails_without_the_package(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = run_bench("--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1",
                  "--trace", "0", cwd=tmp_path)
    assert p.returncode != 0
    assert not p.stdout.strip()


@pytest.mark.parametrize("workload,trace,kind", [
    ("build_mixed", 0, "end_to_end"),
    ("serve_mixed", 1, "per_layer"),
])
def test_every_metric_is_printed_with_its_unit(workload, trace, kind):
    p = run_bench("--workload", workload, "--seed", "3", "--seconds", "1",
                  "--trace", str(trace))
    assert p.returncode == 0, p.stderr[-3000:]
    r = last_json(p)
    assert set(r) == {"correct", "attempted", "failed", "metrics"}
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCH[kind]}
    assert {k: v["unit"] for k, v in r["metrics"].items()} == want
    if kind == "end_to_end":
        for name, unit in want.items():
            assert f"# {name} = " in p.stdout and f" {unit} (n=" in p.stdout
            assert r["metrics"][name]["value"] > 0
    else:
        # read from the program's raw_cache: about the batch's re-sent share
        hit = r["metrics"]["ingest.cache_hit_ratio"]["value"]
        assert abs(hit - specs.MIXED.resend_share) < 0.15


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_output_raises_error_rate(workload):
    p = run_bench("--workload", workload, "--seed", "4", "--seconds", "1",
                  "--trace", "0", "--corrupt")
    assert p.returncode == 1
    r = last_json(p)
    assert not r["correct"] and r["failed"] >= 1
    assert f"# error_rate = {r['failed']}/{r['attempted']} (MISMATCH)" in p.stdout
