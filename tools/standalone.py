"""Multi-JVM standalone-mode scaling evidence (BASELINE.json north_rule).

The north rule specifies ``spark-submit --py-files`` on a multi-executor
cluster at N and 4N executors. This harness stands up a REAL Spark
standalone cluster on this host — one master JVM + 4 worker JVMs, each
executor its own JVM with its own heap — packages ``mmgraphrag_spark`` as a
zip, and submits ``tools/standalone_job.py`` via ``spark-submit --py-files``
at two cluster sizes:

* N  = 1 executor  × 4 cores (``spark.cores.max=4``)
* 4N = 4 executors × 4 cores (``spark.cores.max=16``)

Levels alternate across rounds (min per level), each submit preceded by the
same host-calm probes the in-process protocol gates on. Writes
``BENCH/STANDALONE.md``; prints per-level JSON.

This is still ONE physical host (one memory bus) — the harness exercises
real executor JVM isolation, the py-files/serializer/closure path, and
cross-JVM shuffle, but the bus ceiling measured in BENCH/BASELINE.md applies
to the 4N level here exactly as it does to local[16].

Usage: python tools/standalone.py [sf_dir] [replicas] [rounds]
"""

from __future__ import annotations

import json
import os
import socket
import subprocess
import sys
import time
import zipfile
from datetime import datetime, timezone
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from tools.hostprobe import _healthy  # noqa: E402

MASTER_PORT = 7077
MASTER_URL = f"spark://127.0.0.1:{MASTER_PORT}"


def gen_fixture(sf_dir: str, replicas: int, out_dir: str) -> int:
    """Replicate documents.parquet with per-replica token suffixes (DuckDB)."""
    import duckdb

    os.makedirs(out_dir, exist_ok=True)
    out = f"{out_dir}/documents.parquet"
    n_base = duckdb.sql(
        f"SELECT count(*), max(doc_id) FROM '{sf_dir}/documents.parquet'"
    ).fetchone()
    stride = int(n_base[1]) + 1
    duckdb.sql(f"""
      COPY (
        SELECT doc_id + {stride} * CAST(u.r AS BIGINT) AS doc_id,
               array_to_string([x || CAST(u.r AS VARCHAR)
                                for x in string_split(text, ' ')], ' ') AS text,
               lang, source, n_chars
        FROM '{sf_dir}/documents.parquet', UNNEST(range({replicas})) AS u(r)
      ) TO '{out}' (FORMAT PARQUET)
    """)
    return int(n_base[0]) * replicas


def _spark_bin() -> Path:
    import pyspark

    return Path(pyspark.__file__).parent / "bin"


def build_zip(out: Path) -> Path:
    """Package mmgraphrag_spark for --py-files (sources only)."""
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for f in sorted((ROOT / "mmgraphrag_spark").rglob("*.py")):
            z.write(f, f.relative_to(ROOT))
    return out


def _wait_port(port: int, timeout_s: float = 60.0) -> None:
    t0 = time.time()
    while time.time() - t0 < timeout_s:
        with socket.socket() as s:
            s.settimeout(1.0)
            try:
                s.connect(("127.0.0.1", port))
                return
            except OSError:
                time.sleep(0.5)
    raise RuntimeError(f"port {port} never came up")


def start_cluster(log_dir: Path, n_workers: int = 4, cores: int = 4,
                  mem: str = "8g") -> "list[subprocess.Popen]":
    """Master + n_workers separate JVMs via spark-class."""
    spark_class = str(_spark_bin() / "spark-class")
    env = {**os.environ, "SPARK_LOCAL_IP": "127.0.0.1"}
    procs = []
    log_dir.mkdir(parents=True, exist_ok=True)
    m_log = open(log_dir / "master.log", "w")
    procs.append(subprocess.Popen(
        [spark_class, "org.apache.spark.deploy.master.Master",
         "-h", "127.0.0.1", "-p", str(MASTER_PORT), "--webui-port", "8090"],
        stdout=m_log, stderr=subprocess.STDOUT, env=env,
    ))
    _wait_port(MASTER_PORT)
    for i in range(n_workers):
        w_log = open(log_dir / f"worker{i}.log", "w")
        wdir = log_dir / f"worker{i}_work"
        wdir.mkdir(exist_ok=True)
        procs.append(subprocess.Popen(
            [spark_class, "org.apache.spark.deploy.worker.Worker",
             "-c", str(cores), "-m", mem, "--webui-port", str(8091 + i),
             "--work-dir", str(wdir), MASTER_URL],
            stdout=w_log, stderr=subprocess.STDOUT, env=env,
        ))
    return procs


def submit(cores_max: int, fixture: str, pyzip: Path, reps: int = 2,
           executor_cores: int = 4) -> dict:
    """spark-submit the job at a given total-core budget (with k-core
    executors: cores_max=k -> 1 executor JVM, 4k -> 4 executor JVMs)."""
    spark_submit = str(_spark_bin() / "spark-submit")
    local_dir = "/dev/shm/spark-local-sa" if os.path.isdir("/dev/shm") else "/tmp/spark-local-sa"
    cmd = [
        spark_submit,
        "--master", MASTER_URL,
        "--deploy-mode", "client",
        "--py-files", str(pyzip),
        "--conf", f"spark.executor.cores={executor_cores}",
        "--conf", f"spark.cores.max={cores_max}",
        "--conf", "spark.executor.memory=4g",
        "--conf", f"spark.sql.shuffle.partitions={max(cores_max, 8)}",
        "--conf", "spark.sql.adaptive.enabled=true",
        "--conf", f"spark.local.dir={local_dir}",
        "--conf", "spark.ui.enabled=false",
        str(ROOT / "tools" / "standalone_job.py"), fixture, str(reps),
    ]
    env = {**os.environ, "SPARK_LOCAL_IP": "127.0.0.1"}
    out = subprocess.run(cmd, capture_output=True, text=True, env=env,
                         timeout=1800)
    for line in out.stdout.splitlines():
        if line.startswith("STANDALONE_RESULT "):
            return json.loads(line[len("STANDALONE_RESULT "):])
    raise RuntimeError(
        f"no result line (rc={out.returncode})\n"
        f"stdout tail: {out.stdout[-2000:]}\nstderr tail: {out.stderr[-2000:]}"
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    replicas = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    # executor core count k: the harness compares 1 executor x k cores vs
    # 4 executors x k cores. k=4 (default) is the committed headline pair
    # (4 -> 16 total threads); k=2 keeps BOTH levels inside this host's
    # probe-measured ~8-thread DRAM-bandwidth envelope (BENCH/BASELINE.md),
    # so the 2 -> 8 pair shows what the plans scale like when the bus is
    # not the binding constraint.
    exec_cores = int(sys.argv[4]) if len(sys.argv) > 4 else 4
    fixture_root = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    fixture = f"{fixture_root}/kg_standalone_fixture"
    n_docs = gen_fixture(sf_dir, replicas, fixture)
    print(f"fixture: {n_docs} docs at {fixture}")

    log_dir = Path(fixture_root) / "kg_standalone_logs"
    pyzip = build_zip(Path(fixture_root) / "mmgraphrag_spark.zip")
    lo_cores, hi_cores = exec_cores, 4 * exec_cores
    procs = start_cluster(log_dir, cores=exec_cores)
    best = {lo_cores: None, hi_cores: None}
    try:
        time.sleep(5)  # workers register with the master
        for _ in range(rounds):
            for cores in (lo_cores, hi_cores):
                _healthy()
                r = submit(cores, fixture, pyzip, executor_cores=exec_cores)
                r["cores"] = cores
                print(json.dumps(r))
                if best[cores] is None or r["wall_sec"] < best[cores]["wall_sec"]:
                    best[cores] = r
    finally:
        for p in procs:
            p.terminate()
        for p in procs:
            try:
                p.wait(timeout=20)
            except subprocess.TimeoutExpired:
                p.kill()

    lo, hi = best[lo_cores], best[hi_cores]
    eff = (lo["wall_sec"] / hi["wall_sec"]) / 4
    ts = datetime.now(timezone.utc).isoformat(timespec="seconds")
    header = "#" if exec_cores == 4 else "##"
    md = f"""{header} Standalone multi-JVM scaling — {ts}
(executors of {exec_cores} cores: {lo_cores} -> {hi_cores} total threads)

Real Spark standalone cluster on this host: 1 master JVM + 4 worker JVMs;
jobs submitted via `spark-submit --py-files mmgraphrag_spark.zip` (the
literal mechanism BASELINE.json's north rule names). Each executor is its
own JVM with its own 4 GiB heap — separate GC, separate Python worker pool,
cross-JVM (localhost-socket) shuffle. Input: {n_docs} docs ({replicas}x
sf0.1 replica fixture, tools/standalone.gen_fixture).

| level | executors x cores | wall (s) | docs/s | schedule | rep walls |
|---|---|---|---|---|---|
| N | 1 x {exec_cores} | {lo['wall_sec']} | {lo['docs_per_sec']} | {lo.get('best_schedule', 'serial')} | {lo['rep_walls']} |
| 4N | 4 x {exec_cores} | {hi['wall_sec']} | {hi['docs_per_sec']} | {hi.get('best_schedule', 'serial')} | {hi['rep_walls']} |

**Speedup {lo['wall_sec'] / hi['wall_sec']:.2f}x at 4x executors -> scaling
efficiency {eff:.3f}.**

Notes:

* This exercises what `local[N]` cannot: `--py-files` module shipping,
  driver/executor closure serialization, executor-JVM isolation, and the
  standalone scheduler's multi-executor task placement. The pipeline runs
  unmodified from the zip (tools/standalone_job.py imports it from
  --py-files, never from the repo checkout).
* It is still ONE physical memory bus: the BENCH/BASELINE.md host-ceiling
  probes (zero-shared-state memcopy collapse past 8 threads, ALU-probe
  inflation at 4x threads) bound the 4N level here exactly as they bound
  local[16]; multi-JVM heaps remove GC/allocator sharing but not DRAM
  bandwidth sharing. On a real multi-HOST cluster each 4-core executor
  brings its own bus, which is the regime the >=0.8 rule assumes.
"""
    out = ROOT / "BENCH" / "STANDALONE.md"
    if exec_cores == 4:
        out.write_text(md)
    else:
        # non-default executor size: append as a sub-section, keeping the
        # committed 4->16 headline table intact
        with open(out, "a") as fh:
            fh.write("\n" + md)
    print(md)


if __name__ == "__main__":
    main()
