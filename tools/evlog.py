"""Parse a Spark event log: per pipeline stage, the task-count/duration of
every Spark stage, to find parallelism collapses (single-task stages).

Usage:
  SPARK_GRAFT_EVLOG=/dev/shm/evlog python tools/compare.py <sf_dir> kg_edges
                                                # any get_spark() run writes it
  python tools/evlog.py /dev/shm/evlog/<app-id>          # analyze
"""

from __future__ import annotations

import collections
import json
import sys


def task_metric_totals(path: str) -> dict[str, float]:
    """Sum executor task metrics over a whole event log (gc/cpu/run secs)."""
    agg = collections.defaultdict(float)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            if ev.get("Event") != "SparkListenerTaskEnd":
                continue
            tm = ev.get("Task Metrics") or {}
            agg["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            agg["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            agg["run_s"] += tm.get("Executor Run Time", 0) / 1e3
    return {k: round(v, 1) for k, v in agg.items()}


def decompress_evlog(app_dir: str, out_path: str) -> str:
    """Decompress a rolling-v2 zstd event log dir to one JSON-lines file.

    Concatenates EVERY events_* segment in roll order — a log that rolled
    past one segment would otherwise silently undercount task metrics.
    """
    import glob

    import pyarrow as pa

    segments = sorted(glob.glob(f"{app_dir}/events_*"))
    if not segments:
        raise FileNotFoundError(f"no events_* segments under {app_dir}")
    with open(out_path, "wb") as o:
        for src in segments:
            codec = "zstd" if src.endswith(".zstd") else None
            with pa.input_stream(src, compression=codec) as f:
                while True:
                    b = f.read(1 << 20)
                    if not b:
                        break
                    o.write(b)
    return out_path


def main(path: str) -> None:
    agg = collections.defaultdict(float)
    job_desc: dict[int, str] = {}          # jobId -> description
    stage_job: dict[int, int] = {}         # stageId -> jobId
    stages: dict[int, dict] = {}           # stageId -> info
    task_time: dict[int, list[float]] = collections.defaultdict(list)

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            t = ev.get("Event")
            if t == "SparkListenerJobStart":
                jid = ev["Job ID"]
                job_desc[jid] = ev.get("Properties", {}).get(
                    "spark.job.description", "?"
                )
                for s in ev.get("Stage Infos", []):
                    stage_job[s["Stage ID"]] = jid
            elif t == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                stages[si["Stage ID"]] = {
                    "name": si["Stage Name"],
                    "tasks": si["Number of Tasks"],
                    "wall_ms": (si.get("Completion Time", 0)
                                - si.get("Submission Time", 0)),
                }
            elif t == "SparkListenerTaskEnd":
                ti = ev.get("Task Info", {})
                task_time[ev["Stage ID"]].append(
                    ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
                )
                tm = ev.get("Task Metrics") or {}
                agg["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                agg["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                agg["run_s"] += tm.get("Executor Run Time", 0) / 1e3
                agg["deser_s"] += tm.get("Executor Deserialize Time", 0) / 1e3
                sr = tm.get("Shuffle Read Metrics") or {}
                agg["shuffle_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                sw = tm.get("Shuffle Write Metrics") or {}
                agg["shuffle_write_s"] += sw.get("Shuffle Write Time", 0) / 1e9

    rows = []
    for sid, info in stages.items():
        jid = stage_job.get(sid, -1)
        desc = job_desc.get(jid, "?")
        tt = task_time.get(sid, [])
        rows.append((
            desc, sid, info["tasks"], round(info["wall_ms"] / 1e3, 1),
            round(sum(tt) / 1e3, 1), round(max(tt, default=0) / 1e3, 1),
            info["name"].split("\n")[0][:60],
        ))
    rows.sort(key=lambda r: -r[3])
    print(f"{'pipeline-stage':<20} {'sid':>4} {'tasks':>5} {'wall_s':>7} "
          f"{'task_sum_s':>10} {'task_max_s':>10}  name")
    for r in rows[:40]:
        print(f"{r[0]:<20} {r[1]:>4} {r[2]:>5} {r[3]:>7} {r[4]:>10} "
              f"{r[5]:>10}  {r[6]}")

    by_desc: dict[str, float] = collections.defaultdict(float)
    for r in rows:
        by_desc[r[0]] += r[3]
    print("\n# wall_s summed per pipeline stage (overlapping stages add up):")
    for d, s in sorted(by_desc.items(), key=lambda kv: -kv[1]):
        print(f"#   {d:<20} {round(s,1)}")
    print("\n# task-metric totals:")
    for k, v in agg.items():
        print(f"#   {k:<16} {round(v,1)}")


if __name__ == "__main__":
    main(sys.argv[1])
