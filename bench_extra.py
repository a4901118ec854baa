#!/usr/bin/env python
"""Per-query isolation bench + plan capture (guide §1.4/§1.5/§7.2).

NOT part of the driver contract — bench.py is the frozen measurement
harness. This tool exists for the optimization loop:

  python bench_extra.py q <name> [reps]   time one query (noop sink, median)
  python bench_extra.py explain <name>    write plan_dumps/<name>_<tag>.txt
  python bench_extra.py all [reps]        time every bench query
  python bench_extra.py stages <n_docs> [seed]
                                          per-stage table of run_pipeline

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf1.0 — the driver's r05
measurement scale), SPARK_GRAFT_CPUS, PLAN_TAG (before/after).

``stages`` runs ``run_pipeline`` on ``corpus.synthesize_corpus`` twice in
one session — cold (first pipeline of the JVM), then warm — with its own
event log, and prints one JSON row per committed stage: wall time, Spark
jobs, stages, tasks and summed executor run time. Jobs are attributed
through the ``<run_id>/<stage>`` description StageCommitter sets.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import BENCH_QUERIES  # noqa: E402


def _spark(cpus: int):
    from entity_deduplication_hack_main_spark import get_spark

    return get_spark(parallelism=cpus, app_name="spark-dedup-bench-extra")


def time_query(spark, qs, name: str, sf_dir: str, reps: int) -> list[float]:
    legs = []
    for _ in range(reps):
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        t0 = time.monotonic()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        legs.append(round(time.monotonic() - t0, 3))
        spark.sparkContext.setJobDescription(None)
    return legs


def _event_metrics(event_dir: str) -> dict[str, dict]:
    """Per job description: jobs, completed stages, tasks and executor
    run time, from the session's (uncompressed) event log."""
    out: dict = defaultdict(
        lambda: {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0}
    )
    stage_desc: dict[int, str | None] = {}
    for path in glob.glob(os.path.join(event_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    d = (ev.get("Properties") or {}).get("spark.job.description")
                    out[d]["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_desc.setdefault(sid, d)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    rec = out[stage_desc.get(info["Stage ID"])]
                    rec["stages"] += 1
                    rec["tasks"] += info["Number of Tasks"]
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    run_ms = ev["Task Metrics"]["Executor Run Time"]
                    out[stage_desc.get(ev["Stage ID"])]["executor_run_s"] += run_ms / 1e3
    return out


def stage_table(n_docs: int, seed: int, cpus: int) -> None:
    from entity_deduplication_hack_main_spark import get_spark
    from entity_deduplication_hack_main_spark.plans.pipeline import run_pipeline
    from entity_deduplication_hack_main_spark.sources import corpus

    scratch = tempfile.mkdtemp(prefix="bench-extra-stages-")
    event_dir = os.path.join(scratch, "events")
    os.makedirs(event_dir)
    spark = get_spark(
        parallelism=cpus,
        shuffle_partitions=cpus,
        app_name="spark-dedup-bench-extra-stages",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
        },
    )
    try:
        docs = corpus.synthesize_corpus(spark, n_docs=n_docs, seed=seed).cache()
        docs.count()
        runs = {}
        for run_id in ("cold", "warm"):
            res = run_pipeline(
                spark, docs, workdir=os.path.join(scratch, run_id), run_id=run_id
            )
            runs[run_id] = res.committer.events
        spark.stop()  # flushes the event log
        metrics = _event_metrics(event_dir)
        for run_id, events in runs.items():
            for ev in events:
                m = metrics.get(f"{run_id}/{ev['stage']}", {})
                print(json.dumps({
                    "run": run_id,
                    "stage": ev["stage"],
                    "n_docs": n_docs,
                    "seed": seed,
                    "wall_s": ev["wall_ms"] / 1e3,
                    "rows": ev["rows"],
                    "jobs": m.get("jobs", 0),
                    "stages": m.get("stages", 0),
                    "tasks": m.get("tasks", 0),
                    "executor_run_s": round(m.get("executor_run_s", 0.0), 3),
                }))
    finally:
        spark.stop()
        shutil.rmtree(scratch, ignore_errors=True)


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "all"
    if mode == "stages":
        seed = int(sys.argv[3]) if len(sys.argv) > 3 else 42
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
        stage_table(int(sys.argv[2]), seed, cpus)
        return
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")

    from entity_deduplication_hack_main_spark import entry_queries

    qs = entry_queries.queries()
    spark = _spark(cpus)

    if mode == "q":
        name = sys.argv[2]
        reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3
        legs = time_query(spark, qs, name, sf_dir, reps)
        print(json.dumps({"query": name, "sf_dir": sf_dir,
                          "legs": legs, "median": statistics.median(legs),
                          "loadavg": round(os.getloadavg()[0], 2)}))
    elif mode == "explain":
        name = sys.argv[2]
        tag = os.environ.get("PLAN_TAG", "before")
        out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "plan_dumps")
        os.makedirs(out_dir, exist_ok=True)
        plan = qs[name](spark, sf_dir)._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
    elif mode == "all":
        reps = int(sys.argv[2]) if len(sys.argv) > 2 else 1
        out = {}
        for name in BENCH_QUERIES:
            legs = time_query(spark, qs, name, sf_dir, reps)
            out[name] = statistics.median(legs)
            print(f"{name}: {legs}", flush=True)
        print(json.dumps({"sf_dir": sf_dir, "queries": out,
                          "total": round(sum(out.values()), 3)}))
    spark.stop()


if __name__ == "__main__":
    main()
