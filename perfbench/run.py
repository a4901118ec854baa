#!/usr/bin/env python3
"""Host-sized benchmark of the dedup pipeline.

    python3 perfbench/run.py --workload batch_web --seed 1 --seconds 1 --trace 0

Run from a checkout of the repository. One run:

1. starts a SparkSession on local[nproc] ``SETUP_REPS`` times (the first
   start launches the JVM, later ones restart only the SparkContext),
   then synthesizes the seed's corpus once and writes it as parquet;
   ``setup_s`` is the median start plus the corpus time;
2. with ``--trace 0``, runs the production pipeline until the timed runs
   add up to ``--seconds``. The first run is the session's first
   pipeline, cold as in a one-shot batch job; at one second, the
   configured run length, it is the only one;
3. with ``--trace 1``, runs one warm-up pipeline, then alternates an
   untraced run with a traced one (layer spans, job groups, Spark event
   log) until ``--seconds`` are used, and reports per-layer numbers
   instead.

Every run is isolated and its output checked (``Runner``).

Standard output ends with two JSON lines: the run's facts (host cores,
driver heap, pre-run loadavg, per-run samples), then the result
``{"correct", "attempted", "failed", "metrics"}``. The exit code is 0
only when every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "entity_deduplication_hack_main_spark"
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_REPS = 3
#: the run aborts (non-zero exit, no result) past this many seconds
DEADLINE_S = 170
#: the stage spans of a traced run must add up to its wall time, timed
#: around the call, within this share. Against the untraced run before
#: it they are only reported (``trace.span_coverage``): consecutive runs
#: of one session differ by up to 17%, so a gate there would fail on noise.
SPAN_TOLERANCE = 0.10


def _declared(kind: str) -> dict[str, str]:
    """Metric name → unit, as ``BENCHMARK.json`` lists them under ``kind``
    (``end_to_end`` or ``per_layer``)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


class Deadline(Exception):
    pass


def _on_alarm(signum, frame):
    raise Deadline(f"run exceeded {DEADLINE_S} s")


class Checks:
    """Attempted and failed operations: pipeline runs and correctness
    checks. A failed check is named on standard error."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED: {what}", file=sys.stderr)


def _fresh_dir(name: str) -> str:
    path = os.path.join(WORK, name)
    shutil.rmtree(path, ignore_errors=True)
    return path


def _setup(facts, wl, seed: int, event_dir: str | None):
    """Start the session ``SETUP_REPS`` times (the first start launches
    the JVM, later ones restart only the SparkContext), then synthesize
    the corpus once and write it as parquet."""
    from perfbench import host, workloads

    starts, spark = [], None
    for _ in range(SETUP_REPS):
        t0 = time.monotonic()
        if spark is not None:
            spark.stop()
        spark = host.start_session(facts, event_dir)
        starts.append(time.monotonic() - t0)
    corpus_path = os.path.join(WORK, "corpus")
    t0 = time.monotonic()
    text_bytes = workloads.make_corpus(spark, wl, seed, corpus_path)
    times = {"session_start_s": starts, "corpus_s": time.monotonic() - t0}
    return spark, spark.read.parquet(corpus_path), text_bytes, times


class Runner:
    """Isolated pipeline runs and their output checks.

    Before each run cached and checkpointed blocks are dropped and a
    fresh work directory is taken. After each, the assignments must hold
    every doc, reach the recall and precision gates on the golden
    clusters, and equal those of the invocation's first run."""

    def __init__(self, spark, docs, wl, checks: Checks, rss) -> None:
        self.spark, self.docs, self.wl = spark, docs, wl
        self.checks, self.rss = checks, rss
        self.first = None

    def _check(self, name: str, wd: str, sample: dict) -> None:
        from perfbench import workloads

        asn = workloads.assignments(self.spark, wd)
        sc = workloads.score_assignments(self.spark, self.wl, asn)
        sample.update(
            dup_pair_recall=sc.recall, dup_pair_precision=sc.precision,
            clusters=sc.clusters,
        )
        rec = self.checks.record
        rec(True, f"{name}: pipeline run")
        rec(len(asn) == self.wl.n_docs,
            f"{name}: {len(asn)} docs assigned of {self.wl.n_docs}")
        rec(sc.recall >= workloads.MIN_RECALL,
            f"{name}: recall {sc.recall:.4f} < {workloads.MIN_RECALL}")
        rec(sc.precision >= workloads.MIN_PRECISION,
            f"{name}: precision {sc.precision:.4f} < {workloads.MIN_PRECISION}")
        if self.first is None:
            self.first = (name, asn)
        else:
            rec(asn.equals(self.first[1]),
                f"{name}: assignments differ from {self.first[0]}'s")

    def _isolate(self, name: str) -> str:
        from perfbench import spans

        spans.release_storage(self.spark)
        spans.reset_heap_peaks(self.spark)
        self.rss.window()
        return _fresh_dir(name)

    def plain(self, name: str) -> dict:
        """One production pipeline run; its samples."""
        from perfbench import host, spans, workloads

        wd = self._isolate(name)
        cpu0, (steal0, total0) = host.tree_cpu_s(), host.host_steal_ticks()
        wall, com = workloads.untraced_op(self.spark, self.docs, self.wl, wd)
        steal1, total1 = host.host_steal_ticks()
        sample = {
            "wall_s": wall,
            "cpu_s": host.tree_cpu_s() - cpu0,
            "host_steal_frac": (steal1 - steal0) / max(1, total1 - total0),
            "peak_rss_mb": self.rss.window(),
            "retained_storage_bytes": spans.retained_storage_bytes(self.spark),
            "commit_bytes": workloads.dir_bytes(wd),
            "outside_stage_s": wall - sum(e["wall_ms"] for e in com.events) / 1e3,
            "stage_s": {e["stage"]: e["wall_ms"] / 1e3 for e in com.events},
        }
        self._check(name, wd, sample)
        shutil.rmtree(wd)
        return sample

    def traced(self, name: str, untraced_wall: float) -> dict:
        """One traced pipeline run; its spans, job groups and counts.
        Its stage spans must cover its wall time within
        ``SPAN_TOLERANCE``: no pipeline work may run outside them."""
        from perfbench import spans, workloads

        wd = self._isolate(name)
        gc0 = spans.jvm_gc_s(self.spark)
        t0 = time.monotonic()
        tr = spans.Tracer(self.spark, name)
        com = workloads.traced_op(self.spark, self.docs, self.wl, wd, tr)
        wall = time.monotonic() - t0
        t = {
            "wall_s": wall,
            "gc_s": spans.jvm_gc_s(self.spark) - gc0,
            "old_gen_peak_mb": spans.old_gen_peak_mb(self.spark),
            "retained_storage_bytes": spans.retained_storage_bytes(self.spark),
            "spans": {n: tr.wall(n) for n in workloads.LAYERS},
            "groups": {n: tr.group(n) for n in workloads.LAYERS},
            "rows": workloads.stage_rows(com),
            "channel_pairs": workloads.channel_pairs(self.spark, wd),
            "payload_bytes": workloads.dir_bytes(os.path.join(wd, "payload")),
            "salted_buckets": workloads.salted_buckets(self.spark, self.wl, wd),
            "tag": tr.tag,
            "span_sum_s": tr.top_sum(),
            "untraced_wall_s": untraced_wall,
        }
        self._check(name, wd, t)
        self.checks.record(
            abs(t["span_sum_s"] - wall) <= SPAN_TOLERANCE * wall,
            f"{name}: stage spans sum to {t['span_sum_s']:.3f} s of {wall:.3f} s",
        )
        shutil.rmtree(wd)
        return t


def _end_to_end(runner: Runner, wl, text_bytes, seconds) -> tuple[list, dict]:
    samples = []
    while not samples or sum(s["wall_s"] for s in samples) < seconds:
        s = runner.plain(f"op{len(samples)}")
        s["write_amp"] = s["commit_bytes"] / text_bytes
        samples.append(s)
    med = {
        k: statistics.median(s[k] for s in samples)
        for k in ("wall_s", "cpu_s", "dup_pair_recall", "dup_pair_precision",
                  "peak_rss_mb", "write_amp")
    }
    return samples, {**med, "docs_per_s": wl.n_docs / med["wall_s"]}


def _traced(runner: Runner, seconds) -> tuple[list, list]:
    """One untimed warm-up, then untraced and traced runs in turn until
    ``seconds`` are used."""
    runner.plain("warmup")
    plain, traced = [], []
    while not traced or sum(s["wall_s"] for s in plain + traced) < seconds:
        i = len(traced)
        plain.append(runner.plain(f"plain{i}"))
        traced.append(runner.traced(f"traced{i}", plain[-1]["wall_s"]))
    return plain, traced


def _per_layer(wl, plain, traced, groups_by_tag) -> dict:
    """Per-layer metrics, each the median over the traced runs."""
    from perfbench.workloads import LAYERS

    med = statistics.median

    def one(t) -> dict:
        g = groups_by_tag
        rows, ch = t["rows"], t["channel_pairs"]
        layer = {n: g.get(t["groups"][n], {}) for n in LAYERS}
        tagged = [v for k, v in g.items() if k and k.startswith(t["tag"] + "/")]
        sp = t["spans"]
        m = {
            "represent.wall_s": sp["represent"],
            "represent.docs_per_s": wl.n_docs / sp["represent"],
            "represent.out_bytes": t["payload_bytes"],
            "lsh.wall_s": sp["lsh"],
            "lsh.pairs": ch["minhash_lsh"],
            "lsh.salted_buckets": t["salted_buckets"],
            "hamming.wall_s": sp["hamming"],
            "hamming.pairs": ch["simhash"],
            "suffix.wall_s": sp["suffix"],
            "suffix.pairs": ch["winnow"],
            "candidates.wall_s": sp["candidates"],
            "candidates.pairs": rows["candidates"],
            "verify.wall_s": sp["verify"],
            "verify.pairs_per_s": rows["candidates"] / sp["verify"],
            "verify.pass_ratio": rows["edges"] / max(1, rows["candidates"]),
            "cluster.wall_s": sp["cluster"],
            "cluster.edges": rows["edges"],
            "cluster.clusters": t["clusters"],
            "cluster.jobs": layer["cluster"].get("jobs", 0),
            "spark.shuffle_write_bytes": sum(v["shuffle_write_bytes"] for v in tagged),
            "spark.spill_bytes": sum(v["spill_bytes"] for v in tagged),
            "spark.input_bytes": sum(v["input_bytes"] for v in tagged),
            "spark.gc_s": t["gc_s"],
            "spark.old_gen_peak_mb": t["old_gen_peak_mb"],
            "spark.retained_storage_bytes": t["retained_storage_bytes"],
            "trace.span_coverage": t["span_sum_s"] / t["untraced_wall_s"],
        }
        for n in LAYERS:
            m[f"{n}.shuffle_write_bytes"] = layer[n].get("shuffle_write_bytes", 0)
            m[f"{n}.task_s"] = layer[n].get("executor_run_s", 0.0)
        return m

    per_run = [one(t) for t in traced]
    out = {k: med(r[k] for r in per_run) for k in per_run[0]}
    out["lineage.commit_bytes"] = med(p["commit_bytes"] for p in plain)
    out["lineage.outside_stage_s"] = med(p["outside_stage_s"] for p in plain)
    out["trace.overhead_frac"] = (
        med(t["wall_s"] for t in traced) / med(p["wall_s"] for p in plain) - 1.0
    )
    return out


def _bench(args) -> tuple[dict, dict]:
    from perfbench import host, spans, workloads

    wl = workloads.WORKLOADS[args.workload]
    facts = host.host_facts()
    event_dir = None
    if args.trace:
        event_dir = os.path.join(WORK, "events")
        os.makedirs(event_dir)
    checks = Checks()
    spark, docs, text_bytes, setup = _setup(facts, wl, args.seed, event_dir)
    setup_s = statistics.median(setup["session_start_s"]) + setup["corpus_s"]
    info = {
        **facts,
        "workload": wl.name,
        "seed": args.seed,
        "n_docs": wl.n_docs,
        "text_bytes": text_bytes,
        **setup,
    }
    with host.RssSampler() as rss:
        runner = Runner(spark, docs, wl, checks, rss)
        if not args.trace:
            samples, metrics = _end_to_end(runner, wl, text_bytes, args.seconds)
            metrics["setup_s"] = setup_s
            metrics["ok_frac"] = 1.0 - checks.failed / checks.attempted
            kind = "end_to_end"
            info["runs"] = samples
        else:
            plain, traced = _traced(runner, args.seconds)
            app_id = spark.sparkContext.applicationId
            spark.stop()  # flushes the event log
            groups = spans.group_metrics(spans.event_log_files(event_dir, app_id))
            metrics = _per_layer(wl, plain, traced, groups)
            kind = "per_layer"
            info["runs"] = {"untraced": plain, "traced": traced}
    result = {
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": {
            k: {"value": metrics[k], "unit": u} for k, u in _declared(kind).items()
        },
    }
    return info, result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found under {ROOT}: run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import host
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    # Python workers import the package; the JVM reads its scratch
    # directories from the environment at launch
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    try:
        info, result = _bench(args)
    finally:
        signal.alarm(0)
        host.shutdown_jvm()
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({"info": info}, default=float))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
