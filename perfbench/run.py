#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the SimHash near-dedup pipeline.

    python3 perfbench/run.py --workload batch_code --seed 1 --seconds 25 --trace 0

Workloads (perfbench/NOTES.md has the sizes, the reasons and the
layer -> metric predictions):
    batch_code    plans.pipeline.run_dedup over a synthetic code corpus
    incr_shuffle  plans.incremental.run_incremental through the exchange
                  band join (candidate_pairs)
    incr_banded   the same round through the saved bucketed layout
                  (candidate_pairs_banded); the layout is written in
                  set-up and the traced run ends with the commit
                  append_banded_corpus

One process, one client, closed loop on local[nproc / 2]: set up, one
cold pass, then a window of --seconds: warm-up passes (one on
batch_code, two on incr_*) and steady passes, a pass starting only
while it should end inside the window (at least two steady passes).
Each pass collects its complete outputs and checks them before the
next one starts.  The last stdout line is one JSON object: with
--trace 0 the end-to-end metrics, with --trace 1 the per-layer ledger
of a separately traced pass (event log on, one Spark job group per
layer).
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("batch_code", "incr_shuffle", "incr_banded")
HEAP = "2g"            # driver heap, the same for every workload, pre-touched
# checked, untimed passes at the start of the window: the pass after the
# cold one ran 10-40% slower than the later ones, and an incremental
# round's second pass still ~15% slower
WARMUP_PASSES = {"batch": 1, "incr": 2}
MIN_PASSES = 2         # steady passes per run, at least
SPEC_SAMPLE = 48       # fingerprints checked against simhash_one per run
KERNEL_DOCS = 3000     # docs in the Spark-free kernel probe


def spark_cores() -> int:
    """local[N] with N = half the CPUs this process may use.  A Python-UDF
    task keeps a Python worker and the JVM threads that feed and drain it
    busy at once, and the JIT compiler needs CPU of its own; on
    local[nproc] a 4-CPU host ran more busy threads than CPUs, and the
    pass times of one run kept drifting (5.6 -> 3.5 s on batch_code)."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def spark_conf(run_dir: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.driver.memory": HEAP,
        # the whole heap is committed and touched at JVM start, so the
        # driver's resident size does not depend on how far G1 happened
        # to grow the heap before the last sample
        "spark.driver.extraJavaOptions": (
            f"-Xms{HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            # per-task executor metrics (JVM heap) in the task-end events
            "spark.executor.metrics.pollingInterval": "100ms",
        })
    return conf


def ids_of(spark, pdf, cols):
    """The program's id for each row: xxhash64 over `cols`."""
    from pyspark.sql import functions as F

    return (
        spark.createDataFrame(pdf[list(cols)])
        .select(F.xxhash64(*cols).alias("id")).toPandas().id.to_numpy()
    )


def once_checks(spark, workload, cached, st, cold, seed):
    """Expectations derived from the cold pass, plus the checks that run
    once per run: the fingerprint spec sample and the planted mix."""
    import numpy as np
    import pandas as pd

    import oracle
    import workloads as W

    docs = pd.read_parquet(os.path.join(cached, "documents"))
    man = pd.read_parquet(os.path.join(cached, "manifest.parquet"))
    rng = np.random.default_rng([seed % 2**32, 11])
    sample = docs.iloc[np.sort(rng.choice(len(docs), SPEC_SAMPLE, replace=False))]
    sample = sample.assign(doc_id=ids_of(spark, sample, ("repo", "path", "commit")))
    man = man[man.family != "F-UNIQ"]
    man = man.assign(doc_id=ids_of(spark, man, ("repo", "path", "commit")))
    fails = oracle.spec_failures(
        sample, dict(zip(cold["fps"].doc_id.tolist(), cold["fps"].fingerprint.tolist())))
    if workload == "batch_code":
        exp = oracle.batch_expected(cold["fps"], W.CFG)
        fails += oracle.planted_failures(man, exp["clusters"], exp["kills"])
        return exp, fails
    exp = oracle.incr_expected(cold["fps"], st["base_pdf"], W.CFG)
    with open(os.path.join(cached, "plan.json")) as f:
        plan = json.load(f)
    near = pd.DataFrame(plan["near"], columns=["repo", "path", "commit"])
    near_ids = ids_of(spark, near, ("repo", "path", "commit"))
    base_near = pd.read_parquet(os.path.join(cached, "base_anon.parquet")).doc_id[: len(near)]
    floods = man[man.family.str.startswith("F-EXACT-FLOOD")].groupby("family").size()
    fails += oracle.incr_planted_failures(
        exp, plan, set(zip(near_ids.tolist(), base_near.tolist())),
        int((floods - 1).sum()))
    return exp, fails


def kernel_probe(cached: str) -> tuple[float, float]:
    """Spark-free simhash_batch over the workload's own documents, in
    the UDF's chunk size: (docs/s, MB/s), median of three reps."""
    import pandas as pd

    from simhash_text_dedup_spark.fingerprint_core import simhash_batch

    texts = pd.read_parquet(
        os.path.join(cached, "documents"), columns=["content"]
    ).content.tolist()[:KERNEL_DOCS]
    mb = sum(len(t.encode("utf-8")) for t in texts) / 1e6
    reps = []
    for _ in range(3):
        t0 = time.perf_counter()
        for i in range(0, len(texts), 2048):
            simhash_batch(texts[i : i + 2048])
        reps.append(time.perf_counter() - t0)
    s = statistics.median(reps)
    return len(texts) / s, mb / s


def pass_counts(kind: str, out: dict) -> dict:
    """Per-layer row counts read off one pass's collected outputs."""
    if kind == "batch":
        acts = out["clusters"].action.value_counts()
        return {
            "spam.kills": len(out["kills"]),
            "pairs.verified": int((out["pairs"].kind == "near").sum()),
            "cluster.edges": len(out["pairs"]),
            "selection.deletes": int(acts.get("delete", 0)),
            "selection.modifies": int(acts.get("modify", 0)),
        }
    return {
        "unload.rows": len(out["unload"]),
        "spam.kills": len(out["kills"]),
        "pairs.verified": len(out["pairs"]),
        "cluster.edges": len(out["pairs"]),
        "selection.deletes": len(out["delete"]),
        "selection.modifies": len(out["modify"]),
    }


def ledger(groups: dict, spans: list, counts: dict, steady: list,
           plans_group: str, plans_wall: float, cold_wall: float, n_docs: int,
           cores: int, session_s: float, kernel: tuple[float, float]) -> dict:
    """The per-layer metrics of one traced run."""
    from eventlog import node_metric, union_s

    def g(name):
        return groups.get(name, {})

    span = {s["name"]: s["end"] - s["start"] for s in spans}
    fp = g("fingerprint")
    fp_wall = fp.get("stage_wall_s", 0.0)
    pr = g("pairs")
    pl = g(plans_group)
    # the traced round: its layer spans, without the commit, which the
    # untraced pass does not run
    traced_wall = sum(d for name, d in span.items() if name != "commit")
    m = {
        "session.start_s": (session_s, "s"),
        "scan.wall_s": (span.get("sources", 0.0), "s"),
        "scan.bytes_read": (node_metric(
            g("sources"), lambda n, _: "Scan" in n, "size of files read"), "bytes"),
        "fingerprint.wall_s": (span.get("fingerprint", 0.0), "s"),
        "fingerprint.docs_per_s": (n_docs / span["fingerprint"], "1/s"),
        "fingerprint.py_bytes_in": (fp.get("py_bytes_in", 0.0), "bytes"),
        "fingerprint.py_run_s": (fp.get("py_run_ms", 0.0) / 1000.0, "s"),
        "fingerprint.tasks": (fp.get("tasks", 0.0), "count"),
        "fingerprint.core_util": (
            fp.get("run_ms", 0.0) / 1000.0 / (fp_wall * cores) if fp_wall else 0.0, "ratio"),
        "fingerprint.task_skew": (fp.get("task_skew", 0.0), "ratio"),
        "fingerprint.kernel_docs_per_s": (kernel[0], "1/s"),
        "fingerprint.kernel_mb_per_s": (kernel[1], "MB/s"),
        "spam.wall_s": (span.get("spam", 0.0), "s"),
        "spam.kills": (counts.get("spam.kills", 0), "count"),
        "spam.shuffle_bytes": (g("spam").get("shuffle_bytes", 0.0), "bytes"),
        "pairs.wall_s": (span.get("pairs", 0.0), "s"),
        # rows out of the band explodes the pairs layer ran: those that
        # cut band keys out of a fingerprint (not the salt explodes)
        "pairs.band_rows": (node_metric(
            pr, lambda n, d: n == "Generate" and "shiftrightunsigned(fingerprint" in d,
            "number of output rows"), "count"),
        "pairs.verified": (counts.get("pairs.verified", 0), "count"),
        "pairs.hot_buckets": (counts.get("pairs.hot_buckets", 0), "count"),
        "pairs.shuffle_bytes": (pr.get("shuffle_bytes", 0.0), "bytes"),
        "pairs.spill_bytes": (pr.get("spill_bytes", 0.0), "bytes"),
        "pairs.task_skew": (pr.get("task_skew", 0.0), "ratio"),
        "pairs.peak_exec_mem_mb": (pr.get("peak_exec_mem_mb", 0.0), "MB"),
        "pairs.jvm_heap_peak_mb": (pr.get("jvm_heap_peak_mb", 0.0), "MB"),
        "unload.wall_s": (span.get("unload", 0.0), "s"),
        "unload.rows": (counts.get("unload.rows", 0), "count"),
        "cluster.wall_s": (span.get("cluster", 0.0), "s"),
        "cluster.edges": (counts.get("cluster.edges", 0), "count"),
        # label-propagation rounds: each runs one observed action (its
        # convergence counter); the driver union-find path runs none
        "cluster.iterations": (sum(
            "CollectMetrics" in names for names in g("cluster").get("executions", [])),
            "count"),
        "selection.wall_s": (span.get("selection", 0.0), "s"),
        "selection.deletes": (counts.get("selection.deletes", 0), "count"),
        "selection.modifies": (counts.get("selection.modifies", 0), "count"),
        "commit.wall_s": (span.get("commit", 0.0), "s"),
        # band rows written to the layout's cold and hot tables (not its
        # stats and tombstone tables)
        "commit.rows_appended": (node_metric(
            g("commit"), lambda n, d: n.startswith("Execute InsertInto")
            and "__stats" not in d and "__tombstones" not in d,
            "number of output rows"), "count"),
        "commit.bytes_written": (g("commit").get("output_bytes", 0.0), "bytes"),
        "plans.cold_wall_s": (cold_wall, "s"),
        "plans.jobs": (pl.get("jobs", 0.0), "count"),
        "plans.stages": (pl.get("stages", 0.0), "count"),
        "plans.driver_gap_s": (plans_wall - union_s(pl.get("intervals", [])), "s"),
        "plans.shuffle_bytes": (pl.get("shuffle_bytes", 0.0), "bytes"),
        "plans.spill_bytes": (pl.get("spill_bytes", 0.0), "bytes"),
        "plans.jvm_heap_peak_mb": (pl.get("jvm_heap_peak_mb", 0.0), "MB"),
        "trace.pass_wall_s": (traced_wall, "s"),
        "trace.overhead_s": (traced_wall - statistics.median(steady), "s"),
    }
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


def stop_java(timeout_s: float = 60.0) -> None:
    """End the driver JVM by closing its stdin (py4j's gateway exits on
    EOF; the pyspark daemons then see their own stdin close), and wait
    until it and every process under it have ended."""
    from pyspark import SparkContext

    from procmem import alive, descendants

    gw = SparkContext._gateway
    if gw is None or gw.proc is None:
        return
    pids = descendants(os.getpid())
    gw.proc.stdin.close()
    gw.proc.wait(timeout=timeout_s)
    deadline = time.time() + timeout_s
    while time.time() < deadline and any(alive(pid) for pid in pids):
        time.sleep(0.1)


def run(args, run_dir: str, cache: str) -> dict:
    import gen
    from procmem import PeakSampler
    from simhash_text_dedup_spark.session import get_spark

    kind = "batch" if args.workload == "batch_code" else "incr"
    t = time.time()
    cached = gen.inputs(cache, kind, args.seed)
    gen_s = time.time() - t

    sampler = PeakSampler().start()
    cores = spark_cores()
    t = time.time()
    spark = get_spark(app=f"perfbench-{args.workload}", cores=cores,
                      extra=spark_conf(run_dir, args.trace))
    session_s = time.time() - t
    try:
        res, trace = measure(args, spark, sampler, cached, run_dir, gen_s)
        if args.trace:
            trace["kernel"] = kernel_probe(cached)
    finally:
        spark.stop()
        sampler.stop()
        stop_java()
    if args.trace:
        from eventlog import rollup_file

        (log_file,) = [os.path.join(run_dir, "events", f)
                       for f in os.listdir(os.path.join(run_dir, "events"))]
        res["metrics"] = ledger(rollup_file(log_file), cores=cores,
                                session_s=session_s, **trace)
    return res


def measure(args, spark, sampler, cached: str, run_dir: str, gen_s: float):
    """Set-up, the cold pass, the window of warm-up and steady passes
    and, with --trace 1, the traced pass: (result without per-layer
    metrics, trace context)."""
    import oracle
    import workloads as W

    kind = "batch" if args.workload == "batch_code" else "incr"
    banded = args.workload == "incr_banded"
    t = time.time()
    st = W.stage(spark, args.workload, cached, run_dir)
    stage_s = time.time() - t
    layout_s = 0.0
    if banded:
        t = time.time()
        W.stage_layout(spark, st)
        layout_s = time.time() - t
    # process start to first pass, less the (cached) input generation
    setup_s = time.time() - T_START - gen_s

    def one_pass():
        t0 = time.time()
        out = (W.batch_pass(spark, st) if kind == "batch"
               else W.incr_pass(spark, st, banded))
        return out, time.time() - t0

    check = oracle.batch_failures if kind == "batch" else oracle.incr_failures

    def failures(out, label: str, extra=()) -> int:
        fails = list(extra) + check(out, exp)
        for f in fails:
            log(f"{label}: {f}")
        return int(bool(fails))

    cold, cold_wall = one_pass()
    exp, once_fails = once_checks(spark, args.workload, cached, st, cold, args.seed)
    failed = failures(cold, "cold pass", once_fails)

    walls: list[float] = []
    window = time.time()
    n_warm = WARMUP_PASSES[kind]
    while (len(walls) < n_warm + MIN_PASSES
           or time.time() - window + walls[-1] <= args.seconds):
        if args.trace:
            spark.sparkContext.setJobGroup(f"plans-{len(walls)}", "plans")
        out, wall = one_pass()
        failed += failures(out, f"pass {len(walls)}")
        walls.append(wall)
    warm, steady = walls[:n_warm], walls[n_warm:]
    attempted = 1 + len(walls)
    sampler.stop()
    log(f"setup {setup_s:.2f} s (staging {stage_s:.2f}, layout {layout_s:.2f}); "
        f"cold pass {cold_wall:.2f} s; warm-up {', '.join(f'{x:.2f}' for x in warm)} s; "
        f"steady passes {', '.join(f'{x:.2f}' for x in steady)} s")
    if once_fails:
        failed = attempted

    if not args.trace:
        wall = statistics.median(steady)
        metrics = {
            "wall_s": (wall, "s"),
            "docs_per_s": (st["n_docs"] / wall, "1/s"),
            "setup_s": (setup_s, "s"),
            "jvm_peak_rss_mb": (sampler.jvm_mb(), "MB"),
            "py_peak_rss_mb": (sampler.py_mb(), "MB"),
            "ok_rate": ((attempted - failed) / attempted, "ratio"),
        }
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        }, None

    tr = W.Tracer(spark)
    attempted += 1
    counts = pass_counts(kind, out)
    if kind == "batch":
        traced = W.batch_traced(spark, st, tr)
        # the traced pass's own pairs and clusters; its fingerprints and
        # kills are the layer frames, not collected
        fails = check({**out, "pairs": traced["pairs"],
                       "clusters": traced["clusters"]}, exp)
    else:
        traced = W.incr_traced(spark, st, tr, banded)
        fails = check({**out, **{k: traced[k] for k in (
            "unload", "pairs", "delete", "modify")}}, exp)
    counts["pairs.hot_buckets"] = traced["hot_buckets"]
    if banded and traced["commit_live"] != exp["live_after_commit"]:
        fails.append("traced commit left a wrong live doc count")
    if banded and oracle.pair_set(traced["exchange_pairs"]) != exp["pairs"]:
        fails.append("incr_banded pair set differs from the exchange path's")
    for f in fails:
        log(f"traced pass: {f}")
    failed += bool(fails)
    res = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    return res, {
        "spans": tr.spans, "counts": counts, "steady": steady,
        "plans_group": f"plans-{len(walls) - 1}", "plans_wall": steady[-1],
        "cold_wall": cold_wall,
        "n_docs": st["n_docs"],
    }


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "simhash_text_dedup_spark")):
        log(f"no simhash_text_dedup_spark package under {ROOT}")
        return 2

    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # spark-submit's launcher JVM: no hsperfdata under the system /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [v for v in [os.environ.get("PYTHONPATH")] if v])
    sys.path[:0] = [ROOT, HERE]
    try:
        result = run(args, run_dir, os.path.join(work, "cache"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
