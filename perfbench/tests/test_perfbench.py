"""The benchmark's own tests; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import subprocess
import sys
import time

import numpy as np
import pandas as pd
import pytest

import eventlog
import oracle
import procmem
from workloads import CFG

# ------------------------------------------------------------ event log


def _job(jid, group, stages, execution=None):
    props = {"spark.jobGroup.id": group}
    if execution is not None:
        props["spark.sql.execution.id"] = str(execution)
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Stage IDs": stages,
            "Properties": props}


def _stage(sid, start, end, tasks, accs):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": sid, "Number of Tasks": tasks, "Submission Time": start,
        "Completion Time": end,
        "Accumulables": [{"ID": 1000 + sid * 10 + i, "Name": n, "Value": v}
                         for i, (n, v) in enumerate(accs.items())]}}


def _task(sid, ms, peak=0, heap=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
            "Task Info": {"Launch Time": 0, "Finish Time": ms},
            "Task Metrics": {"Peak Execution Memory": peak},
            "Task Executor Metrics": {"JVMHeapMemory": heap}}


CANNED = [
    _job(0, "fingerprint", [0]),
    _stage(0, 1000, 3000, 2, {"data sent to Python workers": 500,
                              "time to run Python workers": 1500,
                              "internal.metrics.executorRunTime": 3000}),
    _task(0, 1000, heap=300 * 2**20), _task(0, 3000, peak=2**20, heap=200 * 2**20),
    _job(1, "pairs", [1, 2], execution=7),
    _stage(1, 4000, 5000, 1, {"internal.metrics.shuffle.write.bytesWritten": 64}),
    _stage(2, 4500, 6000, 1, {"internal.metrics.diskBytesSpilled": 8,
                              "internal.metrics.memoryBytesSpilled": 16}),
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
     "executionId": 7, "sparkPlanInfo": {
         "nodeName": "SortMergeJoin", "simpleString": "", "children": [
             {"nodeName": "Generate", "simpleString": "Generate explode(bands)",
              "children": [
                  {"nodeName": "Scan parquet", "simpleString": "", "children": [],
                   "metrics": [{"name": "size of files read", "accumulatorId": 55}]}],
              "metrics": [{"name": "number of output rows", "accumulatorId": 57}]},
             {"nodeName": "Generate", "simpleString": "Generate explode(_hot salt)",
              "children": [],
              "metrics": [{"name": "number of output rows", "accumulatorId": 58}]}],
         "metrics": [{"name": "number of output rows", "accumulatorId": 56}]}},
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
     "executionId": 7, "accumUpdates": [[55, 4096], [56, 12], [57, 400], [58, 9]]},
]


def test_rollup_by_job_group():
    g = eventlog.rollup(json.dumps(e) for e in CANNED)
    fp, pr = g["fingerprint"], g["pairs"]
    assert fp["jobs"] == 1 and fp["stages"] == 1 and fp["tasks"] == 2
    assert fp["py_bytes_in"] == 500 and fp["py_run_ms"] == 1500
    assert fp["stage_wall_s"] == pytest.approx(2.0)
    assert fp["task_skew"] == pytest.approx(3000 / 2000)
    assert fp["peak_exec_mem_mb"] == pytest.approx(1.0)
    assert fp["jvm_heap_peak_mb"] == pytest.approx(300.0)
    assert pr["stages"] == 2 and pr["shuffle_bytes"] == 64
    assert pr["spill_bytes"] == 24
    # stages 1 and 2 overlap: [4, 5) u [4.5, 6) = 2 s
    assert pr["stage_wall_s"] == pytest.approx(2.0)
    assert eventlog.node_metric(pr, lambda n, _: "Scan" in n, "size of files read") == 4096
    assert eventlog.node_metric(pr, lambda n, _: "Join" in n, "number of output rows") == 12
    assert eventlog.node_metric(
        pr, lambda n, d: n == "Generate" and "_hot" not in d, "number of output rows") == 400
    assert pr["executions"] == [{"SortMergeJoin", "Generate", "Scan parquet"}]


def test_union_of_intervals():
    assert eventlog.union_s([]) == 0.0
    assert eventlog.union_s([(0, 1), (2, 3), (0.5, 1.5)]) == pytest.approx(2.5)


# ----------------------------------------------------------------- VmHWM


def test_vmhwm_field_parse():
    text = "Name:\tjava\nVmPeak:\t 9000 kB\nVmHWM:\t  123456 kB\nVmRSS:\t 100 kB\n"
    assert procmem.vmhwm_kb(text) == 123456
    assert procmem.vmhwm_kb("Name:\tkthread\n") == 0


def test_sampler_sees_child_peak():
    # a child that touches ~64 MB, then waits to be sampled
    child = subprocess.Popen(
        [sys.executable, "-c",
         "import sys,time; b=bytearray(64<<20); b[::4096]=b'x'*(len(b)//4096);"
         "print(1, flush=True); time.sleep(30)"],
        stdout=subprocess.PIPE)
    try:
        child.stdout.readline()
        assert child.pid in procmem.descendants(os.getpid())
        s = procmem.PeakSampler()
        s.sample()
        comm, _, kb = s.peak_kb[child.pid]
        assert comm.startswith("python") and kb >= 64 * 1024
    finally:
        child.kill()
        child.wait()


def test_alive_treats_an_exited_child_as_ended():
    assert procmem.alive(os.getpid())
    child = subprocess.Popen([sys.executable, "-c", "pass"])
    deadline = time.time() + 30
    while procmem.alive(child.pid) and time.time() < deadline:
        time.sleep(0.05)
    assert not procmem.alive(child.pid)  # exited, not yet reaped: a zombie
    child.wait()


# --------------------------------------------------------------- checks


def _fps(seed=0, n=40):
    """Fingerprints with two planted near pairs and one exact pair."""
    rng = np.random.default_rng(seed)
    fp = rng.integers(-(2**62), 2**62, size=n, dtype=np.int64)
    fp[1] = fp[0] ^ 0b101           # Hamming 2
    fp[3] = fp[2] ^ (1 << 40)       # Hamming 1
    fp[5] = fp[4]                   # exact
    return pd.DataFrame({"doc_id": np.arange(100, 100 + n), "fingerprint": fp,
                         "score": rng.random(n), "is_new": True})


def _batch_out(exp):
    cl = pd.DataFrame({"doc_id": list(exp["clusters"]),
                       "cluster_id": list(exp["clusters"].values())})
    cl["action"] = cl.doc_id.map(exp["actions"])
    pairs = pd.DataFrame(sorted(exp["pairs"]), columns=["a_id", "b_id"])
    kills = pd.DataFrame(sorted(exp["kills"]), columns=["doc_id", "ref_doc_id"])
    fps = pd.DataFrame({"doc_id": list(exp["fps"]), "fingerprint": list(exp["fps"].values())})
    return {"fps": fps, "clusters": cl, "pairs": pairs, "kills": kills}


def test_batch_check_accepts_the_reference_and_rejects_corruption():
    exp = oracle.batch_expected(_fps(), CFG)
    assert exp["pairs"] == {(100, 101), (102, 103), (104, 105)}
    good = _batch_out(exp)
    assert oracle.batch_failures(good, exp) == []

    split = _batch_out(exp)
    split["clusters"].loc[split["clusters"].doc_id == 101, "cluster_id"] = 101
    assert oracle.batch_failures(split, exp)

    extra = _batch_out(exp)
    extra["pairs"] = pd.concat([extra["pairs"], pd.DataFrame({"a_id": [106], "b_id": [107]})])
    assert oracle.batch_failures(extra, exp)

    flipped = _batch_out(exp)
    flipped["fps"].loc[0, "fingerprint"] ^= 1
    assert oracle.batch_failures(flipped, exp)


def _incr():
    new = _fps(1, 30).drop(columns="is_new")
    new["entity_id"] = np.arange(500, 530)
    base = _fps(2, 50).drop(columns="is_new")
    base["doc_id"] = np.arange(1000, 1050)
    base["entity_id"] = np.arange(900, 950)
    base.loc[10, "fingerprint"] = new.fingerprint[10] ^ 1     # new x old near pair
    base.loc[11, ["entity_id", "fingerprint"]] = [511, new.fingerprint[11]]  # unchanged re-crawl
    base.loc[12, "entity_id"] = 512                            # changed re-crawl
    return new, base


def _incr_out(exp):
    def frame(ids):
        return pd.DataFrame({"doc_id": sorted(ids)})

    return {
        "fps": pd.DataFrame({"doc_id": list(exp["fps"]), "fingerprint": list(exp["fps"].values())}),
        "unload": frame(exp["unload"]),
        "kills": pd.DataFrame(sorted(exp["kills"]), columns=["doc_id", "ref_doc_id"]),
        "pairs": pd.DataFrame(sorted(exp["pairs"]), columns=["a_id", "b_id"]),
        "delete": frame(exp["delete"]),
        "modify": frame(exp["modify"]),
    }


def test_incremental_model_and_check():
    new, base = _incr()
    exp = oracle.incr_expected(new, base, CFG)
    assert exp["unload"] == {111}
    assert (110, int(base.doc_id[10])) in exp["pairs"]
    assert {(100, 101), (102, 103), (104, 105)} <= exp["pairs"]
    assert oracle.incr_failures(_incr_out(exp), exp) == []

    dropped = _incr_out(exp)
    dropped["pairs"] = dropped["pairs"].iloc[1:]
    assert oracle.incr_failures(dropped, exp)

    wrong_loser = _incr_out(exp)
    wrong_loser["delete"], wrong_loser["modify"] = wrong_loser["modify"], wrong_loser["delete"]
    assert oracle.incr_failures(wrong_loser, exp)

    # the commit's expected layout size: base - re-crawled rows + committed
    assert exp["live_after_commit"] == len(base) - 2 + exp["committed"]


def test_layer_counts_come_from_the_pass_outputs():
    from run import pass_counts

    exp = oracle.batch_expected(_fps(), CFG)
    out = _batch_out(exp)
    out["pairs"]["kind"] = ["near", "near", "exact"]
    c = pass_counts("batch", out)
    assert c["pairs.verified"] == 2 and c["cluster.edges"] == 3
    assert c["selection.deletes"] == sum(a == "delete" for a in exp["actions"].values())
    new, base = _incr()
    exp = oracle.incr_expected(new, base, CFG)
    c = pass_counts("incr", _incr_out(exp))
    assert c["unload.rows"] == 1 and c["pairs.verified"] == len(exp["pairs"])


def test_spec_sample_catches_a_wrong_kernel():
    from simhash_text_dedup_spark.fingerprint_core import simhash_one

    sample = pd.DataFrame({"doc_id": [1, 2], "content": ["def f(x): return x", "int main() {}"]})
    right = {1: simhash_one("def f(x): return x"), 2: simhash_one("int main() {}")}
    assert oracle.spec_failures(sample, right) == []
    assert oracle.spec_failures(sample, {**right, 2: right[2] ^ 1})
