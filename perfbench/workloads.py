"""The three workloads: input staging, one timed pass, and one traced
pass that calls each layer's public functions with a span around it.

The traced passes repeat the orchestration of `plans.pipeline.run_dedup`
and `plans.incremental.run_incremental` layer by layer (the frames
between the layer calls, e.g. new_side / live / all_side); when plans/
changes how it wires or cuts the layers, these replicas have to follow.

A pass returns its complete outputs as pandas frames, so the next pass
starts only after the previous one is fully materialized (closed loop,
one client).
"""

from __future__ import annotations

import os
import shutil
import time

import pandas as pd
from pyspark.sql import functions as F

from simhash_text_dedup_spark.config import DedupConfig
from simhash_text_dedup_spark.plans.incremental import (
    candidate_pairs,
    loser_lists_cc,
    run_incremental,
    unload_list,
)
from simhash_text_dedup_spark.plans.pipeline import (
    fingerprint_stage,
    prepare_documents,
    run_dedup,
    spread_input,
)
from simhash_text_dedup_spark.operators.cluster import connected_components
from simhash_text_dedup_spark.operators.pairs import (
    banded,
    exact_groups,
    hot_buckets,
    near_pairs,
)
from simhash_text_dedup_spark.operators.selection import assign_actions_cc
from simhash_text_dedup_spark.operators.spam import spam_tag, split_spam
from simhash_text_dedup_spark.sources.banded_corpus import (
    append_banded_corpus,
    assert_banded_sync,
    candidate_pairs_banded,
    live_doc_count,
    write_banded_corpus,
)
from simhash_text_dedup_spark.functions.simhash import band_entries

import gen

CFG = DedupConfig(spam_threshold=gen.SPAM_THRESHOLD)
TABLE = "bench_banded"


# ------------------------------------------------------------- staging


def stage(spark, workload: str, cached: str, run_dir: str) -> dict:
    """Copy the cached inputs into the run directory and open them; for
    incr_* also resolve the re-crawl entities and write the base."""
    docs = os.path.join(run_dir, "documents")
    shutil.rmtree(docs, ignore_errors=True)
    shutil.copytree(os.path.join(cached, "documents"), docs)
    st = {"docs": docs, "n_docs": spark.read.parquet(docs).count()}
    if workload == "batch_code":
        return st
    rc = pd.read_parquet(os.path.join(cached, "recrawl.parquet"))
    ids = (
        spark.createDataFrame(rc[["repo", "path"]])
        .select(F.xxhash64("repo", "path").alias("e"))
        .toPandas().e.to_numpy()
    )
    recrawl = pd.DataFrame(
        {"doc_id": rc.doc_id, "entity_id": ids, "fingerprint": rc.fingerprint,
         "score": rc.score}
    )
    base = pd.concat(
        [pd.read_parquet(os.path.join(cached, "base_anon.parquet")), recrawl],
        ignore_index=True,
    )
    path = os.path.join(run_dir, "base")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    n_files = 4
    for i in range(n_files):
        base.iloc[i::n_files].to_parquet(
            os.path.join(path, f"part-{i:05d}.parquet"), index=False
        )
    st.update(base=path, base_pdf=base)
    return st


def stage_layout(spark, st: dict) -> None:
    """incr_banded only: bootstrap the banded layout from the base."""
    write_banded_corpus(spark.read.parquet(st["base"]), TABLE, CFG)


# -------------------------------------------------------------- passes


def _pdf(df, *cols) -> pd.DataFrame:
    return df.select(*cols).toPandas()


def batch_pass(spark, st: dict) -> dict:
    res = run_dedup(spark, spark.read.parquet(st["docs"]), CFG)
    return {
        "fps": _pdf(res.fingerprints, "doc_id", "fingerprint", "score", "is_new"),
        "clusters": _pdf(res.clusters, "doc_id", "cluster_id", "action"),
        "pairs": _pdf(res.pairs, "a_id", "b_id", "kind"),
        "kills": _pdf(res.spam_kills, "doc_id", "ref_doc_id"),
    }


def commit(spark, new_fps, spam_kills, delete_list, base) -> None:
    """Append the round's surviving fingerprints to the banded layout
    (jobs/run_incremental.py's commit: spam kills and delete-list
    losers are never loaded; re-crawled rows become tombstones)."""
    to_commit = (
        new_fps
        .join(spam_kills.select("doc_id"), "doc_id", "left_anti")
        .join(delete_list.select("doc_id"), "doc_id", "left_anti")
        .select("doc_id", "entity_id", "fingerprint", "score")
    ).localCheckpoint(eager=False)
    stale = base.join(
        F.broadcast(to_commit.select("entity_id").distinct()), "entity_id", "left_semi"
    ).select("doc_id")
    append_banded_corpus(to_commit, TABLE, CFG, stale_doc_ids=stale)


def incr_pass(spark, st: dict, banded_path: bool) -> dict:
    res = run_incremental(
        spark, spark.read.parquet(st["docs"]), spark.read.parquet(st["base"]), CFG,
        banded_corpus_table=TABLE if banded_path else None,
    )
    out = {
        "fps": _pdf(res.new_fingerprints, "doc_id", "entity_id", "fingerprint", "score"),
        "unload": _pdf(res.unload, "doc_id"),
        "kills": _pdf(res.spam_kills, "doc_id", "ref_doc_id"),
        "pairs": _pdf(res.pairs, "a_id", "b_id"),
        "delete": _pdf(res.delete_list, "doc_id"),
        "modify": _pdf(res.modify_list, "doc_id"),
    }
    return out


# --------------------------------------------------------- traced pass


class Tracer:
    """Spans around layer calls.  Each span runs under its own Spark job
    group (the layer name) and ends with an eager cut, so the layer's
    work is charged to it and nothing is left lazy for the next one."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []

    def span(self, layer: str, fn):
        sc = self.spark.sparkContext
        sc.setJobGroup(layer, layer)
        t0 = time.time()
        out = fn()
        out = tuple(
            o.localCheckpoint(eager=True) if hasattr(o, "localCheckpoint") else o
            for o in (out if isinstance(out, tuple) else (out,))
        )
        t1 = time.time()
        sc.setJobGroup("(bench)", "(bench)")
        self.spans.append({"name": layer, "start": t0, "end": t1, "parent": "pass"})
        return out if len(out) > 1 else out[0]


def batch_traced(spark, st: dict, tr: Tracer) -> dict:
    par = spark.sparkContext.defaultParallelism
    prepared = tr.span("sources", lambda: prepare_documents(
        spread_input(spark.read.parquet(st["docs"]), par)))
    fps = tr.span("fingerprint", lambda: fingerprint_stage(prepared, CFG))
    survivors, _ = tr.span("spam", lambda: split_spam(
        spam_tag(fps.drop("content_sha256")).localCheckpoint(eager=True),
        CFG.spam_threshold))

    distinct_fps, exact_edges = exact_groups(survivors)
    pairs = tr.span("pairs", lambda: exact_edges.unionByName(
        near_pairs(distinct_fps, CFG)))
    cc = tr.span("cluster", lambda: connected_components(
        pairs.select("a_id", "b_id"), CFG.cc_max_iter, CFG.cc_driver_threshold))

    def _select():
        meta = survivors.select("doc_id", "score", "is_new")
        cm = meta.join(cc, "doc_id", "left").withColumn(
            "cluster_id", F.coalesce(F.col("cluster_id"), F.col("doc_id")))
        return assign_actions_cc(cm)

    clusters = tr.span("selection", _select)
    return {
        "pairs": _pdf(pairs, "a_id", "b_id"),
        "clusters": _pdf(clusters, "doc_id", "cluster_id", "action"),
        "hot_buckets": hot_buckets(banded(distinct_fps, CFG), CFG).count(),
    }


def incr_traced(spark, st: dict, tr: Tracer, banded_path: bool) -> dict:
    par = spark.sparkContext.defaultParallelism
    base = spark.read.parquet(st["base"])
    prepared = tr.span("sources", lambda: prepare_documents(
        spread_input(spark.read.parquet(st["docs"]), par)
    ).withColumn("entity_id", F.xxhash64("repo", "path")))
    new_fps = tr.span("fingerprint", lambda: fingerprint_stage(prepared, CFG).join(
        prepared.select("doc_id", "entity_id"), "doc_id"))
    base_fps = base.select("doc_id", "entity_id", "fingerprint", "score",
                           F.lit(False).alias("is_new"))
    unload = tr.span("unload", lambda: unload_list(new_fps, base_fps))
    survivors, kills = tr.span("spam", lambda: split_spam(
        spam_tag(new_fps.drop("content_sha256")).localCheckpoint(eager=True),
        CFG.spam_threshold))

    loaded = base_fps.select("entity_id").distinct().withColumn(
        "is_loaded", F.lit(True))
    new_side = survivors.join(loaded, "entity_id", "left").select(
        "doc_id", "entity_id", "fingerprint", F.lit(True).alias("is_new"),
        F.coalesce("is_loaded", F.lit(False)).alias("is_loaded"), "score")
    live = base_fps.join(new_fps.select("entity_id").distinct(),
                         "entity_id", "left_anti")
    all_side = new_side.unionByName(live.select(
        "doc_id", "entity_id", "fingerprint", "is_new",
        F.lit(True).alias("is_loaded"), "score"))

    def _pairs():
        if banded_path:
            assert_banded_sync(spark, TABLE, base, CFG)
            return candidate_pairs_banded(spark, new_side, TABLE, CFG)
        return candidate_pairs(new_side, all_side, CFG)

    pairs = tr.span("pairs", _pairs)
    bands = all_side.select(F.explode(band_entries(
        F.col("fingerprint"), CFG.n_bands, CFG.band_bits)).alias("e")
    ).select("e.band", "e.band_key")
    tr.span("cluster", lambda: connected_components(
        pairs.select("a_id", "b_id"), CFG.cc_max_iter, CFG.cc_driver_threshold))
    dels, mods = tr.span("selection", lambda: loser_lists_cc(pairs))
    out = {
        "unload": _pdf(unload, "doc_id"),
        "pairs": _pdf(pairs, "a_id", "b_id"),
        "delete": _pdf(dels, "doc_id"),
        "modify": _pdf(mods, "doc_id"),
        "hot_buckets": hot_buckets(bands, CFG).count(),
    }
    if banded_path:
        # the exchange path on the same inputs must give the same pairs
        out["exchange_pairs"] = _pdf(
            candidate_pairs(new_side, all_side, CFG), "a_id", "b_id")
        tr.span("commit", lambda: commit(spark, new_fps, kills, dels, base))
        out["commit_live"] = live_doc_count(spark, TABLE, CFG)
    return out
