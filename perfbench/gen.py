"""Seeded input generators for the three workloads, cached per seed.

Everything here is pure Python/numpy: the same seed gives byte-identical
files.  The program under test only ever sees the files written here.

batch_code  A synthetic code corpus (documents/, the input_hint shape
            repo/path/commit/lang/content) and its manifest, made of
            whole blocks of the package's `generate_corpus_parallel`
            with its planted families at the package's density (one
            block of F-EXACT-FLOOD, F-EXACT, F-WS, F-NEAR, F-BORDER,
            F-CONTAIN and F-CHAIN per 100 docs, the rest F-UNIQ
            singletons).

incr        One incremental round (shared by incr_shuffle and
            incr_banded): a new batch generated the same way, plus the
            *plan* of a fingerprint base with these planted rows:
              near     1-3 bit flips of ~10% of the batch's fingerprints
              same     unchanged re-crawls (entity of a batch doc, same
                       fingerprint)                   -> unload_list
              changed  changed re-crawls (entity of a batch doc, other
                       fingerprint)                   -> loaded losers
              hot      one band-0 bucket above band_bucket_cap
              random   uniform random fingerprints to fill the base
            Re-crawl rows name their entity by (repo, path); the entity
            id is the program's xxhash64 and is resolved at staging.

The generator is slow (about 1 ms per doc, most of it calibrating the
planted variants), so each kind has a pool of POOL_BLOCKS generator
blocks, generated once with a fixed seed and cached: a seed draws its
blocks from the pool and shuffles their rows.  The same seed gives the
same inputs; two seeds may share blocks, but not the set of blocks or
the row order.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd

from simhash_text_dedup_spark.fingerprint_core import simhash_batch
from simhash_text_dedup_spark.sources.corpus import (
    CorpusSpec,
    generate_corpus_parallel,
)

CACHE_VERSION = 6          # part of every cache path: bump it when a size below changes
SPAM_THRESHOLD = 5          # generator AND pipeline: floods really die
FILE_ROWS = 2048            # rows per parquet file of a documents table

# workload sizes (see BENCHMARK.json "why" and perfbench/NOTES.md)
BATCH_DOCS = 40_000         # batch_code corpus, 4 generator blocks
BATCH_BLOCK = 10_000
INCR_DOCS = 10_000          # new batch of one incremental round, 4 blocks
INCR_BLOCK = 2_500
POOL_BLOCKS = 8             # generator blocks in each kind's pool
POOL_SEED = 20_240_601
GEN_WORKERS = 4             # generator processes, at most
BASE_ROWS = 500_000         # fingerprint base of the incremental round
NEAR_FRAC = 0.10
SAME_FRAC = 0.02
CHANGED_FRAC = 0.02
HOT_ROWS = 24_000           # > DedupConfig.band_bucket_cap (20000)


def _pool(cache_root: str, kind: str, block_docs: int):
    """(documents, manifest) of the kind's block pool, both with a
    `block` column; generated on first use, then read from the cache.
    The block size is fixed, so the bytes do not depend on the number
    of workers."""
    out = os.path.join(cache_root, f"pool-{kind}-v{CACHE_VERSION}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        docs, man = generate_corpus_parallel(
            CorpusSpec(n_docs=POOL_BLOCKS * block_docs, seed=POOL_SEED,
                       spam_threshold=SPAM_THRESHOLD),
            block_docs=block_docs,
            n_workers=min(GEN_WORKERS, os.cpu_count() or 1),
        )
        assert len(docs) == len(man) == POOL_BLOCKS * block_docs
        block = np.arange(len(docs)) // block_docs
        tmp = out + ".tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        os.makedirs(tmp)
        docs.assign(block=block).to_parquet(os.path.join(tmp, "docs.parquet"), index=False)
        man.assign(block=block).to_parquet(os.path.join(tmp, "manifest.parquet"), index=False)
        open(os.path.join(tmp, "_DONE"), "w").close()
        os.rename(tmp, out)
    return (pd.read_parquet(os.path.join(out, "docs.parquet")),
            pd.read_parquet(os.path.join(out, "manifest.parquet")))


def _corpus(cache_root: str, kind: str, seed: int, n_docs: int, block_docs: int):
    """(documents, manifest) of n_docs rows: n_docs / block_docs blocks
    of the pool drawn by the seed, rows in seeded order."""
    docs, man = _pool(cache_root, kind, block_docs)
    picked = np.random.default_rng([seed, 3]).choice(
        POOL_BLOCKS, n_docs // block_docs, replace=False)
    docs = docs[docs.block.isin(picked)].drop(columns="block")
    man = man[man.block.isin(picked)].reset_index(drop=True)
    # every block numbers its families from 1: make the names unique
    planted = man.family != "F-UNIQ"
    man.loc[planted, "family"] = man.family[planted] + "." + man.block[planted].astype(str)
    man = man.drop(columns="block")
    order = np.random.default_rng([seed, 5]).permutation(len(docs))
    return docs.iloc[order].reset_index(drop=True), man


def _write_docs(docs: pd.DataFrame, path: str) -> None:
    """A directory of parquet files, FILE_ROWS rows each (write_corpus's
    layout: one real scan partition per file)."""
    os.makedirs(path, exist_ok=True)
    for i, c0 in enumerate(range(0, len(docs), FILE_ROWS)):
        docs.iloc[c0 : c0 + FILE_ROWS].to_parquet(
            os.path.join(path, f"part-{i:05d}.parquet"),
            index=False,
            row_group_size=FILE_ROWS,
        )


def _flip_bits(rng: np.random.Generator, fps: np.ndarray) -> np.ndarray:
    """Each fingerprint with 1-3 distinct random bits flipped."""
    out = fps.astype(np.uint64).copy()
    nflip = rng.integers(1, 4, size=len(fps))
    for i, k in enumerate(nflip):
        for b in rng.choice(64, size=k, replace=False):
            out[i] ^= np.uint64(1) << np.uint64(b)
    return out.view(np.int64)


def _incr_plan(seed: int, docs: pd.DataFrame, man: pd.DataFrame):
    """(recrawl rows keyed by (repo, path), anonymous base rows, meta)."""
    rng = np.random.default_rng([seed, 7])
    uniq_idx = np.flatnonzero(
        docs.set_index(["repo", "path", "commit"]).index.isin(
            man[man.family == "F-UNIQ"].set_index(["repo", "path", "commit"]).index
        )
    )
    # the planted rows are drawn from the singletons only, so the
    # package's planted families keep their own designed relations
    pick = rng.permutation(uniq_idx)
    n_near = int(len(docs) * NEAR_FRAC)
    n_same = int(len(docs) * SAME_FRAC)
    n_chg = int(len(docs) * CHANGED_FRAC)
    near_i = pick[:n_near]
    same_i = pick[n_near : n_near + n_same]
    # changed re-crawls overlap the near rows by half, so loaded batch
    # docs also take part in pairs (and can land on the modify list)
    chg_i = np.concatenate(
        [near_i[: n_chg // 2], pick[n_near + n_same : n_near + n_same + n_chg - n_chg // 2]]
    )
    hot_i = pick[n_near + n_same + n_chg]

    # planting uses the package kernel; every run checks that kernel's
    # output against the simhash_one spec
    need = np.unique(np.concatenate([near_i, same_i, [hot_i]]))
    fps = dict(zip(need, simhash_batch(docs.content.iloc[need].tolist())))

    def fp_of(ix):
        return np.array([fps[i] for i in ix], dtype=np.int64)

    recrawl = pd.DataFrame(
        {
            "repo": docs.repo.iloc[np.concatenate([same_i, chg_i])].to_numpy(),
            "path": docs.path.iloc[np.concatenate([same_i, chg_i])].to_numpy(),
            "fingerprint": np.concatenate(
                [fp_of(same_i), rng.integers(-(2**63), 2**63 - 1, size=len(chg_i), dtype=np.int64)]
            ),
            "kind": ["same"] * len(same_i) + ["changed"] * len(chg_i),
        }
    )
    near_fp = _flip_bits(rng, fp_of(near_i))
    # the hot bucket: band 0 of one batch doc's fingerprint, the other
    # 48 bits random
    top = np.int64(fps[hot_i]).view(np.uint64) & np.uint64(0xFFFF << 48)
    hot = (top | rng.integers(0, 2**48, size=HOT_ROWS, dtype=np.uint64)).view(np.int64)
    n_rand = BASE_ROWS - len(recrawl) - len(near_fp) - HOT_ROWS
    rand_fp = rng.integers(-(2**63), 2**63 - 1, size=n_rand, dtype=np.int64)
    anon_fp = np.concatenate([near_fp, hot, rand_fp])
    n_anon = len(anon_fp)
    # ids of anonymous rows: random positive int63 (the program's ids are
    # xxhash64 values; a collision has probability ~1e-7 per round)
    anon = pd.DataFrame(
        {
            "doc_id": rng.integers(1, 2**63 - 1, size=n_anon, dtype=np.int64),
            "entity_id": rng.integers(1, 2**63 - 1, size=n_anon, dtype=np.int64),
            "fingerprint": anon_fp,
            "score": rng.random(n_anon),
        }
    )
    recrawl["doc_id"] = rng.integers(1, 2**63 - 1, size=len(recrawl), dtype=np.int64)
    recrawl["score"] = rng.random(len(recrawl))
    meta = {
        "near": [docs.iloc[i][["repo", "path", "commit"]].tolist() for i in near_i],
        "near_fp": near_fp.tolist(),
        "same": len(same_i),
        "changed": len(chg_i),
        "hot_rows": HOT_ROWS,
    }
    return recrawl, anon, meta


def inputs(cache_root: str, kind: str, seed: int) -> str:
    """Directory holding the generated inputs of `kind` ('batch' or
    'incr') for `seed`; generated once, then read from the cache."""
    out = os.path.join(cache_root, f"{kind}-v{CACHE_VERSION}-s{seed}")
    seed %= 2**32
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = out + ".tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    if kind == "batch":
        docs, man = _corpus(cache_root, kind, seed, BATCH_DOCS, BATCH_BLOCK)
        _write_docs(docs, os.path.join(tmp, "documents"))
        man.to_parquet(os.path.join(tmp, "manifest.parquet"), index=False)
    elif kind == "incr":
        docs, man = _corpus(cache_root, kind, seed, INCR_DOCS, INCR_BLOCK)
        _write_docs(docs, os.path.join(tmp, "documents"))
        man.to_parquet(os.path.join(tmp, "manifest.parquet"), index=False)
        recrawl, anon, meta = _incr_plan(seed, docs, man)
        recrawl.to_parquet(os.path.join(tmp, "recrawl.parquet"), index=False)
        anon.to_parquet(os.path.join(tmp, "base_anon.parquet"), index=False)
        with open(os.path.join(tmp, "plan.json"), "w") as f:
            json.dump(meta, f)
    else:
        raise ValueError(kind)
    open(os.path.join(tmp, "_DONE"), "w").close()
    os.rename(tmp, out)
    return out
