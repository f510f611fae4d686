"""Spark-free expectations and output checks.

The expected outputs come from independent implementations: the
package's `reference_impl.reference_dedup` for the batch pipeline, and a
numpy band-join model of the incremental round's documented semantics
(plans/incremental.py).  Fingerprints themselves are checked against
`fingerprint_core.simhash_one`, the executable spec, so a kernel change
cannot check itself against itself.  Every check returns a list of
failure strings; an empty list means the output is correct.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from simhash_text_dedup_spark.config import DedupConfig
from simhash_text_dedup_spark.fingerprint_core import simhash_one
from simhash_text_dedup_spark.reference_impl import Doc, reference_dedup

_POP8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


def popcount64(x: np.ndarray) -> np.ndarray:
    return _POP8[np.ascontiguousarray(x, dtype=np.int64).view(np.uint8)].reshape(-1, 8).sum(axis=1)


def band_keys(fp: np.ndarray, cfg: DedupConfig) -> np.ndarray:
    """(n, n_bands) band keys, band 0 = the top band_bits bits."""
    u = np.ascontiguousarray(fp, dtype=np.int64).view(np.uint64)
    total = cfg.n_bands * cfg.band_bits
    mask = np.uint64((1 << cfg.band_bits) - 1)
    return np.stack(
        [(u >> np.uint64(total - cfg.band_bits * (i + 1))) & mask for i in range(cfg.n_bands)],
        axis=1,
    ).astype(np.int64)


def band_join(left_fp: np.ndarray, right_fp: np.ndarray, cfg: DedupConfig):
    """(li, ri): distinct (left, right) index pairs sharing at least one
    band key."""
    lk, rk = band_keys(left_fp, cfg), band_keys(right_fp, cfg)
    li, ri = [], []
    for b in range(cfg.n_bands):
        m = pd.DataFrame({"k": lk[:, b], "l": np.arange(len(lk))}).merge(
            pd.DataFrame({"k": rk[:, b], "r": np.arange(len(rk))}), on="k"
        )
        li.append(m.l.to_numpy())
        ri.append(m.r.to_numpy())
    pairs = np.unique(
        np.stack([np.concatenate(li), np.concatenate(ri)], axis=1), axis=0
    )
    return pairs[:, 0], pairs[:, 1]


def pair_set(df: pd.DataFrame) -> set[tuple[int, int]]:
    return set(zip(df.a_id.tolist(), df.b_id.tolist()))


# ---------------------------------------------------------------- spec


def spec_failures(sample: pd.DataFrame, fp_by_doc: dict[int, int]) -> list[str]:
    """sample: doc_id, content.  Every sampled fingerprint must equal
    simhash_one(content)."""
    bad = [
        d for d, c in zip(sample.doc_id, sample.content)
        if fp_by_doc.get(d) != simhash_one(c)
    ]
    return [f"{len(bad)}/{len(sample)} sampled fingerprints differ from simhash_one"] if bad else []


# --------------------------------------------------------------- batch


def batch_expected(fps: pd.DataFrame, cfg: DedupConfig) -> dict:
    """fps: doc_id, fingerprint, score, is_new (the pipeline's
    fingerprint table, already spec-checked)."""
    gold = reference_dedup(
        [Doc(int(d), int(f), float(s), bool(n)) for d, f, s, n in zip(
            fps.doc_id, fps.fingerprint, fps.score, fps.is_new)],
        hamming_k=cfg.hamming_k,
        n_bands=cfg.n_bands,
        band_bits=cfg.band_bits,
        spam_threshold=cfg.spam_threshold,
        selection="cc",
    )
    return {
        "fps": dict(zip(fps.doc_id.tolist(), fps.fingerprint.tolist())),
        "clusters": gold.clusters,
        "actions": gold.actions,
        "kills": set(gold.spam_kills),
        "pairs": gold.pairs,
    }


def batch_failures(out: dict, exp: dict) -> list[str]:
    """out: fps(doc_id, fingerprint), clusters(doc_id, cluster_id,
    action), pairs(a_id, b_id), kills(doc_id, ref_doc_id)."""
    f = []
    if dict(zip(out["fps"].doc_id.tolist(), out["fps"].fingerprint.tolist())) != exp["fps"]:
        f.append("fingerprints changed between passes")
    cl = out["clusters"]
    if dict(zip(cl.doc_id.tolist(), cl.cluster_id.tolist())) != exp["clusters"]:
        f.append("clusters differ from reference_dedup")
    if dict(zip(cl.doc_id.tolist(), cl.action.tolist())) != exp["actions"]:
        f.append("actions differ from reference_dedup")
    if set(zip(out["kills"].doc_id.tolist(), out["kills"].ref_doc_id.tolist())) != exp["kills"]:
        f.append("spam kills differ from reference_dedup")
    if not pair_set(out["pairs"]) <= exp["pairs"]:
        f.append("a pair outside the reference pair set")
    return f


def planted_failures(manifest: pd.DataFrame, clusters: dict, kills: set) -> list[str]:
    """manifest: family, doc_id.  F-NEAR / F-CHAIN / F-EXACT / F-WS
    families fall in one cluster each (every pair found), F-BORDER
    members in distinct clusters (no pair), every flood keeps exactly
    one survivor."""
    killed = {d for d, _ in kills}
    f = []
    for fam, grp in manifest.groupby("family"):
        kind = fam.rsplit("-", 1)[0]
        ids = grp.doc_id.tolist()
        if kind == "F-EXACT-FLOOD":
            if sum(i not in killed for i in ids) != 1:
                f.append(f"{fam}: flood not killed down to one doc")
        elif kind in ("F-EXACT", "F-WS", "F-NEAR", "F-CHAIN"):
            if len({clusters.get(i) for i in ids}) != 1:
                f.append(f"{fam}: planted pair not found")
        elif kind == "F-BORDER":
            if len({clusters.get(i) for i in ids}) != len(ids):
                f.append(f"{fam}: Hamming>3 pair clustered")
    return f


# --------------------------------------------------------- incremental


def incr_expected(new: pd.DataFrame, base: pd.DataFrame, cfg: DedupConfig) -> dict:
    """Model of one run_incremental round ('cc' selection).

    new:  doc_id, entity_id, fingerprint, score (the round's new
          fingerprint table, already spec-checked)
    base: doc_id, entity_id, fingerprint, score (the loaded corpus)
    """
    base_keys = set(zip(base.entity_id.tolist(), base.fingerprint.tolist()))
    unload = {
        d for d, e, fp in zip(new.doc_id, new.entity_id, new.fingerprint)
        if (e, fp) in base_keys
    }
    g = new.groupby("fingerprint").doc_id
    cnt, first = g.transform("size"), g.transform("min")
    kill = ((cnt > cfg.spam_threshold) & (new.doc_id != first)).to_numpy()
    kills = set(zip(new.doc_id[kill].tolist(), first[kill].tolist()))
    surv = new[~kill]
    loaded = surv.entity_id.isin(set(base.entity_id)).to_numpy()
    live = base[~base.entity_id.isin(set(new.entity_id))]

    a_id, a_fp, a_sc = (surv[c].to_numpy() for c in ("doc_id", "fingerprint", "score"))
    b_id = np.concatenate([a_id, live.doc_id.to_numpy()])
    b_fp = np.concatenate([a_fp, live.fingerprint.to_numpy()])
    b_sc = np.concatenate([a_sc, live.score.to_numpy()])
    b_new = np.arange(len(b_id)) < len(a_id)
    b_loaded = np.concatenate([loaded, np.ones(len(live), dtype=bool)])
    li, ri = band_join(a_fp, b_fp, cfg)
    ok = (
        (popcount64(a_fp[li] ^ b_fp[ri]) <= cfg.hamming_k)
        & (a_id[li] != b_id[ri])
        & (~b_new[ri] | (a_id[li] < b_id[ri]))
    )
    li, ri = li[ok], ri[ok]
    a_wins = (a_sc[li] > b_sc[ri]) | ((a_sc[li] == b_sc[ri]) & (a_id[li] < b_id[ri]))
    loser = np.where(a_wins, b_id[ri], a_id[li])
    loser_loaded = np.where(a_wins, b_loaded[ri], loaded[li])
    delete = set(loser[~loser_loaded].tolist())

    committed = surv[~surv.doc_id.isin(delete)]
    stale = base.entity_id.isin(set(committed.entity_id))
    return {
        "fps": dict(zip(new.doc_id.tolist(), new.fingerprint.tolist())),
        "unload": unload,
        "kills": kills,
        "pairs": set(zip(a_id[li].tolist(), b_id[ri].tolist())),
        "delete": delete,
        "modify": set(loser[loser_loaded].tolist()),
        "committed": len(committed),
        "live_after_commit": len(base) - int(base.doc_id[stale].nunique()) + len(committed),
    }


def incr_failures(out: dict, exp: dict) -> list[str]:
    """out: fps, unload, kills, pairs, delete, modify frames."""
    f = []
    if dict(zip(out["fps"].doc_id.tolist(), out["fps"].fingerprint.tolist())) != exp["fps"]:
        f.append("fingerprints changed between passes")
    if set(out["unload"].doc_id.tolist()) != exp["unload"]:
        f.append("unload list differs from the model")
    if set(zip(out["kills"].doc_id.tolist(), out["kills"].ref_doc_id.tolist())) != exp["kills"]:
        f.append("spam kills differ from the model")
    if pair_set(out["pairs"]) != exp["pairs"]:
        f.append("pair set differs from the model")
    if set(out["delete"].doc_id.tolist()) != exp["delete"]:
        f.append("delete list differs from the model")
    if set(out["modify"].doc_id.tolist()) != exp["modify"]:
        f.append("modify list differs from the model")
    return f


def incr_planted_failures(exp: dict, plan: dict, near_pairs: set, n_flood_kills: int) -> list[str]:
    """The planted mix shows up: every re-crawl with an unchanged
    fingerprint is unloaded, every flood dies down to one doc, every
    planted base near-duplicate pairs with its batch doc."""
    f = []
    if len(exp["unload"]) != plan["same"]:
        f.append(f"unload count {len(exp['unload'])} != planted {plan['same']}")
    if len(exp["kills"]) != n_flood_kills:
        f.append(f"spam kills {len(exp['kills'])} != planted {n_flood_kills}")
    missing = near_pairs - exp["pairs"]
    if missing:
        f.append(f"{len(missing)}/{len(near_pairs)} planted near-duplicates not paired")
    return f
