"""Single-process pandas reference extractor — the trusted oracle.

The analogue of the reference worker itself: a plain, eager,
one-entity-at-a-time implementation of every engine operator, written
with none of the engine's code paths (pandas groupby loops instead of
Spark). Golden fixtures and property tests compare the engine against
this (mirroring tests/unit/feature_extraction_test.py:33-62: exact on
keys, allclose on float features).
"""

from __future__ import annotations

import re
import zlib

import numpy as np
import pandas as pd

SESSION_GAP_S = 1800.0
# Unicode White_Space, the set Java's (?U)\s matches. str.split() would
# also split on U+001C..U+001F, which are not White_Space.
_WHITE_SPACE = re.compile(
    "[\t\n\x0b\x0c\r \x85\xa0\u1680\u2000-\u200a\u2028\u2029\u202f\u205f\u3000]+"
)


def sort_transcripts(t: pd.DataFrame) -> pd.DataFrame:
    return t.sort_values(["conv_id", "ts", "turn_idx"], kind="mergesort").reset_index(
        drop=True
    )


def asof_join_ref(
    left: pd.DataFrame,
    right: pd.DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_order: str,
) -> pd.DataFrame:
    """Brute-force nested-loop as-of join (O(n*m) per entity)."""
    out_rows = []
    r_by_key = dict(tuple(right.groupby(on)))
    r_extra = [c for c in right.columns if c not in (on, right_ts)]
    for _, lrow in left.iterrows():
        cand = r_by_key.get(lrow[on])
        match = None
        if cand is not None:
            ok = cand[cand[right_ts] <= lrow[left_ts]]
            if len(ok):
                mx = ok[ok[right_ts] == ok[right_ts].max()]
                match = mx.sort_values(right_order).iloc[-1]
        row = dict(lrow)
        row["matched_ts"] = match[right_ts] if match is not None else pd.NaT
        for c in r_extra:
            row[c] = match[c] if match is not None else None
        out_rows.append(row)
    return pd.DataFrame(out_rows)


def sessionize_ref(t: pd.DataFrame, gap_s: float = SESSION_GAP_S) -> pd.DataFrame:
    """Per-conv gap sessionization, O(n) scan."""
    t = sort_transcripts(t)
    out = []
    for _conv, g in t.groupby("conv_id", sort=True):
        ts = g["ts"].astype("datetime64[us]").astype("int64").to_numpy() / 1e6
        sess = np.zeros(len(g), dtype=np.int64)
        cur = 0
        for i in range(1, len(g)):
            if ts[i] - ts[i - 1] > gap_s:
                cur += 1
            sess[i] = cur
        gg = g.copy()
        gg["session_id"] = sess
        out.append(gg)
    return pd.concat(out).reset_index(drop=True)


def text_features_ref(t: pd.DataFrame) -> pd.DataFrame:
    """Per-turn text features in plain Python — tokens split on Unicode
    White_Space, ``crc32(utf8) % 16`` bag l2-normalized, chars, role
    code, has_tool — the columns ``kernel.with_text_features`` computes
    in the JVM."""
    text = t["text"].fillna("").to_numpy(dtype=object)
    bag = np.zeros((len(t), 16))
    for i, s in enumerate(text):
        for tok in filter(None, _WHITE_SPACE.split(s)):
            bag[i, zlib.crc32(tok.encode("utf-8")) % 16] += 1.0
    words = bag.sum(axis=1)
    norm = np.sqrt((bag * bag).sum(axis=1, keepdims=True))
    bag = np.divide(bag, norm, out=np.zeros_like(bag), where=norm > 0)
    roles = {"user": 0, "assistant": 1, "tool": 2, "system": 3}
    out = pd.DataFrame(
        {
            "conv_id": t["conv_id"].to_numpy(),
            "turn_idx": t["turn_idx"].to_numpy(),
            "ts": t["ts"].to_numpy(),
            "role_code": [roles.get(r, -1) for r in t["role"]],
            "has_tool": t["tool"].notna().astype(int).to_numpy(),
            "chars": [float(len(s)) for s in text],
            "words": words,
        }
    )
    for b in range(16):
        out[f"bag{b}"] = bag[:, b]
    return out


def features_ref(t: pd.DataFrame) -> pd.DataFrame:
    """Golden feature vectors: the Python text step above feeding the
    kernel's numpy oracle ``compute_features_numeric``, so the oracle's
    tokenizer is independent of the JVM. Kernel-math correctness is
    pinned separately by hand-computed cases in test_kernel.py."""
    from dane_visual_feature_extraction_worker_spark.kernel import (
        compute_features_numeric,
    )

    return compute_features_numeric(text_features_ref(t))
