"""Per-layer numbers read from an index on disk or measured on the
driver, without Spark: the build's own ``metrics.jsonl`` (read only),
the sizes of the index sinks, and single-thread rates of the posting
codec and the tokenizer on this corpus."""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

from aarhus_spark.codec import decode_block, encode_blocks
from aarhus_spark.textops import tokenize_series

# metrics.jsonl stage name -> per-layer suffix
BUILD_STAGES = {
    "prepare+docids+doclens": "prepare",
    "head-detect": "head_detect",
    "fragments": "fragments",
    "merge+segments": "merge",
    "dictionary": "dictionary",
}
COMPACT_STAGES = {
    "compact:docid-map+doclens": "docid_map",
    "compact:head-detect": "head_detect",
    "fragments": "fragments",
    "merge+segments": "merge",
    "dictionary": "dictionary",
}
# single-thread codec and tokenizer probes stop after this much work
PROBE_BUDGET_S = 0.5


def stage_metrics(index_dir: str, names: dict[str, str]) -> dict[str, float]:
    """``{suffix}_s`` stage walls and total ``spill_bytes`` of the last
    build recorded in ``index_dir/metrics.jsonl``."""
    with open(os.path.join(index_dir, "metrics.jsonl")) as f:
        rows = [json.loads(line) for line in f if line.strip()]
    out = {f"{v}_s": 0.0 for v in names.values()}
    out["spill_bytes"] = 0.0
    for r in rows[-len(names):]:
        if r["stage"] in names:
            out[f"{names[r['stage']]}_s"] = float(r["wall_s"])
            out["spill_bytes"] += r.get("mem_spill_bytes", 0) + r.get("disk_spill_bytes", 0)
    return out


def _tree_bytes(path: str) -> tuple[int, int]:
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


def index_bytes(index_dir: str) -> int:
    """Bytes of the index's data sinks (postings, docmap, dictionary);
    bookkeeping files holding timings are left out."""
    return sum(_tree_bytes(os.path.join(index_dir, d))[0]
               for d in ("segments", "fragments", "doclens", "dictionary"))


def index_metrics(index_dir: str) -> dict[str, float]:
    out = {f"{d}_bytes": float(_tree_bytes(os.path.join(index_dir, d))[0])
           for d in ("segments", "fragments", "doclens")}
    out["files"] = float(_tree_bytes(index_dir)[1])
    return out


def codec_rates(index_dir: str, avgdl: float) -> dict[str, float]:
    """Million postings per second through ``decode_block`` over the
    index's posting payloads, and through ``encode_blocks`` re-encoding
    what was decoded."""
    decoded, n_dec, t_dec = [], 0, 0.0
    for sub in ("segments", "fragments"):
        tab = ds.dataset(os.path.join(index_dir, sub), format="parquet") \
            .to_table(columns=["blocks", "postings"])
        for blocks, payload in zip(tab.column("blocks").to_pylist(),
                                   tab.column("postings").to_pylist()):
            t0 = time.perf_counter()
            parts = [decode_block(payload, b["offset"]) for b in blocks]
            t_dec += time.perf_counter() - t0
            docids, tfs, dls = (np.concatenate(p) for p in zip(*parts))
            decoded.append((docids, tfs, dls))
            n_dec += docids.size
            if t_dec > PROBE_BUDGET_S:
                break
    n_enc, t_enc = 0, 0.0
    for docids, tfs, dls in decoded:
        t0 = time.perf_counter()
        encode_blocks(docids, tfs, dls, avgdl)
        t_enc += time.perf_counter() - t0
        n_enc += docids.size
        if t_enc > PROBE_BUDGET_S:
            break
    return {"decode_mpostings_per_s": n_dec / t_dec / 1e6,
            "encode_mpostings_per_s": n_enc / t_enc / 1e6}


def tokenize_rate(texts: list[str]) -> float:
    """MB of text per second through ``tokenize_series``."""
    n_bytes, spent = 0, 0.0
    for i in range(0, len(texts), 256):
        chunk = pd.Series(texts[i:i + 256])
        t0 = time.perf_counter()
        tokenize_series(chunk)
        spent += time.perf_counter() - t0
        n_bytes += int(chunk.str.len().sum())
        if spent > PROBE_BUDGET_S:
            break
    return n_bytes / spent / 1e6
