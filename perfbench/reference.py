"""Independent reference answers for every timed result.

The engine never sees anything built here. The pages are generated in
pandas with ``gen_pages_block``, the per-row generator behind
``gen_pages_spark`` (every field derives only from (seed, row id), so
the rows equal the Spark corpus under any partitioning, without going
through Spark or parquet). The answers come from the single-node NumPy
oracle (``aarhus_spark.oracle``) or from brute force over its token
lists.

Ranked results are compared with near-tie tolerance: at each rank the
engine's document must carry the reference score of that rank (1e-9
relative), so two documents whose scores differ only in the last bits
may swap places, but no other difference passes.
"""

from __future__ import annotations

import os
import pickle
import re
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pandas as pd

from aarhus_spark import oracle
from aarhus_spark.config import TOP_K
from aarhus_spark.scoring import idf, partial
from aarhus_spark.sources.fixtures import gen_pages_block
from aarhus_spark.textops import tokenize

REL_TOL = 1e-9
HOST_RE = re.compile(r"^https?://([^/]+)")
FACET_BUCKETS = 10
# base/holdout split: the trailing row id of the url; the holdout tenth
# is what an incremental (delta) build adds to the base index
HOLDOUT_MOD = 10


def is_base_url(url: str) -> bool:
    return int(url.rsplit("/", 1)[1]) % HOLDOUT_MOD != 0


@dataclass
class Reference:
    """The corpus, and oracle indexes of it and of its base part."""
    pages: pd.DataFrame             # the pages rows, as the engine's corpus holds them
    full: oracle.OracleIndex
    base: oracle.OracleIndex
    text_bytes: int                 # utf-8 bytes of every page's text
    base_text_bytes: int            # the same over the base pages
    docstore: pd.DataFrame          # (url, text) of each url's latest crawl


def _build(n_pages: int, seed: int) -> Reference:
    pdf = gen_pages_block(np.arange(n_pages, dtype=np.int64), seed)
    rows = pdf.to_dict("records")
    base_rows = [r for r in rows if is_base_url(r["url"])]
    latest = pdf.sort_values(["url", "warc_ts", "text"]).drop_duplicates("url", keep="last")
    return Reference(pages=pdf, full=oracle.build(rows), base=oracle.build(base_rows),
                     text_bytes=sum(len(t.encode()) for t in pdf["text"]),
                     base_text_bytes=sum(len(r["text"].encode()) for r in base_rows),
                     docstore=latest[["url", "text"]].reset_index(drop=True))


def load_reference(cache_dir: str, n_pages: int, seed: int) -> Reference:
    """Reference for (seed, size), cached on disk between runs."""
    path = os.path.join(cache_dir, f"reference-n{n_pages}-s{seed}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    ref = _build(n_pages, seed)
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "wb") as f:
        pickle.dump(ref, f, protocol=pickle.HIGHEST_PROTOCOL)
    os.replace(tmp, path)
    return ref


# ---------------------------------------------------------------------------
# expected answers
# ---------------------------------------------------------------------------

def ranked_topk(oi: oracle.OracleIndex, qtext: str) -> list[tuple[int, float]]:
    """Every match of a disjunctive BM25 query, best first."""
    return [(d, s) for _, d, s in oracle.search(oi, qtext, k=1 << 62)]


def ranked_phrase(oi: oracle.OracleIndex, qtext: str) -> list[tuple[int, float]]:
    """match_phrase by brute force over the token lists: a doc matches
    iff the analyzed phrase occurs as a contiguous run; its score is
    the BM25 sum over the phrase's distinct terms (sorted), with the
    full in-doc term frequency."""
    q = tokenize(qtext)
    if not q:
        return []
    n = len(q)
    terms = sorted(set(q))
    if any(t not in oi.postings for t in terms):
        return []
    # only docs holding every phrase term can match; the match itself
    # is decided on the raw token list
    rarest = min(terms, key=lambda t: oi.df[t])
    out = []
    for d in oi.postings[rarest][0].tolist():
        toks = oi.tokens[d]
        if not any(toks[a:a + n] == q for a in range(len(toks) - n + 1)):
            continue
        tf = Counter(toks)
        s = 0.0
        for t in terms:
            s += float(idf(oi.df[t], oi.n_docs)
                       * partial(tf[t], len(toks), oi.avgdl))
        out.append((d, s))
    out.sort(key=lambda r: (-r[1], r[0]))
    return out


def facet_counts(oi: oracle.OracleIndex, qtext: str,
                 n_buckets: int = FACET_BUCKETS) -> list[tuple[str, int, int]]:
    """Host buckets over the full disjunctive match set, counted with
    pandas: [(bucket, doc_count, brank)] by (count desc, bucket asc)."""
    docs: set[int] = set()
    for t in set(tokenize(qtext)):
        if t in oi.postings:
            docs.update(oi.postings[t][0].tolist())
    if not docs:
        return []
    hosts = pd.Series([HOST_RE.match(oi.urls[d]).group(1) for d in docs])
    counts = hosts.value_counts().reset_index()
    counts.columns = ["bucket", "doc_count"]
    counts = counts.sort_values(["doc_count", "bucket"],
                                ascending=[False, True]).head(n_buckets)
    return [(b, int(c), i + 1) for i, (b, c) in
            enumerate(zip(counts["bucket"], counts["doc_count"]))]


# ---------------------------------------------------------------------------
# comparisons: each returns None when the result is right, else a reason
# ---------------------------------------------------------------------------

def _close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(abs(a), abs(b), 1e-300)


def check_ranked(got: list[tuple[int, int, float | None]],
                 expected: list[tuple[int, float]], k: int = TOP_K) -> str | None:
    """``got`` = [(rank, docid, score or None)]; ``expected`` = every
    match best first. A None score (highlight rows carry none) is
    checked through the reference score of the returned docid."""
    want = expected[:k]
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    score_of = dict(expected)
    seen = set()
    for i, (rank, docid, score) in enumerate(sorted(got)):
        if rank != i + 1:
            return f"ranks not 1..n: {sorted(r for r, _, _ in got)}"
        if docid in seen or docid not in score_of:
            return f"rank {rank}: docid {docid} is not a distinct match"
        seen.add(docid)
        ref = score_of[docid]
        if not _close(ref, want[i][1]):
            return f"rank {rank}: docid {docid} scores {ref}, rank wants {want[i][1]}"
        if score is not None and not _close(score, ref):
            return f"rank {rank}: docid {docid} score {score} != {ref}"
    return None


def check_snippets(oi: oracle.OracleIndex, qtext: str,
                   rows: list[tuple[int, int, str]]) -> str | None:
    """Each snippet must wrap an analyzed query term that the hit
    document contains in <em>…</em>."""
    qterms = set(tokenize(qtext))
    for rank, docid, snippet in rows:
        marked = set(re.findall(r"<em>([a-z0-9]+)</em>", snippet or ""))
        if not marked or not marked <= qterms or not marked & set(oi.tokens[docid]):
            return f"rank {rank}: snippet {snippet!r} marks no query term"
    return None


def check_stats(stats: dict, oi: oracle.OracleIndex) -> str | None:
    want = {"N": oi.n_docs, "avgdl": oi.avgdl, "n_terms": len(oi.postings)}
    for key, ref in want.items():
        got = stats.get(key)
        if got is None or not _close(float(got), float(ref)):
            return f"stats {key}={got}, oracle {ref}"
    return None
