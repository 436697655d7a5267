"""Multi-field indexing + ES ``multi_match`` retrieval.

Reference parity: aarhus's real documents are multi-field emails
(from/to/subject/body) indexed into Elasticsearch, where a query
searches several fields at once and combines per-field BM25 scores —
``best_fields`` (dis-max: the best single field wins, optionally
blended with a ``tie_breaker``) or ``most_fields`` (sum) [PK — ES
multi_match]. SURVEY §2 Q11.

Spark-first design: one standard single-field index PER FIELD under
``out_root/field=<name>/``, all sharing ONE docid space — the corpus
membership and the url→docid map are decided once, on the canonical
``text`` field (frozen P2-P4 prepare semantics), and every field index
is built over exactly that document set.  Fields that are empty for a
document are indexed as a zero-token placeholder so the document keeps
its docid everywhere (dl=0 ⇒ it simply never matches in that field —
ES's behaviour for a missing field).  This reuses the entire existing
build/search stack unchanged: per-field df/avgdl/N statistics fall out
of each field's own index, exactly like Lucene's per-field postings.

Query side: per-field exact disjunctive BM25 (the TAAT path,
deterministic sorted fold) without top-k truncation, then one
hash-aggregation per (query, doc) combining per-field scores with a
deterministic field-sorted fold. The combination is EXACT (not a
rescoring of per-field top-k). Scale: per-field scoring is the same
O(query-term postings) stream the single-field engine ships; the
combine step is one extra shuffle keyed (query_id, docid) over docs
matching ≥1 field — the same key the per-field aggregation already
produced, so AQE coalesces it. A threshold combiner over per-field
WAND top-k' does not pay on this shape: a short title field puts
thousands of docs into one (tf, dl) score class, its per-field bound
never drops, and it measured slower than this path at 200k and 900k
docs (OPTIMIZATION_r08.md §7). The bound has to prune all fields
jointly — one WAND over field-tagged cursors.
"""

from __future__ import annotations

import json
import os

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# a single control char: passes the non-empty corpus guard, tokenizes
# to ZERO terms (the tokenizer only emits [a-z0-9]+ runs) — the
# "missing field" placeholder that keeps docid spaces aligned
EMPTY_FIELD_SENTINEL = "\x01"

MULTIFIELD_MANIFEST = "multifield.json"


def _field_dir(out_root: str, name: str) -> str:
    return os.path.join(out_root, f"field={name}")


def build_field_indexes(spark: SparkSession, pages: DataFrame,
                        out_root: str, fields: dict[str, Column],
                        **build_kw) -> dict:
    """Build one inverted index per field over a SHARED docid space.

    ``fields`` maps field name → Column expression producing that
    field's text from the canonical page row (columns: url, warc_ts,
    html, text, lang — ``text`` already extracted/deduped).  The first
    step applies the frozen P2-P4 prepare ONCE (lang filter, E(html)
    where text is null, empty-text guard, dedup-by-url latest-wins) so
    every field sees the same winning row per url; per-field builds
    then substitute the field expression as the page text (empty →
    :data:`EMPTY_FIELD_SENTINEL`, which indexes as dl=0) and run the
    standard :func:`~aarhus_spark.operators.build.build_index`.  Docids
    are assigned by lexicographic url order over identical url sets,
    so the per-field maps are identical by construction (asserted
    cheaply here via N).
    """
    from pyspark.sql.window import Window

    from ..textops import extract_series
    from .build import build_index

    import pyspark.sql.types as T

    @F.pandas_udf(T.StringType())
    def extract_udf(html: pd.Series) -> pd.Series:
        return extract_series(html)

    w = Window.partitionBy("url").orderBy(F.desc("warc_ts"),
                                          F.desc_nulls_last("text"))
    base = (
        pages
        .filter(F.col("lang") == "en")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1).drop("rn")
        .withColumn("text", F.when(F.col("text").isNull(),
                                   extract_udf(F.col("html")))
                    .otherwise(F.col("text")))
        .filter(F.col("text").isNotNull() & (F.length("text") > 0))
    )
    from pyspark import StorageLevel
    base = base.persist(StorageLevel.MEMORY_AND_DISK)
    stats: dict[str, dict] = {}
    try:
        for name, expr in fields.items():
            fpages = base.select(
                "url", "warc_ts",
                F.lit(None).cast("binary").alias("html"),
                F.coalesce(F.nullif(expr, F.lit("")),
                           F.lit(EMPTY_FIELD_SENTINEL)).alias("text"),
                F.lit("en").alias("lang"))
            stats[name] = build_index(spark, fpages,
                                      _field_dir(out_root, name), **build_kw)
        ns = {name: s["N"] for name, s in stats.items()}
        if len(set(ns.values())) > 1:   # pragma: no cover — by construction
            raise AssertionError(f"field corpora diverged: {ns}")
        with open(os.path.join(out_root, MULTIFIELD_MANIFEST), "w") as f:
            json.dump({"fields": list(fields), "N": next(iter(ns.values()))}, f)
    finally:
        base.unpersist()
    return stats


def list_fields(out_root: str) -> list[str]:
    with open(os.path.join(out_root, MULTIFIELD_MANIFEST)) as f:
        return json.load(f)["fields"]


def search_multi_match(spark: SparkSession, index_root: str,
                       queries: DataFrame, k: int = 10,
                       fields: list[str] | None = None,
                       boosts: dict[str, float] | None = None,
                       mode: str = "best_fields",
                       tie_breaker: float = 0.0) -> DataFrame:
    """ES ``multi_match`` top-k over a multi-field index.

    ``best_fields``: score = max over fields + tie_breaker · (sum of
    the other fields) — ES dis_max with tie_breaker (default 0.0 ⇒
    pure max). ``most_fields``: score = sum over fields. Per-field
    boosts multiply that field's BM25 score (ES ``fields=["f^2"]``).

    Exact, not a rescoring: every (query, doc, field) BM25 score is the
    full TAAT value and the cross-field fold runs over a
    field-name-sorted struct array, so FP summation order is
    deterministic (same device as the per-field term fold).
    """
    from pyspark.sql.window import Window

    from .search import search_taat

    if mode not in ("best_fields", "most_fields"):
        raise ValueError(f"unknown multi_match mode: {mode!r}")
    fields = fields or list_fields(index_root)
    boosts = boosts or {}
    per: list[DataFrame] = []
    for name in fields:
        s = search_taat(spark, _field_dir(index_root, name), queries,
                        k=(1 << 31) - 1)
        b = float(boosts.get(name, 1.0))
        per.append(s.select(
            "query_id", "docid", F.lit(name).alias("field"),
            (F.col("score") * F.lit(b)).alias("fscore")))
    u = per[0]
    for p in per[1:]:
        u = u.unionByName(p)
    fs = (u.groupBy("query_id", "docid")
          .agg(F.sort_array(F.collect_list(
              F.struct("field", "fscore"))).alias("fs")))
    total = F.aggregate("fs", F.lit(0.0), lambda a, x: a + x["fscore"])
    best = F.aggregate("fs", F.lit(0.0),
                       lambda a, x: F.greatest(a, x["fscore"]))
    if mode == "most_fields":
        scored = fs.withColumn("score", total)
    else:
        scored = fs.withColumn(
            "score", best + F.lit(float(tie_breaker)) * (total - best))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                               F.asc("docid"))
    return (scored.drop("fs")
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "docid", "score"))
