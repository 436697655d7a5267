"""Round-8 optimization regression tests.

The round-8 changes are performance-only; these tests pin that each
rewritten internal is value-identical to the straightforward path it
replaced:

1. ``local_df`` — LocalRelation construction of small driver frames
   from a pyarrow table — matches ``createDataFrame(list, schema)``
   row-for-row for every schema shape the operators feed it (ints,
   strings, nullable doubles, array<string>, empty input), and stays a
   LocalRelation with Arrow conversion off.
2. ``localize_queries`` passes an already-local frame through untouched
   and reproduces an RDD-backed frame's rows and schema exactly.
3. ``minhash_lsh_dedup``'s fused single-action pipeline equals the
   eager two-step composition (shingles → candidate pairs → verify).
4. The ES aggs that eagerly checkpoint a self-computed match set
   (significant_terms as the representative) return the same rows as
   the caller-supplied ``matched=`` path.
"""

from __future__ import annotations

import pandas as pd
import pytest


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ---------------------------------------------------------------------------
# 1. local_df ≡ createDataFrame(list, schema)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("rows,schema", [
    ([(1, "hash"), (2, "join")], "query_id long, term string"),
    ([(0, 0, 99), (1, 100, 199)], "rng int, lo long, hi long"),
    ([(1, "k", None, 2.5), (2, "m", 1.0, None)],
     "brank long, bucket string, lo double, hi double"),
    ([], "rng int, lo long, hi long"),
    ([(1, ["a", "b"]), (2, [])], "query_id long, qterms array<string>"),
])
def test_local_df_matches_list_path(spark, rows, schema):
    from aarhus_spark.operators.search import local_df
    got = local_df(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)


def test_local_df_is_job_free_local_relation(spark):
    """A LocalRelation whatever the session's Arrow setting — with
    Arrow conversion off a pandas-built frame falls back to an RDD."""
    from aarhus_spark.operators.search import local_df
    conf = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(conf)
    try:
        for arrow in ("true", "false"):
            spark.conf.set(conf, arrow)
            df = local_df(spark, [(1, "a")], "query_id long, term string")
            plan = df._jdf.queryExecution().optimizedPlan()
            assert plan.getClass().getSimpleName() == "LocalRelation", arrow
    finally:
        spark.conf.set(conf, prev)


# ---------------------------------------------------------------------------
# 2. localize_queries
# ---------------------------------------------------------------------------

def test_localize_queries_passthrough_and_rdd(spark):
    from aarhus_spark.operators.search import local_df, localize_queries
    loc = local_df(spark, [(1, "a b")], "query_id long, qtext string")
    assert localize_queries(spark, loc) is loc          # no-op when local
    rdd_backed = spark.createDataFrame(
        [(1, "a b"), (2, None)], "query_id long, qtext string")
    out = localize_queries(spark, rdd_backed)
    assert out is not rdd_backed
    assert out.schema == rdd_backed.schema
    assert _rows(out) == _rows(rdd_backed)              # None preserved
    plan = out._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"


# ---------------------------------------------------------------------------
# 3. fused minhash pipeline ≡ eager composition
# ---------------------------------------------------------------------------

def test_minhash_fused_equals_eager(spark):
    from aarhus_spark.operators import dedup as D
    from pyspark import StorageLevel
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(8),
        "text": ["the quick brown fox jumps over the lazy dog"] * 3
                + ["the quick brown fox jumps over the lazy cat"] * 2
                + ["entirely different text body number %d here now" % i
                   for i in range(3)],
    }))
    fused = _rows(D.minhash_lsh_dedup(docs, max_bucket=3))
    sh = D.shingles(docs).persist(StorageLevel.MEMORY_AND_DISK)
    sig = D.minhash_signatures(sh, 8)
    cand = D.lsh_candidate_pairs(sig, 8, 2, max_bucket=3)   # eager path
    eager = _rows(D.jaccard_verify(cand, sh, 0.5))
    sh.unpersist()
    assert fused == eager and len(fused) > 0


# ---------------------------------------------------------------------------
# 4. checkpointed self-computed match set ≡ matched= path
# ---------------------------------------------------------------------------

def test_spilltracker_incremental_sees_forced_spill(spark):
    """The r8 incremental SpillTracker (early-stop stage scan) observes
    a genuinely forced spill in its delta, agrees with the full-scan
    spill_totals reader, and reports zero when nothing new ran."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    from aarhus_spark.metrics import SpillTracker, spill_totals
    tr = SpillTracker(spark)
    full_before = spill_totals(spark)
    old = spark.conf.get("spark.sql.windowExec.buffer.spill.threshold", None)
    try:
        spark.conf.set("spark.sql.windowExec.buffer.spill.threshold", "2048")
        spark.conf.set("spark.sql.windowExec.buffer.in.memory.threshold",
                       "2048")
        w = (Window.partitionBy(F.expr("id % 2")).orderBy("id")
             .rowsBetween(Window.unboundedPreceding, 0))
        (spark.range(150_000)
         .withColumn("rs", F.sum("id").over(w))
         .agg(F.max("rs")).collect())
    finally:
        if old is not None:
            spark.conf.set("spark.sql.windowExec.buffer.spill.threshold", old)
        spark.conf.unset("spark.sql.windowExec.buffer.in.memory.threshold")
    d = tr.delta()
    full_after = spill_totals(spark)
    assert d["disk_spill_bytes"] > 0
    assert d["disk_spill_bytes"] == full_after[1] - full_before[1]
    assert tr.delta() == {"mem_spill_bytes": 0, "disk_spill_bytes": 0}


def test_has_head_skip_is_value_identical(spark, tmpdir_session):
    """stats.json records has_head; planning skips the empty segments
    overlay, and results are identical to the pre-r8 always-scan path
    (simulated by deleting the key)."""
    import json
    import os
    import shutil
    from aarhus_spark.operators.build import build_index
    from aarhus_spark.operators.search import search_taat
    from aarhus_spark.sources.fixtures import gen_pages, gen_queries
    out = os.path.join(tmpdir_session, "r8_hh_idx")
    shutil.rmtree(out, ignore_errors=True)
    # 150 docs: max possible df (150) < the 2·BLOCK_SIZE+1 head-threshold
    # floor, so the index is guaranteed head-free
    pdf = gen_pages(150)
    build_index(spark, spark.createDataFrame(pdf), out)
    sp = os.path.join(out, "stats.json")
    st = json.load(open(sp))
    assert st["has_head"] is False
    qdf = spark.createDataFrame(gen_queries(pdf).head(5))
    skipped = _rows(search_taat(spark, out, qdf))
    st.pop("has_head")
    json.dump(st, open(sp, "w"))            # pre-r8 index: key absent
    try:
        legacy = _rows(search_taat(spark, out, qdf))
    finally:
        st["has_head"] = False
        json.dump(st, open(sp, "w"))
    assert skipped == legacy and len(skipped) > 0


def test_sigterms_checkpointed_matched_identical(spark, tmpdir_session):
    import os
    import shutil
    from aarhus_spark.operators.build import build_index
    from aarhus_spark.operators.eslayer import (search_matches,
                                                search_significant_terms)
    from aarhus_spark.sources.fixtures import gen_pages
    out = os.path.join(tmpdir_session, "r8_sig_idx")
    if not os.path.exists(os.path.join(out, "stats.json")):
        shutil.rmtree(out, ignore_errors=True)
        pdf = gen_pages(300)
        build_index(spark, spark.createDataFrame(pdf), out)
    pages = spark.createDataFrame(gen_pages(300)[["url", "text"]])
    qdf = spark.createDataFrame([(0, "the data"), (1, "hash table")],
                                "query_id long, qtext string")
    auto = _rows(search_significant_terms(spark, out, qdf, pages, n_terms=5))
    m = search_matches(spark, out, qdf).persist()
    manual = _rows(search_significant_terms(spark, out, qdf, pages,
                                            n_terms=5, matched=m))
    m.unpersist()
    assert auto == manual and len(auto) > 0
