"""multi_match at scale: wall of the exhaustive per-field TAAT combiner.

Builds a 2-field index (text, title = first 40 chars) over N seed-42
synthetic pages, runs the 50-query flagship set (best_fields +
most_fields, title boost 2) and prints the walls as ONE JSON line —
the baseline a pruned multi_match has to beat at the same shape.

Usage: python bench/multimatch_at_scale.py [n_pages] [cpus] [k]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 10

    import pandas as pd
    from pyspark.sql import functions as F

    from aarhus_spark.operators.multifield import (MULTIFIELD_MANIFEST,
                                                   build_field_indexes,
                                                   search_multi_match)
    from aarhus_spark.session import get_spark
    from aarhus_spark.sources.fixtures import gen_pages_spark, gen_queries

    extra = {}
    if os.path.isdir("/dev/shm"):
        extra["spark.local.dir"] = "/dev/shm/aarhus_mm_shuffle"
    spark = get_spark("mm-at-scale", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 8), extra=extra)
    spark.sparkContext.setLogLevel("ERROR")

    out = f"/tmp/aarhus_mm_scale_{n_pages}"
    if not os.path.exists(os.path.join(out, MULTIFIELD_MANIFEST)):
        pages = gen_pages_spark(spark, n_pages, partitions=2 * cpus)
        t0 = time.time()
        build_field_indexes(spark, pages, out, fields={
            "text": F.col("text"),
            "title": F.substring(F.col("text"), 1, 40)})
        print(json.dumps({"built_s": round(time.time() - t0, 1)}),
              file=sys.stderr)
    qdf = spark.createDataFrame(gen_queries(pd.DataFrame()))

    results = {}
    for mode in ("best_fields", "most_fields"):
        kw = dict(k=k, boosts={"title": 2.0}, mode=mode)
        t0 = time.time()
        rows = search_multi_match(spark, out, qdf, **kw).collect()
        results[mode] = {"exhaustive_s": round(time.time() - t0, 2),
                         "rows": len(rows)}
        print(json.dumps({mode: results[mode]}), file=sys.stderr)

    print(json.dumps({"metric": "multi_match_exhaustive",
                      "n_pages": n_pages, "cpus": cpus, "k": k,
                      "results": results,
                      "loadavg": os.getloadavg()}))
    spark.stop()


if __name__ == "__main__":
    main()
