"""Isolated min-of-3 wall timing for a subset of registry queries —
bench.py-identical methodology (same session factory, same forcing mode,
same warm-up, same gc discipline) for quiet-box re-adjudication of
individual walls without the full 136-query run. A query bench.py does
not time is forced with collect(). Usage:

    python tools/time_queries.py <query> [<query> ...]
"""
import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from nextgenetl_spark.session import get_spark  # noqa: E402
from nextgenetl_spark.workloads import load_all  # noqa: E402


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry = load_all()
    spark = get_spark("time_queries")
    spark.range(1000).selectExpr("sum(id)").collect()
    out = {}
    for name in names:
        mode = bench.HEADLINE.get(name, "collect")
        fn = registry[name].fn
        runs = []
        while len(runs) < (3 if not runs or runs[0] < 10.0 else 2):
            t0 = time.time()
            df = fn(spark, sf_dir)
            if mode == "collect":
                df.collect()
            else:
                df.count()
            runs.append(round(time.time() - t0, 3))
        out[name] = {"min": min(runs), "runs": runs}
        del df
        gc.collect()
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
