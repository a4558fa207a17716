"""Time a subset of declared queries with bench.py's exact methodology
(staged layout, noop sink, warm-up pass, median of N settled runs,
bracketed by drift probes and normalized by them) — for before/after
comparisons while optimizing, without a full 209-query run.

Usage: [SPARK_GRAFT_CPUS=N] python tools/minibench.py [--warm-all] <query> [query ...]

``--warm-all`` first runs EVERY registry query once, building all session
artifacts as bench.py's warm pass does, so the timed queries run under a
full session's storage pressure; the output then also reports the
session's driver heap (``_heap``).

Env: MB_RUNS (default 3), SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="+", metavar="query")
    ap.add_argument("--warm-all", action="store_true",
                    help="run every registry query once before timing")
    opts = ap.parse_args()
    names = opts.names
    runs = int(os.environ.get("MB_RUNS", "3"))
    import bench
    import __spark_entry__ as se
    from mysql_cdc_debezium_starrocks_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("minibench")
    staged = bench._stage(spark, sf_dir)
    queries = se.queries()

    if opts.warm_all:
        for i, n in enumerate(sorted(queries)):
            bench._exec(queries[n], spark, staged)
            if i % 40 == 0:
                print(f"warm {i}/{len(queries)}", file=sys.stderr, flush=True)

    def probe() -> float:
        # bench.py's drift probe, same anchor (CONTROL_ANCHORS[group_count])
        spark.sparkContext.setJobDescription("minibench probe group_count")
        vals = [
            bench._exec(queries[bench.PROBE_QUERY], spark, staged, settle=True)
            for _ in range(3)
        ]
        return bench._median(vals)

    out = {}
    # warm the session before the first probe (r08 advice): p0 taken cold
    # absorbs JVM/codegen warm-up and overstates drift, deflating every
    # normalized timing; bench.py warms before probing, mirror that
    bench._exec(queries[bench.PROBE_QUERY], spark, staged)
    p0 = probe()
    for n in names:
        spark.sparkContext.setJobDescription(f"minibench warm {n}")
        w = bench._exec(queries[n], spark, staged)
        spark.sparkContext.setJobDescription(f"minibench timed {n}")
        vals = [
            bench._exec(queries[n], spark, staged, settle=True)
            for _ in range(runs)
        ]
        out[n] = {"warm": round(w, 3), "median": round(bench._median(vals), 3),
                  "runs": [round(v, 3) for v in vals]}
        print(f"{n}: warm {w:.2f}s median {out[n]['median']:.2f}s",
              file=sys.stderr, flush=True)
    p1 = probe()
    anchor = bench.CONTROL_ANCHORS[bench.PROBE_QUERY]
    drift = bench._median([p0, p1]) / anchor
    for n in names:
        out[n]["normalized"] = round(out[n]["median"] / drift, 3)
    out["_drift"] = {
        "probes": [round(p0, 3), round(p1, 3)],
        "anchor": anchor,
        "drift_abs": round(drift, 3),
    }
    if opts.warm_all:
        out["_heap"] = spark.sparkContext.getConf().get("spark.driver.memory")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
