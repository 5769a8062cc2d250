#!/usr/bin/env python3
"""Compare two sets of benchmark run records, workload by workload.

Usage: python3 perfbench/compare.py <records-dir-A> <records-dir-B>

Each directory holds the JSON records run.py leaves in .bench_build/records/.
For every workload and metric present in both sets it prints the median of A,
the median of B and the relative change, after the median CPU gauge of each set
(seconds a fixed SHA-256 loop took; a slower machine reads higher). The comparison is refused (exit 2)
when the two sets come from different environments: core count, heap, JDK or
Spark version.
"""
import json
import pathlib
import statistics
import sys

ENV_KEYS = ("nproc", "xmx_mb", "jdk", "spark")


def load(d):
    recs = [json.loads(p.read_text()) for p in sorted(pathlib.Path(d).glob("*.json"))]
    if not recs:
        sys.exit(f"no records in {d}")
    return recs


def envs(recs):
    return {tuple(r["env"][k] for k in ENV_KEYS) for r in recs}


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = load(sys.argv[1]), load(sys.argv[2])
    ea, eb = envs(a), envs(b)
    if len(ea) != 1 or ea != eb:
        print(f"refused: environments differ ({', '.join(ENV_KEYS)}): A={sorted(ea)} "
              f"B={sorted(eb)}")
        sys.exit(2)
    for w in sorted({r["workload"] for r in a} & {r["workload"] for r in b}):
        ra = [r for r in a if r["workload"] == w]
        rb = [r for r in b if r["workload"] == w]
        print(f"{w}: {len(ra)} vs {len(rb)} runs")
        ga, gb = (statistics.median(r["env"]["cpu_gauge_before_s"] for r in rs) for rs in (ra, rb))
        print(f"  {'cpu gauge':40s} {ga:12.6g} {gb:12.6g} {(gb - ga) / ga:+8.2%} s")
        for m in sorted(set(ra[0]["metrics"]) & set(rb[0]["metrics"])):
            ma = statistics.median(r["metrics"][m]["value"] for r in ra if m in r["metrics"])
            mb = statistics.median(r["metrics"][m]["value"] for r in rb if m in r["metrics"])
            rel = (mb - ma) / ma if ma else float("nan")
            print(f"  {m:40s} {ma:12.6g} {mb:12.6g} {rel:+8.2%} "
                  f"{ra[0]['metrics'][m]['unit']}")


if __name__ == "__main__":
    main()
