"""Compare two sets of benchmark results against the bounds in BENCHMARK.json.

    python3 perfbench/compare.py BEFORE.jsonl AFTER.jsonl

Each file holds the JSON lines `run.py --record FILE` appends (one per run).
For every workload and end-to-end metric, prints each set's median and
spread (interquartile range over median) and whether AFTER's median is
worse than BEFORE's by more than the metric's bound. Exits 1 if any pair
of medians differs by more than its bound, or if either set has failures.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    runs = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                if r["trace"] == 0:
                    runs.setdefault(r["workload"], []).append(r)
    return runs


def spread(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / statistics.median(xs)


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    a, b = load(sys.argv[1]), load(sys.argv[2])
    ok = True
    print(f"{'workload':<20}{'metric':<16}{'median A':>12}{'median B':>12}"
          f"{'spread A':>10}{'spread B':>10}{'worse by':>10}{'bound':>7}  verdict")
    for w in sorted(set(a) | set(b)):
        if w not in a or w not in b:
            print(f"{w:<20}only in one set")
            ok = False
            continue
        for side in (a[w], b[w]):
            failed = sum(r["result"]["failed"] for r in side)
            if failed or not all(r["result"]["correct"] for r in side):
                print(f"{w:<20}{failed} failed operations or incorrect output")
                ok = False
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            xa = [r["result"]["metrics"][name]["value"] for r in a[w]]
            xb = [r["result"]["metrics"][name]["value"] for r in b[w]]
            ma, mb = statistics.median(xa), statistics.median(xb)
            worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            agree = worse <= bound
            ok &= agree
            print(f"{w:<20}{name:<16}{ma:>12.4g}{mb:>12.4g}{spread(xa):>10.3f}"
                  f"{spread(xb):>10.3f}{worse:>10.3f}{bound:>7.2f}  "
                  f"{'agree' if agree else 'WORSE'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
