#!/usr/bin/env python3
"""Compare two benchmark reports (the JSON files run.py keeps under
.bench_work/results/), metric by metric.

    python3 perfbench/compare.py BASE.json NEW.json

Refuses (exit 2) when the two runs did not measure the same thing: a
different workload, trace mode, input fingerprint (the SHA-256 of the
generated inputs' bytes, so the same seed compares and a regenerated
input with other content does not) or run settings.
"""
import json
import sys

SAME = ("input_fp", "nproc", "master", "shuffle_partitions", "jvm_heap_mb")


def main():
    with open(sys.argv[1]) as f:
        a = json.load(f)
    with open(sys.argv[2]) as f:
        b = json.load(f)
    diff = [k for k in ("workload", "trace", "seconds") if a[k] != b[k]]
    diff += [k for k in SAME if a["info"].get(k) != b["info"].get(k)]
    if diff:
        print("not comparable, they differ in: " + ", ".join(diff))
        return 2
    print(f"{a['workload']} seed {a['seed']}, src {a['info']['src_fp'][:12]}"
          f" -> {b['info']['src_fp'][:12]}")
    for group in ("metrics", "detail"):
        for name, m in a[group].items():
            if name in b[group]:
                x, y = m["value"], b[group][name]["value"]
                ratio = f"{y / x:.3f}x" if x else "n/a"
                print(f"  {name:45s} {x:14.4f} -> {y:14.4f} {m['unit']:7s} {ratio}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
