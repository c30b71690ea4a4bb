#!/usr/bin/env python3
"""Summarize a scale_run.sh measurement log into per-query medians.

Input: a tools/scale_run.sh log — lines of
"<query> <seconds|TIMEOUT|FAIL>" interleaved with "## ..." section
headers. Every occurrence of a query name is one fresh-JVM run; the
median over all its runs is the freeze candidate.

Usage: tools/freeze_medians.py <logFile> [--scala]
  default : "query median [runs...]" sorted by name
  --scala : '"query" -> median,' lines ready to paste into Bench.scala
"""
import sys
import statistics

def main():
    path = sys.argv[1]
    scala = "--scala" in sys.argv[2:]
    runs = {}
    bad = []
    for line in open(path):
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        parts = line.split()
        if len(parts) != 2:
            continue
        q, v = parts
        if v in ("TIMEOUT", "FAIL"):
            bad.append((q, v))
            continue
        try:
            runs.setdefault(q, []).append(float(v))
        except ValueError:
            pass
    for q in sorted(runs):
        vs = sorted(runs[q])
        med = statistics.median(vs)
        spread = (vs[-1] / vs[0]) if vs[0] > 0 else float("inf")
        if scala:
            print(f'    "{q}" -> {med:.3f},')
        else:
            flag = "  WIDE" if spread > 2.0 else ""
            print(f"{q:34s} {med:8.3f}  n={len(vs)} "
                  f"[{', '.join(f'{v:.3f}' for v in vs)}]{flag}")
    if bad and not scala:
        print("\n# non-numeric runs:")
        for q, v in bad:
            print(f"{q} {v}")

if __name__ == "__main__":
    main()
