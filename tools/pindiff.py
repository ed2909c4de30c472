#!/usr/bin/env python3
"""Plan-cost comparison of two Bench sweeps: compare the per-query
`stages`, `shuffle_mb` and `input_mb` maps of two Bench JSON lines
within the run-to-run tolerance that Bench's plan-pin comment states
for sweeps of one commit:
  - input_mb    differs by at most 2 KB (0.002 MB)
  - shuffle_mb  differs by at most 6 KB (0.006 MB)
  - stages      q_corpus_clean within 6, q_minhash_est within 1,
                every other query exactly equal
A failed count (-1) or a query missing from one side is outside the
tolerance. Each input file is a Bench stdout capture (its last
`{"metric": ...}` line that carries the three maps: the full line, not
the compact one), a file holding that JSON object, or a recorded
BENCH_r*.json (its "parsed" object). Prints one line per
query that differs, `OUT` when outside the tolerance and `in` when
within it, then a tally; exits 1 when any query is outside. Usage:
  python3 tools/pindiff.py <benchA.json> <benchB.json>
"""
import json
import sys

MAPS = ("stages", "shuffle_mb", "input_mb")
BYTE_TOL_MB = {"input_mb": 0.002, "shuffle_mb": 0.006}
STAGE_TOL = {"q_corpus_clean": 6, "q_minhash_est": 1}
EPS = 1e-9


def bench_line(path):
    with open(path, encoding="utf-8") as h:
        text = h.read()
    try:
        obj = json.loads(text)
        return obj.get("parsed", obj) if isinstance(obj, dict) else None
    except ValueError:
        pass
    lines = [json.loads(l[l.index('{"metric"'):]) for l in text.splitlines()
             if '{"metric"' in l]
    full = [l for l in lines if all(k in l for k in MAPS)]
    return full[-1] if full else None


def tolerance(kind, query):
    return STAGE_TOL.get(query, 0) if kind == "stages" else BYTE_TOL_MB[kind]


def compare(a, b):
    """(query, kind, valueA, valueB, within) for every differing value."""
    out = []
    for kind in MAPS:
        ma, mb = a.get(kind, {}), b.get(kind, {})
        for q in sorted(ma.keys() | mb.keys()):
            va, vb = ma.get(q), mb.get(q)
            if va == vb and va is not None and va >= 0:
                continue
            within = (va is not None and vb is not None and va >= 0 and vb >= 0
                      and abs(va - vb) <= tolerance(kind, q) + EPS)
            out.append((q, kind, va, vb, within))
    return out


def main(argv):
    if len(argv) != 3:
        sys.stderr.write(__doc__)
        return 2
    a, b = bench_line(argv[1]), bench_line(argv[2])
    for path, line in ((argv[1], a), (argv[2], b)):
        if not line or not all(k in line for k in MAPS):
            sys.stderr.write(f"no Bench line with {', '.join(MAPS)} in {path}\n")
            return 2
    diffs = compare(a, b)
    for q, kind, va, vb, within in diffs:
        print(f"{'in ' if within else 'OUT'} {q} {kind}: {va} -> {vb}")
    queries = set().union(*(a[k].keys() | b[k].keys() for k in MAPS))
    outside = sorted({q for q, _, _, _, within in diffs if not within})
    print(f"{len(queries)} queries, {len(outside)} outside tolerance"
          + (f": {', '.join(outside)}" if outside else ""))
    return 1 if outside else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
