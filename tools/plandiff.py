#!/usr/bin/env python3
"""Plan-identity check: compare two `graft.Profile dump` output dirs
(one `<query>_<suffix>.txt` formatted plan per query) after removing
what differs between two runs of the same plan:
  - expression ids        (doc_id#123L -> doc_id#N)
  - plan ids              (plan_id=45 -> plan_id=N)
  - RDD ids               (MapPartitionsRDD[1150] -> MapPartitionsRDD[N]:
                           a checkpointed plan names its RDD by a
                           counter that every earlier job advances)
  - scratch paths         (/tmp/graft_8812/memo4417/x -> /tmp/graft_*/memo*/x:
                           the per-JVM root and the random digits
                           `Scratch.dir(prefix)` appends to its prefix)
  - the first entry of a multi-entry partitioned file index, which
    follows the listing order
                          ([file:/d/shard=2/part-0.parquet, ... 2 entries]
                           -> [file:/d/*, ... 2 entries])
  - part-file UUIDs       (part-00000-<uuid>.c000 -> part-00000-*.c000)
  - source line numbers   (Foo.scala:120 -> Foo.scala:N)
Files pair up by query name (the file name before its last `_`, so
give the dump a suffix without `_`); dumps written with different
suffixes compare. Prints one line per differing or unpaired query and a tally;
exits 1 when any query differs. Usage:
  python3 tools/plandiff.py <dirA> <dirB>
"""
import os
import re
import sys

RULES = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"/tmp/graft_\d+(?:(/[^/\s,\]]*?)\d+(?=[/\s,\]]|$))?"),
     lambda m: "/tmp/graft_*" + (m.group(1) + "*" if m.group(1) is not None else "")),
    (re.compile(r"(file:[^,\]=]*/)[^/,\]]+=[^,\]]*(, \.\.\. \d+ entries\])"), r"\1*\2"),
    (re.compile(r"part-(\d+)-[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"),
     r"part-\1-*"),
    (re.compile(r"\.(scala|java|py):\d+"), r".\1:N"),
]


def normalize(text):
    for pat, rep in RULES:
        text = pat.sub(rep, text)
    return text


def plans(d):
    """query name -> normalized plan text, for every dump file in d."""
    out = {}
    for f in os.listdir(d):
        if f.endswith(".txt"):
            with open(os.path.join(d, f), encoding="utf-8") as h:
                out[f[:-len(".txt")].rsplit("_", 1)[0]] = normalize(h.read())
    return out


def main(argv):
    if len(argv) != 3 or not all(os.path.isdir(d) for d in argv[1:]):
        sys.stderr.write(__doc__)
        return 2
    a, b = plans(argv[1]), plans(argv[2])
    if not a:
        sys.stderr.write(f"no plan dumps under {argv[1]}\n")
        return 2
    differ = []
    for q in sorted(a.keys() | b.keys()):
        if q not in a or q not in b:
            differ.append((q, f"only in {argv[1] if q in a else argv[2]}"))
        elif a[q] != b[q]:
            pairs = zip(a[q].splitlines() + [""], b[q].splitlines() + [""])
            line = next((i for i, (x, y) in enumerate(pairs) if x != y),
                        len(a[q].splitlines()))
            differ.append((q, f"plans differ from line {line + 1}"))
    for q, why in differ:
        print(f"DIFF {q}: {why}")
    print(f"{len(a.keys() | b.keys()) - len(differ)} identical, {len(differ)} differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
