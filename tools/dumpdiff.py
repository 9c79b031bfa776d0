#!/usr/bin/env python3
"""Row-for-row comparison of two graft.Verify output directories.

Usage: python3 tools/dumpdiff.py <parentDir> <changeDir> [--only q27,q107]

For every query dump (a <dir>/<query>/ parquet directory) in either side it
hashes the rows: columns sorted by name, each row rendered with its column
names and Arrow types, rows sorted, SHA-256 over the result. Floats are
rendered with repr, so the check is bit-exact. It also compares
errors.json and oracle_sql.json byte for byte.

Exit code 0 only when every selected dump is present on both sides with
equal hashes and both JSON files are identical. This is the check for
queries whose DuckDB oracle does not finish (q107, q110, q122): a change
must leave their dumps equal to the parent's.

--only takes query-name prefixes, like graft.Verify's extra arguments.
"""
import hashlib
import os
import sys

import pyarrow.parquet as pq


def dumps(d, only):
    out = set()
    for name in os.listdir(d):
        p = os.path.join(d, name)
        if os.path.isdir(p) and (only is None or any(name.startswith(o) for o in only)):
            out.add(name)
    return out


def digest(path):
    t = pq.read_table(path)
    names = sorted(t.column_names)
    head = ",".join(f"{n}:{t.schema.field(n).type}" for n in names)
    cols = [t.column(n).to_pylist() for n in names]
    rows = sorted(repr(tuple(c[i] for c in cols)) for i in range(t.num_rows))
    h = hashlib.sha256(head.encode())
    for r in rows:
        h.update(b"\n" + r.encode())
    return h.hexdigest(), t.num_rows


def main(argv):
    if len(argv) not in (2, 4) or (len(argv) == 4 and argv[2] != "--only"):
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    parent, change = argv[0], argv[1]
    only = [s for s in argv[3].split(",") if s] if len(argv) == 4 else None
    bad = 0
    names = sorted(dumps(parent, only) | dumps(change, only))
    if only is not None:
        for o in only:
            if not any(n.startswith(o) for n in names):
                print(f"MISSING  {o}: no dump on either side")
                bad += 1
    for name in names:
        sides = [os.path.join(d, name) for d in (parent, change)]
        missing = [s for s in sides if not os.path.isdir(s)]
        if missing:
            print(f"MISSING  {name}: {', '.join(missing)}")
            bad += 1
            continue
        (hp, np_), (hc, nc) = digest(sides[0]), digest(sides[1])
        if hp == hc:
            print(f"same     {name} ({np_} rows)")
        else:
            print(f"DIFFERS  {name}: parent {np_} rows {hp[:12]}, change {nc} rows {hc[:12]}")
            bad += 1
    for f in ("errors.json", "oracle_sql.json"):
        paths = [os.path.join(d, f) for d in (parent, change)]
        if not all(os.path.isfile(p) for p in paths):
            print(f"MISSING  {f}")
            bad += 1
        elif open(paths[0], "rb").read() != open(paths[1], "rb").read():
            print(f"DIFFERS  {f}")
            bad += 1
        else:
            print(f"same     {f}")
    print(f"{len(names)} dumps compared, {bad} difference(s)")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
