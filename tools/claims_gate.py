#!/usr/bin/env python3
"""Claims gate (VERDICT r12 #8): mechanical check that prose claims in
the round ledger match the committed logs, the way query results are
already mechanically checked by the DuckDB compare.

Round 12 claimed the WindowExec warning flood was silenced while the
committed bench tail still carried 78 occurrences — a claims-vs-evidence
gap the per-round gates could not see because no gate read the logs.
This script is that gate: run it on the bench stderr log and the sbt
test log BEFORE writing the SURVEY round ledger, and record its output
in the ledger.

Usage: python3 tools/claims_gate.py <log file>...

Exit 0 with a PASS line per (file, pattern) when clean; exit 1 naming
the file and occurrence count otherwise. Patterns are claim-relevant
log signatures whose count the ledger asserts to be zero.
"""
import sys

# each entry: (pattern, why the ledger claims zero of them)
PATTERNS = [
    ("No Partition Defined",
     "unpartitioned WindowExec collapses a relation to ONE task - every "
     "hot-path window must carry a real partition key (r12 hygiene item)"),
    ("was locally checkpointed, its lineage has been",
     "deliberate frees of superseded localCheckpoint blocks go through "
     "graft.util.CacheScope.release, which suppresses this known-benign "
     "warning for the one synchronous unpersist call - 222 copies per run "
     "were burying real warnings in the tails (r13 hygiene item)"),
]

if len(sys.argv) < 2:
    print(__doc__)
    sys.exit(2)

fails = 0
for path in sys.argv[1:]:
    try:
        text = open(path, errors="replace").read()
    except OSError as e:
        print(f"FAIL {path}: unreadable ({e})")
        fails += 1
        continue
    for pat, why in PATTERNS:
        n = text.count(pat)
        if n:
            print(f"FAIL {path}: {n} x '{pat}' ({why})")
            fails += 1
        else:
            print(f"PASS {path}: 0 x '{pat}'")
sys.exit(1 if fails else 0)
