#!/usr/bin/env python3
"""Offline correctness gate: a graft.Verify dump against committed goldens.

Usage:
  python3 tools/golden.py <verifyOutDir>                    # check
  python3 tools/golden.py --capture <commit> <verifyOutDir> # regenerate

Each <verifyOutDir>/<query> parquet directory (written by graft.Verify) is
hashed in canonical form, the rule of perfbench's Batch.canonicalHash plus
column types: columns sorted by name, the header listing each column with
its Arrow type, cells rendered with floats rounded to 9 decimals, rows
sorted, SHA-256 over header and rows. Check mode compares every hash with
tools/golden_sf0.01.json, names each mismatched, missing, extra or failed
query (failures.json), and exits 1 on any of them. Needs only pyarrow, so
it runs where DuckDB (tools/compare.py) cannot.

Capture mode rewrites the goldens from a dump and records the commit the
dump was made at. Regenerating the goldens is a deliberate semantic
change: do it in its own change, logged in CHANGES.md.
"""
import hashlib
import json
import math
import sys
from decimal import ROUND_HALF_UP, Decimal
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

GOLDENS = Path(__file__).resolve().parent / "golden_sf0.01.json"
NINE = Decimal("1e-9")


def cell(v, t):
    """One value as text, by its Arrow type (Batch.cell's rendering)."""
    if v is None:
        return "NULL"
    if pa.types.is_floating(t):
        if not math.isfinite(v):
            return repr(v)
        return str(Decimal(repr(v)).quantize(NINE, rounding=ROUND_HALF_UP))
    if pa.types.is_boolean(t):
        return "true" if v else "false"
    if pa.types.is_struct(t):
        return "{" + ",".join(cell(v[f.name], f.type) for f in t) + "}"
    if pa.types.is_map(t):
        kv = sorted(cell(k, t.key_type) + ":" + cell(x, t.item_type) for k, x in v)
        return "<" + ",".join(kv) + ">"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return "[" + ",".join(cell(x, t.value_type) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canonical_hash(table):
    fields = sorted(table.schema, key=lambda f: f.name)
    cols = [table.column(f.name).to_pylist() for f in fields]
    rows = sorted("|".join(cell(c[i], f.type) for c, f in zip(cols, fields))
                  for i in range(table.num_rows))
    md = hashlib.sha256(",".join(f"{f.name}:{f.type}" for f in fields).encode())
    for r in rows:
        md.update((r + "\n").encode())
    return {"rows": table.num_rows, "sha256": md.hexdigest()}


def dump_hashes(out_dir):
    return {d.name: canonical_hash(pq.read_table(d))
            for d in sorted(Path(out_dir).iterdir()) if d.is_dir()}


def failures(out_dir):
    f = Path(out_dir) / "failures.json"
    return json.loads(f.read_text()) if f.exists() else []


def check(out_dir):
    golden = json.loads(GOLDENS.read_text())["queries"]
    got = dump_hashes(out_dir)
    both = sorted(golden.keys() & got.keys())
    mismatched = [q for q in both if got[q] != golden[q]]
    bad = [f"FAILED {r['name']}: {r['exception']}: {r['message']}"
           for r in failures(out_dir)]
    bad += [f"MISSING {q}" for q in sorted(golden.keys() - got.keys())]
    bad += [f"EXTRA {q}" for q in sorted(got.keys() - golden.keys())]
    bad += [f"MISMATCH {q}: {got[q]['rows']} rows {got[q]['sha256'][:16]} "
            f"!= golden {golden[q]['rows']} rows {golden[q]['sha256'][:16]}"
            for q in mismatched]
    for line in bad:
        print(line)
    print(f"== {len(both) - len(mismatched)}/{len(golden)} match, {len(bad)} problems ==")
    return 1 if bad else 0


def capture(commit, out_dir):
    if failures(out_dir):
        sys.exit("refusing to capture goldens from a dump with failures.json entries")
    GOLDENS.write_text(json.dumps(
        {"commit": commit, "fixture": "sf0.01",
         "queries": dump_hashes(out_dir)}, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    args = sys.argv[1:]
    if len(args) == 3 and args[0] == "--capture":
        sys.exit(capture(args[1], args[2]))
    if len(args) == 1:
        sys.exit(check(args[0]))
    sys.exit(__doc__)
