#!/usr/bin/env python3
"""Key-by-key diff of two `graft.Verify` output directories.

Usage: python3 tools/diff_outputs.py <parent_out> <change_out> [keys]

`keys` is a comma-separated list of query keys (default: every key
directory in either output). For each key it compares, across the
key's part files in name order:

  - the rows, in stored order (NaN equals NaN);
  - the Arrow schema, field metadata included;
  - the parquet key-value metadata (Spark's row schema, version, ...).

The column-chunk encodings are NOT compared: two runs of the same code
can list them in a different order. Prints one line per key and exits
non-zero if any key differs or is missing on one side.
"""
import glob
import math
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq


def parts(out, key):
    return sorted(glob.glob(os.path.join(out, key, "*.parquet")))


def load(files):
    """(rows, schemas, kv metadata) of a key's part files."""
    tables, schemas, kvs = [], [], []
    for f in files:
        pf = pq.ParquetFile(f)
        schemas.append(pf.schema_arrow)
        kvs.append(dict(pf.metadata.metadata or {}))
        tables.append(pf.read())
    rows = pa.concat_tables(tables).to_pylist() if tables else []
    return rows, schemas, kvs


def same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k]) for k in a)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return type(a) is type(b) and a == b


def diff_key(parent, change, key):
    """None when identical, else a one-line reason."""
    fp, fc = parts(parent, key), parts(change, key)
    if not fp or not fc:
        return "missing in " + ("parent" if not fp else "change")
    if len(fp) != len(fc):
        return f"part files {len(fp)} vs {len(fc)}"
    rp, sp, kp = load(fp)
    rc, sc, kc = load(fc)
    for a, b in zip(sp, sc):
        if not a.equals(b, check_metadata=True):
            return f"schema {a} vs {b}"
    if kp != kc:
        keys = sorted({k for d in kp + kc for k in d
                       if any(d1.get(k) != d2.get(k) for d1, d2 in zip(kp, kc))})
        return f"kv metadata differs at {[k.decode() for k in keys]}"
    if len(rp) != len(rc):
        return f"rows {len(rp)} vs {len(rc)}"
    for i, (a, b) in enumerate(zip(rp, rc)):
        if not same(a, b):
            return f"row {i}: {a} vs {b}"
    return None


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    parent, change = sys.argv[1], sys.argv[2]
    if len(sys.argv) > 3:
        keys = sys.argv[3].split(",")
    else:
        keys = sorted({os.path.basename(os.path.dirname(p))
                       for out in (parent, change)
                       for p in glob.glob(os.path.join(out, "*", "*.parquet"))})
    n_diff = 0
    for key in keys:
        why = diff_key(parent, change, key)
        print(f"SAME {key}" if why is None else f"DIFF {key}: {why}")
        n_diff += why is not None
    print(f"{len(keys) - n_diff}/{len(keys)} keys identical")
    sys.exit(1 if n_diff else 0)


if __name__ == "__main__":
    main()
