"""Checks the registered queries' results against digests recorded in
perfbench/expected.json. The queries run over fixed tables, so each key's
result is fixed too; perfbench/record.py records the digests from a run
that the repository's DuckDB checker, tools/selfcheck.py, passed for
every key with an oracle.
"""
import glob
import hashlib
import os

import pandas as pd


def digest(results_dir, key):
    """Order-independent digest of a key's result: its rows as CSV, columns
    sorted by name and rows sorted, as tools/selfcheck.py orders them
    before comparing; None when no result was written."""
    files = sorted(glob.glob(os.path.join(results_dir, key, "*.parquet")))
    if not files:
        return None
    df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    c = df.reindex(sorted(df.columns), axis=1)
    c = c.sort_values(by=list(c.columns)).reset_index(drop=True)
    h = hashlib.sha256(",".join(c.columns).encode())
    h.update(c.to_csv(index=False, header=False, float_format="%.9g").encode())
    return f"{len(c)}-{h.hexdigest()[:16]}"


def check(results_dir, keys, recorded):
    """Returns {key: None if correct else reason}."""
    out = {}
    for k in keys:
        d = digest(results_dir, k)
        if k not in recorded:
            out[k] = "no recorded digest"
        elif d != recorded[k]:
            out[k] = f"digest {d} != recorded {recorded[k]}"
        else:
            out[k] = None
    return out
