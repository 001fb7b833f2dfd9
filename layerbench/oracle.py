"""Output check: each query's verified result against its DuckDB oracle.

The compare is the library's own correctness gate, `tools/check.py`, run
on the verification dumps (`<verify>/<query>/` plus `<verify>/oracle_sql.json`).
A query without an oracle passes that gate on a non-empty row count; here it
must also match its digest in `digests.json` (keyed by table directory,
e.g. "sf0.01"), where one is committed.
"""
import glob
import hashlib
import json
import os
import re
import subprocess
import sys

import pandas as pd

DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "digests.json")
GATE = os.path.join("tools", "check.py")
LINE = re.compile(r"^\[(PASS|INFO|FAIL)\] (\S+): (.*)$")


def _gate():
    sys.path.insert(0, os.path.dirname(os.path.abspath(GATE)))
    import check
    return check


def digest(path):
    """sha256 of a dump's rows, columns sorted the way the gate sorts them,
    as CSV text."""
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    df = pd.concat([pd.read_parquet(f) for f in files])
    return hashlib.sha256(
        _gate().norm(df).to_csv(index=False).encode("utf-8")).hexdigest()


def check(data_dir, verify_dir, names, tables_key):
    """{name: "OK" or the gate's reason} for every name."""
    with open(DIGESTS) as f:
        digests = json.load(f).get(tables_key, {})
    p = subprocess.run([sys.executable, GATE, data_dir, verify_dir],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    gate = {}
    for ln in p.stdout.splitlines():
        m = LINE.match(ln)
        if m:
            gate[m.group(2)] = (m.group(1), m.group(3))
    out = {}
    for name in names:
        flag, reason = gate.get(name, ("FAIL", "NO-OUTPUT"))
        if flag == "FAIL":
            out[name] = reason
        elif flag == "INFO" and name in digests:
            got = digest(os.path.join(verify_dir, name))
            out[name] = "OK" if got == digests[name] \
                else f"DIGEST-MISMATCH {got}"
        else:
            out[name] = "OK"
    return out
