"""Reference results for the key workloads, from each key's DuckDB oracle.

The references are set once, on the benchmark's fixed inputs, and kept
in ``keys.json`` (some oracles take DuckDB tens of seconds). Recompute
them after a change to the inputs, the key lists or an oracle with

    python3 perfbench/reference.py
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import sys
import tempfile
from decimal import Decimal


def _cell(v):
    # numbers compare by value across engines (DuckDB may return DECIMAL
    # or BIGINT where Spark returns DOUBLE), so hash them as rounded floats
    if isinstance(v, bool) or not isinstance(v, (int, float, Decimal)):
        return v
    f = float(v)
    return "NaN" if math.isnan(f) else round(f, 9)


def fingerprint(rows, columns: list[str]) -> tuple[int, str]:
    """Row count and an order-insensitive content hash of a result:
    columns taken in name order, numbers as floats rounded to 9 digits,
    rows sorted before hashing."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    norm = sorted(
        (tuple(_cell(r[i]) for i in order) for r in rows),
        key=lambda t: tuple(str(x) for x in t),
    )
    digest = hashlib.sha256(repr(norm).encode()).hexdigest()
    return len(norm), digest


def oracle_fingerprints(data_dir: str, tables: list[str], oracles: dict[str, str],
                        threads: int) -> dict[str, tuple[int, str]]:
    """Fingerprint every oracle query on the tables under ``data_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET threads={threads}")
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet").replace("'", "''")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        out = {}
        for name, sql in oracles.items():
            res = con.sql(sql)
            out[name] = fingerprint(res.fetchall(), res.columns)
        return out
    finally:
        con.close()


def main() -> int:
    """Write every frozen key's oracle fingerprint into ``keys.json``."""
    here = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(here)
    sys.path.insert(0, root)
    import datagen

    from drive_bc_datapipeline_spark.plans import registry

    registry.load_all_plans()
    path = os.path.join(here, "keys.json")
    with open(path) as fh:
        frozen = json.load(fh)
    names = frozen["lazy_keys"]["keys"] + frozen["pinned_keys"]["keys"]
    work = os.path.join(root, ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    data_dir = tempfile.mkdtemp(prefix="reference-", dir=work)
    try:
        datagen.write_tables(data_dir)
        refs = oracle_fingerprints(data_dir, datagen.TABLES,
                                   {k: registry.ORACLES[k] for k in names},
                                   threads=os.cpu_count() or 1)
    finally:
        shutil.rmtree(data_dir, ignore_errors=True)
    frozen["reference"] = {k: list(refs[k]) for k in sorted(refs)}
    with open(path, "w") as fh:
        json.dump(frozen, fh, indent=1)
        fh.write("\n")
    for k in sorted(refs):
        print(k, *refs[k])
    return 0


if __name__ == "__main__":
    sys.exit(main())
