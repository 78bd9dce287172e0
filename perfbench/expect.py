"""Expected outputs of query items, from DuckDB over the same inputs.

For each item the expectation is the column-name set, the row count
and an order-insensitive hash of the values, canonicalized exactly as
``tools/verify_oracle.py`` does (doubles by ``repr``, columns in name
order, rows sorted). ``compare`` takes a collected Spark result and
returns why it differs, or None.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _verify_oracle():
    """tools/verify_oracle.py as a module; importing it only defines
    functions (its ledger write runs from ``main``, never called)."""
    spec = importlib.util.spec_from_file_location(
        "verify_oracle", os.path.join(ROOT, "tools", "verify_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_VO = None


def canon_hash(rows, cols) -> str:
    global _VO
    if _VO is None:
        _VO = _verify_oracle()
    return hashlib.sha1(repr(_VO.canon(rows, cols)).encode()).hexdigest()


def expected_outputs(sf_dir: str, names: list[str]) -> dict[str, dict]:
    import duckdb

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')")
        out = {}
        for name in names:
            res = con.execute(oracles[name])
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            out[name] = {"cols": sorted(cols), "rows": len(rows),
                         "hash": canon_hash(rows, cols)}
        return out
    finally:
        con.close()


def compare(cols: list[str], rows: list, exp: dict) -> str | None:
    if sorted(cols) != exp["cols"]:
        return f"columns {sorted(cols)} != {exp['cols']}"
    if len(rows) != exp["rows"]:
        return f"rows {len(rows)} != {exp['rows']}"
    if canon_hash(rows, cols) != exp["hash"]:
        return "value hash differs"
    return None
