"""Expected query outputs from the registry's DuckDB oracles.

A result is reduced to a digest: row count, sorted column names and a
SHA-256 of the rows canonicalized by ``tools/check_oracle.canon_pdf``
(the project's own comparison rule: order-insensitive, doubles rounded
to 6 places). Spark's result is checked by comparing digests.

Digests are cached in the data directory, keyed by the oracle SQL, so
a later run on the same inputs skips DuckDB. Run as a script, it
computes the digests for the named queries; the benchmark runs it in a
process of its own so that DuckDB's memory never counts in the
benchmark's peak RSS::

    python3 perfbench/oracle.py <repo_root> <data_dir> <query> ...
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import sys
from pathlib import Path

CACHE = "_ORACLE.json"


def load_canon(root: Path):
    """``canon_pdf`` from the checkout's ``tools/check_oracle.py``."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", root / "tools" / "check_oracle.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon_pdf


def digest(pdf, canon_pdf) -> dict:
    """Row count, columns and content hash of a pandas result."""
    body = json.dumps([sorted(pdf.columns), canon_pdf(pdf)])
    return {
        "rows": len(pdf),
        "cols": sorted(pdf.columns),
        "sha256": hashlib.sha256(body.encode()).hexdigest(),
    }


def sql_key(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()[:16]


def cached(data_dir: Path, oracles: dict[str, str]) -> dict | None:
    """Cached digests for every query in ``oracles`` (name -> SQL), or
    None if any is missing or was computed from other SQL."""
    path = data_dir / CACHE
    cache = json.loads(path.read_text()) if path.exists() else {}
    hits = {
        n: cache[n] for n, sql in oracles.items()
        if cache.get(n, {}).get("sql") == sql_key(sql)
    }
    return hits if len(hits) == len(oracles) else None


def compute(root: Path, data_dir: Path, names: list[str]) -> None:
    """Run the oracles for ``names`` on DuckDB and add their digests
    to the cache in ``data_dir``."""
    import duckdb

    sys.path.insert(0, str(root))
    from hdsp_hive_release_src_spark import registry

    registry.load_all()
    canon_pdf = load_canon(root)
    path = data_dir / CACHE
    cache = json.loads(path.read_text()) if path.exists() else {}
    con = duckdb.connect()
    for p in sorted(data_dir.glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
    for n in names:
        sql = registry.ORACLES[n]
        cache[n] = {**digest(con.execute(sql).df(), canon_pdf), "sql": sql_key(sql)}
    con.close()
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(cache, indent=1, sort_keys=True))
    tmp.replace(path)


if __name__ == "__main__":
    root_arg, data_arg, *query_names = sys.argv[1:]
    compute(Path(root_arg), Path(data_arg), query_names)
