"""Benchmark inputs and the reference results they are checked against.

Everything here is built once per checkout under ``perfbench/.cache``
and reused by later runs; nothing depends on the workload seed.

- The sf0.1 tables are the repository's read-only test fixture
  (``$SPARK_GRAFT_SF_DIR``, default ``~/testdata/sf0.1``).
- ``scale_batch`` reads a 10x key-shifted replica of them (about
  sf1.0): every fact and dimension table is repeated ten times with
  its key columns offset by ``copy * (max_key + 1)``, so every foreign
  key still resolves; region and nation keep their 5 and 25 rows.
- Every entry a workload requests is run once on DuckDB through its
  registry oracle; the canonical form of that result (sorted column
  names, row count, SHA-256 of the sorted row strings) is what the
  Spark result must reproduce.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

COPIES = 10

# max(key) + 1 per key space of the source tables
_SPANS_SQL = {
    "customer": "SELECT max(c_custkey) + 1 FROM read_parquet('{d}/customer.parquet')",
    "supplier": "SELECT max(s_suppkey) + 1 FROM read_parquet('{d}/supplier.parquet')",
    "part": "SELECT max(p_partkey) + 1 FROM read_parquet('{d}/part.parquet')",
    "orders": "SELECT max(o_orderkey) + 1 FROM read_parquet('{d}/orders.parquet')",
    "events_id": "SELECT max(event_id) + 1 FROM read_parquet('{d}/events.parquet')",
    "events_user": "SELECT max(user_id) + 1 FROM read_parquet('{d}/events.parquet')",
    "documents": "SELECT max(doc_id) + 1 FROM read_parquet('{d}/documents.parquet')",
    "embeddings": "SELECT max(vec_id) + 1 FROM read_parquet('{d}/embeddings.parquet')",
}

# Per-table key shifts; every other column passes through verbatim.
# Document copies get a suffix so they are near-duplicates, not exact.
_SHIFTS = {
    "customer": {"c_custkey": "c_custkey + i * {customer}"},
    "supplier": {"s_suppkey": "s_suppkey + i * {supplier}"},
    "part": {"p_partkey": "p_partkey + i * {part}"},
    "orders": {
        "o_orderkey": "o_orderkey + i * {orders}",
        "o_custkey": "o_custkey + i * {customer}",
    },
    "lineitem": {
        "l_orderkey": "l_orderkey + i * {orders}",
        "l_partkey": "l_partkey + i * {part}",
        "l_suppkey": "l_suppkey + i * {supplier}",
    },
    "events": {
        "event_id": "event_id + i * {events_id}",
        "user_id": "user_id + i * {events_user}",
    },
    "documents": {
        "doc_id": "doc_id + i * {documents}",
        "text": "CASE WHEN i = 0 THEN text ELSE text || ' copy' || i END",
        "n_chars": "CASE WHEN i = 0 THEN n_chars "
        "ELSE n_chars + length(' copy' || i) END",
    },
    "embeddings": {"vec_id": "vec_id + i * {embeddings}"},
}


def source_dir() -> str:
    return os.environ.get(
        "SPARK_GRAFT_SF_DIR", os.path.join(os.path.expanduser("~"), "testdata", "sf0.1")
    )


def check_source(sf_dir: str) -> None:
    missing = [t for t in TABLES if not os.path.isfile(f"{sf_dir}/{t}.parquet")]
    if missing:
        raise SystemExit(
            f"perfbench: source tables missing under {sf_dir}: {missing} "
            "(set SPARK_GRAFT_SF_DIR to the sf0.1 fixture)"
        )


def fingerprint(sf_dir: str) -> str:
    """Short digest of the source tables' sizes and mtimes: a changed
    fixture gets a fresh replica and fresh reference results."""
    h = hashlib.sha256()
    for t in TABLES:
        st = os.stat(f"{sf_dir}/{t}.parquet")
        h.update(f"{t}:{st.st_size}:{st.st_mtime_ns};".encode())
    return h.hexdigest()[:12]


def _publish(tmp: str, final: str) -> None:
    """Atomic hand-over of a finished build directory."""
    try:
        os.rename(tmp, final)
    except OSError:
        # another run published it first
        shutil.rmtree(tmp, ignore_errors=True)


def build_replica(src: str, out: str) -> str:
    """Write the 10x key-shifted replica of ``src`` to ``out`` unless
    it already exists; returns ``out``."""
    if os.path.isdir(out):
        return out
    import duckdb

    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    try:
        spans = {k: con.execute(q.format(d=src)).fetchone()[0] for k, q in _SPANS_SQL.items()}
        for t in ("region", "nation"):
            con.execute(
                f"COPY (SELECT * FROM read_parquet('{src}/{t}.parquet')) "
                f"TO '{tmp}/{t}.parquet' (FORMAT PARQUET)"
            )
        for t, shift in _SHIFTS.items():
            cols = con.execute(
                f"DESCRIBE SELECT * FROM read_parquet('{src}/{t}.parquet')"
            ).fetchall()
            missing = set(shift) - {c[0] for c in cols}
            if missing:
                raise SystemExit(f"perfbench: {t} lacks key columns {sorted(missing)}")
            sel = ", ".join(
                f"CAST({shift[name].format(**spans)} AS {dtype}) AS {name}"
                if name in shift
                else name
                for name, dtype, *_ in cols
            )
            con.execute(
                f"""COPY (
                  WITH t AS (SELECT * FROM read_parquet('{src}/{t}.parquet')),
                  copies AS (SELECT unnest(range({COPIES})) AS i)
                  SELECT {sel} FROM t CROSS JOIN copies
                ) TO '{tmp}/{t}.parquet' (FORMAT PARQUET)"""
            )
    finally:
        con.close()
    _publish(tmp, out)
    return out


def _cell(v) -> str:
    # plain str() cells, as the repository's correctness gate uses:
    # an int64 123 and a float64 123.0 must not compare equal
    if v is None:
        return "NULL"
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return str(v)


def canonical(df) -> dict:
    """Order-insensitive digest of a pandas frame: sorted column names,
    row count and SHA-256 of the sorted row strings."""
    cols = sorted(df.columns)
    col_vals = [df[c].astype(object).tolist() for c in cols]
    rows = sorted("|".join(_cell(v) for v in r) for r in zip(*col_vals))
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return {"columns": cols, "rows": len(rows), "sha256": h.hexdigest()}


def build_references(entries: list[str], data_dir: str, out_path: str) -> dict:
    """Run each entry's DuckDB oracle over ``data_dir`` and store the
    canonical digests in ``out_path`` (JSON, merged with what is
    already there); returns the full mapping."""
    refs: dict = {}
    if os.path.exists(out_path):
        with open(out_path) as f:
            refs = json.load(f)
    todo = [e for e in entries if e not in refs]
    if not todo:
        return refs
    import duckdb

    from pe_firm_investment_database_pipeline_spark.plans import all_queries

    registry = all_queries()
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        for op in todo:
            refs[op] = canonical(con.execute(registry[op].oracle).df())
    finally:
        con.close()
    tmp = f"{out_path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(refs, f, indent=1, sort_keys=True)
    os.replace(tmp, out_path)
    return refs
