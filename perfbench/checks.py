"""Output checks, run in DuckDB so that no check goes through Spark.

A turn fails when its ``payload_kind``, ``text_md``, ``text_plain``,
``spans`` or ``n_chars`` differ from its fixture, when it is missing from
the output, or when it is present more than once.  An output row whose key
no fixture expects (an injected bad row that reached the sink) also
fails.  A query fails when its rows differ from its ``oracle_sql()`` on
DuckDB, compared as ``scripts/gate_check.py`` compares.
"""

from __future__ import annotations

import importlib.util
import os
from collections import Counter

import duckdb

_FIELDS = ("payload_kind", "text_md", "text_plain", "spans", "n_chars")


def _parquet(path: str) -> str:
    """read_parquet() over every parquet file under ``path``."""
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = false)"


def turn_failures(output_dir: str, fixtures_dir: str,
                  only_pending: bool = False):
    """(attempted, failed) for an extraction output against its fixtures.

    Fixtures whose ``expect`` is not "ok" are bad rows and must be absent
    from the output.  With ``only_pending``, committed turns are checked
    (they must still be there exactly once) but not counted as attempted.
    """
    differs = " OR ".join(f"o.{c} IS DISTINCT FROM f.{c}" for c in _FIELDS)
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW fx AS SELECT * FROM {_parquet(fixtures_dir)} "
                    "WHERE expect = 'ok'")
        con.execute(
            "CREATE VIEW o AS SELECT conv_id, turn_idx, count(*) AS n, "
            + ", ".join(f"any_value({c}) AS {c}" for c in _FIELDS)
            + f" FROM {_parquet(output_dir)} GROUP BY conv_id, turn_idx")
        attempted, failed = con.execute(
            "SELECT count(*) FILTER (WHERE NOT ($pending AND f.committed)), "
            f"count(*) FILTER (WHERE o.n IS NULL OR o.n <> 1 OR {differs}) "
            "FROM fx f LEFT JOIN o USING (conv_id, turn_idx)",
            {"pending": only_pending}).fetchone()
        (extra,) = con.execute(
            "SELECT coalesce(sum(n), 0) FROM o ANTI JOIN fx "
            "USING (conv_id, turn_idx)").fetchone()
    finally:
        con.close()
    return attempted, failed + extra


def quarantine_failures(quarantined_rows, fixtures_dir: str):
    """(attempted, failed) for the quarantine: every injected bad row must
    appear once with its reason, and nothing else may appear."""
    con = duckdb.connect()
    try:
        expected = Counter(
            (conv_id or "", turn_idx, reason)
            for conv_id, turn_idx, reason in con.execute(
                f"SELECT conv_id, turn_idx, expect FROM {_parquet(fixtures_dir)}"
                " WHERE expect <> 'ok'").fetchall())
    finally:
        con.close()
    got = Counter(quarantined_rows)
    missing = expected - got
    extra = got - expected
    return sum(expected.values()), sum(missing.values()) + sum(extra.values())


def _gate_check():
    """scripts/gate_check.py, loaded by path (it is a script, not a module)."""
    path = os.path.join(os.getcwd(), "scripts", "gate_check.py")
    spec = importlib.util.spec_from_file_location("gate_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def query_failures(results: dict, sf_dir: str, tables) -> int:
    """Number of queries whose (columns, rows) in ``results`` differ from
    their oracle_sql() on DuckDB over the parquet tables in ``sf_dir``."""
    import __spark_entry__ as entry

    gate = _gate_check()
    oracles = entry.oracle_sql()
    con = duckdb.connect()
    failed = 0
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{sf_dir}/{t}.parquet'")
        for name, (cols, rows) in results.items():
            res = con.execute(oracles[name])
            duck_cols = [d[0] for d in res.description]
            duck_rows = res.fetchall()
            same = (sorted(cols) == sorted(duck_cols)
                    and gate._as_multiset(cols, rows)
                    == gate._as_multiset(duck_cols, duck_rows))
            failed += not same
    finally:
        con.close()
    return failed
