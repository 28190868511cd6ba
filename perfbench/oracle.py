"""Expected results from each query's DuckDB oracle SQL.

``run.py`` compares them with the repo's own parity gate,
``tools/check_parity.compare``. Oracle results depend only on the fixture,
so they are cached per fixture directory.
"""

from __future__ import annotations

import hashlib
import os
import pickle


def expected(fixture: str, oracles: dict[str, str], tables: tuple[str, ...]) -> dict:
    """Oracle results for ``oracles`` (name -> SQL) on ``fixture``: name ->
    DataFrame, or name -> error text when the oracle SQL raises.

    Results are cached in ``<fixture>/oracle.pkl`` keyed by the SQL text;
    only missing or changed entries are computed."""
    import duckdb

    path = os.path.join(fixture, "oracle.pkl")
    cache: dict[str, tuple[str, object]] = {}
    if os.path.exists(path):
        with open(path, "rb") as f:
            cache = pickle.load(f)
    sql_key = {n: hashlib.sha1(sql.encode()).hexdigest() for n, sql in oracles.items()}
    todo = [n for n in oracles if cache.get(n, ("", None))[0] != sql_key[n]]
    if todo:
        con = duckdb.connect()
        try:
            for t in tables:
                glob = os.path.join(fixture, f"{t}.parquet", "*.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{glob}')")
            for name in todo:
                try:
                    result: object = con.execute(oracles[name]).df()
                except duckdb.Error as exc:
                    result = f"oracle SQL failed: {exc}"
                cache[name] = (sql_key[name], result)
        finally:
            con.close()
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "wb") as f:
            pickle.dump(cache, f)
        os.replace(tmp, path)
    return {n: cache[n][1] for n in oracles}
