"""Independent answers for every benchmark operation, and the comparison.

The way/relation and rank answers come from DuckDB running the oracle SQL
the repository registers in ``__spark_entry__.oracle_sql()`` (the same
SQL the correctness gate trusts), over the very inputs the engine got.
The skyline has no registered oracle over a plain two-column table, so it
gets the same brute-force NOT EXISTS form here.
"""

from __future__ import annotations

import math


def _duck(tables: dict):
    import duckdb

    con = duckdb.connect()
    for name, src in tables.items():
        if isinstance(src, str):
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')"
            )
        else:
            con.register(name, src)
    return con


def way_rel_expected(events_path: str, reps: int) -> dict:
    """Expected answers of the way_rel_geometry ops.

    - snapshot: per (entity_type, ts) the count and clipped length under
      the polygon AOI. A derived relation is [its way, the way's first
      node], so its clipped geometry is the way's clipped line plus a
      zero-length point: both types take the ``way_polygon_clip`` answer.
    - contrib: per (entity_type, contrib_type) counts; a way changes
      exactly when one of its nodes moves, and so does the relation
      holding it, so both take the ``relation_contrib_types`` answer.
    Every doc is replicated ``reps`` times, so counts and lengths scale."""
    import __spark_entry__ as E

    sql = E.oracle_sql()
    con = _duck({"events": events_path})
    clip = con.execute(sql["way_polygon_clip"]).fetchall()
    ctypes = con.execute(sql["relation_contrib_types"]).fetchall()
    con.close()
    snap = {}
    contrib = {}
    for et in ("way", "relation"):
        for ts, cnt, length in clip:
            snap[(et, int(ts))] = (int(cnt) * reps, float(length) * reps)
        for ctype, cnt in ctypes:
            contrib[(et, ctype)] = int(cnt) * reps
    return {"snapshot": snap, "contrib": contrib}


def ranks_expected(table) -> dict:
    """Expected results of the six rank operators over ``table``
    (pandas: grp, val, cost), keyed by operator name, each a sorted list
    of tuples."""
    import __spark_entry__ as E

    sql = E.oracle_sql()
    con = _duck({"t": table})
    con.execute("CREATE VIEW documents AS SELECT grp AS source, val AS n_chars FROM t")
    con.execute(
        "CREATE VIEW lineitem AS SELECT grp AS l_returnflag,"
        " val / 100.0 AS l_extendedprice FROM t"
    )
    con.execute("CREATE VIEW events AS SELECT grp AS event_type, val / 100.0 AS value FROM t")
    out = {
        "rank_normalize": sql["rank_normalize"],
        "quartiles_exact": sql["quartiles_price"],
        "gini_inequality": sql["gini_spend"],
        "mannwhitney_u": sql["mwu_drift"],
        "ks_2sample": sql["ks_drift"],
        "skyline2d": """
            WITH p AS (SELECT val AS a, cost AS b, count(*) AS n_ties
                       FROM t GROUP BY 1, 2)
            SELECT a, b, n_ties FROM p x
            WHERE NOT EXISTS (
              SELECT 1 FROM p y
              WHERE y.a >= x.a AND y.b <= x.b AND (y.a > x.a OR y.b < x.b))
        """,
    }
    res = {k: sorted(con.execute(q).fetchall()) for k, q in out.items()}
    con.close()
    return res


def _close(a, b, rel: float = 1e-9, abs_: float = 1e-9) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, str) or isinstance(b, str):
        return a == b
    a, b = float(a), float(b)
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return abs(a - b) <= max(abs_, rel * max(abs(a), abs(b)))


def rows_match(got: list[tuple], want: list[tuple], rel: float = 1e-9,
               abs_: float = 1e-9) -> bool:
    """Equal row sets (both sorted by the caller), numbers within tolerance."""
    if len(got) != len(want):
        return False
    return all(
        len(g) == len(w) and all(_close(x, y, rel, abs_) for x, y in zip(g, w))
        for g, w in zip(got, want)
    )
