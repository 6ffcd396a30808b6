"""Output checks the benchmark makes in DuckDB, outside the timed window.

Compare rules follow scripts/preflight.py: the same column names, the same
row count and exactly equal cells (NULL equals NULL; doubles compare
exactly).
"""
import json
from datetime import datetime, timedelta

import duckdb

EPOCH = datetime(1970, 1, 1)


def _relation_equal(con, got, want):
    """Exact multiset equality of two relations; returns a problem or None."""
    gcols = [r[0] for r in con.execute(f"DESCRIBE {got}").fetchall()]
    wcols = [r[0] for r in con.execute(f"DESCRIBE {want}").fetchall()]
    if sorted(gcols) != sorted(wcols):
        return f"columns {sorted(gcols)} vs oracle {sorted(wcols)}"
    cols = ", ".join(f'"{c}"' for c in sorted(gcols))
    (ng,) = con.execute(f"SELECT count(*) FROM {got}").fetchone()
    (nw,) = con.execute(f"SELECT count(*) FROM {want}").fetchone()
    (extra,) = con.execute(
        f"SELECT count(*) FROM (SELECT {cols} FROM {got} EXCEPT ALL SELECT {cols} FROM {want})").fetchone()
    (missing,) = con.execute(
        f"SELECT count(*) FROM (SELECT {cols} FROM {want} EXCEPT ALL SELECT {cols} FROM {got})").fetchone()
    if ng != nw or extra or missing:
        return f"{ng} rows vs oracle {nw}: {extra} extra, {missing} missing"
    return None


def _gold_view(con, name, path):
    con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM "
                f"read_parquet('{path}/*/*.parquet', hive_partitioning = 1)")


def _oracle_gold(con, fact, events_obs, events_fc):
    """Oracle gold as tables want_obs (observations, derived from the
    `events_obs` SELECT) and want_fc (forecasts, from `events_fc`)."""
    corpus = fact["corpus"]
    for t in ("customer", "nation"):
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet')")
    con.execute(f"CREATE OR REPLACE VIEW events AS {events_obs}")
    con.execute(f"CREATE OR REPLACE TABLE want_obs AS {fact['gold_obs_sql']}")
    con.execute(f"CREATE OR REPLACE VIEW events AS {events_fc}")
    con.execute(f"CREATE OR REPLACE TABLE want_fc AS {fact['gold_fc_sql']}")


def hourly(fact):
    """Gold after the last tick against the oracle gold of one single-shot
    run over the union of the slices landed. A re-sent event counts once:
    observations keep its latest version (ON CONFLICT DO UPDATE), forecasts
    its first (DO NOTHING).

    Returns a list of (check name, problem or None)."""
    con = duckdb.connect()
    union = " UNION ALL ".join(
        f"SELECT *, {i} AS seq FROM read_parquet('{d}/events.parquet')"
        for i, d in enumerate(fact["slices"]))
    con.execute(f"CREATE TABLE landed AS {union}")
    cols = "event_id, ts, user_id, event_type, value, props"

    def version(order):
        return (f"SELECT {cols} FROM (SELECT *, row_number() OVER (PARTITION BY event_id "
                f"ORDER BY seq {order}) AS rn FROM landed) WHERE rn = 1")

    _oracle_gold(con, fact, version("DESC"), version("ASC"))
    _gold_view(con, "gold", fact["gold"])
    con.execute("CREATE VIEW got_obs AS SELECT * FROM gold WHERE data_type = 'observation'")
    con.execute("CREATE VIEW got_fc AS SELECT * FROM gold WHERE data_type = 'forecast'")
    return [("hourly.gold_observation", _relation_equal(con, "got_obs", "want_obs")),
            ("hourly.gold_forecast", _relation_equal(con, "got_fc", "want_fc"))]


def _norm(v):
    if isinstance(v, datetime):
        return (v - EPOCH) // timedelta(microseconds=1)
    if isinstance(v, float) and v == 0.0:
        return 0.0
    return v


def _serve_sql(kind, parts, cols, as_of):
    """The request answered on gold `g`, projecting `cols`."""
    alias = {"target_time": "timestamp AS target_time"}
    sel = ", ".join(alias.get(c, f'"{c}"') for c in cols) if cols else "*"
    pc = parts[1]
    anchor = f"TIMESTAMP '{as_of}'"
    if kind == "latest":
        return (f"SELECT {sel} FROM g WHERE data_type = 'observation' AND postal_code = '{pc}' "
                "AND timestamp = (SELECT max(timestamp) FROM g WHERE data_type = 'observation')")
    if kind == "latest_fc":
        return (f"SELECT {sel} FROM g WHERE data_type = 'forecast' AND postal_code = '{pc}' "
                "AND forecast_timestamp = (SELECT max(forecast_timestamp) FROM g "
                "WHERE data_type = 'forecast')")
    if kind == "history":
        window, limit = int(parts[2]), int(parts[3])
        return (f"SELECT {sel} FROM g WHERE data_type = 'observation' AND postal_code = '{pc}' "
                f"AND timestamp >= {anchor} - INTERVAL {window} HOUR "
                f"ORDER BY timestamp DESC LIMIT {limit}")
    horizon, start = int(parts[2]), int(parts[3])
    frm = f"({anchor} - INTERVAL {start} HOUR)"
    return (f"SELECT {sel} FROM g WHERE data_type = 'forecast' AND postal_code = '{pc}' "
            f"AND timestamp > {frm} AND timestamp <= {frm} + INTERVAL {horizon} HOUR")


def serve(fact):
    """Every distinct served request against the same request answered on
    the oracle gold of the same corpus.

    Returns (number of distinct requests checked, list of problems)."""
    con = duckdb.connect()
    events = f"SELECT * FROM read_parquet('{fact['corpus']}/events.parquet')"
    _oracle_gold(con, fact, events, events)
    con.execute("CREATE VIEW g AS SELECT * FROM want_obs UNION ALL BY NAME SELECT * FROM want_fc")
    problems, n = [], 0
    with open(fact["responses"]) as f:
        for line in f:
            rec = json.loads(line)
            parts = rec["key"].split("|")
            resp = rec["response"]
            n += 1
            try:
                cur = con.execute(_serve_sql(parts[0], parts, resp["columns"], fact["as_of"]))
                want = [tuple(_norm(v) for v in r) for r in cur.fetchall()]
                names = [d[0] for d in cur.description]
            except Exception as e:  # an unanswerable request is a failed check
                problems.append(f"{rec['key']}: {e}")
                continue
            got = [tuple(_norm(v) for v in r) for r in resp["rows"]]
            if resp["columns"] and names != resp["columns"]:
                problems.append(f"{rec['key']}: columns {resp['columns']} vs {names}")
            elif sorted(map(repr, got)) != sorted(map(repr, want)):
                problems.append(f"{rec['key']}: {len(got)} rows served vs {len(want)} on oracle gold")
    return n, problems
