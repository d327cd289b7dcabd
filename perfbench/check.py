"""Correctness checks, run in DuckDB outside the timed region.

Each check returns (failed operation count, messages). Nothing here
trusts the program under test: expected results are recomputed from the
generated inputs and the harness's statement log.
"""
import json
import math
import os

import duckdb
import numpy as np
import pandas as pd


def _connect(data_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data_dir, f)}'")
    return con


def dml(data_dir, check):
    """Replay the logged statement sequence per twin; compare every read
    result, every change-table count and both twins' final state."""
    con = _connect(data_dir)
    log = json.load(open(check["log"]))
    failed, msgs = 0, []
    mv_sql = "SELECT event_type, count(*) AS n, sum(cents) AS s FROM {} GROUP BY 1 ORDER BY 1"
    changes, mv_state = {}, {}
    for m in ("cow", "mor"):
        con.execute(f"""CREATE TABLE {m} AS SELECT event_id, ts, user_id, event_type,
            CAST(round(value * 100) AS BIGINT) AS cents FROM events""")
        changes[m] = []
        mv_state[m] = con.execute(mv_sql.format(m)).fetchall()
    # the bus backlog, drained into the sink twin after its view was
    # built: the latest message per key by seq, upserted
    sink = check["sink"]
    con.execute("""CREATE TABLE pre AS SELECT event_id, arg_max(cents, seq) AS cents,
        CAST(arg_max(ts, seq) AS TIMESTAMP) AS ts, arg_max(user_id, seq) AS user_id,
        arg_max(event_type, seq) AS event_type FROM bus_preload GROUP BY event_id""")
    con.execute(f"""UPDATE {sink} SET cents = pre.cents, ts = pre.ts, user_id = pre.user_id,
        event_type = pre.event_type FROM pre WHERE {sink}.event_id = pre.event_id""")
    con.execute(f"""INSERT INTO {sink} SELECT event_id, ts, user_id, event_type, cents
        FROM pre WHERE event_id NOT IN (SELECT event_id FROM {sink})""")

    def day_pred(d):
        return (f"ts >= TIMESTAMP '{d} 00:00:00' AND "
                f"ts < TIMESTAMP '{d} 00:00:00' + INTERVAL 1 DAY")

    def values(rows, cols):
        """Load logged rows into the temp table `c`, typed as `cols` says."""
        cols = [c.split() for c in cols.split(", ")]
        rows_df = pd.DataFrame(rows, columns=[n for n, _ in cols])  # noqa: F841 (scanned by DuckDB)
        con.execute("DROP TABLE IF EXISTS c")
        con.execute("CREATE TEMP TABLE c AS SELECT "
                    + ", ".join(f"CAST({n} AS {t}) AS {n}" for n, t in cols) + " FROM rows_df")

    for op in log:
        if "error" in op:
            continue  # already counted as failed by the harness
        t, kind, counts = op["t"], op["kind"], {"I": 0, "U": 0, "D": 0}
        want = None
        if kind == "insert":
            values(op["rows"], "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type VARCHAR, cents BIGINT")
            counts["I"] = len(op["rows"])
            con.execute(f"INSERT INTO {t} SELECT * FROM c")
        elif kind == "ingest":
            values(op["rows"], "event_id BIGINT, cents BIGINT, ts TIMESTAMP, user_id BIGINT, "
                               "event_type VARCHAR")
            hit = f"c.event_id IN (SELECT event_id FROM {t})"
            counts["U"] = con.execute(f"SELECT count(*) FROM c WHERE {hit}").fetchone()[0]
            counts["I"] = len(op["rows"]) - counts["U"]
            con.execute(f"""UPDATE {t} SET cents = c.cents, ts = c.ts, user_id = c.user_id,
                event_type = c.event_type FROM c WHERE {t}.event_id = c.event_id""")
            con.execute(f"""INSERT INTO {t} SELECT event_id, ts, user_id, event_type, cents
                FROM c WHERE event_id NOT IN (SELECT event_id FROM {t})""")
        elif kind == "merge":
            values(op["rows"], "event_id BIGINT, cents BIGINT, op VARCHAR, ts TIMESTAMP, "
                               "user_id BIGINT, event_type VARCHAR")
            hit = f"c.event_id IN (SELECT event_id FROM {t})"
            counts["D"] = con.execute(f"SELECT count(*) FROM c WHERE op = 'd' AND {hit}").fetchone()[0]
            counts["U"] = con.execute(f"SELECT count(*) FROM c WHERE op = 'u' AND {hit}").fetchone()[0]
            counts["I"] = con.execute(f"SELECT count(*) FROM c WHERE op = 'u' AND NOT {hit}").fetchone()[0]
            con.execute(f"""INSERT INTO {t} SELECT event_id, ts, user_id, event_type, cents
                FROM c WHERE op = 'u' AND NOT {hit}""")
            con.execute(f"DELETE FROM {t} WHERE event_id IN (SELECT event_id FROM c WHERE op = 'd')")
            con.execute(f"""UPDATE {t} SET cents = c.cents FROM c
                WHERE {t}.event_id = c.event_id AND c.op = 'u'""")
        elif kind == "update":
            pred = f"{day_pred(op['day'])} AND user_id % {op['mod']} = {op['r']}"
            counts["U"] = con.execute(f"SELECT count(*) FROM {t} WHERE {pred}").fetchone()[0]
            con.execute(f"UPDATE {t} SET cents = cents + {op['delta']} WHERE {pred}")
        elif kind == "delete":
            pred = f"{day_pred(op['day'])} AND user_id % {op['mod']} = {op['r']}"
            counts["D"] = con.execute(f"SELECT count(*) FROM {t} WHERE {pred}").fetchone()[0]
            con.execute(f"DELETE FROM {t} WHERE {pred}")
        elif kind == "refresh":
            mv_state[t] = con.execute(mv_sql.format(t)).fetchall()
        elif kind == "point":
            want = [list(r) for r in con.execute(f"""SELECT event_id,
                strftime(ts, '%Y-%m-%d %H:%M:%S'), user_id, event_type, cents
                FROM {t} WHERE event_id = {op['key']}""").fetchall()]
        elif kind == "day":
            want = [list(con.execute(f"""SELECT count(*), CAST(coalesce(sum(cents), 0) AS BIGINT)
                FROM {t} WHERE {day_pred(op['day'])}""").fetchone())]
        elif kind == "changes":
            tot = {"I": 0, "U": 0, "D": 0}
            for v, c in changes[t]:
                if op["lo"] < v <= op["hi"]:
                    for k in tot:
                        tot[k] += c[k]
            want = [[k, n] for k, n in sorted(tot.items()) if n]
        elif kind == "mv":
            want = [list(r) for r in mv_state[t]]
        if kind in ("ingest", "insert", "merge", "update", "delete"):
            changes[t].append((op["version"], counts))
        if want is not None and want != op["result"]:
            failed += 1
            if len(msgs) < 10:
                msgs.append(f"dml: {kind} #{op['i']} on {t}: got {op['result']} want {want}")

    for m in ("cow", "mor"):
        if m not in check:
            continue  # final dump failed; already counted
        got = f"read_parquet('{check[m]}/*.parquet')"
        want = f"(SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts, user_id, event_type, cents FROM {m})"
        diff = con.execute(f"""SELECT count(*) FROM (
            (SELECT * FROM {got} EXCEPT ALL SELECT * FROM {want}) UNION ALL
            (SELECT * FROM {want} EXCEPT ALL SELECT * FROM {got}))""").fetchone()[0]
        if diff:
            failed += 1
            msgs.append(f"dml: final {m} table differs from the replay in {diff} rows")
        mv_got = con.execute(
            f"SELECT * FROM read_parquet('{check['mv_' + m]}/*.parquet') ORDER BY 1").fetchall()
        if mv_got != mv_state[m]:
            failed += 1
            msgs.append(f"dml: final materialized view of {m} differs from the replay")
    return failed, msgs


def _normalize(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: v.hex() if isinstance(v, (bytes, bytearray))
                              else tuple(v) if isinstance(v, (list, np.ndarray)) else v)
    keys = [c for c in df.columns if df[c].map(lambda v: not isinstance(v, tuple)).all()]
    if keys:
        df = df.sort_values(by=keys, kind="mergesort")
    return df.reset_index(drop=True)


def _same(a, b):
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    for c in a.columns:
        for x, y in zip(a[c], b[c]):
            nx = x is None or (isinstance(x, float) and math.isnan(x))
            ny = y is None or (isinstance(y, float) and math.isnan(y))
            if not (nx and ny) and x != y:
                return False
    return True


def analytics(data_dir, check):
    """Each query's rows == its DuckDB oracle SQL on the same files; a
    query without an oracle must return rows. A wrong reference fails
    every timed execution of that query."""
    con = _connect(data_dir)
    failed, msgs = 0, []
    passes = int(check["passes"])
    for name, q in sorted(check["queries"].items()):
        mine = pd.read_parquet(q["dir"])
        if q["oracle"] is None:
            ok = len(mine) > 0
        else:
            ok = _same(_normalize(mine), _normalize(con.execute(q["oracle"]).fetchdf()))
        if not ok:
            failed += passes
            msgs.append(f"analytics: {name} differs from its oracle")
    return failed, msgs


CHECKS = {"ingest_dml": dml, "analytics": analytics}
