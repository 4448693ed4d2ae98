"""Seeded inputs and statement plans for the three workloads.

Everything the engine runs is decided here, before the JVM sees it: base
tables (TPC-H lineitem and orders at scale factor 0.1, from DuckDB's
built-in dbgen, identical for every seed), event batches, MERGE batches,
lookup keys and predicates (all drawn from the seed). Each statement
carries its Spark SQL and the DuckDB SQL that computes the same answer or
applies the same change, so the oracle in ``oracle.py`` replays the plan
without looking at anything the engine produced.

A plan is a list of rounds. The first ``WARM_ROUNDS`` warm the JVM up on
the real table and are not measured; after them a run executes whole
rounds until its time is up, so the statements a run attempted are always
a prefix of whole rounds.
"""

import datetime as dt
import json
import os
import random

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CATALOG = "g"
WARM_ROUNDS = 1
# rounds generated, warm-up included; a run that uses them all stops early
MAX_ROUNDS = {"trickle_ingest": 40, "lookup_scan": 30, "upsert_merge": 30}

# --- trickle_ingest -------------------------------------------------------
BACKFILL_DAYS = 30
BACKFILL_ROWS = 100_000
BATCH_ROWS = 1_000
BATCH_STEP_MIN = 20           # event time advances 20 minutes per batch
WINDOW_HOURS = 48             # each batch spans the two days before its end
EVENT_TYPES = ["click", "view", "purchase", "search", "share", "signup"]
USERS = 10_000
TRICKLE_START = dt.datetime(2024, 1, 1)
ROLLUP_DAYS = 5
# --- lookup_scan ----------------------------------------------------------
POINT_HIT_SHARE = 0.75
RANGE_MONTHS = 2
# --- upsert_merge ---------------------------------------------------------
MERGE_ROWS = 500
MERGE_UPDATE_SHARE = 0.8
NEW_KEY_BASE = 10_000_000

EVENTS_COLS = ("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
               "value DOUBLE, props STRING")
LINEITEM_COLS = ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
                 "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, "
                 "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, "
                 "l_linestatus STRING, l_shipdate DATE")
ORDERS_COLS = ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
               "o_totalprice DOUBLE, o_orderdate DATE, o_orderpriority STRING")
AUDIT = ("SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS p, "
         "sum(o_custkey) AS c, sum(o_orderkey) AS k FROM {t} "
         "GROUP BY o_orderstatus ORDER BY o_orderstatus")


def _ts(t):
    return t.strftime("%Y-%m-%d %H:%M:%S")


def _stmt(kind, slot, sql, duck, **extra):
    return dict(kind=kind, slot=slot, sql=sql, duck=duck, **extra)


def _maintain(table):
    fq = f"{CATALOG}.system"
    return [
        _stmt("compact", None, f"CALL {fq}.compact(table => '{table}')", None),
        _stmt("expire", None, f"CALL {fq}.expire_snapshots(table => '{table}', "
              "older_than_ms => {now_ms}, retain_last => 1)", None),
        _stmt("rewrite_manifests", None,
              f"CALL {fq}.rewrite_manifests(table => '{table}')", None),
    ]


def _dbgen(work):
    """lineitem.parquet and orders.parquet in the shape of the repo's sf0.1
    test tables (doubles for money, one DATE per row)."""
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("CALL dbgen(sf = 0.1)")
    con.execute(f"""COPY (SELECT l_orderkey, l_partkey, l_suppkey,
        l_linenumber::INTEGER AS l_linenumber, l_quantity::DOUBLE AS l_quantity,
        l_extendedprice::DOUBLE AS l_extendedprice, l_discount::DOUBLE AS l_discount,
        l_tax::DOUBLE AS l_tax, l_returnflag, l_linestatus, l_shipdate
        FROM lineitem ORDER BY l_orderkey, l_linenumber)
        TO '{work}/lineitem.parquet' (FORMAT parquet)""")
    con.execute(f"""COPY (SELECT o_orderkey, o_custkey, o_orderstatus,
        o_totalprice::DOUBLE AS o_totalprice, o_orderdate, o_orderpriority
        FROM orders ORDER BY o_orderkey)
        TO '{work}/orders.parquet' (FORMAT parquet)""")
    return con


def _concat(parts):
    return {k: np.concatenate([p[k] for p in parts]) for k in parts[0]}


# ---------------------------------------------------------------------------
# trickle_ingest
# ---------------------------------------------------------------------------

def _events(rng, n, first_id, lo, hi, batch):
    """Events in arrival order: ids rise with event time."""
    span = int((hi - lo).total_seconds() * 1_000_000)
    ts = np.datetime64(lo, "us") + np.sort(rng.integers(0, span, n)).astype("timedelta64[us]")
    return {
        "batch": np.full(n, batch, dtype=np.int64),
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(1, USERS + 1, n),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.random(n) * 100.0, 2),
        "props": np.char.add("v", rng.integers(0, 50, n).astype(str)),
    }


def _trickle(seed, work, max_rounds):
    rng = np.random.default_rng(seed)
    prng = random.Random(seed)
    cursor = TRICKLE_START + dt.timedelta(days=BACKFILL_DAYS)
    pq.write_table(pa.table(_events(rng, BACKFILL_ROWS, 0, TRICKLE_START, cursor, -1)),
                   f"{work}/backfill.parquet")
    parts, ends = [], []
    for b in range(2 * max_rounds):
        end = cursor + dt.timedelta(minutes=BATCH_STEP_MIN * (b + 1))
        parts.append(_events(rng, BATCH_ROWS, BACKFILL_ROWS + b * BATCH_ROWS,
                             end - dt.timedelta(hours=WINDOW_HOURS), end, b))
        ends.append(end)
    pq.write_table(pa.table(_concat(parts)), f"{work}/batches.parquet")
    t = f"{CATALOG}.db.events"

    def insert(b):
        return _stmt("insert", "op1", f"INSERT INTO {t} SELECT * FROM batch_{b}",
                     [f"INSERT INTO events SELECT * EXCLUDE (batch) FROM batches WHERE batch = {b}"],
                     batch=b)

    def fresh(end):
        day0 = (end - dt.timedelta(microseconds=1)).replace(hour=0, minute=0, second=0)
        day1 = day0 + dt.timedelta(days=1)
        body = ("SELECT event_type, count(*) AS n, sum(value) AS v, "
                "count(DISTINCT user_id) AS u FROM {t} "
                f"WHERE ts >= TIMESTAMP '{_ts(day0)}' AND ts < TIMESTAMP '{_ts(day1)}' "
                "GROUP BY event_type ORDER BY event_type")
        return _stmt("fresh", "op2", body.format(t=t), body.format(t="events"),
                     preds=[["gte", "ts", _ts(day0)], ["lt", "ts", _ts(day1)]])

    def rollup(end):
        lo = (end - dt.timedelta(days=ROLLUP_DAYS)).replace(hour=0, minute=0, second=0)
        body = ("SELECT CAST(ts AS DATE) AS d, event_type, count(*) AS n, sum(value) AS v "
                f"FROM {{t}} WHERE ts >= TIMESTAMP '{_ts(lo)}' GROUP BY 1, 2 ORDER BY 1, 2")
        return _stmt("rollup", "op3", body.format(t=t), body.format(t="events"),
                     preds=[["gte", "ts", _ts(lo)]])

    final = ("SELECT CAST(ts AS DATE) AS d, event_type, count(*) AS n, sum(value) AS v "
             "FROM {t} GROUP BY 1, 2 ORDER BY 1, 2")
    return dict(
        table="db.events",
        views=[dict(name="base_events", parquet="backfill.parquet", cols=EVENTS_COLS)],
        batches=dict(parquet="batches.parquet", cols=EVENTS_COLS),
        ddl=[f"CREATE TABLE {t} ({EVENTS_COLS}) PARTITIONED BY (days(ts))"],
        load=_stmt("load", None, f"INSERT INTO {t} SELECT * FROM base_events",
                   ["INSERT INTO events SELECT * EXCLUDE (batch) FROM backfill"]),
        rounds=[[insert(2 * r), fresh(ends[2 * r]), insert(2 * r + 1), rollup(ends[2 * r + 1])]
                for r in range(max_rounds)],
        maintain=_maintain("db.events"),
        final=dict(sql=final.format(t=t), duck=final.format(t="events")),
        duck_setup=["CREATE TABLE events AS SELECT * EXCLUDE (batch) FROM backfill LIMIT 0"],
        duck_views=dict(backfill="backfill.parquet", batches="batches.parquet"),
    )


# ---------------------------------------------------------------------------
# lookup_scan
# ---------------------------------------------------------------------------

def _lookup(seed, work, max_rounds, con):
    prng = random.Random(seed)
    present = [r[0] for r in con.execute(
        "SELECT DISTINCT l_orderkey FROM lineitem ORDER BY 1").fetchall()]
    pset, top = set(present), present[-1]
    t = f"{CATALOG}.db.lineitem"

    def point():
        hit = prng.random() < POINT_HIT_SHARE
        k = prng.choice(present)
        while not hit and k in pset:   # dbgen keys are sparse: most gaps fall inside min/max
            k = prng.randint(1, top)
        body = ("SELECT l_linenumber, l_partkey, l_quantity, l_extendedprice, l_discount, "
                f"l_returnflag, l_shipdate FROM {{t}} WHERE l_orderkey = {k} "
                "ORDER BY l_linenumber")
        return _stmt("point", "op1", body.format(t=t), body.format(t="lineitem"), key=k,
                     hit=hit, preds=[["eq", "l_orderkey", k]])

    def month_range():
        m0 = prng.randint(0, 6 * 12 + 8)
        m1 = m0 + RANGE_MONTHS
        lo = dt.date(1992 + m0 // 12, m0 % 12 + 1, 1)
        hi = dt.date(1992 + m1 // 12, m1 % 12 + 1, 1)
        body = ("SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS q, "
                "sum(l_extendedprice) AS p, avg(l_discount) AS d FROM {t} "
                f"WHERE l_shipdate >= DATE '{lo}' AND l_shipdate < DATE '{hi}' "
                "GROUP BY 1, 2 ORDER BY 1, 2")
        return _stmt("range", "op2", body.format(t=t), body.format(t="lineitem"),
                     preds=[["gte", "l_shipdate", str(lo)], ["lt", "l_shipdate", str(hi)]])

    def q1():
        cut = dt.date(1998, 12, 1) - dt.timedelta(days=prng.randint(60, 120))
        body = ("SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
                "sum(l_extendedprice) AS sum_base_price, "
                "sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price, "
                "sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge, "
                "avg(l_quantity) AS avg_qty, avg(l_discount) AS avg_disc, count(*) AS n "
                f"FROM {{t}} WHERE l_shipdate <= DATE '{cut}' GROUP BY 1, 2 ORDER BY 1, 2")
        return _stmt("full", "op3", body.format(t=t), body.format(t="lineitem"),
                     preds=[["lte", "l_shipdate", str(cut)]])

    final = ("SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS q, "
             "sum(l_extendedprice) AS p FROM {t} GROUP BY 1, 2 ORDER BY 1, 2")
    return dict(
        table="db.lineitem",
        views=[dict(name="base_lineitem", parquet="lineitem.parquet", cols=LINEITEM_COLS)],
        batches=None,
        ddl=[f"CREATE TABLE {t} ({LINEITEM_COLS}) PARTITIONED BY (months(l_shipdate)) "
             "TBLPROPERTIES ('write.bloom-columns' = 'l_orderkey')"],
        load=_stmt("load", None, f"INSERT INTO {t} SELECT * FROM base_lineitem", []),
        rounds=[[point(), month_range(), point(), q1()] for _ in range(max_rounds)],
        maintain=_maintain("db.lineitem"),
        final=dict(sql=final.format(t=t), duck=final.format(t="lineitem")),
        duck_setup=[],
        duck_views=dict(lineitem="lineitem.parquet"),
    )


# ---------------------------------------------------------------------------
# upsert_merge
# ---------------------------------------------------------------------------

def _upsert(seed, work, max_rounds, con):
    rng = np.random.default_rng(seed)
    prng = random.Random(seed)
    keys = np.array([r[0] for r in con.execute(
        "SELECT o_orderkey FROM orders ORDER BY 1").fetchall()], dtype=np.int64)
    n_upd = int(MERGE_ROWS * MERGE_UPDATE_SHARE)
    parts = []
    for b in range(max_rounds):
        # keys are distinct within a batch: the engine rejects duplicate ON keys
        upd = rng.choice(keys, n_upd, replace=False)
        new = NEW_KEY_BASE + np.arange(b * MERGE_ROWS, b * MERGE_ROWS + MERGE_ROWS - n_upd)
        parts.append({
            "batch": np.full(MERGE_ROWS, b, dtype=np.int64),
            "o_orderkey": np.concatenate([upd, new]).astype(np.int64),
            "o_custkey": rng.integers(1, 15_001, MERGE_ROWS),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, MERGE_ROWS)],
            "o_totalprice": np.round(rng.random(MERGE_ROWS) * 1000.0, 2),
            "o_orderdate": np.datetime64("1992-01-01")
            + rng.integers(0, 2400, MERGE_ROWS).astype("timedelta64[D]"),
            "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                         "5-LOW"])[rng.integers(0, 5, MERGE_ROWS)],
        })
    pq.write_table(pa.table(_concat(parts)), f"{work}/merges.parquet")
    t = f"{CATALOG}.db.orders"
    cols = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"

    def merge(b):
        # additive, so a MERGE applied twice shows in the totals
        sql = (f"MERGE INTO {t} t USING batch_{b} s ON t.o_orderkey = s.o_orderkey "
               "WHEN MATCHED THEN UPDATE SET o_totalprice = t.o_totalprice + s.o_totalprice, "
               "o_orderstatus = s.o_orderstatus WHEN NOT MATCHED THEN INSERT *")
        duck = ["UPDATE orders SET o_totalprice = orders.o_totalprice + s.o_totalprice, "
                f"o_orderstatus = s.o_orderstatus FROM merges s "
                f"WHERE s.batch = {b} AND orders.o_orderkey = s.o_orderkey",
                f"INSERT INTO orders SELECT {cols} FROM merges s WHERE s.batch = {b} "
                "AND s.o_orderkey NOT IN (SELECT o_orderkey FROM orders)"]
        return _stmt("merge", "op1", sql, duck, batch=b, rows=MERGE_ROWS)

    def delete():
        # a day of 1992-1997: every year partition but the last is a full year
        day = dt.date(1992, 1, 1) + dt.timedelta(days=prng.randint(0, 6 * 365))
        pred = f"o_orderdate = DATE '{day}'"
        return _stmt("delete", "op2", f"DELETE FROM {t} WHERE {pred}",
                     [f"DELETE FROM orders WHERE {pred}"])

    def travel(dml):
        # audit a state older than the current one: -1 is the bulk load
        k = prng.randint(-1, dml - 2)
        return _stmt("travel", "op3", AUDIT.format(t=f"{t} VERSION AS OF {{snap:{k}}}"),
                     AUDIT.format(t="orders"), audit_of=k, preds=[])

    return dict(
        table="db.orders",
        views=[dict(name="base_orders", parquet="orders.parquet", cols=ORDERS_COLS)],
        batches=dict(parquet="merges.parquet", cols=ORDERS_COLS),
        ddl=[f"CREATE TABLE {t} ({ORDERS_COLS}) PARTITIONED BY (years(o_orderdate))"],
        load=_stmt("load", None, f"INSERT INTO {t} SELECT * FROM base_orders",
                   ["INSERT INTO orders SELECT * FROM base"]),
        rounds=[[merge(r), delete(), travel(2 * r + 2)] for r in range(max_rounds)],
        maintain=_maintain("db.orders"),
        final=dict(sql=f"SELECT * FROM {t}", duck="SELECT * FROM orders", dump=True),
        audit=AUDIT.format(t="orders"),
        duck_setup=["CREATE TABLE orders AS SELECT * FROM base LIMIT 0"],
        duck_views=dict(base="orders.parquet", merges="merges.parquet"),
    )


WORKLOADS = ("trickle_ingest", "lookup_scan", "upsert_merge")


def generate(workload, seed, work):
    """Write the inputs of one run into ``work`` and return its plan."""
    os.makedirs(work, exist_ok=True)
    rounds = MAX_ROUNDS[workload]
    if workload == "trickle_ingest":
        plan = _trickle(seed, work, rounds)
    else:
        con = _dbgen(work)
        plan = (_lookup if workload == "lookup_scan" else _upsert)(seed, work, rounds, con)
        con.close()
    plan.update(workload=workload, seed=seed, warm_rounds=WARM_ROUNDS)
    return plan


def write_plan(plan, path):
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(plan, f)
    os.replace(tmp, path)
