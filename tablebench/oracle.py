"""DuckDB oracle: replays a run's plan apart from the engine and checks every
answer the engine gave.

The oracle sees the generated inputs and the plan, and from the engine's
record only what it checks: the rows each statement returned, the
versions and snapshots it reported, and the files it listed. Every check
returns a list of problems; an empty list means the run was correct.
"""

import math
import os

import duckdb

READS = {"fresh", "rollup", "point", "range", "full", "travel"}
DML = {"insert", "merge", "delete"}
REL_TOL = 1e-9


def norm(v):
    """DuckDB dates as the ISO strings the engine's record holds."""
    return v.isoformat() if hasattr(v, "isoformat") else v


def same_value(a, b):
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if isinstance(a, int) and isinstance(b, int):
            return a == b
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=REL_TOL)
    return a == b


def compare_rows(got, want, what):
    """Both sides are fully ordered by the query; doubles compare within a
    relative 1e-9, because summation order differs between engines."""
    want = [[norm(v) for v in r] for r in want]
    got = [list(r) for r in got]
    if len(got) != len(want):
        return [f"{what}: {len(got)} rows, expected {len(want)}"]
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w) or not all(same_value(x, y) for x, y in zip(g, w)):
            return [f"{what}: row {i} is {g}, expected {w}"]
    return []


def connect(plan, work):
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for name, path in plan["duck_views"].items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{os.path.join(work, path)}')")
    for q in plan["duck_setup"]:
        con.execute(q)
    return con


def executed_plan(plan, rounds):
    """The statements a run attempted, in order: the load, `rounds` whole
    rounds, then maintenance."""
    return [plan["load"]] + [s for r in plan["rounds"][:rounds] for s in r] + plan["maintain"]


def check_statements(plan, result, con):
    """Replay the plan in DuckDB and compare each read the engine answered."""
    problems = []
    stmts = executed_plan(plan, result["rounds"])
    recs = result["statements"]
    if len(recs) != len(stmts):
        return [f"engine ran {len(recs)} statements, the plan has {len(stmts)}"]
    audits = {}
    dml_index = -1
    for st, rec in zip(stmts, recs):
        if st["kind"] != rec["kind"]:
            return [f"statement {rec['id']}: engine ran {rec['kind']}, plan says {st['kind']}"]
        if not rec.get("ok"):
            continue
        what = f"statement {rec['id']} ({st['kind']})"
        if st["kind"] == "load" or st["kind"] in DML:
            for q in st["duck"]:
                con.execute(q)
            if st["kind"] in DML:
                dml_index += 1
                if rec["version_after"] != rec["version_before"] + 1:
                    problems.append(f"{what}: catalog version went {rec['version_before']} -> "
                                    f"{rec['version_after']}, expected one step")
            if plan.get("audit"):
                audits[dml_index] = con.execute(plan["audit"]).fetchall()
        elif st["kind"] == "travel":
            want = audits.get(st["audit_of"])
            if want is None:
                problems.append(f"{what}: audits state {st['audit_of']}, which was never reached")
            else:
                problems += compare_rows(rec["rows"], want, what)
        elif st["kind"] in READS:
            problems += compare_rows(rec["rows"], con.execute(st["duck"]).fetchall(), what)
    return problems


def check_state(plan, state, con, tag):
    """The table's contents, its snapshot's record count and its live files."""
    problems = []
    fin = plan["final"]
    if "dump" in state:
        got = f"read_parquet('{state['dump']}/*.parquet')"
        want = f"({fin['duck']})"
        for a, b, side in ((got, want, "extra"), (want, got, "missing")):
            n = con.execute(f"SELECT count(*) FROM (SELECT * FROM {a} EXCEPT ALL "
                            f"SELECT * FROM {b})").fetchone()[0]
            if n:
                problems.append(f"final table ({tag}): {n} rows {side}")
    else:
        problems += compare_rows(state["rows"], con.execute(fin["duck"]).fetchall(),
                                 f"final answer ({tag})")
    expected = con.execute(f"SELECT count(*) FROM ({fin['duck']})").fetchone()[0] \
        if "dump" in state else None
    files = state["links"]
    in_files = con.execute("SELECT count(*) FROM read_parquet(?)", [files]).fetchone()[0] \
        if files else 0
    if state["total_records"] != in_files:
        problems.append(f"{tag}: snapshot total-records {state['total_records']} but the live "
                        f"files hold {in_files} rows")
    if expected is not None and in_files != expected:
        problems.append(f"{tag}: live files hold {in_files} rows, expected {expected}")
    return problems


def check_rows_generated(plan, result, con):
    """trickle_ingest: live rows equal the rows the plan generated and committed."""
    n = con.execute("SELECT count(*) FROM events").fetchone()[0]
    return [f"{tag}: table holds {result[tag]['total_records']} rows, {n} were committed"
            for tag in ("pre", "post") if result[tag]["total_records"] != n]


def check_pruning(result, state, con):
    """A point lookup's kept files must include every file holding its key."""
    keys = [int(k) for k in result["pruning"]]
    if not keys or not state["links"]:
        return []
    original = dict(zip(state["links"], state["files"]))
    holders = {}
    for link, key in con.execute(
            "SELECT DISTINCT filename, l_orderkey FROM read_parquet(?, filename = true) "
            "WHERE list_contains(?, l_orderkey)", [state["links"], keys]).fetchall():
        holders.setdefault(key, set()).add(original[link])
    problems = []
    for k in keys:
        missing = holders.get(k, set()) - set(result["pruning"][str(k)])
        if missing:
            problems.append(f"point lookup {k}: pruning dropped {len(missing)} file(s) "
                            f"holding the key, e.g. {sorted(missing)[0]}")
    return problems


def check(plan, result, work):
    con = connect(plan, work)
    try:
        problems = check_statements(plan, result, con)
        for tag in ("pre", "post"):
            problems += check_state(plan, result[tag], con, tag)
        if plan["workload"] == "trickle_ingest":
            problems += check_rows_generated(plan, result, con)
        problems += check_pruning(result, result["pre"], con)
        return problems
    finally:
        con.close()
