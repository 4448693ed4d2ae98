"""Self-tests of the correctness checks in oracle.py.

Each test feeds the oracle a run record made by a stand-in engine (DuckDB
applying the generated plan) and then corrupts one answer the way a faulty
engine would. The honest record must pass; every corrupted one must fail.
No JVM is involved.

    python3 tablebench/selftest.py
"""

import copy
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

ROUNDS = 2


def stand_in_run(plan, work, double_first_merge=False):
    """A run record as a correct engine would write it (or, with
    ``double_first_merge``, one that applies its first MERGE twice)."""
    con = oracle.connect(plan, work)
    stmts = oracle.executed_plan(plan, ROUNDS)
    recs, audits, version, dml, merged = [], {}, 1, -1, False
    for i, st in enumerate(stmts):
        rec = {"id": i, "kind": st["kind"], "slot": st["slot"], "ok": True,
               "round": -1 if st["kind"] == "load" else (-2 if st in plan["maintain"] else 0)}
        if st["kind"] == "load" or st["kind"] in oracle.DML:
            repeat = 2 if double_first_merge and st["kind"] == "merge" and not merged else 1
            merged = merged or st["kind"] == "merge"
            for _ in range(repeat):
                for q in st["duck"]:
                    con.execute(q)
            if st["kind"] in oracle.DML:
                dml += 1
                rec.update(version_before=version, version_after=version + 1)
                version += 1
            if plan.get("audit"):
                audits[dml] = con.execute(plan["audit"]).fetchall()
        elif st["kind"] == "travel":
            rec["rows"] = [[oracle.norm(v) for v in r] for r in audits[st["audit_of"]]]
        elif st["kind"] in oracle.READS:
            rec["rows"] = [[oracle.norm(v) for v in r] for r in con.execute(st["duck"]).fetchall()]
        recs.append(rec)
    fin = plan["final"]
    state = {}
    files = []
    if fin.get("dump"):
        dump = os.path.join(work, "final_dump")
        os.makedirs(dump, exist_ok=True)
        con.execute(f"COPY ({fin['duck']}) TO '{dump}/part-0.parquet' (FORMAT parquet)")
        state["dump"] = dump
        files = [f"{dump}/part-0.parquet"]
    else:
        state["rows"] = [[oracle.norm(v) for v in r] for r in con.execute(fin["duck"]).fetchall()]
        src = next(iter(plan["duck_views"]))
        for i, (lo, hi) in enumerate(((0, 200_000), (200_000, 400_000), (400_000, 1 << 40))):
            f = os.path.join(work, f"file{i}.parquet")
            con.execute(f"COPY (SELECT * FROM {src} WHERE l_orderkey >= {lo} AND "
                        f"l_orderkey < {hi}) TO '{f}' (FORMAT parquet)")
            files.append(f)
    total = con.execute("SELECT count(*) FROM read_parquet(?)", [files]).fetchone()[0]
    state.update(total_records=total, files=files, links=files)
    con.close()
    result = {"rounds": ROUNDS, "statements": recs, "pre": state, "post": copy.deepcopy(state),
              "pruning": {}}
    if plan["workload"] == "lookup_scan":
        bounds = (200_000, 400_000)
        for st in stmts:
            if st["kind"] == "point":
                k = st["key"]
                result["pruning"][str(k)] = [files[sum(k >= b for b in bounds)]]
    return result


class OracleChecks(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        os.makedirs(build.OUT, exist_ok=True)
        cls.work = tempfile.mkdtemp(prefix="selftest-", dir=build.OUT)
        con = gen._dbgen(cls.work)
        cls.lookup = gen._lookup(7, cls.work, ROUNDS, con)
        cls.lookup["workload"] = "lookup_scan"
        cls.upsert = gen._upsert(7, cls.work, ROUNDS, con)
        cls.upsert["workload"] = "upsert_merge"
        con.close()

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.work, ignore_errors=True)

    def run_dir(self, name):
        d = os.path.join(self.work, name)
        os.makedirs(d, exist_ok=True)
        for f in ("lineitem.parquet", "orders.parquet", "merges.parquet"):
            if not os.path.exists(os.path.join(d, f)):
                os.link(os.path.join(self.work, f), os.path.join(d, f))
        return d

    def test_honest_runs_pass(self):
        for plan in (self.lookup, self.upsert):
            d = self.run_dir(f"honest-{plan['workload']}")
            self.assertEqual(oracle.check(plan, stand_in_run(plan, d), d), [])

    def test_wrong_aggregate_row_fails(self):
        d = self.run_dir("wrong-agg")
        result = stand_in_run(self.lookup, d)
        agg = next(r for r in result["statements"] if r["kind"] == "range")
        agg["rows"][0][2] += 1
        self.assertTrue(any("range" in p for p in oracle.check(self.lookup, result, d)))

    def test_merge_applied_twice_fails(self):
        d = self.run_dir("double-merge")
        result = stand_in_run(self.upsert, d, double_first_merge=True)
        problems = oracle.check(self.upsert, result, d)
        self.assertTrue(any("final table" in p for p in problems), problems)

    def test_time_travel_from_current_snapshot_fails(self):
        d = self.run_dir("travel-current")
        result = stand_in_run(self.upsert, d)
        con = oracle.connect(self.upsert, d)
        for st in oracle.executed_plan(self.upsert, ROUNDS):
            for q in (st["duck"] or []) if st["kind"] not in oracle.READS else []:
                con.execute(q)
        current = [[oracle.norm(v) for v in r] for r in con.execute(self.upsert["audit"]).fetchall()]
        con.close()
        travel = next(r for r in result["statements"] if r["kind"] == "travel")
        self.assertNotEqual(travel["rows"], current)
        travel["rows"] = current
        problems = oracle.check(self.upsert, result, d)
        self.assertTrue(any("travel" in p for p in problems), problems)

    def test_pruning_that_drops_a_holding_file_fails(self):
        d = self.run_dir("pruning")
        result = stand_in_run(self.lookup, d)
        hit = next(st["key"] for st in oracle.executed_plan(self.lookup, ROUNDS)
                   if st["kind"] == "point" and st["hit"])
        result["pruning"][str(hit)] = []
        problems = oracle.check(self.lookup, result, d)
        self.assertTrue(any(f"point lookup {hit}" in p for p in problems), problems)


if __name__ == "__main__":
    unittest.main()
