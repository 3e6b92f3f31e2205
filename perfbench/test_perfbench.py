"""The benchmark's own tests: seeded inputs are reproducible, and every
output check rejects a deliberately corrupted result.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

They need no JVM: the "program outputs" here are built from the checks'
own expected answers, then corrupted one value at a time.
"""
import filecmp
import json
import os
import shutil
import sys
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

SCRATCH = os.path.join(os.path.dirname(HERE), ".bench_work", "tests")


def fresh(name):
    d = os.path.join(SCRATCH, name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.diff_files or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class SeededInputs(unittest.TestCase):
    def test_same_seed_gives_byte_identical_inputs(self):
        for w in ("warehouse_stream", "ads_dashboard", "lakehouse_upsert"):
            with self.subTest(workload=w):
                root = fresh(f"seed_{w}")
                for run in ("a", "b"):
                    gen.generate(w, 7, os.path.join(root, run))
                gen.generate(w, 8, os.path.join(root, "other"))
                self.assertTrue(same_tree(os.path.join(root, "a"), os.path.join(root, "b")))
                self.assertFalse(same_tree(os.path.join(root, "a"), os.path.join(root, "other")))


class StreamCheck(unittest.TestCase):
    FILES = 6
    WATERMARK = gen.T0_MS + (FILES * gen.SLICE_S - 1) * 1000

    @classmethod
    def setUpClass(cls):
        cls.inputs = os.path.join(fresh("stream"), "inputs")
        gen.generate("warehouse_stream", 3, cls.inputs)
        cls.want = check.stream_expected(cls.inputs, cls.FILES, cls.WATERMARK)

    def run_check(self, visitor, keyword, dirty, late=0):
        out = fresh("stream_out")
        with open(os.path.join(out, "outputs.jsonl"), "w") as f:
            for stt, edt, k, a, b, c in visitor:
                f.write(json.dumps({"batch": 0, "kind": "visitor", "stt": stt, "edt": edt,
                                    "k": k, "a": a, "b": b, "c": c}) + "\n")
            for stt, edt, k, a in keyword:
                f.write(json.dumps({"batch": 0, "kind": "keyword", "stt": stt, "edt": edt,
                                    "k": k, "a": a}) + "\n")
            for line in dirty:
                f.write(json.dumps({"batch": 0, "kind": "dirty", "k": line}) + "\n")
        info = {"files_done": self.FILES, "watermark_ms": self.WATERMARK,
                "rows_dropped_late": late}
        return check.check_stream(self.inputs, out, info)

    def test_expected_outputs_pass(self):
        visitor, keyword, dirty = self.want
        self.assertTrue(visitor and keyword and dirty)
        self.assertEqual(self.run_check(visitor, keyword, dirty), [])

    def test_window_count_off_by_one_is_rejected(self):
        visitor, keyword, dirty = self.want
        bad = [list(r) for r in visitor]
        bad[0][3] += 1
        self.assertTrue(self.run_check(bad, keyword, dirty))

    def test_missing_keyword_window_is_rejected(self):
        visitor, keyword, dirty = self.want
        self.assertTrue(self.run_check(visitor, keyword[1:], dirty))

    def test_lost_dirty_row_is_rejected(self):
        visitor, keyword, dirty = self.want
        self.assertTrue(self.run_check(visitor, keyword, dirty[1:]))

    def test_late_drop_is_rejected(self):
        self.assertTrue(self.run_check(*self.want, late=1))


class QueryCheck(unittest.TestCase):
    SQL = {"gmv": "SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(12, 2))) AS DOUBLE) AS gmv "
                  "FROM orders WHERE o_orderdate >= DATE '1998-06-01' "
                  "AND o_orderdate < DATE '1998-07-01'",
           "by_type": "SELECT p_type, count(*) AS n FROM part GROUP BY p_type"}

    @classmethod
    def setUpClass(cls):
        cls.inputs = os.path.join(fresh("ads"), "inputs")
        gen.generate("ads_dashboard", 3, cls.inputs)

    def run_check(self, corrupt=None):
        out = fresh("ads_out")
        con = check.oracle_con(self.inputs)
        with open(os.path.join(out, "oracle.jsonl"), "w") as f:
            for name, sql in self.SQL.items():
                f.write(json.dumps({"name": name, "sql": sql}) + "\n")
                t = con.execute(sql).arrow()
                if corrupt == name:
                    col = t.column_names[-1]
                    vals = t.column(col).to_pylist()
                    vals[0] = vals[0] + 1
                    t = t.set_column(t.column_names.index(col), col, pa.array(vals, t.schema.field(col).type))
                os.makedirs(os.path.join(out, "results", name))
                pq.write_table(t, os.path.join(out, "results", name, "part-0.parquet"))
        return check.check_queries(self.inputs, out)

    def test_oracle_results_pass(self):
        self.assertEqual(self.run_check(), [])

    def test_corrupted_result_is_rejected(self):
        for name in self.SQL:
            with self.subTest(query=name):
                self.assertTrue(self.run_check(corrupt=name))


class LakeCheck(unittest.TestCase):
    APPLIED = 4

    @classmethod
    def setUpClass(cls):
        cls.inputs = os.path.join(fresh("lake"), "inputs")
        gen.generate("lakehouse_upsert", 3, cls.inputs)
        cls.fold = staticmethod(check.lake_folds(cls.inputs))

    def run_check(self, lookup_rows, final_rows):
        out = fresh("lake_out")
        keys = [r[0] for r in lookup_rows]
        with open(os.path.join(out, "lookups.jsonl"), "w") as f:
            f.write(json.dumps({"version": self.APPLIED + 1, "applied": self.APPLIED,
                                "keys": keys,
                                "rows": [dict(zip(check.DOC_COLS, r)) for r in lookup_rows]}) + "\n")
        os.makedirs(os.path.join(out, "final_table"))
        pq.write_table(pa.Table.from_pylist([dict(zip(check.DOC_COLS, r)) for r in final_rows]),
                       os.path.join(out, "final_table", "part-0.parquet"))
        return check.check_lake(self.inputs, out, {"applied_batches": self.APPLIED})

    def updated_key(self):
        before, after = self.fold(self.APPLIED - 1), self.fold(self.APPLIED)
        return next(k for k in before if before[k] != after[k]), before, after

    def test_fold_outputs_pass(self):
        k, _, after = self.updated_key()
        self.assertEqual(self.run_check([after[k]], list(after.values())), [])

    def test_stale_lookup_row_is_rejected(self):
        k, before, after = self.updated_key()
        self.assertTrue(self.run_check([before[k]], list(after.values())))

    def test_stale_final_row_is_rejected(self):
        k, before, after = self.updated_key()
        final = dict(after)
        final[k] = before[k]
        self.assertTrue(self.run_check([after[k]], list(final.values())))


if __name__ == "__main__":
    unittest.main()
