#!/usr/bin/env python3
"""Tests of the benchmark's own checker (no JVM needed).

    python3 perfbench/test_checker.py

The checker must accept the true result and reject a perturbed one: one
part's failed count off by one (in the verdicts and in a run's commit log),
one query row dropped. The DuckDB replay is
checked against counts known by construction, and the join-based dedup SQL
against the oracle's all-pairs form on a small seeded table.
"""
import shutil
import tempfile
import unittest
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen_tables
import reference as ref

HERE = Path(__file__).resolve().parent

SPAN = pa.struct([("kind", pa.string()), ("text", pa.string()),
                  ("media_ref", pa.string()), ("offset", pa.int32())])


def span(kind, text="", ref_="", off=0):
    return {"kind": kind, "text": text, "media_ref": ref_, "offset": off}


# (part, doc_id, spans, violations under headline.yaml); known by construction
DOCS = [
    (0, "d-000000000001", [span("text", "a", "", 0), span("media", "", "m-0000abcd", 10)], 0),
    (0, "d-000000000002", [span("blob", "a", "", 0)], 1),  # kind.enum
    (0, "bad-id", [span("text", "a", "", 0)], 1),  # pattern
    (1, "d-000000000004", [span("text", "", "", 0), span("text", "b", "", -1)], 3),
    # ^ text.consistency, offset.minimum, offset.order
    (1, "d-000000000005", [span("media", "", "BAD", 0)], 1),  # media_ref.pattern
    (1, "d-000000000006", [span("text", "a", "", 5)] * 17, 1 + 16),
    # ^ maxItems 16, plus 16 offset.order (equal offsets)
]


class CheckerTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = Path(tempfile.mkdtemp())
        corpus = cls.tmp / "corpus"
        corpus.mkdir()
        pq.write_table(pa.table({
            "doc_id": pa.array([d[1] for d in DOCS], pa.string()),
            "spans": pa.array([d[2] for d in DOCS], pa.list_(SPAN)),
            "part": pa.array([d[0] for d in DOCS], pa.int32())}),
            corpus / "part-0.parquet")
        (corpus / "_BENCH_FINGERPRINT").write_text("test corpus")
        cls.ref = ref.docs_reference(corpus, HERE / "rules" / "headline.yaml")
        parts = {}
        for p, _, _, n in DOCS:
            d, f, v = parts.get(p, (0, 0, 0))
            parts[p] = (d + 1, f + (n > 0), v + n)
        cls.truth = {"parts": [[p, d, f, v] for p, (d, f, v) in sorted(parts.items())]}

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def test_replay_matches_construction(self):
        self.assertEqual(self.ref["parts"], self.truth["parts"])

    def test_accepts_true_verdicts(self):
        self.assertEqual(ref.check_verdict(self.truth, self.ref), [])

    def test_rejects_failed_count_off_by_one(self):
        bad = {"parts": [list(r) for r in self.truth["parts"]]}
        bad["parts"][1][2] += 1
        self.assertTrue(ref.check_verdict(bad, self.ref))

    def test_run_check_accepts_true_and_rejects_off_by_one(self):
        run = {"by_rule": self.ref["by_rule"],
               "failed_by_part": [[p, f] for p, _, f, _ in self.truth["parts"] if f],
               "commits": self.truth["parts"]}
        self.assertEqual(ref.check_run(run, self.ref), [])
        bad = dict(run, commits=[list(r) for r in run["commits"]])
        bad["commits"][0][2] += 1
        self.assertTrue(ref.check_run(bad, self.ref))

    def test_rejects_dropped_query_row(self):
        got = ref.canon(["id_a", "id_b", "jaccard"], [(1, 2, 0.9), (3, 4, 0.95)])
        oracle = {"columns": got[0], "rows": [list(r) for r in got[1]]}
        self.assertEqual(ref.check_query(got, oracle), "")
        dropped = (got[0], got[1][:1])
        self.assertTrue(ref.check_query(dropped, oracle))

    def test_join_dedup_sql_equals_oracle_all_pairs(self):
        import duckdb
        docs = gen_tables.documents(np.random.default_rng(5), 150)
        con = duckdb.connect()
        con.register("documents", docs)
        # the all-pairs form of SparkEntry.oracleSql("d_dedup_minhash")
        all_pairs = ref.DEDUP_SQL["d_dedup_minhash"].split("u AS (")[0] + r"""
pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) AS i,
    CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) AS u
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
SELECT id_a, id_b, round(CASE WHEN u = 0 THEN 0.0 ELSE i / u END, 4) AS jaccard
FROM pairs WHERE (CASE WHEN u = 0 THEN 0.0 ELSE i / u END) >= 0.5
ORDER BY id_a, id_b"""
        want = con.execute(all_pairs).fetchall()
        got = con.execute(ref.DEDUP_SQL["d_dedup_minhash"]).fetchall()
        self.assertTrue(want)
        self.assertEqual(got, want)


if __name__ == "__main__":
    unittest.main()
