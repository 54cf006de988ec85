"""Tests of the benchmark's Python side: the output checks and the report.

    python3 -m unittest discover -s kgbench -p 'test_*.py'
"""

import json
import os
import shutil
import tempfile
import unittest

import duckdb

import checks
import run

HERE = os.path.dirname(os.path.abspath(__file__))
with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)

TRIPLES = [  # url, subj, pred, obj, pk
    ("https://a.example.org/1", "alan_bean", "worksfor", "Acme Corp", 0),
    ("https://a.example.org/1", "alan_bean", "birthdat", "1932-03-15", 0),
    ("https://b.example.org/2", "acme_corp", "locat", "Lyon", 1),
]
NODES = [  # iri, entity_type, name, slug
    ("https://kb.local/e/alan_bean-1", "Person", "Alan Bean", "alan_bean"),
    ("https://kb.local/e/acme_corp-2", "Organization", "Acme Corp", "acme_corp"),
    ("https://kg.local/e/lyon-3", "Place", "Lyon", "lyon"),
]
EDGES = [  # src_iri, pred, dst_iri, obj_literal, url, pk
    (NODES[0][0], "worksfor", NODES[1][0], None, TRIPLES[0][0], 0),
    (NODES[0][0], "birthdat", None, "1932-03-15", TRIPLES[1][0], 0),
    (NODES[1][0], "locat", NODES[2][0], None, TRIPLES[2][0], 1),
]


def values(rows):
    def lit(v):
        return "NULL" if v is None else (str(v) if isinstance(v, int) else "'" + v + "'")
    return ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)


def write_build(d, triples=TRIPLES, nodes=NODES, edges=EDGES):
    """A small build directory in runAll's layout."""
    os.makedirs(d)
    con = duckdb.connect()
    con.sql(f"COPY (SELECT * FROM (VALUES {values(triples)}) t(url, subj, pred, obj, pk)) "
            f"TO '{d}/triples' (FORMAT parquet, PARTITION_BY (pk))")
    os.makedirs(f"{d}/nodes")
    con.sql(f"COPY (SELECT * FROM (VALUES {values(nodes)}) n(iri, entity_type, name, slug)) "
            f"TO '{d}/nodes/part-0.parquet' (FORMAT parquet)")
    con.sql(f"COPY (SELECT * FROM (VALUES {values(edges)}) "
            f"e(src_iri, pred, dst_iri, obj_literal, url, pk)) "
            f"TO '{d}/edges' (FORMAT parquet, PARTITION_BY (pk))")
    con.close()
    os.makedirs(f"{d}/_done")
    for pk in sorted({t[4] for t in triples}):
        n = sum(1 for t in triples if t[4] == pk)
        with open(f"{d}/_done/pk={pk}.json", "w") as fh:
            fh.write(json.dumps({"pk": pk, "n_pages": 1, "n_triples": n, "run_id": 2}))


class ChecksTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.gold = os.path.join(self.tmp, "gold.jsonl")
        with open(self.gold, "w") as fh:
            for url, s, p, o, _ in TRIPLES:
                fh.write(json.dumps({"url": url, "subj": s, "pred": p, "obj": o}) + "\n")
        self.good = os.path.join(self.tmp, "good")
        write_build(self.good)

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def failed(self, d):
        return [name for name, ok, _ in checks.check_build(d, self.gold).checks if not ok]

    def test_a_consistent_build_passes(self):
        r = checks.check_build(self.good, self.gold)
        self.assertTrue(r.ok, r.checks)
        self.assertEqual(r.f1, 1.0)
        self.assertEqual(r.triple_rows, 3)
        self.assertAlmostEqual(r.linked_share, 2 / 3)

    def test_dropped_edge_rows_fail(self):
        d = os.path.join(self.tmp, "dropped")
        write_build(d, edges=EDGES[:2])
        self.assertEqual(self.failed(d), ["edges_eq_triples"])

    def test_a_duplicated_node_row_fails(self):
        d = os.path.join(self.tmp, "dup")
        write_build(d, nodes=NODES + NODES[:1])
        self.assertEqual(self.failed(d), ["nodes_unique"])

    def test_an_edge_to_a_missing_node_fails(self):
        d = os.path.join(self.tmp, "dangling")
        write_build(d, nodes=NODES[:2])
        self.assertEqual(self.failed(d), ["edges_resolve"])

    def test_lost_triples_fail_f1_and_counts(self):
        d = os.path.join(self.tmp, "lost")
        write_build(d, triples=TRIPLES[:1])
        self.assertEqual(set(self.failed(d)), {"triple_f1", "edges_eq_triples"})

    def test_a_missing_table_fails(self):
        shutil.rmtree(os.path.join(self.good, "edges"))
        self.assertEqual(self.failed(self.good), ["readable"])

    def test_same_tables(self):
        copy = os.path.join(self.tmp, "copy")
        shutil.copytree(self.good, copy)
        self.assertTrue(checks.same_tables(self.good, copy)[0])
        d = os.path.join(self.tmp, "dropped")
        write_build(d, edges=EDGES[:2])
        ok, detail = checks.same_tables(self.good, d)
        self.assertFalse(ok)
        self.assertIn("edges", detail)


class ReportTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.gold = os.path.join(self.tmp, "gold.jsonl")
        with open(self.gold, "w") as fh:
            for url, s, p, o, _ in TRIPLES:
                fh.write(json.dumps({"url": url, "subj": s, "pred": p, "obj": o}) + "\n")
        write_build(os.path.join(self.tmp, "b"))

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def build(self, name="timed", seconds=30.0):
        d = os.path.join(self.tmp, "b")
        return {"name": name, "dir": d, "run_id": 2, "started_ms": 1_000_000_010_000,
                "seconds": seconds, "peak_exec_mem": 64 << 20,
                "report": checks.check_build(d, self.gold), "manifests": checks.manifests(d)}

    def untraced(self):
        return {"launched": 1_000_000_000.0, "gen_s": 4.0, "html_bytes": 1000,
                "builds": [self.build()], "reference": None, "metrics": {}}

    def traced(self, coverage=0.999):
        per_layer = {m["name"]: 1.0 for m in BENCH["per_layer"]}
        per_layer["trace.coverage"] = coverage
        return {"launched": 0.0, "gen_s": 4.0, "html_bytes": 1000, "reference": None,
                "builds": [self.build(n) for n in ("timed", "base", "traced", "base-after")],
                "metrics": per_layer}

    def test_untraced_report_has_exactly_the_end_to_end_metrics(self):
        correct, attempted, failed, metrics = run.assemble([self.untraced()], False)
        self.assertEqual((correct, attempted, failed), (True, 1, 0))
        declared = run.declared_metrics(BENCH, False)
        self.assertEqual(set(metrics), set(declared))
        self.assertAlmostEqual(metrics["setup_s"], 6.0)
        self.assertAlmostEqual(metrics["docs_per_s"], 2 / 30.0)
        out, missing = run.report_metrics(metrics, declared)
        self.assertEqual(missing, [])
        self.assertEqual(out["build_s"], {"value": 30.0, "unit": "s"})

    def test_traced_report_has_exactly_the_per_layer_metrics(self):
        correct, attempted, failed, metrics = run.assemble([self.traced()], True)
        self.assertEqual((correct, attempted, failed), (True, 4, 0))
        self.assertEqual(set(metrics), set(run.declared_metrics(BENCH, True)))

    def test_metric_names_are_unique_and_valid(self):
        names = [m["name"] for k in ("end_to_end", "per_layer") for m in BENCH[k]]
        self.assertEqual(len(names), len(set(names)))
        self.assertIn("setup_s", names)

    def test_a_failed_jvm_or_check_is_counted(self):
        correct, attempted, failed, _ = run.assemble([None], False)
        self.assertEqual((correct, attempted, failed), (False, 1, 1))
        r = self.untraced()
        r["builds"][0]["report"].add("triple_f1", False, "f1=0.5")
        self.assertEqual(run.assemble([r], False)[:3], (False, 1, 1))

    def test_trace_disagreement_is_a_failure(self):
        r = self.traced()
        r["builds"][2]["report"].triple_rows += 1
        self.assertEqual(run.assemble([r], True)[:3], (False, 4, 1))
        self.assertEqual(run.assemble([self.traced(coverage=0.8)], True)[:3], (False, 4, 1))


if __name__ == "__main__":
    unittest.main()
