"""Output checks of a graft build directory, read with DuckDB.

A build directory is what Checkpointed.runAll writes: triples/pk=N/,
nodes/, edges/pk=N/ as parquet and one _done/pk=N.json manifest per
committed bucket. The checks run after the timed build, outside its clock.
"""

import json
import os

import duckdb

MIN_F1 = 0.95
# IRIs of KB entities (Corpus.mintUri); minted IRIs live elsewhere.
KB_IRI_PREFIX = "https://kb.local/"


def _q(path):
    return path.replace("'", "''")


def table_sql(build_dir, table):
    glob = os.path.join(build_dir, table, "**", "*.parquet")
    return f"read_parquet('{_q(glob)}', hive_partitioning = true)"


def gold_sql(gold_file):
    return (f"read_json('{_q(gold_file)}', format = 'newline_delimited', columns = "
            "{'url': 'VARCHAR', 'subj': 'VARCHAR', 'pred': 'VARCHAR', 'obj': 'VARCHAR'})")


def manifests(build_dir):
    d = os.path.join(build_dir, "_done")
    out = []
    for name in sorted(os.listdir(d)) if os.path.isdir(d) else []:
        if name.endswith(".json"):
            with open(os.path.join(d, name)) as fh:
                out.append(json.load(fh))
    return out


def tree_bytes(path):
    return sum(os.path.getsize(os.path.join(b, f)) for b, _, fs in os.walk(path) for f in fs)


class Report:
    """Check verdicts plus the facts the metrics are computed from."""

    def __init__(self):
        self.checks = []  # (name, ok, detail)
        self.f1 = 0.0
        self.triple_rows = 0
        self.node_rows = 0
        self.linked_nodes = 0
        self.out_bytes = 0

    @property
    def ok(self):
        return bool(self.checks) and all(ok for _, ok, _ in self.checks)

    @property
    def linked_share(self):
        return self.linked_nodes / self.node_rows if self.node_rows else 0.0

    def add(self, name, ok, detail):
        self.checks.append((name, bool(ok), detail))


def check_build(build_dir, gold_file):
    """Check one build directory against the generator's gold triples."""
    r = Report()
    con = duckdb.connect()
    try:
        t, n, e = (table_sql(build_dir, x) for x in ("triples", "nodes", "edges"))
        tp, fp, fn, rows = con.sql(f"""
            WITH u AS (SELECT url, subj, pred, obj, 1 AS p, 0 AS g FROM {t}
                       UNION ALL
                       SELECT url, subj, pred, obj, 0 AS p, 1 AS g FROM {gold_sql(gold_file)}),
                 k AS (SELECT sum(p) AS p, max(g) AS g FROM u GROUP BY url, subj, pred, obj)
            SELECT count(*) FILTER (WHERE p > 0 AND g = 1), count(*) FILTER (WHERE p > 0 AND g = 0),
                   count(*) FILTER (WHERE p = 0 AND g = 1), coalesce(sum(p), 0) FROM k""").fetchone()
        r.f1 = 2.0 * tp / (2.0 * tp + fp + fn) if tp else 0.0
        r.triple_rows = int(rows)
        r.node_rows, distinct_iris, r.linked_nodes = con.sql(f"""
            SELECT count(*), count(DISTINCT iri),
                   count(*) FILTER (WHERE starts_with(iri, '{KB_IRI_PREFIX}')) FROM {n}""").fetchone()
        edge_rows, dangling_src, dangling_dst = con.sql(f"""
            WITH iris AS (SELECT DISTINCT iri FROM {n})
            SELECT count(*),
                   count(*) FILTER (WHERE NOT EXISTS (SELECT 1 FROM iris WHERE iris.iri = e.src_iri)),
                   count(*) FILTER (WHERE e.dst_iri IS NOT NULL AND
                                    NOT EXISTS (SELECT 1 FROM iris WHERE iris.iri = e.dst_iri))
            FROM {e} e""").fetchone()
    except duckdb.Error as err:
        r.add("readable", False, str(err).splitlines()[0])
        return r
    finally:
        con.close()
    manifest_triples = sum(m["n_triples"] for m in manifests(build_dir))
    r.out_bytes = sum(tree_bytes(os.path.join(build_dir, x)) for x in ("triples", "nodes", "edges"))
    r.add("triple_f1", r.f1 >= MIN_F1, f"f1={r.f1:.4f} (tp={tp} fp={fp} fn={fn}, needs >= {MIN_F1})")
    r.add("nodes_unique", r.node_rows == distinct_iris,
          f"rows={r.node_rows} distinct_iris={distinct_iris}")
    r.add("edges_resolve", dangling_src == 0 and dangling_dst == 0,
          f"src_not_in_nodes={dangling_src} dst_not_in_nodes={dangling_dst}")
    r.add("edges_eq_triples", edge_rows == r.triple_rows, f"edges={edge_rows} triples={r.triple_rows}")
    r.add("manifests_eq_triples", manifest_triples == r.triple_rows,
          f"manifest_n_triples={manifest_triples} triples={r.triple_rows}")
    return r


def table_hash(build_dir, table):
    """Row count and order-independent sum of row hashes, columns by name."""
    con = duckdb.connect()
    try:
        src = table_sql(build_dir, table)
        cols = sorted(c[0] for c in con.sql(f"DESCRIBE SELECT * FROM {src}").fetchall())
        sel = ", ".join(f'"{c}"' for c in cols)
        return con.sql(f"SELECT count(*), coalesce(sum(hash(x)::HUGEINT), 0) "
                       f"FROM (SELECT {sel} FROM {src}) x").fetchone()
    finally:
        con.close()


def same_tables(a, b):
    """(ok, detail): the triples, nodes and edges of two builds hash-equal."""
    try:
        diff = [t for t in ("triples", "nodes", "edges") if table_hash(a, t) != table_hash(b, t)]
    except duckdb.Error as err:
        return False, str(err).splitlines()[0]
    return not diff, "triples, nodes, edges hash-equal" if not diff else f"differ: {', '.join(diff)}"
