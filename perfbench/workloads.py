"""The benchmark's two workloads and their expected answers.

Both are closed loops with one client: the next operation starts when the
previous one returned.  Every operation's result is collected to the driver
(the timed part) and checked after the pass against an answer computed
before the pass started: the DuckDB oracle over the generated tables
(`oracles.graph_ctes()` for the graph views, the roster's oracle SQL for
the analytics and LLM-pipeline queries), plus a reference model of the
edge set that the ingest batches mutate.

* `traverse_ingest` — short requests on the bench-materialized dual
  bucketed edge layout and bucketed vertex layout: QueryEngine id gets,
  range scans and condition queries with keyset paging, 2-hop `k_hop` out
  of customers and into parts, Gremlin-style DSL counts and property
  expansion, two of each kind, interleaved with two `DualEdgeLayout.upsert`
  batches (a few rows on one vertex, and deletes, re-upserts and inserts
  of every edge label touching every bucket), a read-your-write `k_hop`
  after each, one redelivered batch id, and `maybe_compact()` +
  `vacuum()` at the end of the pass.
* `analytics_llm` — the iterative graph analytics (label propagation)
  and the LLM-data pipeline functions (MinHash
  LSH dedup, cosine top-k, unigram and BPE), each in its roster
  configuration from `__spark_entry__.raw_queries()`.
"""

from __future__ import annotations

import collections
import datetime as dt
import decimal
import math
import os
import random
import shutil
import time

LAYERS_ANALYTICS_LLM = [
    # (roster name, span/layer name)
    ("g_label_propagation", "operators.analytics.lpa"),
    ("dedup_minhash_lsh", "functions.dedup"),
    ("sim_cosine_topk_vectorized", "functions.similarity"),
    ("text_unigram", "functions.unigram"),
    ("text_bpe_encode", "functions.bpe"),
]

# traverse_ingest reads per pass: the seven read kinds of the workload in
# equal counts.  The pass opens with the out-k_hop from a hub customer (the
# first call of a run pays the JIT warm-up of the hop plans, so a fixed
# first kind keeps that cost on the same kind in every run); the other
# reads follow in a seeded order, split into blocks around the write
# batches.  The second read of a kind that takes a start customer uses a hub.
READ_KINDS = ("get", "range", "page", "khop_out", "khop_in", "dsl_count", "dsl_props")
READS_PER_KIND = 2
READ_BLOCKS = (5, 5, 4)
# (name, rows, key columns the batch merges on): a few `contains` rows on
# one order vertex under the layout's default row key (few buckets touched),
# and enough random rows of every label to touch every bucket of both
# copies, merged on (src, dst, label) — the row identity of the labels
# whose linenumber is NULL
BATCHES = [("small", 3, None), ("large", 800, ("src", "dst", "label"))]
EDGE_KEY = ("src", "dst", "label", "linenumber")


# -- result normalization ------------------------------------------------------

def norm(v):
    """Portable value form shared by Spark rows and DuckDB tuples."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="seconds")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, decimal.Decimal):
        return round(float(v), 9)
    return v


def multiset(rows) -> list:
    out = [tuple(norm(v) for v in r) for r in rows]
    return sorted(out, key=lambda r: tuple((x is None, str(x)) for x in r))


def ordered(rows) -> list:
    return [tuple(norm(v) for v in r) for r in rows]


def by_name(columns: list[str], rows) -> list:
    """Rows re-ordered to sorted column names, as a multiset."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    return multiset([tuple(r[i] for i in idx) for r in rows])


# -- the reference model ---------------------------------------------------------

class GraphModel:
    """Vertices and edges as plain Python data, loaded from the DuckDB
    oracle views and mutated alongside the layout, so every expected
    answer is exact and computed without Spark.  A batch merges on a set
    of key columns as the layout does: a delete removes every row whose
    key matches, an upsert replaces them (a key can hold several rows:
    the fixture tables repeat a few lineitems)."""

    def __init__(self, con):
        from hugegraph_on_tikv_spark.oracles import graph_ctes

        cur = con.execute(f"WITH {graph_ctes()} SELECT * FROM vertices")
        self.vertex_cols = [d[0] for d in cur.description]
        self.vertices = {r[0]: r for r in cur.fetchall()}
        cur = con.execute(f"WITH {graph_ctes()} SELECT * FROM edges ORDER BY ALL")
        self.edge_cols = [d[0] for d in cur.description]
        self.edges: list[tuple] = cur.fetchall()

    def key(self, row, key_cols=EDGE_KEY) -> tuple:
        return tuple(row[self.edge_cols.index(k)] for k in key_cols)

    def by_label(self, label: str) -> list[int]:
        return sorted(v for v, r in self.vertices.items() if r[1] == label)

    def adjacency(self, direction: str) -> dict[int, list[int]]:
        adj: dict[int, list[int]] = collections.defaultdict(list)
        for r in self.edges:
            a, b = (r[0], r[1]) if direction == "out" else (r[1], r[0])
            adj[a].append(b)
        return adj

    def k_hop(self, start: int, k: int, direction: str) -> list:
        adj = self.adjacency(direction)
        visited = {start}
        frontier = {start}
        out = []
        for hop in range(1, k + 1):
            nxt = {n for v in frontier for n in adj.get(v, ())} - visited
            out += [(n, hop) for n in nxt]
            visited |= nxt
            frontier = nxt
        return multiset(out)

    def n_edges(self) -> int:
        return len(self.edges)

    def apply(self, inserts: list[tuple], deletes: list[tuple], key_cols) -> int:
        """Apply one batch merged on `key_cols`; `deletes` are key tuples.
        Returns the number of rows removed (deleted or replaced)."""
        gone = set(deletes) | {self.key(r, key_cols) for r in inserts}
        kept = [r for r in self.edges if self.key(r, key_cols) not in gone]
        removed = len(self.edges) - len(kept)
        self.edges = kept + list(inserts)
        return removed


# -- the store under test ----------------------------------------------------------

def bench_store_class(cache_root: str, counts: collections.Counter, tracer):
    """GraphStore whose view cache lives under `cache_root` (inside the
    benchmark's checkout).  Each view request runs in a
    `sources.graph.view` span and is counted in `requests`; it counts as a
    `hit` when the store wrote nothing under the cache root while serving
    it (a memoized view, a cached view or a routed layout), and as a miss
    when it built and wrote a view."""
    from hugegraph_on_tikv_spark.sources.graph import GraphStore

    class BenchGraphStore(GraphStore):
        def _cache_path(self, name: str) -> str:
            return os.path.join(cache_root, f"{name}.parquet")

        def _served(self, build):
            before = _file_stamps(cache_root)
            with tracer.span("sources.graph.view"):
                out = build()
            counts["requests"] += 1
            counts["hits"] += _file_stamps(cache_root) == before
            return out

        def vertices(self):
            return self._served(super().vertices)

        def edges(self, order_by: str = "src"):
            return self._served(lambda: super(BenchGraphStore, self).edges(order_by))

    return BenchGraphStore


def _file_stamps(root: str) -> dict:
    """{path: (mtime_ns, size)} of every file under `root`."""
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            st = os.stat(os.path.join(d, f))
            out[os.path.join(d, f)] = (st.st_mtime_ns, st.st_size)
    return out


def build_view_cache(b) -> tuple:
    """Build the GraphStore view cache (`edges`, `edges_by_dst`,
    `vertices`) from scratch; returns (store, seconds, 1 if any view was
    cold)."""
    shutil.rmtree(b.cache_root, ignore_errors=True)
    store = b.Store(b.spark, b.sf_dir)
    t0 = time.perf_counter()
    with b.tracer.span("sources.graph.view_cache_build", req=b.tracer.new_request()):
        cold = [not os.path.exists(os.path.join(store._cache_path(n), "_SUCCESS"))
                for n in ("edges", "edges_by_dst", "vertices")]
        store.edges()
        store.edges("dst")
        store.vertices()
    return store, time.perf_counter() - t0, int(any(cold))


class Op:
    """One timed operation: `run()` returns the collected result, `check`
    compares it with the expected answer computed before the pass."""

    __slots__ = ("kind", "layer", "run", "expect", "check", "is_write", "info")

    def __init__(self, kind, layer, run, expect, check=None, is_write=False, info=None):
        self.kind, self.layer, self.run, self.expect = kind, layer, run, expect
        self.check = check or (lambda got, exp: got == exp)
        self.is_write, self.info = is_write, info or {}


# -- traverse_ingest -------------------------------------------------------------

class TraverseIngest:
    name = "traverse_ingest"

    def __init__(self, bench):
        self.b = bench
        self.model = GraphModel(bench.con)
        self.base_edges = self.model.n_edges()
        self.customers = self.model.by_label("customer")
        self.parts = self.model.by_label("part")
        self.orders = self.model.by_label("order")
        outdeg = collections.Counter(r[0] for r in self.model.edges)
        self.hubs = sorted(self.customers, key=lambda c: (-outdeg[c], c))[:5]
        self.batch_id = 0
        self.next_line = 1000
        self.inserted = self.removed = 0
        self.store = None
        self.layout_root = os.path.join(bench.work, "graph")

    # setup: both layouts, from scratch ------------------------------------------
    def setup(self) -> dict:
        # The layouts are written from the base tables and every read is
        # routed to them, so this workload never touches the view cache and
        # does not build it.
        b = self.b
        shutil.rmtree(self.layout_root, ignore_errors=True)
        store = b.Store(b.spark, b.sf_dir)
        t0 = time.perf_counter()
        with b.tracer.span("sources.edge_layout.materialize", req=b.tracer.new_request()):
            store.materialize_dual_layout(os.path.join(self.layout_root, "edges"))
            store.materialize_vertex_layout(os.path.join(self.layout_root, "vertices"))
        self.store = store
        return {"view_cache_build_s": 0.0, "view_cache_cold": 0,
                "materialize_s": time.perf_counter() - t0}

    # reads -----------------------------------------------------------------------
    def _read(self, rng: random.Random, kind: str, hub: bool) -> Op:
        from hugegraph_on_tikv_spark.operators import traversal
        from hugegraph_on_tikv_spark.plans import (
            Condition, ConditionQuery, IdQuery, IdRangeQuery, Op as COp, QueryEngine)
        from hugegraph_on_tikv_spark.traversal_api import Graph

        m, store, spark, sf = self.model, self.store, self.b.spark, self.b.sf_dir
        start = rng.choice(self.hubs) if hub else rng.choice(self.customers)
        if kind == "get":
            ids = rng.sample(self.customers, 2) + rng.sample(self.parts, 1) + rng.sample(self.orders, 2)
            run = lambda: ordered(QueryEngine(store.vertices(), "id").query(
                IdQuery(table="vertices", ids=ids)).collect())
            return Op(kind, "plans.engine.query", run, ordered([m.vertices[i] for i in ids]))
        if kind == "range":
            lo = rng.randrange(0, len(self.parts) - 20)
            lo_id, hi_id = self.parts[lo], self.parts[lo + 20]
            run = lambda: QueryEngine(store.vertices(), "id").query(
                IdRangeQuery(table="vertices", start=lo_id, end=hi_id)).collect()
            exp = multiset(r for i, r in m.vertices.items() if lo_id <= i < hi_id)
            return Op(kind, "plans.engine.query", lambda: multiset(run()), exp)
        if kind == "page":
            floor = round(rng.uniform(50_000, 300_000), 2)
            conds = [Condition("label", COp.EQ, "order"), Condition("totalprice", COp.GT, floor)]

            def run():
                eng = QueryEngine(store.vertices(), "id")
                p1 = eng.query(ConditionQuery(table="vertices", conditions=conds,
                                              page="", limit=25)).collect()
                p2 = eng.query(ConditionQuery(table="vertices", conditions=conds,
                                              page=eng.page_after(p1), limit=25)).collect()
                return ordered(p1 + p2)
            hits = sorted(i for i, r in m.vertices.items()
                          if r[1] == "order" and r[m.vertex_cols.index("totalprice")] > floor)
            return Op(kind, "plans.engine.query", run,
                      ordered([m.vertices[i] for i in hits[:50]]))
        if kind == "khop_out":
            run = lambda: multiset(traversal.k_hop(store.edges(), [start], k=2).collect())
            return Op(kind, "operators.traversal.k_hop", run, m.k_hop(start, 2, "out"))
        if kind == "khop_in":
            p = rng.choice(self.parts)
            run = lambda: multiset(traversal.k_hop(
                store.edges(), [p], k=2, direction="in",
                edges_by_dst=store.edges("dst")).collect())
            return Op(kind, "operators.traversal.k_hop", run, m.k_hop(p, 2, "in"))
        if kind == "dsl_count":
            run = lambda: ordered(Graph(spark, sf, store).V().has_id(start).out().out()
                                  .count().collect())
            adj = m.adjacency("out")
            n = sum(len(adj.get(mid, ())) for mid in adj.get(start, ()))
            return Op(kind, "traversal_api.dsl", run, [(n,)])
        if kind == "dsl_props":
            cols = ("totalprice", "orderdate")
            run = lambda: multiset(Graph(spark, sf, store).V().has_id(start).out("placed")
                                   .values(*cols).collect())
            idx = [m.vertex_cols.index(c) for c in cols]
            exp = multiset((r[1],) + tuple(m.vertices[r[1]][i] for i in idx)
                           for r in m.edges
                           if r[0] == start and r[2] == "placed" and r[1] in m.vertices)
            return Op(kind, "traversal_api.dsl", run, exp)
        raise ValueError(kind)

    # writes ----------------------------------------------------------------------
    def _batch(self, rng: random.Random, size_name: str, rows: int, key_cols):
        """(inserts, delete keys, a touched source vertex) of one batch.

        `small` works on one order vertex under the default row key: it
        deletes one `contains` row, re-upserts another with a new quantity
        and inserts a new one.  `large` merges on `key_cols`: a quarter of
        its rows delete existing edges and an eighth re-upsert existing
        ones with their properties redrawn, both drawn from every label in
        proportion to its size (at least one of each label); the rest
        insert new `placed` and `contains` edges.  Its touched vertex is
        the customer of a deleted `placed` edge."""
        m = self.model
        cols = m.edge_cols
        ci = {c: i for i, c in enumerate(cols)}

        def when():
            return dt.datetime(1996, 1, 1) + dt.timedelta(days=rng.randrange(2000))

        def new_contains(o, p):
            self.next_line += 1
            q = float(rng.randint(1, 50))
            row = {"src": o, "dst": p, "label": "contains",
                   "quantity": q, "extendedprice": round(q * rng.uniform(900, 2100), 2),
                   "discount": rng.randint(0, 10) / 100, "linenumber": self.next_line,
                   "shipdate": when()}
            return tuple(row.get(c) for c in cols)

        def new_placed(c, o):
            row = {"src": c, "dst": o, "label": "placed", "orderdate": when()}
            return tuple(row.get(c) for c in cols)

        def redrawn(r):
            r = list(r)
            if r[ci["label"]] == "contains":
                r[ci["quantity"]] = float(rng.randint(1, 50))
            elif r[ci["label"]] == "placed":
                r[ci["orderdate"]] = when()
            return tuple(r)

        first_row: dict = {}
        by_label: dict[str, list] = collections.defaultdict(list)
        for r in m.edges:
            k = m.key(r, key_cols or EDGE_KEY)
            if k not in first_row:
                first_row[k] = r
                by_label[r[ci["label"]]].append(k)

        if size_name == "small":
            own = collections.defaultdict(list)
            for k in by_label["contains"]:
                own[k[0]].append(k)
            o = rng.choice(sorted(v for v, ks in own.items() if len(ks) >= 2))
            gone, again = rng.sample(own[o], 2)
            return [redrawn(first_row[again]), new_contains(o, rng.choice(self.parts))], [gone], o

        total = sum(len(ks) for ks in by_label.values())

        def draw(n):
            out = []
            for label in sorted(by_label):
                pool = by_label[label]
                picked = rng.sample(pool, min(len(pool), max(1, round(n * len(pool) / total))))
                taken = set(picked)
                by_label[label] = [k for k in pool if k not in taken]
                out += picked
            return out

        deletes = draw(rows // 4)
        inserts = [redrawn(first_row[k]) for k in draw(rows // 8)]
        fresh: set = set()
        while len(inserts) + len(deletes) < rows:
            if rng.random() < 0.7:
                k = (rng.choice(self.orders), rng.choice(self.parts), "contains")
            else:
                k = (rng.choice(self.customers), rng.choice(self.orders), "placed")
            if k in first_row or k in fresh:
                continue
            fresh.add(k)
            inserts.append(new_contains(k[0], k[1]) if k[2] == "contains" else new_placed(k[0], k[1]))
        touched = next(k[0] for k in deletes if k[2] == "placed")
        return inserts, deletes, touched

    def _write(self, inserts, deletes, key_cols, batch_id, redelivery=False) -> Op:
        spark, layout = self.b.spark, self.store.layout
        schema = spark.table(f"{layout.name}_by_src").schema
        m = self.model
        reorder = [m.edge_cols.index(n) for n in schema.fieldNames()]
        up = spark.createDataFrame([tuple(r[i] for i in reorder) for r in inserts], schema)
        kc = key_cols or EDGE_KEY
        dk = (spark.createDataFrame([tuple(d) for d in deletes], _key_schema(schema, kc))
              if deletes else None)
        user_bytes = _arrow_bytes(inserts, m.edge_cols) + _arrow_bytes(deletes, list(kc))

        def run():
            return layout.upsert(upserts=up, delete_keys=dk, key_cols=key_cols,
                                 batch_id=batch_id)

        if redelivery:
            exp = {k: 0 for k in layout.COPY_KEYS}
            check = lambda got, e: got == e
        else:
            exp = None
            check = lambda got, e: all(v > 0 for v in got.values())
        return Op("upsert", "sources.edge_layout.upsert", run, exp, check, is_write=True,
                  info={"user_rows": len(inserts) + len(deletes), "user_bytes": user_bytes,
                        "redelivery": redelivery})

    def plan_pass(self, seed: int, pass_no: int) -> list[Op]:
        """The pass's operations with their expected answers, computed by
        advancing the reference model through the pass's batches."""
        from hugegraph_on_tikv_spark.operators import traversal

        rng = random.Random(f"{seed}/{pass_no}")
        reads = [(k, i == 1) for k in READ_KINDS for i in range(READS_PER_KIND)]
        reads.remove(("khop_out", True))
        rng.shuffle(reads)
        reads.insert(0, ("khop_out", True))
        blocks, at = [], 0
        for n in READ_BLOCKS:
            blocks.append(reads[at:at + n])
            at += n
        ops: list[Op] = []
        last = None
        for block, (size_name, rows, key_cols) in zip(blocks, BATCHES):
            ops += [self._read(rng, k, hub) for k, hub in block]
            inserts, deletes, touched = self._batch(rng, size_name, rows, key_cols)
            self.batch_id += 1
            ops.append(self._write(inserts, deletes, key_cols, self.batch_id))
            ops[-1].info["size"] = size_name
            self.removed += self.model.apply(inserts, deletes, key_cols or EDGE_KEY)
            self.inserted += len(inserts)
            store = self.store
            ops.append(Op("ryw_khop", "operators.traversal.k_hop",
                          (lambda t=touched: multiset(
                              traversal.k_hop(store.edges(), [t], k=2).collect())),
                          self.model.k_hop(touched, 2, "out")))
            last = (inserts, deletes, key_cols, self.batch_id)
        ops.append(self._write(*last, redelivery=True))
        ops += [self._read(rng, k, hub) for k, hub in blocks[-1]]
        layout = self.store.layout

        def compact():
            compacted = layout.maybe_compact()
            layout.vacuum()
            return compacted
        ops.append(Op("compact", "sources.edge_layout.compact", compact, None,
                      lambda got, e: isinstance(got, bool), is_write=True))
        n_edges = self.base_edges + self.inserted - self.removed
        if n_edges != self.model.n_edges():
            raise AssertionError("reference model lost track of the edge count")
        ops.append(Op("count", "sources.edge_layout.count",
                      lambda: self.store.edges().count(), n_edges))
        return ops

    def null_key_probe(self) -> dict:
        """Delete one `placed` edge from a small throwaway dual layout under
        the layout's default row key (src, dst, label, linenumber), in
        which that edge's linenumber is NULL, and count the rows of the
        edge left behind: 0 when the key match treats NULL as equal to
        NULL.  Not timed and not part of a pass."""
        from hugegraph_on_tikv_spark.sources.edge_layout import DualEdgeLayout

        spark, m = self.b.spark, self.model
        schema = spark.table(f"{self.store.layout.name}_by_src").schema
        reorder = [m.edge_cols.index(n) for n in schema.fieldNames()]
        sample = ([r for r in m.edges if r[2] == "placed"][:4]
                  + [r for r in m.edges if r[2] == "contains"][:4])
        df = spark.createDataFrame([tuple(r[i] for i in reorder) for r in sample], schema)
        layout = DualEdgeLayout.materialize(df, "perfbench_probe",
                                            os.path.join(self.b.work, "probe"), 4)
        victim = m.key(sample[0])
        layout.upsert(delete_keys=spark.createDataFrame([victim], _key_schema(schema, EDGE_KEY)))
        left = sum(1 for r in layout.edges("src").collect()
                   if (r["src"], r["dst"], r["label"]) == victim[:3])
        layout.drop()
        return {"null_key_delete_misses": left, "deleted": 1}


def _key_schema(schema, key_cols) -> str:
    return ", ".join(f"{k} {schema[k].dataType.simpleString()}" for k in key_cols)


def _arrow_bytes(rows, cols) -> int:
    import pyarrow as pa

    if not rows:
        return 0
    return pa.Table.from_pylist([dict(zip(cols, r)) for r in rows]).nbytes


# -- analytics_llm ----------------------------------------------------------------

class AnalyticsLLM:
    name = "analytics_llm"

    def __init__(self, bench):
        import __spark_entry__ as entry

        self.b = bench
        self.entry = entry
        self.raw = entry.raw_queries()
        self.expected = {}
        for name, _ in LAYERS_ANALYTICS_LLM:
            cur = bench.con.execute(entry._RAW_ORACLES[name])
            cols = [d[0] for d in cur.description]
            self.expected[name] = (sorted(cols), by_name(cols, cur.fetchall()))

    def setup(self) -> dict:
        b = self.b
        # the roster's raw registrations build their own GraphStore; route
        # them to the benchmark's store so the view cache stays in the checkout
        self.entry.GraphStore = b.Store
        _, view_s, cold = build_view_cache(b)
        return {"view_cache_build_s": view_s, "view_cache_cold": cold, "materialize_s": 0.0}

    def plan_pass(self, seed: int, pass_no: int) -> list[Op]:
        ops = []
        for name, layer in LAYERS_ANALYTICS_LLM:
            def run(name=name):
                df = self.raw[name](self.b.spark, self.b.sf_dir)
                rows = df.collect()
                return (sorted(df.columns), by_name(df.columns, rows))
            ops.append(Op(name, layer, run, self.expected[name]))
        return ops


WORKLOADS = {w.name: w for w in (TraverseIngest, AnalyticsLLM)}
