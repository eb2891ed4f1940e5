"""The four benchmark workloads.

Each workload is a class with ``generate`` (inputs from the seed),
``setup`` (untimed work a user pays once: opening the warehouse and,
except on ``import_corpus``, a warm-up pass), a ``round`` (one fixed unit
of measured work, repeated until the run's seconds are spent) and
``check`` (outputs of the measured rounds against the pure-Python model or
the engine's hand-written DuckDB twins, after the timed window).  The engine is driven only through ``Engine``,
``sources.*`` and ``operators.*``.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
from collections import Counter
from pathlib import Path

import gen
import model


def _dir_files(root: Path) -> dict[str, int]:
    out = {}
    for dp, _dn, fns in os.walk(root):
        for fn in fns:
            p = os.path.join(dp, fn)
            out[p] = os.path.getsize(p)
    return out


class Workload:
    """Shared bookkeeping: operation timings, attempted/failed counts."""

    def __init__(self, spark, seed: int, work: Path, tracer=None):
        self.spark, self.seed, self.work, self.tracer = spark, seed, work, tracer
        self.op_s: list[float] = []
        self.items = 0
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def collect(self, df, what: str):
        if self.tracer is None:
            return df.collect()
        with self.tracer.action(what):
            return df.collect()

    def expect(self, ok: bool, what: str) -> None:
        """One output check; a failed one counts as a failed operation."""
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def reset(self) -> None:
        self.op_s.clear()
        self.items = 0

    def warm_up(self) -> None:
        """Untimed work the traced run does before its two rounds, for a
        workload whose set-up leaves the engine cold."""

    def check_manifests(self, eng) -> None:
        """After set-up every graph table of the generated warehouse must
        be under a manifest, so that reads resolve through the manifest as
        in every warehouse the engine builds."""
        from binaryx_graph_spark.model import EDGE_TABLES, NODE_TABLES

        bare = [t for t in (*NODE_TABLES, *EDGE_TABLES) if not eng.warehouse.versions(t)]
        self.attempted += 1
        self.expect(not bare, f"tables without a manifest after set-up: {bare}")


# ------------------------------------------------------------- import_corpus


def _write_warehouse(m: model.GraphModel, root: Path) -> None:
    """Write the model's ten tables as flat parquet table directories under
    ``root`` -- a warehouse ``Engine`` opens as existing.  A table
    directory becomes the table's first manifest when the engine first
    commits to it (a MERGE, or ``Warehouse.optimize``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from binaryx_graph_spark.model import EDGE_TABLES, NODE_TABLES

    rows = m.table_rows()
    arrow = {"StringType()": pa.string(), "LongType()": pa.int64(), "IntegerType()": pa.int32()}
    for name, (schema, _keys) in {**NODE_TABLES, **EDGE_TABLES}.items():
        d = root / name
        d.mkdir(parents=True)
        cols = {f.name: pa.array([r[f.name] for r in rows[name]], arrow[str(f.dataType)])
                for f in schema.fields}
        pq.write_table(pa.table(cols), d / "part-00000.parquet")


class ImportCorpus(Workload):
    """``Engine.ingest`` of an analysis-JSON batch into an existing warehouse.

    Batch 0 is the base corpus, generated as warehouse files (the tables the
    import model computes for it).  Set-up opens that warehouse and adopts
    its tables under manifests with ``Warehouse.optimize``.  Each round
    imports all of batch 1, which re-analyses 30 % of the base binaries
    beside new ones, into a fresh copy of the base.  The first round is the
    process's first import, cold JIT included, as for a command-line import
    that starts its own engine."""

    N_BATCHES, BATCH_SIZE = 2, 12

    def generate(self) -> None:
        self.corpus = gen.binaryx_corpus(self.seed, n_batches=self.N_BATCHES, batch_size=self.BATCH_SIZE)
        self.paths = gen.write_corpus(self.corpus, self.work / "json")
        self.batch_bytes = [sum(p.stat().st_size for p in ps) for ps in self.paths]
        self.batch_fns = [sum(len(d["functions"]) for d in docs) for docs in self.corpus.batches]
        base = model.GraphModel()
        base.ingest(self.corpus.batches[0])
        self.base = self.work / "wh_base"
        _write_warehouse(base, self.base)

    def setup(self, Engine) -> None:
        self.Engine = Engine
        eng = Engine(self.spark, str(self.base))
        eng.warehouse.optimize()
        self.check_manifests(eng)
        self.rounds = 0
        self.rewrite, self.written_b, self.written_f = [], 0, 0

    def warm_up(self) -> None:
        """Import one document of batch 1 into a throwaway copy of the base."""
        warm = self.work / "wh_warm"
        shutil.copytree(self.base, warm)
        self.Engine(self.spark, str(warm)).ingest([str(self.paths[1][0])], batch_seq=2)
        shutil.rmtree(warm)

    def round(self) -> None:
        root = self.work / f"wh_{self.rounds}"
        shutil.copytree(self.base, root)
        eng = self.Engine(self.spark, str(root))
        k = self.N_BATCHES - 1
        before = _dir_files(root)
        self.attempted += 1
        t = time.perf_counter()
        eng.ingest([str(p) for p in self.paths[k]], batch_seq=k + 1)
        self.op_s.append(time.perf_counter() - t)
        self.items += self.batch_fns[k]
        new = {p: b for p, b in _dir_files(root).items() if before.get(p) != b}
        self.written_b += sum(new.values())
        self.written_f += len(new)
        self.rewrite.append(sum(new.values()) / self.batch_bytes[k])
        if self.rounds:
            shutil.rmtree(self.root)
        self.rounds += 1
        self.eng, self.root = eng, root

    def check(self) -> None:
        m = model.GraphModel()
        for docs in self.corpus.batches:
            m.ingest(docs)
        eng = self.eng
        counts = {r["label"]: r["n"] for r in eng.stats().collect()}
        for t, n in m.counts().items():
            self.expect(counts.get(t) == n, f"count {t}: {counts.get(t)} != {n}")
        fns = {r["uid"]: (r["name"], r["type"], r["address"], r["size"])
               for r in eng.table("functions").collect()}
        self.expect(fns == m.functions, "functions table differs from the last-write-wins model")
        calls = {(r["src_uid"], r["dst_uid"]): (r["offset"], r["call_type"])
                 for r in eng.table("calls").collect()}
        self.expect(calls == m.calls, "calls table differs from the last-write-wins model")
        bins = {r["hash"]: (r["filename"], r["file_path"], r["file_size"], r["format"], r["arch"])
                for r in eng.table("binaries").collect()}
        self.expect(bins == m.binaries, "binaries table differs from the model")
        imps = {(r["binary_hash"], r["function_uid"]): r["address"] for r in eng.table("imports").collect()}
        self.expect(imps == m.imports, "imports table differs from the model")

    def metrics(self) -> dict[str, float]:
        in_bytes = sum(self.batch_bytes)
        stored = sum(_dir_files(self.root).values())
        return {
            "import_functions_per_s": self.items / sum(self.op_s),
            "import_batch_p50_s": statistics.median(self.op_s),
            "stored_bytes_per_input_byte": stored / in_bytes,
            "warehouse.bytes_written": self.written_b / self.rounds,
            "warehouse.files_written": self.written_f / self.rounds,
            "warehouse.rewrite_ratio": statistics.median(self.rewrite),
        }


# ----------------------------------------------------------- analyst_session

CYPHER = {
    "binary_functions": "MATCH (b:Binary {hash: $h})-[:CONTAINS]->(f:Function) RETURN count(f) AS n",
    "callee_names": "MATCH (f:Function {name: $name})-[:CALLS]->(g:Function) RETURN DISTINCT g.name AS n",
    "library_functions": "MATCH (f:Function)-[:BELONGS_TO]->(l:Library {name: $lib}) RETURN count(f) AS n",
}
#: one block of the request stream: (kind, depth).  Every block holds this
#: mix in a seeded order with seeded parameters, so every run sees the
#: same kinds and traversal depths.  The kinds are the reference CLI's
#: requests; the ratio (ten lookups to seven slow requests) and the depths
#: are assumptions, not taken from an observed session.
BLOCK = (
    ("search_strings", 0), ("search_strings", 0), ("search_strings", 0),
    ("search_functions", 0), ("search_functions", 0), ("call_sequences", 0),
    ("xref", 0), ("xref", 0), ("cypher", 0), ("cypher", 0),
    ("callees", 3), ("callers", 2), ("paths_from", 4), ("stats", 0),
    # analytics requests over the session's warehouse
    ("top_functions", 0), ("duplicate_names", 0), ("bm25_strings", 0),
)


class AnalystSession(Workload):
    """A one-client closed loop of reference-CLI requests over a small
    warehouse; parameters Zipf-skewed over function names.

    The warehouse is generated as files: the ten tables the import model
    computes for a two-batch corpus, one parquet file per table.  Set-up
    opens it with ``Engine`` and runs ``Warehouse.optimize``, which adopts
    every one-file table under a manifest without rewriting it, so reads
    take the manifest path of an engine-built warehouse.  (An engine import
    here would add about 21 s of cold-JIT work to every run; the import
    path is what ``import_corpus`` measures.)"""

    N_BATCHES, BATCH_SIZE, N_BLOCKS = 2, 12, 40

    def generate(self) -> None:
        self.corpus = gen.binaryx_corpus(self.seed, n_batches=self.N_BATCHES, batch_size=self.BATCH_SIZE)
        self.model = m = model.GraphModel()
        for docs in self.corpus.batches:
            m.ingest(docs)
        _write_warehouse(m, self.work / "wh")
        rng = random.Random(f"{self.seed}:requests")
        pool = {
            "names": ["main"] + [n for n in self.corpus.fn_names if any(v[0] == n for v in m.functions.values())],
            "addrs": sorted({v[2] for v in m.functions.values() if v[2]}),
            "hashes": sorted(m.binaries),
            "libs": sorted(m.libraries),
        }
        pool["ncum"] = gen.zipf_weights(len(pool["names"]), 1.0)
        self.blocks = []
        for _ in range(self.N_BLOCKS):
            block = [self._request(rng, k, d, pool) for k, d in BLOCK]
            rng.shuffle(block)
            self.blocks.append(block)

    @staticmethod
    def _request(rng, k, depth, pool):
        names = pool["names"]
        name = rng.choices(names, cum_weights=pool["ncum"])[0]
        words = lambda n: " ".join(rng.choices(gen.WORDS, cum_weights=gen.zipf_weights(len(gen.WORDS), 1.0), k=n))
        if k == "search_strings":
            return k, words(rng.randint(1, 2))
        if k == "search_functions":
            return k, name[: rng.randint(4, len(name))]
        if k in ("callees", "callers"):
            return k, (name, depth)
        if k == "paths_from":  # the hottest names would fan out over every binary
            return k, (rng.choice(names[len(names) // 4:]), depth)
        if k == "xref":
            return k, rng.choice(pool["addrs"])
        if k == "cypher":
            t = rng.choice(sorted(CYPHER))
            prm = ({"h": rng.choice(pool["hashes"])} if t == "binary_functions"
                   else {"name": name} if t == "callee_names" else {"lib": rng.choice(pool["libs"])})
            return k, (t, prm)
        if k == "bm25_strings":
            return k, sorted(set(words(3).split()))
        return k, None

    def setup(self, Engine) -> None:
        from pyspark.sql import functions as F

        self.F = F
        self.eng = Engine(self.spark, str(self.work / "wh"))
        self.eng.warehouse.optimize()
        self.check_manifests(self.eng)
        # warm-up: every request kind once, at its smallest depth, outside
        # the measured blocks
        seen = set()
        for k, p in self.blocks[-1]:
            if k not in seen:
                seen.add(k)
                self.run((k, (p[0], 1) if k in ("callees", "callers", "paths_from") else p))
        self.next = 0
        self.results: list[tuple] = []
        self.op_by_kind: dict[str, list[float]] = {k: [] for k, _ in BLOCK}

    def run(self, req):
        eng, F, (k, p) = self.eng, self.F, req
        if k == "search_strings":
            df = eng.search_strings(p)
        elif k == "search_functions":
            df = eng.search_functions(p)
        elif k == "callees":
            df = eng.callees(p[0], max_depth=p[1])
        elif k == "callers":
            df = eng.callers(p[0], max_depth=p[1])
        elif k == "paths_from":
            df = eng.paths_from(p[0], max_depth=p[1]).select("start_uid", "end_uid", "path_length")
        elif k == "call_sequences":
            df = eng.call_sequences(p)
        elif k == "xref":
            df = eng.xref(p)
        elif k == "cypher":
            df = eng.cypher(CYPHER[p[0]], p[1])
        elif k == "stats":
            df = eng.stats()
        elif k == "top_functions":
            df = eng.pagerank(eng.call_graph_edges(), cast_ids=False).orderBy(
                F.desc("rank_fp"), "node").limit(10)
        elif k == "duplicate_names":
            df = eng.dedup_exact(eng.table("functions"), "uid", F.col("name")).filter("n_docs > 1")
        else:
            docs = eng.table("strings").select(F.col("uid").alias("doc_id"), F.col("value").alias("text"))
            df = eng.bm25(docs, p, k=10)
        return self.collect(df, k)

    def reset(self) -> None:
        super().reset()
        self.next = 0  # the traced round replays the untraced round's block

    def round(self) -> None:
        """One block of the seeded stream, in a closed loop: the next
        request is sent when the previous one's rows are back."""
        for req in self.blocks[self.next % (self.N_BLOCKS - 1)]:
            self.attempted += 1
            t = time.perf_counter()
            rows = self.run(req)
            dt = time.perf_counter() - t
            self.op_s.append(dt)
            self.op_by_kind[req[0]].append(dt)
            self.items += 1
            self.results.append((req, rows))
        self.next += 1

    def check(self) -> None:
        m = self.model
        for (k, p), rows in self.results:
            if k == "search_strings":
                got = [(r["uid"], r["score"], r["sample_count"]) for r in rows]
                ok = got == m.search_strings(p)
            elif k == "search_functions":
                ok = [r["uid"] for r in rows] == m.search_functions(p)
            elif k in ("callees", "callers"):
                ok = {(r["uid"], r["depth"]) for r in rows} == m.reachable(
                    p[0], "out" if k == "callees" else "in", p[1])
            elif k == "paths_from":
                ok = dict(Counter((r[0], r[1], r[2]) for r in rows)) == m.paths(*p)
            elif k == "call_sequences":
                got = sorted((r["function_uid"], r["offset"], r["peer_uid"], r["order"]) for r in rows)
                exp, rank = [], Counter()
                for fu, peer, off in m.call_sequence(p):
                    rank[fu] += 1
                    exp.append((fu, off, peer, rank[fu]))
                ok = got == sorted(exp)
            elif k == "xref":
                ok = {(r["src_uid"], r["dst_uid"]) for r in rows} == m.xref(p)
            elif k == "cypher":
                t, prm = p
                if t == "binary_functions":
                    ok = rows[0]["n"] == m.binary_functions(prm["h"])
                elif t == "library_functions":
                    ok = rows[0]["n"] == m.library_functions(prm["lib"])
                else:
                    ok = {r["n"] for r in rows} == m.callee_names(prm["name"])
            elif k == "stats":
                ok = {r["label"]: r["n"] for r in rows} == m.counts()
            elif k == "duplicate_names":
                ok = {tuple(r) for r in rows} == m.duplicate_names()
            else:
                ok = [tuple(r)[:2] for r in rows] == self._twin(k, p)
            self.expect(ok, f"{k} {p!r}")

    def _twin(self, k, p) -> list[tuple]:
        """Expected rows of an analytics request: the operator's
        hand-written DuckDB twin over the model's tables."""
        import duckdb
        import pandas as pd

        from binaryx_graph_spark.operators import graphalgo, textstats

        m = self.model
        con = duckdb.connect()
        if k == "top_functions":
            src, dst = zip(*m.calls)
            con.register("e", pd.DataFrame({"src": src, "dst": dst}))
            q = graphalgo.sql_pagerank_fixed("SELECT DISTINCT src, dst FROM e", iters=5)
            return [tuple(r) for r in con.execute(
                f"SELECT node, rank_fp FROM ({q}) ORDER BY rank_fp DESC, node LIMIT 10").fetchall()]
        uids = sorted(m.strings)
        con.register("d", pd.DataFrame({"doc_id": uids, "text": [m.strings[u] for u in uids]}))
        return [tuple(r)[:2] for r in con.execute(textstats.sql_bm25_topk("d", p, k=10)).fetchall()]

    def metrics(self) -> dict[str, float]:
        """Request figures; per-operator seconds are the median over every
        measured request of the kind that runs the operator."""
        by = {k: statistics.median(ts) for k, ts in self.op_by_kind.items()}
        return {
            "query_p50_s": statistics.median(self.op_s),
            "queries_per_s": len(self.op_s) / sum(self.op_s),
            "graphalgo.pagerank.s": by["top_functions"],
            "dedup.exact.s": by["duplicate_names"],
            "dedup.bm25.s": by["bm25_strings"],
        }


# ----------------------------------------------------------- callgraph_batch


class CallgraphBatch(Workload):
    """Whole-graph analytics over a call-graph-shaped edge set: fixed
    iteration loops, frontier-until-empty loops and sampled betweenness."""

    N_BINARIES = 40
    ALGOS = ("pagerank", "label_propagation", "scc_bounded", "betweenness", "reachable", "indirect_recursion")

    def generate(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.g = g = gen.callgraph_edges(self.seed, n_binaries=self.N_BINARIES)
        d = self.work / "callgraph"
        d.mkdir(parents=True)
        # string-uid edges (the warehouse `calls` shape) and the same
        # edges in integer-id form for the id-casting operators
        pq.write_table(pa.table({
            "src_uid": [g.uids[i] for i in g.src], "dst_uid": [g.uids[i] for i in g.dst],
        }), d / "calls.parquet")
        pq.write_table(pa.table({"src": g.src, "dst": g.dst}), d / "edges.parquet")
        # frontier seeds: every function of the first binaries
        self.seed_nodes = [i for i, b in enumerate(g.binary_of) if b < 6]
        pq.write_table(pa.table({"uid": [g.uids[i] for i in self.seed_nodes]}), d / "seeds.parquet")
        self.dir = d

    def setup(self, Engine) -> None:
        from binaryx_graph_spark.operators import graphalgo, traverse

        self.ga, self.tr = graphalgo, traverse
        rd = self.spark.read.parquet
        self.calls = rd(str(self.dir / "calls.parquet"))
        self.edges = rd(str(self.dir / "edges.parquet"))
        self.seeds = rd(str(self.dir / "seeds.parquet"))
        self.out: dict[str, list] = {}
        # warm-up: the whole suite once over a one-binary slice
        first = sum(1 for b in self.g.binary_of if b == 0)
        self._suite(self.calls.limit(first * 2), self.edges.filter(f"src < {first}"), self.seeds.limit(20), keep=False)
        self.op_by_algo: dict[str, list[float]] = {a: [] for a in self.ALGOS}

    def _suite(self, calls, edges, seeds, keep: bool) -> None:
        ga, tr = self.ga, self.tr
        steps = (
            ("pagerank", lambda: ga.pagerank_fixed(
                calls.select("src_uid", "dst_uid").toDF("src", "dst"), iters=5, cast_ids=False)),
            ("label_propagation", lambda: ga.label_propagation(edges, rounds=4)),
            ("scc_bounded", lambda: ga.scc_bounded(edges, max_depth=4)),
            ("betweenness", lambda: ga.betweenness_sampled(edges, n_sources=8, max_depth=3)),
            ("reachable", lambda: tr.reachable(calls, seeds, direction="out", max_depth=12)),
            ("indirect_recursion", lambda: tr.indirect_recursion(calls, seeds, max_depth=6)),
        )
        for name, fn in steps:
            self.attempted += keep
            t = time.perf_counter()
            rows = self.collect(fn(), name)
            dt = time.perf_counter() - t
            if keep:
                self.op_s.append(dt)
                self.op_by_algo[name].append(dt)
                self.items += len(self.g.src)
                self.out[name] = rows

    def round(self) -> None:
        self._suite(self.calls, self.edges, self.seeds, keep=True)

    def check(self) -> None:
        import duckdb
        import pandas as pd

        from binaryx_graph_spark.operators import graphalgo as ga

        g = self.g
        con = duckdb.connect()
        con.register("e", pd.DataFrame({"src": g.src, "dst": g.dst}))
        sql_e = "SELECT DISTINCT src, dst FROM e"
        idx = {u: i for i, u in enumerate(g.uids)}
        # pagerank ran on string uids; ranks must equal the twin's on ints
        exp = dict(con.execute(f"SELECT node, rank_fp FROM ({ga.sql_pagerank_fixed(sql_e, iters=5)})").fetchall())
        got = {idx[r["node"]]: r["rank_fp"] for r in self.out["pagerank"]}
        self.expect(got == exp, "pagerank differs from its DuckDB twin")
        exp = dict(con.execute(f"SELECT * FROM ({ga.sql_label_propagation(sql_e, rounds=4)})").fetchall())
        got = {r[0]: r[1] for r in self.out["label_propagation"]}
        self.expect(got == exp, "label_propagation differs from its DuckDB twin")
        exp = dict(con.execute(f"SELECT node, scc_id FROM ({ga.sql_scc_bounded(sql_e, max_depth=4)})").fetchall())
        got = {r["node"]: r["scc_id"] for r in self.out["scc_bounded"]}
        self.expect(got == exp, "scc_bounded differs from its DuckDB twin")
        exp = dict(con.execute(
            f"SELECT node, bc_fp FROM ({ga.sql_betweenness_sampled(sql_e, n_sources=8, max_depth=3)})").fetchall())
        got = {r["node"]: r["bc_fp"] for r in self.out["betweenness"]}
        self.expect(got == exp, "betweenness differs from its DuckDB twin")
        adj: dict[int, list[int]] = {}
        for s, d in zip(g.src, g.dst):
            adj.setdefault(s, []).append(d)
        seeds = set(self.seed_nodes)
        got = {(idx[r["uid"]], r["depth"]) for r in self.out["reachable"]}
        self.expect(got == set(model.bfs_reach(adj, seeds, 12).items()), "reachable differs from BFS")
        got = {idx[r["uid"]]: r["cycle_length"] for r in self.out["indirect_recursion"]}
        self.expect(got == model.shortest_cycles(adj, seeds, 6), "indirect_recursion differs from the model")

    def metrics(self) -> dict[str, float]:
        out = {"graph_edges_per_s": self.items / sum(self.op_s)}
        for a, ts in self.op_by_algo.items():
            out[f"graphalgo.{a}.s"] = statistics.median(ts)
        return out


# -------------------------------------------------------------- dedup_corpus


class DedupCorpus(Workload):
    """MinHash LSH, prefix Jaccard, exact and CDC dedup and BM25 over a
    document corpus with a fixed near-duplicate share."""

    N_DOCS = 3000
    OPS = ("minhash", "jaccard_prefix", "exact", "cdc", "bm25")

    def generate(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.c = c = gen.doc_corpus(self.seed, n_docs=self.N_DOCS)
        d = self.work / "docs"
        d.mkdir(parents=True)
        pq.write_table(pa.table({"doc_id": c.doc_ids, "text": c.texts}), d / "docs.parquet")
        self.dir = d
        rng = random.Random(f"{self.seed}:bm25")
        vocab = sorted({w for t in c.texts[:200] for w in t.split()})
        self.query = rng.sample(vocab, 4)

    def setup(self, Engine) -> None:
        from pyspark.sql import functions as F

        from binaryx_graph_spark.operators import dedup, textstats

        self.F, self.dd, self.ts = F, dedup, textstats
        self.docs = self.spark.read.parquet(str(self.dir / "docs.parquet"))
        self.out: dict[str, list] = {}
        self._suite(self.docs.filter("doc_id < 150"), keep=False)
        self.op_by: dict[str, list[float]] = {o: [] for o in self.OPS}

    def _suite(self, docs, keep: bool) -> None:
        dd, ts, F = self.dd, self.ts, self.F
        steps = (
            ("minhash", lambda: dd.minhash_near_dup(docs, "doc_id", "text", threshold=0.5)),
            ("jaccard_prefix", lambda: dd.jaccard_pairs_prefix(docs, "doc_id", "text", threshold=0.5)),
            ("exact", lambda: dd.exact_dedup_groups(docs, "doc_id", F.col("text"))),
            ("cdc", lambda: dd.cdc_duplicate_chunks(docs, "doc_id", "text", k=50)),
            ("bm25", lambda: ts.bm25_topk(docs, self.query, k=10)),
        )
        for name, fn in steps:
            self.attempted += keep
            t = time.perf_counter()
            rows = self.collect(fn(), name)
            dt = time.perf_counter() - t
            if keep:
                self.op_s.append(dt)
                self.op_by[name].append(dt)
                self.items += self.N_DOCS
                self.out[name] = rows

    def round(self) -> None:
        self._suite(self.docs, keep=True)

    def check(self) -> None:
        import hashlib

        import duckdb
        import pandas as pd

        from binaryx_graph_spark.operators import dedup as dd
        from binaryx_graph_spark.operators import textstats as ts

        c = self.c
        con = duckdb.connect()
        con.register("docs", pd.DataFrame({"doc_id": c.doc_ids, "text": c.texts}))
        exact = {(a, b) for a, b, *_ in con.execute(dd.sql_jaccard_pairs("docs", "doc_id", "text", threshold=0.5)).fetchall()}
        prefix = {(r["doc_a"], r["doc_b"]) for r in self.out["jaccard_prefix"]}
        self.expect(prefix == exact, "jaccard_pairs_prefix differs from the exact DuckDB join")
        mh = {(r["doc_a"], r["doc_b"]) for r in self.out["minhash"]}
        self.expect(mh <= exact, "minhash pairs are not a subset of the exact pairs")
        self.recall = len(mh) / len(exact) if exact else 1.0
        groups: dict[str, list[int]] = {}
        for i, t in zip(c.doc_ids, c.texts):
            groups.setdefault(hashlib.sha256(t.encode()).hexdigest(), []).append(i)
        got = {r["content_hash"]: (r["n_docs"], r["canonical_id"]) for r in self.out["exact"]}
        self.expect(got == {h: (len(v), min(v)) for h, v in groups.items()}, "exact dedup groups differ")
        exp = [tuple(r) for r in con.execute(dd.sql_cdc_duplicate_chunks("docs", k=50)).fetchall()]
        got = [tuple(r) for r in self.out["cdc"]]
        self.expect(sorted(got) == sorted(exp), "cdc chunks differ from the DuckDB twin")
        exp = [(r[0], r[1]) for r in con.execute(ts.sql_bm25_topk("docs", self.query, k=10)).fetchall()]
        got = [(r["doc_id"], r["score_fp"]) for r in self.out["bm25"]]
        self.expect(got == exp, "bm25 top-k differs from the DuckDB twin")

    def metrics(self) -> dict[str, float]:
        out = {"dedup_docs_per_s": self.items / sum(self.op_s), "dedup.lsh_recall": self.recall}
        for o, ts in self.op_by.items():
            out[f"dedup.{o}.s"] = statistics.median(ts)
        return out


WORKLOADS = {
    "import_corpus": ImportCorpus,
    "analyst_session": AnalystSession,
    "callgraph_batch": CallgraphBatch,
    "dedup_corpus": DedupCorpus,
}
