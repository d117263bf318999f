"""The four workloads: inputs, pre-built state, the fixed op sequence of
one pass, and each op's output check.

A workload's ``setup`` is timed (it is part of ``setup_s``) and runs
several times per run; ``prepare_checks`` computes the driver-side
references once and is not timed. ``ops`` returns one pass; each op's
``run`` is timed and its ``check`` is not. The engine is driven only
through its public functions.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import Observation, SparkSession, Window
from pyspark.sql import functions as F

from molgraphdb_spark.chem.mol import mol_key, parse_smiles
from molgraphdb_spark.chem.spark_ops import (
    EXPAND_DRIVER_MAX_MOLS,
    expand_relations,
    molecule_subgraphs,
    pairwise_overlap_metrics,
    parse_molecules,
    subgraph_catalog,
)
from molgraphdb_spark.chem.subgraphs import exact_ged
from molgraphdb_spark.functions.literals import literal_df
from molgraphdb_spark.operators.graph import bfs_query
from molgraphdb_spark.registry import all_oracles, all_queries
from molgraphdb_spark.sources.sqlite_ingest import export_sqlite, ingest_sqlite
from molgraphdb_spark.sources.tables import TABLE_NAMES
from molgraphdb_spark.sources.writers import append_new_keys

from perfbench import checks, gen
from perfbench.checks import Check, KernelReplay
from perfbench.tracing import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@dataclass
class Op:
    name: str
    run: Callable[[], object]
    check: Callable[[object], Check]
    #: False for a step that counts in run_s and is checked but is not a
    #: sample of the workload's op latency (op_p50_s, op_p90_s)
    latency: bool = True


def _all_ok(*results: Check) -> Check:
    bad = [d for ok, d in results if not ok]
    return (not bad, "; ".join(bad) if bad else "; ".join(d for _, d in results))


class Workload:
    name = ""
    #: the unit of work items_per_s counts
    item = ""

    def __init__(self, seed: int, work_dir: str) -> None:
        self.seed = seed
        self.work = work_dir
        self.items_per_pass = 0
        #: counters of the current pass (the harness resets them)
        self.stats: Counter = Counter()

    def setup(self, spark: SparkSession, tr: Tracer) -> None:
        raise NotImplementedError

    def prepare_checks(self, replay: KernelReplay) -> None:
        raise NotImplementedError

    def ops(self, spark: SparkSession, tr: Tracer, pass_no: int) -> list[Op]:
        raise NotImplementedError

    def warm_ops(self, ops: list[Op]) -> list[Op]:
        """The ops of an unmeasured warm pass: by default the whole pass.
        A workload whose pass repeats one kind of op may warm with a
        prefix that runs every kind once."""
        return ops

    def layer_metrics(self, spans: list[dict], n_passes: int, stats: Counter) -> dict[str, float]:
        """Workload-specific per-layer metrics from the traced passes
        (``stats``: their counters summed)."""
        return {}


def _span_seconds(spans: list[dict], name: str) -> tuple[float, int]:
    hits = [s for s in spans if s["name"] == name]
    return sum(s["end"] - s["start"] for s in hits), len(hits)


def _span_counts(spans: list[dict], name: str, key: str) -> int:
    return sum(s.get(key, 0) for s in spans if s["name"] == name)


class CatalogIngest(Workload):
    """Write path: batches of SMILES → subgraph catalog (parquet, keyed
    append) → SQLite export → SQLite ingest."""

    name = "catalog_ingest"
    item = "molecules ingested"
    #: 350 molecules a pass, in batches small enough that a run samples
    #: MIN_SAMPLES op latencies (batches and round trips) in two passes
    N_BATCHES = 10
    BATCH = 35

    def setup(self, spark, tr):
        self.batches = gen.ingest_batches(self.seed, self.N_BATCHES, self.BATCH)
        self.items_per_pass = self.N_BATCHES * self.BATCH

    def prepare_checks(self, replay):
        seen: set[str] = set()
        self.want_total, self.offered, self.user_bytes = [], [], []
        for batch in self.batches:
            hs = set().union(*(replay.hashes(s) for s in batch))
            seen |= hs
            self.offered.append(len(hs))
            self.want_total.append(len(seen))
            self.user_bytes.append(sum(len(s.encode()) for s in batch))
        for smi in (s for b in self.batches for s in b):
            replay.key(smi)

    def ops(self, spark, tr, pass_no):
        root = os.path.join(self.work, f"catalog-{pass_no}")
        shutil.rmtree(os.path.join(self.work, f"catalog-{pass_no - 1}"), ignore_errors=True)
        catalog = os.path.join(root, "catalog")
        total = [0]
        batches_done = [0]

        def batch_op(batch: list[str]) -> Callable[[], int]:
            def run() -> int:
                with tr.span("spark_ops.parse_molecules"):
                    mols = parse_molecules(spark, batch)
                obs = Observation()
                with tr.span("spark_ops.molecule_subgraphs"):
                    subs = (
                        molecule_subgraphs(mols)
                        .observe(obs, F.count(F.lit(1)).alias("n"))
                        .localCheckpoint()
                    )
                with tr.span("spark_ops.subgraph_catalog"):
                    cat = subgraph_catalog(subs)
                with tr.span("writers.append_new_keys"):
                    appended = append_new_keys(spark, catalog, cat, ["subgraph_hash"])
                self.stats["udf_rows_out"] += obs.get["n"]
                self.stats["appended"] += appended
                total[0] += appended
                batches_done[0] += 1
                return total[0]

            return run

        def roundtrip() -> tuple[int, int]:
            files = [f for f in os.listdir(catalog) if f.endswith(".parquet")]
            self.stats["catalog_files"] += len(files)
            self.stats["catalog_bytes"] += sum(
                os.path.getsize(os.path.join(catalog, f)) for f in files
            )
            cat = spark.read.parquet(catalog).select(
                "subgraph_hash",
                "size",
                "frequency",
                F.to_json("adjacency_matrix").alias("adjacency_matrix"),
                F.to_json("elements").alias("elements"),
                F.to_json("parent_molecules").alias("parent_molecules"),
            )
            db = os.path.join(root, "catalog.db")
            with tr.span("sqlite.export_sqlite"):
                exported = export_sqlite(cat, db, "subgraphs")
            with tr.span("sqlite.ingest_sqlite"):
                ingested = ingest_sqlite(spark, db, os.path.join(root, "staged"))["subgraphs"].count()
            return exported, ingested

        ops = [
            Op(
                f"batch{i}",
                batch_op(batch),
                lambda got, i=i: checks.check_count(
                    f"catalog hashes after batch {i}", got, self.want_total[i]
                ),
            )
            for i, batch in enumerate(self.batches)
        ]
        ops.append(
            Op(
                "sqlite_roundtrip",
                roundtrip,
                lambda got: _all_ok(
                    checks.check_count(
                        "sqlite rows exported", got[0], self.want_total[batches_done[0] - 1]
                    ),
                    checks.check_count(
                        "sqlite rows ingested", got[1], self.want_total[batches_done[0] - 1]
                    ),
                ),
            )
        )
        return ops

    def warm_ops(self, ops):
        # two batches (the first creates the catalog, the second appends)
        # and the SQLite round trip of that catalog
        return ops[:2] + ops[-1:]

    def layer_metrics(self, spans, n_passes, stats):
        export_s, _ = _span_seconds(spans, "sqlite.export_sqlite")
        ingest_s, _ = _span_seconds(spans, "sqlite.ingest_sqlite")
        append_s, _ = _span_seconds(spans, "writers.append_new_keys")
        subs_s, _ = _span_seconds(spans, "spark_ops.molecule_subgraphs")
        rows = self.want_total[-1] * n_passes
        return {
            "spark_ops.molecule_subgraphs_s": subs_s / n_passes,
            "spark_ops.udf_rows_out": stats["udf_rows_out"] / n_passes,
            "writers.append_new_keys_s": append_s / n_passes,
            "writers.rows_appended_ratio": stats["appended"] / (sum(self.offered) * n_passes),
            "writers.bytes_per_user_byte": stats["catalog_bytes"] / (sum(self.user_bytes) * n_passes),
            "writers.files_on_disk": stats["catalog_files"] / n_passes,
            "sqlite.export_s": export_s / n_passes,
            "sqlite.ingest_s": ingest_s / n_passes,
            "sqlite.rows_per_s": rows / (export_s + ingest_s),
        }


class SimilarityJoin(Workload):
    """Analytics read path over stored subgraph hashes: all-pairs
    overlap + nearest neighbours, fragment screen, size histogram,
    exact-GED rerank of the top pairs."""

    name = "similarity_join"
    item = "molecule pairs scored"
    N_MOLS = 480
    N_FRAGMENTS = 8
    N_SAMPLE = 24
    TOP_GED = 4

    def setup(self, spark, tr):
        self.molecules = gen.corpus(self.seed, self.N_MOLS)
        self.fragments = gen.fragments(self.seed, self.molecules, self.N_FRAGMENTS)
        rng = gen.rng_for(self.seed, "pair-sample")
        self.sample = []
        while len(self.sample) < self.N_SAMPLE:
            a, b = sorted(rng.sample(self.molecules, 2))
            self.sample.append((a, b))
        with tr.span("spark_ops.parse_molecules"):
            self.mols = (
                parse_molecules(spark, self.molecules)
                .filter("valid")
                .select("smiles", "n_atoms")
                .localCheckpoint()
            )
        with tr.span("spark_ops.molecule_subgraphs"):
            self.subs = molecule_subgraphs(self.mols).localCheckpoint()
        self.items_per_pass = self.N_MOLS * (self.N_MOLS - 1) // 2

    def prepare_checks(self, replay):
        shared = checks.shared_counts(self.molecules, replay)
        self.best = checks.best_tanimoto(self.molecules, shared)
        keys = {f: replay.key(f) for f in self.fragments}
        self.want_screen = checks.expected_screen(keys, self.molecules, replay)
        self.want_hist = Counter(replay.sizes(self.molecules).values())
        freq = Counter(h for m in self.molecules for h in replay.hashes(m))
        self.selfjoin_rows = sum(f * f for f in freq.values())
        self.useful_pairs = int(np.count_nonzero(np.triu(shared, k=1)))
        self.replay = replay

    def ops(self, spark, tr, pass_no):
        top: list[tuple[str, str]] = []

        def all_pairs():
            with tr.span("spark_ops.pairwise_overlap_metrics"):
                pairs = pairwise_overlap_metrics(self.subs, self.mols).localCheckpoint()
            both = pairs.select(
                F.col("mol_a").alias("m"), F.col("mol_b").alias("o"), "tanimoto"
            ).unionByName(
                pairs.select(F.col("mol_b").alias("m"), F.col("mol_a").alias("o"), "tanimoto")
            )
            w = Window.partitionBy("m").orderBy(F.desc("tanimoto"), F.asc("o"))
            nn = {
                r.m: r.tanimoto
                for r in both.withColumn("rk", F.row_number().over(w)).filter("rk = 1").collect()
            }
            top[:] = [
                (r.mol_a, r.mol_b)
                for r in pairs.orderBy(F.desc("tanimoto"), "mol_a", "mol_b").limit(self.TOP_GED).collect()
            ]
            want = literal_df(spark, self.sample, ["mol_a", "mol_b"])
            sample = {
                (r.mol_a, r.mol_b): (r.n_shared, r.n_union, r.tanimoto, r.ged_approx)
                for r in pairs.join(F.broadcast(want), ["mol_a", "mol_b"]).collect()
            }
            return nn, sample

        def screen(fragment: str) -> Callable[[], set]:
            def run() -> set:
                with tr.span("spark_ops.parse_molecules"):
                    frags = (
                        parse_molecules(spark, [fragment])
                        .filter("valid")
                        .select(F.col("smiles").alias("fragment"), "mol_id")
                    )
                hits = (
                    self.subs.join(F.broadcast(frags), self.subs.subgraph_hash == frags.mol_id)
                    .select("fragment", "parent")
                    .distinct()
                    .collect()
                )
                return {(r.fragment, r.parent) for r in hits}

            return run

        def histogram():
            with tr.span("spark_ops.subgraph_catalog"):
                cat = subgraph_catalog(self.subs)
            return {r["size"]: r["count"] for r in cat.groupBy("size").count().collect()}

        def rerank():
            out = {}
            with tr.span("chem.exact_ged"):
                for a, b in top:
                    out[(a, b)] = exact_ged(parse_smiles(a), parse_smiles(b))
            self.stats["ged_pairs"] += len(top)
            return out

        return [
            Op(
                "all_pairs",
                all_pairs,
                lambda got: _all_ok(
                    checks.check_nearest(got[0], self.best),
                    checks.check_pairs(got[1], self.replay),
                ),
            ),
            *(
                Op(
                    f"screen{i}",
                    screen(frag),
                    lambda got, frag=frag: checks.check_set(
                        f"screen hits of {frag}", got, {h for h in self.want_screen if h[0] == frag}
                    ),
                )
                for i, frag in enumerate(self.fragments)
            ),
            Op(
                "histogram",
                histogram,
                lambda got: checks.check_set("size histogram", set(got.items()), set(self.want_hist.items())),
            ),
            Op("ged_rerank", rerank, lambda got: checks.check_ged(got, self.replay, exact_ged)),
        ]

    def layer_metrics(self, spans, n_passes, stats):
        overlap_s, _ = _span_seconds(spans, "spark_ops.pairwise_overlap_metrics")
        ged_s, _ = _span_seconds(spans, "chem.exact_ged")
        return {
            "spark_ops.pairwise_overlap_s": overlap_s / n_passes,
            "spark_ops.selfjoin_rows": self.selfjoin_rows,
            "spark_ops.pairs_useful_ratio": self.useful_pairs / self.selfjoin_rows,
            "chem.exact_ged_ms_per_pair": 1e3 * ged_s / max(1, stats["ged_pairs"]),
        }


class EditPath(Workload):
    """Iterative graph: one edit-graph expansion on each side of the
    engine's size dispatch, then shortest-edit-path BFS requests over
    the graph the driver branch grew."""

    name = "edit_path"
    item = "BFS queries answered"
    #: driver branch: (seed count, atoms lo, atoms hi, depth, vertex band);
    #: two seeds grown to their fixed point, a few dozen processed
    #: molecules, far below EXPAND_DRIVER_MAX_MOLS; seeds are redrawn
    #: until the graph's size is inside the band
    DRIVER = (2, 5, 6, 10, (35, 60))
    #: distributed branch: a seed list longer than EXPAND_DRIVER_MAX_MOLS,
    #: so the size dispatch sends it to the wave loop, of LIBRARY_DISTINCT
    #: molecules (5-7 atoms) expanded one wave
    LIBRARY_ENTRIES = EXPAND_DRIVER_MAX_MOLS + 4
    LIBRARY_DISTINCT = 40
    LIBRARY_DEPTH = 1
    #: seed molecules whose edges the distributed check compares one by one
    N_EDGE_SAMPLE = 32
    #: shortest-path lengths of the reachable BFS requests (plus one
    #: same-vertex and one unreachable request); most sit at one depth so
    #: the op percentiles fall inside one kind of request
    BFS_DEPTHS = (1, 2, 2, 2, 2, 2, 2, 3, 4)

    def _driver_seeds(self) -> list[str]:
        n, lo, hi, depth, (v_lo, v_hi) = self.DRIVER
        reach = max(self.BFS_DEPTHS)

        def accept(seeds: list[str]) -> bool:
            edges, verts = KernelReplay().expand(seeds, depth)
            if not v_lo <= len(verts) <= v_hi:
                return False
            adj = checks.adjacency(edges)
            return any(max(gen.bfs_distances(adj, v).values()) >= reach for v in adj)

        return gen.edit_seeds(self.seed, n, lo, hi, "edit-driver", accept=accept)

    def setup(self, spark, tr):
        self.depth = self.DRIVER[3]
        self.seeds = self._driver_seeds()
        self.library = gen.seed_library(
            self.seed, self.LIBRARY_ENTRIES, self.LIBRARY_DISTINCT, 5, 7
        )
        # the BFS requests are drawn from the graph they will query;
        # unreachable targets are library molecules outside it
        edges, _ = KernelReplay().expand(self.seeds, self.depth)
        self.adj = checks.adjacency(edges)
        outside = [mol_key(parse_smiles(s)) for s in dict.fromkeys(self.library)]
        self.pairs = gen.bfs_pairs(self.seed, self.adj, outside, self.BFS_DEPTHS)
        self.items_per_pass = len(self.pairs)

    def prepare_checks(self, replay):
        self.want_a, _ = replay.expand(self.seeds, self.depth)
        self.want_b, verts_b = replay.expand(self.library, self.LIBRARY_DEPTH)
        self.n_verts_b = len(verts_b)
        keys = sorted({dst for _, dst in self.want_b})
        self.edge_sample = gen.rng_for(self.seed, "edge-sample").sample(keys, self.N_EDGE_SAMPLE)
        sample = set(self.edge_sample)
        self.want_b_sample = {pair: a for pair, a in self.want_b.items() if pair[1] in sample}
        self.want_answers = [checks.bfs_answer(self.adj, a, b) for a, b in self.pairs]

    def ops(self, spark, tr, pass_no):
        graph = {}

        def expand_driver():
            with tr.span("spark_ops.expand_relations"):
                edges, _ = expand_relations(spark, self.seeds, depth=self.depth)
            graph["edges"] = edges
            return {tuple(r) for r in edges.collect()}

        def expand_distributed():
            with tr.span("spark_ops.expand_relations"):
                edges, verts = expand_relations(spark, self.library, depth=self.LIBRARY_DEPTH)
            sample = edges.filter(F.col("dst").isin(self.edge_sample)).collect()
            return edges.count(), verts.count(), {tuple(r) for r in sample}

        ops = [
            Op(
                "expand_driver",
                expand_driver,
                lambda got: checks.check_edges("driver-branch edges", got, self.want_a),
                latency=False,
            ),
            Op(
                "expand_distributed",
                expand_distributed,
                lambda got: _all_ok(
                    checks.check_count("distributed-branch edges", got[0], len(self.want_b)),
                    checks.check_count("distributed-branch vertices", got[1], self.n_verts_b),
                    checks.check_edges("distributed-branch sampled edges", got[2], self.want_b_sample),
                ),
                latency=False,
            ),
        ]
        for i, (a, b) in enumerate(self.pairs):

            def query(a=a, b=b):
                with tr.span("graph.bfs_query"):
                    return bfs_query(graph["edges"], a, b)

            ops.append(
                Op(
                    f"bfs{i}",
                    query,
                    lambda got, i=i: checks.check_count(f"bfs answer {i}", got, self.want_answers[i]),
                )
            )
        return ops

    def warm_ops(self, ops):
        # both expansions and the unreachable request, which runs every
        # BFS wave the graph has from its source
        return ops[:2] + ops[-1:]

    def layer_metrics(self, spans, n_passes, stats):
        expand_s, _ = _span_seconds(spans, "spark_ops.expand_relations")
        bfs_s, n_bfs = _span_seconds(spans, "graph.bfs_query")
        expands = [s for s in spans if s["name"] == "spark_ops.expand_relations"]
        return {
            "spark_ops.expand_relations_s": expand_s / n_passes,
            "spark_ops.expand_jobs": sum(s["jobs"] for s in expands) / n_passes,
            # which branch really ran: the driver branch returns lazy
            # literal frames without starting a Spark job of its own
            "spark_ops.expand_branch_driver": sum(1 for s in expands if s["jobs"] == 0) / n_passes,
            "spark_ops.expand_branch_distributed": sum(1 for s in expands if s["jobs"] > 0) / n_passes,
            "graph.bfs_query_s": bfs_s / max(1, n_bfs),
            "graph.jobs_per_query": _span_counts(spans, "graph.bfs_query", "jobs") / max(1, n_bfs),
        }


REGISTRY_QUERIES = (
    "neardup_jaccard_pairs",
    "dedup_minhash_lsh_pairs",
    "similarity_ivf_topk",
    "similarity_pq_topk",
    "doc_quality_scores",
    "doc_tfidf_top_terms",
    "q1_pricing_summary",
    "q5_nation_revenue",
    "events_sessionize",
    "graph_pagerank_top",
    "graph_connected_components_summary",
)


def _parity_module():
    """tools/parity.py's comparison helpers, imported as they are."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_parity", os.path.join(ROOT, "tools", "parity.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class CorpusRegistry(Workload):
    """LLM-data operators through the query registry on a generated
    corpus; the seed also permutes the query order."""

    name = "corpus_registry"
    item = "registry queries completed"

    def setup(self, spark, tr):
        self.corpus_dir = os.path.join(self.work, "corpus")
        shutil.rmtree(self.corpus_dir, ignore_errors=True)
        gen.write_registry_corpus(self.seed, self.corpus_dir)
        self.order = list(REGISTRY_QUERIES)
        gen.rng_for(self.seed, "registry-order").shuffle(self.order)
        self.queries = all_queries()
        self.items_per_pass = len(self.order)

    def prepare_checks(self, replay):
        parity = _parity_module()
        self.value_hash = parity.value_hash
        con = duckdb.connect()
        try:
            for t in TABLE_NAMES:
                path = os.path.join(self.corpus_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            oracles = all_oracles()
            self.want = {}
            for name in self.order:
                if name == "graph_pagerank_top":
                    continue
                res = con.execute(oracles[name])
                self.want[name] = ([d[0] for d in res.description], res.fetchall())
        finally:
            con.close()
        self.want_ranks = self._reference_pagerank()

    def _reference_pagerank(self) -> dict[str, int]:
        orders = pq.read_table(os.path.join(self.corpus_dir, "orders.parquet"))
        lines = pq.read_table(os.path.join(self.corpus_dir, "lineitem.parquet"))
        cust = dict(zip(orders["o_orderkey"].to_pylist(), orders["o_custkey"].to_pylist()))
        pairs = {
            (2 * cust[o], 2 * s + 1)
            for o, s in zip(lines["l_orderkey"].to_pylist(), lines["l_suppkey"].to_pylist())
            if o in cust
        }
        edges = [e for c, s in pairs for e in ((c, s), (s, c))]
        fmt = lambda v: f"c:{v // 2}" if v % 2 == 0 else f"s:{(v - 1) // 2}"  # noqa: E731
        return {fmt(v): r for v, r in checks.pagerank_ubp(edges).items()}

    def ops(self, spark, tr, pass_no):
        def query(name):
            def run():
                spark.catalog.clearCache()
                with tr.span(f"queries.{name}"):
                    df = self.queries[name](spark, self.corpus_dir)
                    return df.columns, [tuple(r) for r in df.collect()]

            return run

        def check(name):
            def run(got):
                if name == "graph_pagerank_top":
                    return checks.check_pagerank_top(got[1], self.want_ranks)
                return checks.check_result(name, got, self.want[name], self.value_hash)

            return run

        return [Op(name, query(name), check(name)) for name in self.order]

    def layer_metrics(self, spans, n_passes, stats):
        out = {}
        for name in REGISTRY_QUERIES:
            secs, _ = _span_seconds(spans, f"queries.{name}")
            out[f"queries.{name}_s"] = secs / n_passes
        return out


WORKLOADS = {w.name: w for w in (CatalogIngest, SimilarityJoin, EditPath, CorpusRegistry)}
