"""Spark plumbing for the chemistry pipelines (SURVEY.md §7 M2/M3):
mapInPandas UDTFs wrapping the pure-Python generators, the iterative
edit-graph expansion loop (G9), the subgraph catalog aggregation (S6),
and the all-pairs GED/Tanimoto join pipeline (J3/J5 + A5/A6).

Execution model (SURVEY.md §2.11): chemistry objects exist only inside
Arrow-batched workers; everything that persists or shuffles is a plain
DataFrame of strings/ints. Each molecule is independent —
embarrassingly parallel across partitions.

Scale notes (100 TB):
- expansion: per-wave ``localCheckpoint`` truncates lineage (hard
  requirement, SURVEY.md §7 risk 1); novelty filtering is a left-anti
  join on the edge key — the INSERT OR IGNORE semantics without a
  driver-side set.
- catalog: one explode + groupBy(hash) with collect_set/count — the
  upsert-with-merge (mcs.py:101–144) reformulated as pure aggregation
  (SURVEY.md §1.3), no row-at-a-time read-modify-write.
- GED pairs: subgraph hash sets are joined on the hash key (J3 as a
  real equi-join), so the pairwise intersection never materializes the
  n² molecule pairs except for pairs that actually share a subgraph;
  metrics are built-in column expressions (A5/A6).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from molgraphdb_spark.chem.edits import all_single_edits
from molgraphdb_spark.chem.mol import parse_smiles, mol_key, SmilesError
from molgraphdb_spark.chem.subgraphs import enumerate_subgraphs
from molgraphdb_spark.functions.literals import literal_df

EDGE_COLS = "src string, src_smiles string, dst string, diff_atom int, diff_bond int, subs int"
#: (edges, vertices) schemas of :func:`expand_relations`' result
RELATION_COLS = "src string, dst string, diff_atom int, diff_bond int, subs int"
VERTEX_COLS = "mol_id string, smiles string"
SUBGRAPH_COLS = (
    "parent string, subgraph_hash string, size int, n_edges int, "
    "adjacency array<array<int>>, elements array<string>"
)
MOL_COLS = "smiles string, mol_id string, n_atoms int, n_bonds int, valid boolean, reason string"


def parse_molecules(spark: SparkSession, smiles: list[str]) -> DataFrame:
    """Ingest-time validation stage (P3/MoleculeInput as a boolean
    validity struct, SURVEY.md §1.1): one row per input SMILES with
    WL-hash identity and a valid flag; invalid rows carry the reason
    (quarantine pattern, never an exception mid-pipeline)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for smi in pdf["smiles"]:
                try:
                    m = parse_smiles(smi)
                    rows.append((smi, mol_key(m), m.n_atoms, m.n_bonds, True, "ok"))
                except SmilesError as ex:
                    rows.append((smi, None, None, None, False, str(ex)))
            yield pd.DataFrame(
                rows, columns=["smiles", "mol_id", "n_atoms", "n_bonds", "valid", "reason"]
            )

    # literal_df: an Arrow-built LocalTableScan source, not the pickled
    # parallelize of createDataFrame(list), whose Python stage would run
    # in EVERY downstream job (~2-4 s each).
    src = (
        literal_df(spark, [(s,) for s in smiles], ["smiles"])
        if smiles
        else spark.createDataFrame([], "smiles string")
    )
    return src.mapInPandas(gen, schema=MOL_COLS)


def _edits_udtf(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas generator: one molecule row → many directed edge
    rows (G2–G5 composed; the UDTF shape of SURVEY.md §2.9)."""
    for pdf in batches:
        rows = []
        for smi in pdf["smiles"]:
            try:
                mol = parse_smiles(smi)
            except SmilesError:
                continue
            for ckey, csmi, okey, da, db, subs in all_single_edits(mol, smi):
                rows.append((ckey, csmi, okey, da, db, subs))
        yield pd.DataFrame(
            rows, columns=["src", "src_smiles", "dst", "diff_atom", "diff_bond", "subs"]
        )


def expand_wave(frontier: DataFrame) -> DataFrame:
    """One expansion wave (G8, main.py:244–260): frontier (smiles) →
    all candidate directed edges."""
    return frontier.select("smiles").mapInPandas(_edits_udtf, schema=EDGE_COLS)


#: Size dispatch for :func:`expand_relations` (r15): run the fixed
#: point DRIVER-side while the total molecules processed stays under
#: this cap, else (or when the cap is hit mid-expansion) run the
#: distributed wave loop. Rationale — measure-first (guide §1.1): the
#: registry's depth-3 seed expansion enumerates 9 molecules / 32 edges
#: in 0.02 s of pure-Python kernel time, while the wave loop spends
#: ~5.7 s of bench wall on 2 Spark jobs per wave (mapInPandas stage +
#: tagged-union novelty materialization) — the r14 verdict's suspected
#: "kernel cost" was actually fixed per-job overhead (the query runs
#: FASTER on 8 cores than 32). Same dispatch philosophy as
#: triangle_count's broadcast bound and connected_components_auto.
EXPAND_DRIVER_MAX_MOLS = 4096


def _expand_driver(
    seed_smiles: list[str], depth: int, max_mols: int
) -> tuple[dict, dict] | None:
    """Driver-side twin of the wave loop below — SAME kernel functions,
    SAME per-wave semantics (per ordered (src, dst) the minimum
    (diff_atom, diff_bond, subs), per vertex the first SMILES seen,
    novelty = not-yet-known, identical break conditions). Returns
    (edges, vertices) dicts, or None when the expansion exceeds
    ``max_mols`` processed molecules (caller falls back to the
    distributed loop from scratch — deterministic either way)."""
    verts: dict[str, str] = {}
    for smi in seed_smiles:
        try:
            m = parse_smiles(smi)
        except SmilesError:
            continue  # parse_molecules' quarantine: invalid seeds drop
        verts.setdefault(mol_key(m), smi)
    edges: dict[tuple[str, str], tuple[int, int, int]] = {}
    frontier = dict(verts)
    processed = 0
    for _ in range(depth):
        new_edges: dict[tuple[str, str], tuple[int, int, int]] = {}
        new_verts: dict[str, str] = {}
        for _key, smi in frontier.items():
            processed += 1
            if processed > max_mols:
                return None
            mol = parse_smiles(smi)
            for s, s_smiles, o, da, db, subs in all_single_edits(mol, smi):
                # row-level mirror of the wave loop's per-pair min and
                # anti-joins: one edge per ordered pair, a vertex is
                # novel when no earlier wave knew it (its first SMILES
                # represents it; the wave loop keeps an arbitrary one)
                if (s, o) not in edges:
                    attrs = (da, db, subs)
                    new_edges[(s, o)] = min(attrs, new_edges.get((s, o), attrs))
                if s not in verts:
                    new_verts.setdefault(s, s_smiles)
        if not new_edges and not new_verts:
            break
        edges.update(new_edges)
        verts.update(new_verts)
        frontier = new_verts
        if not new_verts:
            break
    return edges, verts


def expand_relations(
    spark: SparkSession,
    seed_smiles: list[str],
    depth: int = 100,
    driver_max_mols: int = EXPAND_DRIVER_MAX_MOLS,
) -> tuple[DataFrame, DataFrame]:
    """Fixed-point edit-graph construction (G9/add_relations,
    main.py:212–242): expand wavefronts until no novel molecule appears
    or ``depth`` waves elapse. Returns (edges, vertices):
    edges(src, dst, diff_atom, diff_bond, subs) unique per ordered
    pair; vertices(mol_id, smiles) one representative SMILES per WL id.

    Two edits of one frontier molecule that reach the same ordered pair
    keep the minimum (diff_atom, diff_bond, subs) on both branches, so
    edge attributes do not depend on the branch or on row order.

    Size-dispatched (r15): seed lists whose whole expansion stays under
    ``driver_max_mols`` processed molecules run the fixed point in the
    driver (:func:`_expand_driver` — same kernel, same semantics,
    test-pinned equal) and return Arrow-built ``LocalTableScan``
    DataFrames (:func:`literal_df`); larger expansions (or a
    mid-expansion cap hit) run the distributed wave loop below. Pass
    ``driver_max_mols=0`` to force the wave loop.
    """
    if driver_max_mols and len(seed_smiles) <= driver_max_mols:
        result = _expand_driver(seed_smiles, depth, driver_max_mols)
        if result is not None:
            edges_d, verts_d = result
            # literal_df gives string / int columns here, the wave
            # loop's types; an empty side needs the explicit schema
            edge_rows = [(s, d, *attrs) for (s, d), attrs in edges_d.items()]
            edges_df = (
                literal_df(spark, edge_rows, ["src", "dst", "diff_atom", "diff_bond", "subs"])
                if edge_rows
                else spark.createDataFrame([], RELATION_COLS)
            )
            verts_df = (
                literal_df(spark, list(verts_d.items()), ["mol_id", "smiles"])
                if verts_d
                else spark.createDataFrame([], VERTEX_COLS)
            )
            return edges_df, verts_df
    # partitioning sized to the seed set: fixture-scale seed lists in
    # one partition; large corpora keep ~8 molecules per partition task
    seeds = (
        parse_molecules(spark, seed_smiles)
        .coalesce(max(1, len(seed_smiles) // 8))
        .filter("valid")
    )
    # dedup by WL id, not (id, smiles): isomorphic seeds written
    # differently (CCC vs C(C)C) are ONE vertex (main.py:95 semantics)
    vertices = (
        seeds.select(F.col("mol_id"), F.col("smiles"))
        .dropDuplicates(["mol_id"])
        .localCheckpoint()
    )
    edges = spark.createDataFrame([], RELATION_COLS).localCheckpoint()
    frontier = vertices
    # Per-wave job budget (r1 verdict: ~4 blocking jobs/wave was the
    # dominant cost): exactly TWO jobs per wave — (1) materialize the
    # Python expansion stage once, (2) materialize BOTH novelty deltas
    # as one tagged union, with the emptiness probes riding inside that
    # same job as Observation metrics instead of separate count() jobs.
    null_s = F.lit(None).cast("string")
    null_i = F.lit(None).cast("int")
    for _ in range(depth):
        # wave is consumed by both delta branches below; checkpoint it
        # so the mapInPandas worker stage runs once, not per-branch.
        wave = expand_wave(frontier).localCheckpoint()
        new_edges = (
            wave.groupBy("src", "dst")
            .agg(F.min(F.struct("diff_atom", "diff_bond", "subs")).alias("a"))
            .select("src", "dst", "a.*")
            .join(edges.select("src", "dst"), ["src", "dst"], "left_anti")
        )
        # novel molecules: sources of new edges not yet known (J4,
        # add_and_return_new main.py:262–270)
        new_vertices = (
            wave.select(F.col("src").alias("mol_id"), F.col("src_smiles").alias("smiles"))
            .dropDuplicates(["mol_id"])
            .join(vertices.select("mol_id"), ["mol_id"], "left_anti")
        )
        obs = Observation()
        delta = (
            new_edges.select(
                F.lit("e").alias("tag"), "src", "dst",
                "diff_atom", "diff_bond", "subs", null_s.alias("smiles"),
            )
            .unionByName(
                new_vertices.select(
                    F.lit("v").alias("tag"), F.col("mol_id").alias("src"),
                    null_s.alias("dst"), null_i.alias("diff_atom"),
                    null_i.alias("diff_bond"), null_i.alias("subs"), "smiles",
                )
            )
            .observe(
                obs,
                F.sum((F.col("tag") == "e").cast("long")).alias("n_edges"),
                F.sum((F.col("tag") == "v").cast("long")).alias("n_vertices"),
            )
            .localCheckpoint()
        )
        got = obs.get
        if not got.get("n_edges") and not got.get("n_vertices"):
            break
        # Lazy unions of checkpointed RDDs: the chain stays shallow (one
        # union node per wave over materialized children), so no eager
        # re-checkpoint jobs are needed here.
        edges = edges.unionByName(
            delta.filter(F.col("tag") == "e").select(
                "src", "dst", "diff_atom", "diff_bond", "subs"
            )
        )
        frontier = delta.filter(F.col("tag") == "v").select(
            F.col("src").alias("mol_id"), "smiles"
        )
        vertices = vertices.unionByName(frontier)
        if not got.get("n_vertices"):
            break
    return edges, vertices


def _subgraphs_udtf(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas generator for G6/G7: one molecule row → one row per
    unique connected subgraph (WL-deduped within the molecule)."""
    for pdf in batches:
        rows = []
        for smi in pdf["smiles"]:
            try:
                mol = parse_smiles(smi)
            except SmilesError:
                continue
            for h, sub in enumerate_subgraphs(mol).items():
                rows.append(
                    (smi, h, sub.n_atoms, sub.n_bonds, sub.adjacency_matrix(), sub.elements)
                )
        yield pd.DataFrame(
            rows,
            columns=["parent", "subgraph_hash", "size", "n_edges", "adjacency", "elements"],
        )


def molecule_subgraphs(mols: DataFrame) -> DataFrame:
    """(parent, subgraph_hash, size, n_edges, adjacency) — the exploded
    subgraph relation; parent-level dedup already applied in-UDF
    (P8, cheap and bounded by the 10-atom cap)."""
    return mols.select("smiles").mapInPandas(_subgraphs_udtf, schema=SUBGRAPH_COLS)


def named_molecule_subgraphs(spark: SparkSession, named: list[tuple[str, str]]) -> DataFrame:
    """Fused parse + enumerate for a (name, smiles) fixture list in ONE
    mapInPandas stage: (parent=name, subgraph_hash, size, n_edges,
    adjacency, parent_atoms). Python-worker stages are the dominant
    cost at fixture scale — fusing parse→enumerate→atom-count into one
    pass removes two of three."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for name, smi in zip(pdf["name"], pdf["smiles"]):
                try:
                    mol = parse_smiles(smi)
                except SmilesError:
                    continue
                for h, sub in enumerate_subgraphs(mol).items():
                    rows.append(
                        (
                            name, h, sub.n_atoms, sub.n_bonds,
                            sub.adjacency_matrix(), sub.elements, mol.n_atoms,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "parent", "subgraph_hash", "size", "n_edges",
                    "adjacency", "elements", "parent_atoms",
                ],
            )

    return (
        literal_df(spark, named, ["name", "smiles"])
        .coalesce(1)
        .mapInPandas(gen, schema=SUBGRAPH_COLS + ", parent_atoms int")
    )


def subgraph_catalog(subgraphs: DataFrame) -> DataFrame:
    """The subgraph catalog (S6 upsert reformulated as aggregation,
    SURVEY.md §1.3): one row per hash with native nested types —
    frequency counts OBSERVATIONS (one per parent enumeration that saw
    the hash, mcs.py:125), parent_molecules is the deduped set
    (mcs.py:114–126)."""
    return subgraphs.groupBy("subgraph_hash").agg(
        F.first("size").alias("size"),
        F.first("adjacency").alias("adjacency_matrix"),
        F.first("elements").alias("elements"),
        F.array_sort(F.collect_set("parent")).alias("parent_molecules"),
        F.count(F.lit(1)).alias("frequency"),
    )


def pairwise_overlap_metrics(subgraphs: DataFrame, mols: DataFrame) -> DataFrame:
    """All-pairs Tanimoto + approx GED (J5 × J3 × A5/A6,
    mcs.py:285–336) as a join/agg pipeline: intersections via equi-join
    on the hash, metrics as column expressions. ``mols`` must carry
    (smiles, n_atoms)."""
    hashes = subgraphs.select("parent", "subgraph_hash")
    sizes = hashes.groupBy("parent").agg(F.count(F.lit(1)).alias("n_hashes"))
    atoms = mols.select(F.col("smiles").alias("parent"), "n_atoms")
    a, b = hashes.alias("a"), hashes.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.subgraph_hash") == F.col("b.subgraph_hash"))
            & (F.col("a.parent") < F.col("b.parent")),
        )
        .groupBy(F.col("a.parent").alias("mol_a"), F.col("b.parent").alias("mol_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    # cross join of the (small) molecule dimension keeps zero-overlap
    # pairs (reference computes metrics for every requested pair)
    pairs = (
        sizes.alias("x")
        .crossJoin(sizes.alias("y"))
        .filter(F.col("x.parent") < F.col("y.parent"))
        .select(
            F.col("x.parent").alias("mol_a"),
            F.col("y.parent").alias("mol_b"),
            F.col("x.n_hashes").alias("n_a"),
            F.col("y.n_hashes").alias("n_b"),
        )
        .join(inter, ["mol_a", "mol_b"], "left")
        .fillna(0, subset=["n_shared"])
    )
    pairs = (
        pairs.join(atoms.withColumnRenamed("parent", "mol_a").withColumnRenamed("n_atoms", "atoms_a"), "mol_a")
        .join(atoms.withColumnRenamed("parent", "mol_b").withColumnRenamed("n_atoms", "atoms_b"), "mol_b")
    )
    n_union = F.col("n_a") + F.col("n_b") - F.col("n_shared")
    max_nodes = F.greatest("atoms_a", "atoms_b")
    sim_ratio = F.col("n_shared") / F.least("n_a", "n_b")
    return pairs.select(
        "mol_a",
        "mol_b",
        "n_shared",
        n_union.alias("n_union"),
        F.round(F.when(n_union > 0, F.col("n_shared") / n_union).otherwise(0.0), 3).alias("tanimoto"),
        F.round(
            F.when(F.least("n_a", "n_b") > 0, max_nodes * (1 - sim_ratio)).otherwise(
                max_nodes.cast("double")
            ),
            3,
        ).alias("ged_approx"),
    )
