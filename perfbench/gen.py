"""Seeded input generators for the benchmark.

Every generator is a pure function of ``seed`` (plus sizes): the same
seed gives the same molecules, batches, fragments and corpus bytes. The
engine only ever sees what these functions return — SMILES lists,
fragment lists, vertex ids and parquet files.

Molecules are random C/N/O graphs built as a random spanning tree plus
optional ring closures, written with ``from_adjacency`` → ``to_smiles``
and re-parsed with ``parse_smiles`` so any valence violation is
rejected. Bonds are single, so every molecule is in the domain of the
subgraph catalog (0/1 adjacency) and of ``exact_ged``.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from collections import deque

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from molgraphdb_spark.chem.mol import SmilesError, from_adjacency, mol_key, parse_smiles, to_smiles

VALENCE = {"C": 4, "N": 3, "O": 2}
ELEMENT_WEIGHTS = {"C": 70, "N": 15, "O": 15}


def rng_for(seed: int, purpose: str) -> random.Random:
    """Independent, process-stable stream per (seed, purpose): str seeds
    hash through SHA-512, never through PYTHONHASHSEED."""
    return random.Random(f"{seed}:{purpose}")


def _random_graph(
    rng: random.Random, n: int, ring_p: float
) -> tuple[list[str], list[list[int]]] | None:
    elements = rng.choices(list(ELEMENT_WEIGHTS), weights=list(ELEMENT_WEIGHTS.values()), k=n)
    adj = [[0] * n for _ in range(n)]
    deg = [0] * n
    for i in range(1, n):
        free = [j for j in range(i) if deg[j] < VALENCE[elements[j]]]
        if not free:
            return None
        j = rng.choice(free)
        adj[i][j] = adj[j][i] = 1
        deg[i] += 1
        deg[j] += 1
    if rng.random() < ring_p:
        closures = [
            (a, b)
            for a in range(n)
            for b in range(a + 2, n)
            if not adj[a][b]
            and deg[a] < VALENCE[elements[a]]
            and deg[b] < VALENCE[elements[b]]
        ]
        if closures:
            a, b = rng.choice(closures)
            adj[a][b] = adj[b][a] = 1
    return elements, adj


def random_molecule(
    rng: random.Random, lo: int = 6, hi: int = 10, ring_p: float = 0.3, ring: bool | None = None
) -> str:
    """One valid single-bonded C/N/O molecule with ``lo``..``hi`` heavy
    atoms; about ``ring_p`` of them carry a ring closure (``ring``
    forces the choice)."""
    while True:
        p = ring_p if ring is None else float(ring)
        graph = _random_graph(rng, rng.randint(lo, hi), p)
        if graph is None:
            continue
        smiles = to_smiles(from_adjacency(*graph))
        try:
            mol = parse_smiles(smiles)
        except SmilesError:
            continue
        if ring is not None and (mol.n_bonds >= mol.n_atoms) != ring:
            continue  # no closure was possible: draw again
        return smiles


def stratified_molecule(rng: random.Random, i: int, lo: int = 6, hi: int = 10) -> str:
    """The ``i``-th molecule of a stream whose atom counts cycle through
    ``lo``..``hi`` and in which three of every ten such cycles carry a
    ring closure, so a stream's enumeration work barely depends on the
    seed."""
    n = lo + i % (hi - lo + 1)
    return random_molecule(rng, n, n, ring=(i // (hi - lo + 1)) % 10 < 3)


def _graph_of(smiles: str) -> tuple[list[str], list[tuple[int, int]]]:
    mol = parse_smiles(smiles)
    return list(mol.elements), sorted(mol.bonds)


def isomer(rng: random.Random, smiles: str) -> str:
    """The same molecule written from a shuffled atom order: a different
    SMILES string with the same WL identity (single bonds only)."""
    elements, bonds = _graph_of(smiles)
    n = len(elements)
    perm = list(range(n))
    rng.shuffle(perm)
    new_elements = [""] * n
    for old, new in enumerate(perm):
        new_elements[new] = elements[old]
    adj = [[0] * n for _ in range(n)]
    for a, b in bonds:
        adj[perm[a]][perm[b]] = adj[perm[b]][perm[a]] = 1
    return to_smiles(from_adjacency(new_elements, adj))


def ingest_batches(
    seed: int,
    n_batches: int,
    batch_size: int,
    repeat_frac: float = 0.2,
    isomer_frac: float = 0.1,
) -> list[list[str]]:
    """Ingest batches: after the first, a fixed share of each batch
    repeats an earlier molecule verbatim and another share re-writes an
    earlier molecule as an isomer, so dedup does real work."""
    rng = rng_for(seed, "ingest")
    seen: list[str] = []
    batches = []
    for b in range(n_batches):
        n_rep = int(batch_size * repeat_frac) if b else 0
        n_iso = int(batch_size * isomer_frac) if b else 0
        batch = [rng.choice(seen) for _ in range(n_rep)]
        batch += [isomer(rng, rng.choice(seen)) for _ in range(n_iso)]
        fresh = [stratified_molecule(rng, len(seen) + k) for k in range(batch_size - n_rep - n_iso)]
        batch += fresh
        rng.shuffle(batch)
        seen += fresh
        batches.append(batch)
    return batches


def corpus(seed: int, n: int) -> list[str]:
    """``n`` molecules with distinct SMILES strings (the string is the
    molecule's name in the pairwise relation)."""
    rng = rng_for(seed, "corpus")
    out: dict[str, None] = {}
    i = 0
    while len(out) < n:
        out.setdefault(stratified_molecule(rng, i))
        i += 1
    return list(out)


def _connected_subset(rng: random.Random, bonds: list[tuple[int, int]], n: int, k: int) -> list[int]:
    nbrs: dict[int, list[int]] = {i: [] for i in range(n)}
    for a, b in bonds:
        nbrs[a].append(b)
        nbrs[b].append(a)
    chosen = [rng.randrange(n)]
    frontier = set(nbrs[chosen[0]])
    while len(chosen) < k and frontier:
        nxt = rng.choice(sorted(frontier))
        chosen.append(nxt)
        frontier = (frontier | set(nbrs[nxt])) - set(chosen)
    return sorted(chosen)


def fragments(seed: int, molecules: list[str], k: int) -> list[str]:
    """``k`` distinct screen fragments: induced connected 3–5-atom pieces
    of corpus molecules (so most have hits), plus one fresh molecule
    (usually no hit)."""
    rng = rng_for(seed, "fragments")
    out: dict[str, None] = {}
    while len(out) < k - 1:
        elements, bonds = _graph_of(rng.choice(molecules))
        nodes = _connected_subset(rng, bonds, len(elements), rng.randint(3, 5))
        index = {old: new for new, old in enumerate(nodes)}
        adj = [[0] * len(nodes) for _ in nodes]
        for a, b in bonds:
            if a in index and b in index:
                adj[index[a]][index[b]] = adj[index[b]][index[a]] = 1
        out.setdefault(to_smiles(from_adjacency([elements[i] for i in nodes], adj)))
    out.setdefault(random_molecule(rng, 4, 5, 0.0))
    return list(out)


def edit_seeds(
    seed: int, n: int, lo: int, hi: int, purpose: str, accept=lambda seeds: True
) -> list[str]:
    """``n`` small acyclic seed molecules for edit-graph expansion; draws
    again until ``accept(seeds)`` holds (used to size the expansion)."""
    rng = rng_for(seed, purpose)
    while True:
        seeds = [random_molecule(rng, lo, hi, 0.0) for _ in range(n)]
        if accept(seeds):
            return seeds


def seed_library(seed: int, n_entries: int, n_distinct: int, lo: int, hi: int) -> list[str]:
    """A seed list of ``n_entries`` SMILES drawn from ``n_distinct``
    molecules with distinct WL keys; the rest are verbatim repeats, as
    in a re-submitted library, so the list is long while the distinct
    work stays small."""
    rng = rng_for(seed, "seed-library")
    distinct: dict[str, str] = {}
    while len(distinct) < n_distinct:
        smi = random_molecule(rng, lo, hi)
        distinct.setdefault(mol_key(parse_smiles(smi)), smi)
    pool = list(distinct.values())
    entries = pool + [rng.choice(pool) for _ in range(n_entries - n_distinct)]
    rng.shuffle(entries)
    return entries


def bfs_distances(adj: dict[str, set[str]], source: str) -> dict[str, int]:
    dist = {source: 0}
    queue = deque([source])
    while queue:
        u = queue.popleft()
        for v in adj.get(u, ()):
            if v not in dist:
                dist[v] = dist[u] + 1
                queue.append(v)
    return dist


def bfs_pairs(
    seed: int, adj: dict[str, set[str]], outside: list[str], depths: tuple[int, ...]
) -> list[tuple[str, str]]:
    """BFS requests over an edge graph given as adjacency: one
    same-vertex pair, one pair at each of ``depths`` (exact shortest-path
    edge counts, so the waves a request costs do not depend on the
    seed), and one unreachable pair whose target (taken from
    ``outside``) is not in the graph."""
    rng = rng_for(seed, "bfs")
    verts = sorted(adj)
    dist = {v: bfs_distances(adj, v) for v in verts}
    pairs = [(v := rng.choice(verts), v)]
    for depth in depths:
        at = [(a, b) for a in verts for b, d in sorted(dist[a].items()) if d == depth]
        if not at:
            raise ValueError(f"no vertex pair at distance {depth}")
        pairs.append(rng.choice(at))
    pairs.append((rng.choice(verts), rng.choice(sorted(set(outside) - set(adj)))))
    return pairs


# --- registry corpus: the ten driver tables, generated per seed --------

_WORDS = (
    "scan column window order sort part agg value line key join merge group "
    "query a vector hash slow stream filter fast the batch spark table small "
    "data big customer row"
).split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_WORDS = ["cold", "small", "large", "red", "blue", "green", "steel", "brass"]
_PART_NOUNS = ["widget", "bolt", "gear", "nut", "valve", "spring", "pipe", "clip"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]


def _days(base: dt.datetime, days: np.ndarray) -> pa.Array:
    return pa.array([base + dt.timedelta(days=int(d)) for d in days], pa.timestamp("us"))


def registry_tables(seed: int) -> dict[str, pa.Table]:
    """The driver's TPC-H-ish star schema plus events/documents/
    embeddings, with the same column names and physical types as the
    driver's data, at about the driver's sf0.001 sizes."""
    r = np.random.default_rng([seed, 7919])
    n_cust, n_supp, n_part = 150, 10, 200
    n_ord, n_ev, n_doc, n_emb = 1500, 1000, 500, 500
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [_SEGMENTS[i] for i in r.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [
            f"{_PART_WORDS[a]} {_PART_NOUNS[b]}"
            for a, b in zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_part)],
        "p_type": [_PART_TYPES[i] for i in r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + np.arange(n_part) * 0.1, 2),
    })
    order_days = r.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(dt.datetime(1995, 1, 1), order_days),
        "o_orderpriority": [_PRIORITIES[i] for i in r.integers(0, 5, n_ord)],
    })
    lines_per_order = r.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord), lines_per_order)
    n_li = len(l_order)
    l_number = np.concatenate([np.arange(1, k + 1) for k in lines_per_order])
    qty = r.integers(1, 51, n_li).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_number, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(r.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, n_li)],
        "l_shipdate": _days(dt.datetime(1995, 1, 1), order_days[l_order] + r.integers(1, 122, n_li)),
    })
    gaps = r.exponential(2600.0, n_ev)  # seconds; ~30 days over 1000 events
    ts0 = dt.datetime(2024, 1, 1)
    ts = np.cumsum(gaps)
    t["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(
            [ts0 + dt.timedelta(microseconds=int(s * 1e6)) for s in ts], pa.timestamp("us")
        ),
        "user_id": pa.array(r.integers(0, 15, n_ev), pa.int64()),
        "event_type": [_EVENT_TYPES[i] for i in r.integers(0, 5, n_ev)],
        "value": np.round(r.uniform(0.01, 330.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 20 and r.random() < 0.1:  # near-duplicate of an earlier doc
            words = texts[int(r.integers(0, i))].split()
            words[int(r.integers(0, len(words)))] = "dup"
        else:
            words = [_WORDS[w] for w in r.integers(0, len(_WORDS), int(r.integers(8, 90)))]
        texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": [_LANGS[i] for i in r.integers(0, 5, n_doc)],
        "source": [f"src{i}" for i in r.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    labels = r.integers(0, 10, n_emb)
    centers = r.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + r.normal(0.0, 1.5, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write_registry_corpus(seed: int, out_dir: str) -> dict[str, int]:
    """Write one parquet file per table into ``out_dir`` (the layout the
    registry's ``sf_dir`` argument expects); returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in registry_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
