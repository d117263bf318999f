"""Independent output checkers and their driver-side references.

References are computed in the benchmark process from the engine's
pure-Python kernels (parse, WL key, subgraph enumeration, single edits)
or from plain Python (BFS, PageRank power iteration) — never from the
Spark pipelines under test. Every checker returns ``(ok, detail)``; the
harness counts a False as a failed op.
"""

from __future__ import annotations

import time
from collections import Counter
from decimal import Decimal
from collections.abc import Iterable, Set

import numpy as np

from molgraphdb_spark.chem.edits import all_single_edits
from molgraphdb_spark.chem.mol import mol_key, parse_smiles
from molgraphdb_spark.chem.subgraphs import enumerate_subgraphs, overlap_metrics

from perfbench.gen import bfs_distances

Check = tuple[bool, str]


class KernelReplay:
    """Replays the chem kernels driver-side and keeps per-call timings
    (the ``chem.*`` per-layer metrics)."""

    def __init__(self) -> None:
        self.parse_s = self.key_s = self.enum_s = self.edits_s = 0.0
        self.n_parse = self.n_key = self.n_enum = self.n_edit_mols = self.n_subgraphs = 0
        self._subgraphs: dict[str, dict[str, int]] = {}
        self._atoms: dict[str, int] = {}

    def parse(self, smiles: str):
        t = time.perf_counter()
        mol = parse_smiles(smiles)
        self.parse_s += time.perf_counter() - t
        self.n_parse += 1
        return mol

    def key(self, smiles: str) -> str:
        mol = self.parse(smiles)
        t = time.perf_counter()
        k = mol_key(mol)
        self.key_s += time.perf_counter() - t
        self.n_key += 1
        return k

    def _enumerate(self, smiles: str) -> dict[str, int]:
        """subgraph hash → atom count (memoized per SMILES)."""
        if smiles not in self._subgraphs:
            mol = self.parse(smiles)
            self._atoms[smiles] = mol.n_atoms
            t = time.perf_counter()
            subs = {h: sub.n_atoms for h, sub in enumerate_subgraphs(mol).items()}
            self.enum_s += time.perf_counter() - t
            self.n_enum += 1
            self.n_subgraphs += len(subs)
            self._subgraphs[smiles] = subs
        return self._subgraphs[smiles]

    def hashes(self, smiles: str) -> Set[str]:
        """The molecule's subgraph hash set."""
        return self._enumerate(smiles).keys()

    def atoms(self, smiles: str) -> int:
        self._enumerate(smiles)
        return self._atoms[smiles]

    def sizes(self, smiles_list: Iterable[str]) -> dict[str, int]:
        """hash → atom count, for every subgraph of the given molecules."""
        out: dict[str, int] = {}
        for smi in smiles_list:
            out.update(self._enumerate(smi))
        return out

    def expand(
        self, seeds: list[str], depth: int
    ) -> tuple[dict[tuple[str, str], set[tuple]], dict[str, str]]:
        """Edit-graph fixed point from ``seeds``: (ordered pair → the
        attribute tuples its edge may carry, vertex id → SMILES). Semantics of ``expand_relations``: one
        edge per ordered pair, a vertex is new when no earlier wave knew
        it, stop when a wave adds nothing. When one wave offers a pair
        several times, which offer becomes the edge is not specified (the
        distributed branch keeps an arbitrary one), so all are allowed.
        A vertex offered under several SMILES keeps the first as its
        representative, as the driver branch does; the distributed branch
        keeps an arbitrary one, so its reference holds only when no such
        vertex is expanded (one wave from distinct seed molecules)."""
        verts: dict[str, str] = {}
        for smi in seeds:
            verts.setdefault(mol_key(parse_smiles(smi)), smi)
        edges: dict[tuple[str, str], set[tuple]] = {}
        frontier = dict(verts)
        for _ in range(depth):
            new_edges: dict[tuple[str, str], set[tuple]] = {}
            new_verts: dict[str, str] = {}
            for smi in frontier.values():
                mol = parse_smiles(smi)
                t = time.perf_counter()
                cands = list(all_single_edits(mol, smi))
                self.edits_s += time.perf_counter() - t
                self.n_edit_mols += 1
                for src, src_smiles, dst, da, db, subs in cands:
                    if (src, dst) not in edges:
                        new_edges.setdefault((src, dst), set()).add((da, db, subs))
                    if src not in verts:
                        new_verts.setdefault(src, src_smiles)
            edges.update(new_edges)
            verts.update(new_verts)
            if not new_verts:
                break
            frontier = new_verts
        return edges, verts


# --- catalog_ingest ---------------------------------------------------


def check_count(what: str, got: int, want: int) -> Check:
    return (got == want, f"{what}: got {got}, want {want}")


# --- similarity_join --------------------------------------------------


def check_pairs(rows: dict[tuple[str, str], tuple], replay: KernelReplay) -> Check:
    """Engine (n_shared, n_union, tanimoto, ged_approx) per sampled pair
    against ``overlap_metrics`` on the driver-side hash sets. Counts
    must match exactly; the 3-dp scores within one unit of the last
    place (Spark rounds half-up, Python half-even)."""
    if not rows:
        return False, "no sampled pairs returned"
    for (a, b), (n_shared, n_union, tani, ged) in rows.items():
        want = overlap_metrics(
            replay.hashes(a), replay.hashes(b), max(replay.atoms(a), replay.atoms(b))
        )
        if (n_shared, n_union) != (want["n_shared"], want["n_union"]):
            return False, f"pair {a},{b}: shared/union {n_shared}/{n_union} != {want}"
        if abs(tani - want["tanimoto"]) > 1.1e-3 or abs(ged - want["ged_approx"]) > 1.1e-3:
            return False, f"pair {a},{b}: scores {tani},{ged} != {want}"
    return True, f"{len(rows)} pairs match"


def shared_counts(molecules: list[str], replay: KernelReplay) -> np.ndarray:
    """n×n matrix of subgraph hashes shared by each pair of molecules
    (the diagonal holds each molecule's own count), by a product of
    molecule × hash incidence matrices."""
    index: dict[str, int] = {}
    cells = [(i, index.setdefault(h, len(index))) for i, m in enumerate(molecules) for h in replay.hashes(m)]
    inc = np.zeros((len(molecules), len(index)), dtype=np.float32)
    rows, cols = zip(*cells)
    inc[rows, cols] = 1.0
    return np.rint(inc @ inc.T).astype(np.int64)


def best_tanimoto(molecules: list[str], shared: np.ndarray) -> dict[str, tuple[int, int]]:
    """molecule → (n_shared, n_union) of its most similar partner, as an
    exact fraction (``shared`` from ``shared_counts``)."""
    own = np.diag(shared)
    union = own[:, None] + own[None, :] - shared
    tani = shared / union
    np.fill_diagonal(tani, -1.0)
    best_j = tani.argmax(axis=1)
    return {
        m: (int(shared[i, j]), int(union[i, j])) for i, (m, j) in enumerate(zip(molecules, best_j))
    }


def check_nearest(nn: dict[str, float], best: dict[str, tuple[int, int]]) -> Check:
    """Each molecule's nearest-neighbour Tanimoto equals the driver-side
    maximum (within the 3-dp rounding)."""
    if set(nn) != set(best):
        return False, f"nearest-neighbour rows for {len(nn)} molecules, want {len(best)}"
    for m, got in nn.items():
        s, u = best[m]
        if abs(got - s / u) > 6e-4:
            return False, f"nearest of {m}: tanimoto {got}, want {s}/{u}"
    return True, f"{len(nn)} nearest neighbours match"


def expected_screen(fragment_keys: dict[str, str], molecules: list[str], replay: KernelReplay) -> set:
    return {
        (frag, m)
        for frag, key in fragment_keys.items()
        for m in molecules
        if key in replay.hashes(m)
    }


def check_set(what: str, got: set, want: set) -> Check:
    if got == want:
        return True, f"{what}: {len(got)} rows match"
    return False, f"{what}: {len(got - want)} extra, {len(want - got)} missing"


def check_ged(pairs: dict[tuple[str, str], float | None], replay: KernelReplay, again) -> Check:
    """Exact GED per reranked pair: symmetric (``again`` recomputes with
    the arguments swapped) and between the count-difference lower bound
    and the delete-all/insert-all upper bound."""
    if not pairs:
        return False, "no pairs reranked"
    for (a, b), ged in pairs.items():
        ma, mb = replay.parse(a), replay.parse(b)
        lo = abs(ma.n_atoms - mb.n_atoms) + abs(ma.n_bonds - mb.n_bonds)
        hi = ma.n_atoms + mb.n_atoms + ma.n_bonds + mb.n_bonds
        if ged is None or not lo <= ged <= hi:
            return False, f"ged {a},{b} = {ged} outside [{lo}, {hi}]"
        if again(mb, ma) != ged:
            return False, f"ged {a},{b} not symmetric"
    return True, f"{len(pairs)} exact GEDs consistent"


# --- edit_path --------------------------------------------------------


def check_edges(what: str, rows: set[tuple], want: dict[tuple[str, str], set[tuple]]) -> Check:
    """Edge rows (src, dst, *attributes): exactly one per ordered pair
    of the reference, each carrying one of the pair's allowed
    attribute tuples."""
    got = {(r[0], r[1]): tuple(r[2:]) for r in rows}
    if len(got) != len(rows):
        return False, f"{what}: {len(rows) - len(got)} duplicate ordered pairs"
    extra, missing = got.keys() - want.keys(), want.keys() - got.keys()
    if extra or missing:
        return False, f"{what}: {len(extra)} extra, {len(missing)} missing"
    bad = [pair for pair, attrs in got.items() if attrs not in want[pair]]
    if bad:
        return False, f"{what}: {len(bad)} edges with attributes no edit gives, e.g. {bad[0]}"
    return True, f"{what}: {len(got)} edges match"


def adjacency(edges: Iterable[tuple]) -> dict[str, set[str]]:
    adj: dict[str, set[str]] = {}
    for e in edges:
        adj.setdefault(e[0], set()).add(e[1])
        adj.setdefault(e[1], set())
    return adj


def bfs_answer(adj: dict[str, set[str]], src: str, dst: str) -> int:
    """``bfs_query``'s convention: nodes on the shortest path, 1 for the
    same vertex, −1 when unreachable."""
    if src == dst:
        return 1
    d = bfs_distances(adj, src).get(dst)
    return -1 if d is None else d + 1


# --- corpus_registry --------------------------------------------------


def pagerank_ubp(edges: list[tuple[int, int]], n_iter: int = 10, damping: float = 0.85) -> dict[int, int]:
    """Plain-Python PageRank with ``operators.graph.pagerank``'s update
    (rank = (1−d) + d·Σ rank(u)/outdeg(u), ranks start at 1), rounded to
    micro-units like ``graph_pagerank_top``."""
    out_deg = Counter(s for s, _ in edges)
    verts = {v for e in edges for v in e}
    rank = dict.fromkeys(verts, 1.0)
    for _ in range(n_iter):
        contrib = dict.fromkeys(verts, 0.0)
        for s, d in edges:
            contrib[d] += rank[s] * (1.0 / out_deg[s])
        rank = {v: (1 - damping) + damping * contrib[v] for v in verts}
    return {v: int(r * 1_000_000 + 0.5) for v, r in rank.items()}


def check_pagerank_top(rows: list[tuple[str, int]], ranks: dict[str, int], k: int = 20) -> Check:
    """The engine's top-k (id, rank_ubp): each value within 2 micro-units
    of the reference, and the set is the reference top-k up to ties
    inside that tolerance."""
    if len(rows) != min(k, len(ranks)):
        return False, f"{len(rows)} rows, want {min(k, len(ranks))}"
    cut = sorted(ranks.values(), reverse=True)[len(rows) - 1]
    for vid, ubp in rows:
        if vid not in ranks or abs(ranks[vid] - ubp) > 2:
            return False, f"rank of {vid}: {ubp}, want {ranks.get(vid)}"
        if ranks[vid] < cut - 4:
            return False, f"{vid} (rank {ranks[vid]}) is below the top {k}"
    got = {vid for vid, _ in rows}
    for vid, ubp in ranks.items():
        if ubp > cut + 4 and vid not in got:
            return False, f"{vid} (rank {ubp}) missing from the top {k}"
    return True, f"top {len(rows)} ranks match"


#: most decimals a column may be rounded to and still get the
#: last-place allowance of ``check_result``
MAX_ROUNDED_DP = 6


def check_result(name: str, got: tuple[list, list], want: tuple[list, list], value_hash) -> Check:
    """A registry result (columns, rows) against its oracle's: equal
    ``value_hash`` (tools/parity.py), or else the same rows with each
    fractional value within one unit of the last place its column is
    rounded to (0.01 for a 2-dp sum, 1e-4 for a 4-dp average). A rounded
    value whose exact value lies on a rounding tie can round either way
    when the two engines add in different orders. A fractional column
    that is not rounded to at most ``MAX_ROUNDED_DP`` places gets no
    allowance."""
    got_hash, want_hash = value_hash(*got), value_hash(*want)
    if got_hash == want_hash:
        return True, f"{name}: value hash {got_hash} matches the oracle"
    if sorted(got[0]) != sorted(want[0]) or len(got[1]) != len(want[1]):
        return False, f"{name}: value hash {got_hash}, oracle {want_hash}"
    rows_got, rows_want = _split_rows(*got), _split_rows(*want)
    if any(len(g[1]) != len(w[1]) for g, w in zip(rows_got, rows_want)):
        return False, f"{name}: value hash {got_hash}, oracle {want_hash}; fractional columns differ"
    n_frac = len(rows_want[0][1]) if rows_want else 0
    ulp = [
        _last_place([r[1][j] for r in rows_got + rows_want]) for j in range(n_frac)
    ]
    for (exact_g, frac_g), (exact_w, frac_w) in zip(rows_got, rows_want):
        if exact_g != exact_w or any(
            abs(a - b) > u * (1 + 1e-9) for a, b, u in zip(frac_g, frac_w, ulp)
        ):
            return False, f"{name}: value hash {got_hash}, oracle {want_hash}; row {exact_g} {frac_g} != {exact_w} {frac_w}"
    return True, (
        f"{name}: rows match the oracle within one unit of each column's last "
        f"rounded place {ulp} (value hash {got_hash}, oracle {want_hash})"
    )


def _last_place(values: list[float]) -> float:
    """One unit of the last decimal place the values are rounded to,
    the most places any of them needs; 0 when that is more than
    ``MAX_ROUNDED_DP``."""
    dp = 0
    for v in values:
        while dp <= MAX_ROUNDED_DP and abs(round(v, dp) - v) > 1e-12 * max(1.0, abs(v)):
            dp += 1
    return 10.0**-dp if dp <= MAX_ROUNDED_DP else 0.0


def _split_rows(cols: list[str], rows: list[tuple]) -> list[tuple[tuple, tuple]]:
    """Rows with columns in name order, each as (exact cells rendered,
    fractional cells as floats), sorted. A cell is fractional when it is
    a float or a Decimal."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    frac = lambda v: isinstance(v, (float, Decimal))  # noqa: E731
    return sorted(
        (
            tuple(repr(r[i]) for i in order if not frac(r[i])),
            tuple(float(r[i]) for i in order if frac(r[i])),
        )
        for r in rows
    )
