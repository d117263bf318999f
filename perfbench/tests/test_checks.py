"""Each checker accepts the right answer and rejects a corrupted one."""

from molgraphdb_spark.chem.mol import mol_key, parse_smiles
from molgraphdb_spark.chem.subgraphs import exact_ged, overlap_metrics

from perfbench import checks, gen
from perfbench.checks import KernelReplay
from perfbench.workloads import _parity_module
MOLS = gen.corpus(21, 12)


def _ok(result):
    return result[0]


def test_check_count():
    assert _ok(checks.check_count("x", 5, 5))
    assert not _ok(checks.check_count("x", 4, 5))


def test_check_pairs_rejects_wrong_counts_and_scores():
    r = KernelReplay()
    a, b = MOLS[0], MOLS[1]
    m = overlap_metrics(r.hashes(a), r.hashes(b), max(r.atoms(a), r.atoms(b)))
    good = (m["n_shared"], m["n_union"], m["tanimoto"], m["ged_approx"])
    assert _ok(checks.check_pairs({(a, b): good}, r))
    assert not _ok(checks.check_pairs({(a, b): (good[0] + 1, *good[1:])}, r))
    assert not _ok(checks.check_pairs({(a, b): (*good[:2], good[2] + 0.01, good[3])}, r))
    assert not _ok(checks.check_pairs({}, r))


def test_check_nearest():
    r = KernelReplay()
    shared = checks.shared_counts(MOLS, r)
    a, b = MOLS[0], MOLS[1]
    assert shared[0, 1] == shared[1, 0] == len(r.hashes(a) & r.hashes(b))
    assert shared[0, 0] == len(r.hashes(a))
    best = checks.best_tanimoto(MOLS, shared)
    for m in MOLS:  # the exact maximum over all partners
        s, u = best[m]
        assert all(
            s * len(r.hashes(m) | r.hashes(o)) >= len(r.hashes(m) & r.hashes(o)) * u
            for o in MOLS if o != m
        )
    nn = {m: round(s / u, 3) for m, (s, u) in best.items()}
    assert _ok(checks.check_nearest(nn, best))
    victim = MOLS[3]
    assert not _ok(checks.check_nearest({**nn, victim: nn[victim] - 0.05}, best))
    assert not _ok(checks.check_nearest({k: v for k, v in nn.items() if k != victim}, best))


def test_check_set_screen_and_histogram():
    r = KernelReplay()
    frags = gen.fragments(21, MOLS, 4)
    want = checks.expected_screen({f: r.key(f) for f in frags}, MOLS, r)
    assert want  # fragments are cut from corpus molecules
    assert _ok(checks.check_set("screen", set(want), want))
    hit = next(iter(want))
    assert not _ok(checks.check_set("screen", want - {hit}, want))
    assert not _ok(checks.check_set("screen", want | {("C", MOLS[0])}, want))


def test_check_ged():
    r = KernelReplay()
    a, b = MOLS[0], MOLS[1]
    ged = exact_ged(parse_smiles(a), parse_smiles(b))
    assert _ok(checks.check_ged({(a, b): ged}, r, exact_ged))
    assert not _ok(checks.check_ged({(a, b): ged + 1}, r, exact_ged))
    assert not _ok(checks.check_ged({(a, b): None}, r, exact_ged))


def test_replayed_expansion_and_bfs():
    r = KernelReplay()
    seeds = gen.edit_seeds(3, 2, 4, 5, "t")
    edges, verts = r.expand(seeds, 2)
    assert {mol_key(parse_smiles(s)) for s in seeds} <= set(verts)
    assert len(verts) > len(seeds) and r.n_edit_mols > 0
    rows = {(s, d, *min(attrs)) for (s, d), attrs in edges.items()}
    assert _ok(checks.check_edges("edges", rows, edges))
    first = min(rows)
    assert not _ok(checks.check_edges("edges", rows - {first}, edges))
    wrong = (*first[:2], 99, 99, 99)
    assert not _ok(checks.check_edges("edges", rows - {first} | {wrong}, edges))
    assert not _ok(checks.check_edges("edges", rows | {wrong}, edges))
    adj = checks.adjacency(edges)
    src = next(iter(adj))
    dst = next(iter(adj[src]))
    assert checks.bfs_answer(adj, src, dst) == 2
    assert not _ok(checks.check_count("bfs", 3, checks.bfs_answer(adj, src, dst)))


def test_pagerank_reference_and_check():
    edges = [(0, 1), (1, 0), (0, 3), (3, 0), (2, 3), (3, 2), (4, 3), (3, 4)]
    ranks = {str(v): r for v, r in checks.pagerank_ubp(edges).items()}
    assert abs(sum(ranks.values()) - 5_000_000) <= 5  # ranks sum to |V|
    top = sorted(ranks.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    assert _ok(checks.check_pagerank_top(top, ranks, k=3))
    bumped = [(top[0][0], top[0][1] + 10)] + top[1:]
    assert not _ok(checks.check_pagerank_top(bumped, ranks, k=3))
    lowest = min(ranks.items(), key=lambda kv: kv[1])
    assert not _ok(checks.check_pagerank_top(top[:2] + [lowest], ranks, k=3))


def test_result_check_rejects_changed_row():
    vh = _parity_module().value_hash
    cols = ["k", "v"]
    rows = [(1, 2.5), (2, None)]
    want = (cols, rows)
    assert _ok(checks.check_result("q", (cols, list(reversed(rows))), want, vh))
    assert not _ok(checks.check_result("q", (cols, [(1, 2.5), (2, 0.0)]), want, vh))
    assert not _ok(checks.check_result("q", (cols, [(1, 2.5)]), want, vh))
    # a rounding tie may land one cent apart, a real difference may not
    money = (["n", "revenue"], [("A", 10.25), ("B", 3.5)])
    assert _ok(checks.check_result("q", (["n", "revenue"], [("A", 10.26), ("B", 3.5)]), money, vh))
    assert not _ok(checks.check_result("q", (["n", "revenue"], [("A", 10.28), ("B", 3.5)]), money, vh))
    assert not _ok(checks.check_result("q", (["n", "revenue"], [("C", 10.25), ("B", 3.5)]), money, vh))


def test_result_check_allows_one_unit_of_each_columns_last_place():
    vh = _parity_module().value_hash
    cols = ["flag", "avg_disc", "sum_price"]
    want = (cols, [("A", 0.05, 1234.25), ("N", 0.0498, 99.1)])  # 4 dp and 2 dp

    def got(disc, price):
        return (cols, [("A", disc, price), ("N", 0.0498, 99.1)])

    assert _ok(checks.check_result("q1", got(0.0501, 1234.25), want, vh))
    assert _ok(checks.check_result("q1", got(0.05, 1234.26), want, vh))
    assert not _ok(checks.check_result("q1", got(0.06, 1234.25), want, vh))  # 20 % off
    assert not _ok(checks.check_result("q1", got(0.0502, 1234.25), want, vh))
    assert not _ok(checks.check_result("q1", got(0.05, 1234.27), want, vh))
    # an unrounded column gets no allowance
    raw = (["k", "score"], [(1, 0.1234567891)])
    assert not _ok(checks.check_result("q", (["k", "score"], [(1, 0.1234567899)]), raw, vh))
