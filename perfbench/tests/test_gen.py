"""The generator is deterministic per seed and emits valid inputs."""

import os

from molgraphdb_spark.chem.mol import mol_key, parse_smiles

from perfbench import checks, gen


def test_same_seed_same_inputs():
    for seed in (1, 7):
        assert gen.ingest_batches(seed, 3, 20) == gen.ingest_batches(seed, 3, 20)
        mols = gen.corpus(seed, 30)
        assert mols == gen.corpus(seed, 30)
        assert gen.fragments(seed, mols, 6) == gen.fragments(seed, mols, 6)
        assert gen.edit_seeds(seed, 2, 4, 5, "x") == gen.edit_seeds(seed, 2, 4, 5, "x")
    assert gen.corpus(1, 30) != gen.corpus(2, 30)
    assert gen.ingest_batches(1, 2, 20) != gen.ingest_batches(2, 2, 20)


def test_registry_corpus_same_bytes(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    rows = gen.write_registry_corpus(3, str(a))
    gen.write_registry_corpus(3, str(b))
    gen.write_registry_corpus(4, str(c))
    assert rows["lineitem"] > 0 and rows["embeddings"] == 500
    same = differ = 0
    for name in sorted(os.listdir(a)):
        bytes_a = (a / name).read_bytes()
        assert bytes_a == (b / name).read_bytes(), name
        differ += bytes_a != (c / name).read_bytes()
        same += 1
    assert same == 10 and differ >= 6  # region/nation are fixed tables


def test_molecules_are_valid_cno():
    mols = gen.corpus(5, 80)
    assert len(set(mols)) == 80
    rings = 0
    for smi in mols:
        m = parse_smiles(smi)
        assert set(m.elements) <= {"C", "N", "O"}
        assert 6 <= m.n_atoms <= 10
        assert all(order == 1.0 for order in m.bonds.values())
        rings += m.n_bonds >= m.n_atoms
    assert 8 <= rings <= 45  # about 30% carry a ring closure


def test_batches_carry_repeats_and_isomers():
    batches = gen.ingest_batches(2, 3, 50, repeat_frac=0.2, isomer_frac=0.1)
    first = set(batches[0])
    first_keys = {mol_key(parse_smiles(s)) for s in first}
    later = batches[1] + batches[2]
    repeats = sum(s in first for s in later)
    same_identity = sum(mol_key(parse_smiles(s)) in first_keys for s in later)
    assert repeats >= 5
    assert same_identity > repeats  # isomers: new string, known molecule


def test_seed_library_repeats_distinct_molecules():
    lib = gen.seed_library(6, 60, 12, 5, 7)
    assert lib == gen.seed_library(6, 60, 12, 5, 7)
    assert len(lib) == 60 and len(set(lib)) == 12
    assert len({mol_key(parse_smiles(s)) for s in lib}) == 12


def test_isomer_keeps_identity():
    rng = gen.rng_for(9, "iso")
    for smi in gen.corpus(9, 20):
        assert mol_key(parse_smiles(gen.isomer(rng, smi))) == mol_key(parse_smiles(smi))


def test_bfs_pairs_cover_every_kind():
    edges, _ = checks.KernelReplay().expand(gen.edit_seeds(4, 2, 5, 5, "b"), 2)
    adj = checks.adjacency(edges)
    outside = ["not-a-vertex"]
    pairs = gen.bfs_pairs(4, adj, outside, (1, 2, 3, 3))
    assert pairs == gen.bfs_pairs(4, adj, outside, (1, 2, 3, 3))
    answers = [checks.bfs_answer(adj, a, b) for a, b in pairs]
    assert answers == [1, 2, 3, 4, 4, -1]  # same vertex, depths 1-3 as nodes, unreachable
