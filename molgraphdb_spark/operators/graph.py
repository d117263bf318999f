"""Edge-table graph operators (SURVEY.md §7 M1) — the Spark-native
re-expression of the reference's ``PersistentDataBase``
(/root/reference/main.py:117–365).

Data model (SURVEY.md §1.1): a directed edge DataFrame
``(src, dst, diff_atom, diff_bond, subs)``; each undirected relation is
stored twice, once per direction with negated diffs
(/root/reference/main.py:113–114). Vertices are implicit — the distinct
endpoints (/root/reference/main.py:316–317).

Two access paths:
- Requests — :func:`bfs_query`, the point-to-point lookup the
  reference answers with one indexed SQLite query per wave
  (main.py:272–305) — run on the driver over a CSR adjacency index,
  collected once per materialized edge frame up to the size cap
  ``BFS_INDEX_MAX_EDGES`` and cached, so a request starts no Spark job.
- Analytics — :func:`bfs_distances`, :func:`multi_bfs_distances`,
  PageRank, components, cores, triangles — run as batch jobs over the
  edge DataFrame (GraphX/GraphFrames-style iterative joins): each BFS
  wave is one hash join frontier ⋈ edges with anti-join visited
  pruning — the Pregel pattern expressed in DataFrames. Requests over
  a derived edge frame, or one above the cap, run the same loop with a
  target.

Scale notes (100 TB):
- The request index would be a src-sorted edge table, read one
  frontier at a time by predicate pushdown on ``src``.
- The edge table would be bucketed by ``src`` on a real cluster so
  every frontier⋈edges wave is a co-partitioned join (no edge shuffle;
  only the small frontier moves). ``repartition(src)`` + cache here.
- Frontiers are broadcast while below the broadcast threshold — the
  frontier side is almost always tiny relative to edges.
- ``localCheckpoint`` per wave truncates the logical plan — without it
  the plan doubles per iteration and the driver OOMs around wave ~30
  (SURVEY.md §7 hard-part 1).
"""

from __future__ import annotations

import weakref

import numpy as np
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

#: Schema of the molecular-relations edge table (SURVEY.md §1.1;
#: reference DDL /root/reference/main.py:143–153).
EDGE_SCHEMA = StructType(
    [
        StructField("src", StringType(), False),
        StructField("dst", StringType(), False),
        StructField("diff_atom", IntegerType(), True),
        StructField("diff_bond", IntegerType(), True),
        StructField("subs", IntegerType(), True),
    ]
)


def empty_edges(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], EDGE_SCHEMA)


def edges_from_rows(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    return spark.createDataFrame(rows, EDGE_SCHEMA)


def append_edges(existing: DataFrame, new: DataFrame) -> DataFrame:
    """Idempotent edge insert: at most one edge per ordered (src, dst)
    pair; re-adding is a no-op — the UNIQUE + INSERT OR IGNORE
    semantics of /root/reference/main.py:151,203 as dropDuplicates +
    left-anti join (SURVEY.md §1.3)."""
    deduped = new.dropDuplicates(["src", "dst"])
    novel = deduped.join(existing.select("src", "dst"), ["src", "dst"], "left_anti")
    return existing.unionByName(novel)


def vertices(edges: DataFrame) -> DataFrame:
    """Distinct endpoints (the implicit vertex set,
    /root/reference/main.py:316–317)."""
    return (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def graph_stats(edges: DataFrame) -> dict:
    """Summary stats mirroring get_stats (/root/reference/main.py:307–332):
    unique molecules (distinct src — every vertex appears as src because
    edges are bidirectional) and total directed edges."""
    row = edges.select(
        F.countDistinct("src").alias("unique_molecules"),
        F.count(F.lit(1)).alias("n_edges"),
    ).first()
    return {"unique_molecules": row.unique_molecules, "n_edges": row.n_edges}


def _materialized(df: DataFrame) -> bool:
    """True when ``df``'s optimized plan is already a leaf that costs
    nothing to re-read: a driver-side ``LocalRelation`` (literal_df,
    small createDataFrame) or a ``LogicalRDD`` over a checkpointed RDD
    (localCheckpoint)."""
    plan = df._jdf.queryExecution().optimizedPlan()
    kind = plan.getClass().getSimpleName()
    return kind == "LocalRelation" or (kind == "LogicalRDD" and plan.rdd().isCheckpointed())


def _bfs_edges(edges: DataFrame) -> DataFrame:
    """(src, dst) of ``edges``, materialized at most once. A derived
    edge table (e.g. a join+distinct) would otherwise be recomputed
    from scratch every wave — the dominant cost at scale. On a real
    cluster this is the bucketed-by-src edge table; here
    localCheckpoint pins it and gives AQE exact sizes for join-side
    selection per wave. An edge frame that is already materialized is
    used as it is: re-checkpointing it per query is one job per call
    for nothing."""
    pairs = edges.select("src", "dst")
    return pairs if _materialized(edges) else pairs.localCheckpoint()


def multi_bfs_distances(
    edges: DataFrame,
    seeds: list[str | int],
    max_depth: int = 100,
    target: str | int | None = None,
) -> DataFrame:
    """BFS from ALL ``seeds`` in one wave loop; returns
    (seed, id, dist) for every (seed → vertex) pair reached within
    ``max_depth`` edges (dist = edge count). Ids are strings or ints.

    The scale point vs one loop per seed: K single-source runs pay K×
    the wave-loop job overhead and scan the edge table K× per depth
    level; here the frontier is keyed by (seed, id), so ONE join per
    wave advances every seed's wavefront simultaneously — the standard
    multi-source BFS batching of the reference's wavefront loop
    (main.py:283–303): frontier ⋈ edges on src, then a left-anti join
    against the visited set.

    With ``target`` the loop stops after the wave in which every seed
    has reached it (main.py:292–293); the result then holds only the
    waves that ran."""
    spark = edges.sparkSession
    edges = _bfs_edges(edges)
    # dedupe seeds (order-preserving): a duplicate entry would seed
    # visited twice and silently double every downstream per-seed
    # aggregate (r6 advice)
    seeds = list(dict.fromkeys(seeds))
    seed_arr = F.array(*[F.lit(s).cast("long") if isinstance(s, int) else F.lit(s) for s in seeds])
    # One-row seed over spark.range, left lazy: checkpointing it is a
    # job per call for nothing.
    visited = (
        spark.range(1)
        .select(F.explode(seed_arr).alias("seed"))
        .select("seed", F.col("seed").alias("id"), F.lit(0).cast("long").alias("dist"))
    )
    hit = F.lit(False) if target is None else F.col("id") == F.lit(target)
    pending = len(seeds) - (target in seeds)
    frontier = visited
    for depth in range(1, max_depth + 1):
        if target is not None and not pending:
            break
        # No forced broadcast: wave-1 frontiers are tiny (AQE
        # broadcasts them), but mid-BFS frontiers can be a large share
        # of the graph — forcing those through a broadcast is a driver
        # OOM at scale. AQE picks per-wave using checkpointed stats.
        candidates = (
            frontier.join(edges, frontier.id == edges.src)
            .select("seed", F.col("dst").alias("id"))
            .distinct()
        )
        # ONE job per wave: the frontier-size and target-hit probes are
        # Observation metrics on the checkpoint job itself (same
        # pattern as connected_components), not separate count() jobs.
        obs = Observation()
        new_frontier = (
            candidates.join(visited.select("seed", "id"), ["seed", "id"], "left_anti")
            .withColumn("dist", F.lit(depth).cast("long"))
            .observe(obs, F.count(F.lit(1)).alias("n"), F.sum(hit.cast("long")).alias("hit"))
            .localCheckpoint()  # truncate lineage per wave
        )
        got = obs.get
        if not got.get("n"):
            break
        # Lazy union: children are all checkpointed RDDs, so the chain
        # stays shallow and next wave's anti-join reads them directly.
        visited = visited.unionByName(new_frontier)
        pending -= got.get("hit")
        frontier = new_frontier
    return visited


def bfs_distances(edges: DataFrame, source: str | int, max_depth: int = 100) -> DataFrame:
    """(id, dist) for every vertex reached from ``source`` within
    ``max_depth`` edges (dist = edge count): the one-seed case of
    :func:`multi_bfs_distances`."""
    return multi_bfs_distances(edges, [source], max_depth).select("id", "dist")


#: Largest edge frame, in directed edges, whose request index is built
#: on the driver; requests over a larger frame run the Spark wave loop
#: of multi_bfs_distances. The build holds every collected Row at once:
#: on a checkpointed frame of 8 edges per vertex with 30-character ids
#: (4-core Xeon, local[2], 8g driver) it took 1.3 s and +135 MB peak
#: Python RSS at 250k edges, 4.9 s and +540 MB at 1M, and 10.4 s and
#: +1.07 GB at 2M. The cap keeps the one-off build near 5 s and 0.5 GB;
#: the built index itself is small (one int64 per edge plus the ids),
#: and a request over it took about 1 ms at every size.
BFS_INDEX_MAX_EDGES = 1_000_000


#: Request indexes of materialized edge frames, keyed by the frame
#: object (DataFrame hashes by identity); an entry dies with its frame.
#: None marks a frame above BFS_INDEX_MAX_EDGES.
_INDEX_CACHE: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _build_index(edges: DataFrame) -> tuple | None:
    """The CSR adjacency (ids, offsets, nbrs) of ``edges`` from one
    collect, or None above BFS_INDEX_MAX_EDGES: ``ids`` are the sorted
    distinct endpoints and the out-neighbours of ``ids[i]`` are
    ``ids[nbrs[offsets[i]:offsets[i + 1]]]``. On a LocalRelation frame
    the collect reads the driver-side rows without a Spark job."""
    rows = edges.select("src", "dst").dropna().limit(BFS_INDEX_MAX_EDGES + 1).collect()
    if len(rows) > BFS_INDEX_MAX_EDGES:
        return None
    src, dst = (np.array([r[i] for r in rows], dtype=object) for i in (0, 1))
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s, d = inv[: len(src)], inv[len(src) :]
    offsets = np.zeros(len(ids) + 1, dtype=np.int64)
    np.cumsum(np.bincount(s, minlength=len(ids)), out=offsets[1:])
    return ids, offsets, d[np.argsort(s, kind="stable")].astype(np.int64)


def _request_index(edges: DataFrame) -> tuple | None:
    """The index of a materialized (immutable leaf) edge frame, built
    on its first request; None for a derived frame, which is not
    collected at all, or for one above BFS_INDEX_MAX_EDGES."""
    if edges not in _INDEX_CACHE:
        if not _materialized(edges):
            return None
        _INDEX_CACHE[edges] = _build_index(edges)
    return _INDEX_CACHE[edges]


def _forward_bfs(index: tuple, source: int, target: int, max_depth: int) -> int | None:
    """Edge distance from position ``source`` to position ``target``,
    or None when it is not reached within ``max_depth`` edges. One
    vectorized gather of the frontier's out-edges per wave."""
    _, offsets, nbrs = index
    seen = np.zeros(len(offsets) - 1, dtype=bool)
    seen[source] = True
    frontier = np.array([source], dtype=np.int64)
    for depth in range(1, max_depth + 1):
        if not frontier.size:
            break
        lo, n = offsets[frontier], offsets[frontier + 1] - offsets[frontier]
        ends = np.cumsum(n)
        reached = np.unique(nbrs[np.repeat(lo - ends + n, n) + np.arange(ends[-1])])
        frontier = reached[~seen[reached]]
        seen[frontier] = True
        if seen[target]:
            return depth
    return None


def bfs_query(edges: DataFrame, mol_from: str, mol_to: str, max_depth: int = 100) -> int:
    """Shortest path mol_from → mol_to with the reference's return
    convention (verified in SURVEY.md §3.1): the number of NODES on the
    path — identical endpoints → 1, one edit apart → 2 — and −1 when
    the target is unreachable within ``max_depth`` edges or either
    endpoint is not in the graph (reference main.py:272–305).

    On a materialized edge frame this is a forward BFS over the cached
    driver-side CSR index, so a request starts no Spark job. A derived
    frame, or one above BFS_INDEX_MAX_EDGES, runs the Spark wave loop
    from mol_from, which stops on the wave that reaches mol_to."""
    if mol_from == mol_to:
        return 1
    index = _request_index(edges)
    if index is None:
        hit = multi_bfs_distances(edges, [mol_from], max_depth, target=mol_to)
        rows = hit.filter(F.col("id") == mol_to).select("dist").collect()
        return rows[0].dist + 1 if rows else -1
    ids = index[0]
    a, b = (int(i) for i in np.searchsorted(ids, np.array([mol_from, mol_to], dtype=object)))
    if a == len(ids) or b == len(ids) or ids[a] != mol_from or ids[b] != mol_to:
        return -1
    dist = _forward_bfs(index, a, b, max_depth)
    return -1 if dist is None else dist + 1


def pagerank(
    edges: DataFrame,
    n_iter: int = 10,
    damping: float = 0.85,
    cut_every: int = 2,
) -> DataFrame:
    """PageRank by power iteration over the edge DataFrame — the
    aggregateMessages pattern as joins (analytics-style per
    BASELINE.json: batch job over edges, not OLTP). Returns
    (id, rank); ranks sum to the vertex count.

    Scale: each iteration is one join (ranks ⋈ edges, co-partitioned
    on a real cluster via bucketing by src) + one groupBy(dst) with
    map-side combine. Lineage is cut every ``cut_every`` iterations
    (r9): each localCheckpoint is an EAGER full materialization of the
    rank vector, and interleaved A/B at sf0.1 (3 reps, results
    bit-identical across cadences) measured per-iteration cuts at
    ~5.4 s, every-2 at ~4.7 s, every-5 equal to every-2, and NO
    intermediate cut at 5.4–6.0 s — unbounded plan depth costs more in
    optimizer/AQE work than the saved materializations. Every-2 keeps
    the lineage bound tight (2 join+agg rounds) while halving rank-
    vector writes — on a 1000-executor graph that is half the
    full-vertex-set I/O.

    r15 shape (per-phase decomposition of the r14 operator, guide
    §1.1/§2.4): (1) the vertex relation used by every iteration's
    re-attach join was LAZY, so its 2×|E|-row union-distinct re-ran
    inside every cut job — ~0.25 s × n_iter at sf0.1; it is now
    materialized ONCE, fused with the degree aggregation into a single
    tagged-union groupBy pass (one shuffle builds vertices AND
    degrees). (2) The separate ``weighted`` edge materialization
    (src, dst, w — 24 B/row, a full second copy of the edge table) is
    gone: the loop-invariant weight ``w = 1.0/deg(src)`` rides the
    VERTEX state instead (16 B/row edge checkpoint only), and each
    message computes the same ``rank * (1.0/deg)`` product —
    bit-identical expression, n_vertices multiplies-by-w instead of
    n_edges. A/B at sf0.1: 7.0–7.9 s → 5.2–5.9 s (0.74×), rank_ubp
    identical on all 15 999 vertices; golden/oracle re-verified at
    sf0.001/0.01."""
    e = edges.select("src", "dst").localCheckpoint()
    # ONE aggregation pass builds the vertex set AND out-degrees: src
    # rows vote 1, dst rows vote 0, so dst-only sinks get deg=0 and a
    # NULL weight (they emit no messages — same as the former left
    # join against the src-only degree table). ANSI-safe: the division
    # is guarded, never 1/0.
    verts_w = (
        e.select(F.col("src").alias("id"), F.lit(1).cast("long").alias("o"))
        .unionByName(e.select(F.col("dst").alias("id"), F.lit(0).cast("long").alias("o")))
        .groupBy("id")
        .agg(F.sum("o").alias("deg"))
        .select(
            "id",
            F.when(F.col("deg") > 0, F.lit(1.0) / F.col("deg")).alias("w"),
        )
        .localCheckpoint()
    )
    ranks = verts_w.withColumn("rank", F.lit(1.0))
    for i in range(n_iter):
        contribs = (
            ranks.join(e, ranks.id == e.src)
            .select(F.col("dst").alias("id"), (F.col("rank") * F.col("w")).alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("c"))
        )
        ranks = verts_w.join(contribs, "id", "left").select(
            "id",
            "w",
            (F.lit(1 - damping) + F.lit(damping) * F.coalesce("c", F.lit(0.0))).alias("rank"),
        )
        if (i + 1) % cut_every == 0 or i == n_iter - 1:
            ranks = ranks.localCheckpoint()
    return ranks.select("id", "rank")


def label_propagation(
    edges: DataFrame, n_iter: int = 4, cut_every: int = 2
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007), the deterministic fixed-iteration variant GraphFrames
    ships as ``labelPropagation``: labels start as vertex ids; each
    round every vertex adopts the most frequent label among its
    neighbors, ties broken by MINIMUM label — both choices make the
    result a pure function of (graph, n_iter), where the classic
    asynchronous/randomized variant is run-dependent. Synchronous
    updates can oscillate on bipartite structure (the GraphFrames
    caveat), which is why the round count is a fixed parameter rather
    than a convergence test. Returns (id, label).

    Scale: each round is ONE labels⋈edges join (co-partitioned by
    bucketing on a real cluster) + a (vertex, label) vote groupBy with
    map-side combine + an argmax groupBy — the aggregateMessages shape.
    The vote argmax is ``min_by(label, struct(-count, label))``: no
    per-vertex window, no skew beyond the vertex's own degree. Lineage
    is cut every ``cut_every`` rounds (the measured pagerank cadence —
    per-round cuts pay more materialization than they save)."""
    e = edges.select("src", "dst").localCheckpoint()
    labels = vertices(e).withColumn("label", F.col("id")).localCheckpoint()
    for i in range(n_iter):
        votes = (
            labels.join(e, labels.id == e.src)
            .groupBy(F.col("dst").alias("id"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        winner = votes.groupBy("id").agg(
            F.min_by("label", F.struct((-F.col("c")).alias("nc"), F.col("label"))).alias(
                "new_label"
            )
        )
        labels = labels.join(winner, "id", "left").select(
            "id", F.coalesce("new_label", "label").alias("label")
        )
        if (i + 1) % cut_every == 0 or i == n_iter - 1:
            labels = labels.localCheckpoint()
    return labels


def connected_components(edges: DataFrame, max_iter: int = 50) -> DataFrame:
    """Connected components by iterative min-label propagation over the
    (bidirectional) edge table; returns (id, component) with component =
    min vertex id in the component. Converges in O(diameter) waves; each
    wave is one join + one groupBy-min. At scale, the large-star/
    small-star algorithm halves rounds, but label propagation keeps the
    same join shape and is fine for bounded-diameter graphs."""
    e = edges.select("src", "dst").localCheckpoint()  # materialize once (see _bfs_edges)
    labels = vertices(e).withColumn("component", F.col("id")).localCheckpoint()
    connected_components.last_converged = False
    connected_components.last_rounds = 0
    for _ in range(max_iter):
        connected_components.last_rounds += 1
        # ONE job per round (r1 verdict: the separate changed-count join
        # doubled the job count). The union carries each vertex's OLD
        # label alongside propagated ones ("own" is non-null only on the
        # labels branch, and every endpoint has a labels row), so the
        # convergence signal is an Observation metric on the same
        # aggregation that produces the new labels.
        obs = Observation()
        prop = (
            labels.join(e, labels.id == e.src)
            .select(F.col("dst").alias("id"), "component", F.lit(None).cast(labels.schema["component"].dataType).alias("own"))
            .unionByName(labels.withColumn("own", F.col("component")))
            .groupBy("id")
            .agg(F.min("component").alias("component"), F.max("own").alias("own"))
            .observe(obs, F.sum((F.col("component") < F.col("own")).cast("long")).alias("changed"))
            .localCheckpoint()
        )
        labels = prop.select("id", "component")
        if not obs.get.get("changed"):
            connected_components.last_converged = True
            break
    return labels


def connected_components_auto(
    edges: DataFrame, small_graph_edges: int = 1_000_000, max_small_iter: int = 50
) -> DataFrame:
    """Size-dispatched connected components: min-label propagation for
    small pair graphs, large-star/small-star above a threshold.

    Why dispatch instead of always using star-CC: a star round is
    2 groupBys + 2 joins + a distinct over a symmetrized (doubled)
    edge view, ~3× the fixed per-round cost of a min-label round
    (1 join + 1 groupBy-min). On a small graph — the common case for
    LSH duplicate clusters, whose components are mostly pairs/triples
    with single-digit diameter — min-label converges in 2–3 cheap
    rounds and star-CC's asymptotic edge never pays for its constant
    factor (measured 3.9 s vs 1.4 s on the sf0.1 dedup graph). On a
    100 TB pair graph (edges ≫ threshold) the asymptotics flip:
    min-label is O(component diameter) shuffles — a long similarity
    chain means thousands — while star-CC is O(log n) regardless of
    diameter.

    The threshold count rides the canonicalization checkpoint job as
    an Observation metric — zero extra jobs, and CC re-reads the same
    checkpoint, so upstream work — e.g. the whole MinHash/LSH pipeline
    — is never computed twice. Safety valve: if min-label hits
    ``max_small_iter`` without converging (a pathological
    high-diameter small graph), escalate to star-CC on the same
    checkpointed edges rather than return unconverged labels.

    Diagnostics: ``connected_components_auto.last_strategy`` records
    which path ran ('minlabel' | 'star' | 'minlabel→star')."""
    obs = Observation()
    e = (
        edges.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    if obs.get.get("n") <= small_graph_edges:
        # min-label's contract is a bidirectional edge table (it
        # propagates src→dst only); symmetrize the canonical view
        sym = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        labels = connected_components(sym, max_iter=max_small_iter)
        if connected_components.last_converged:
            connected_components_auto.last_strategy = "minlabel"
            return labels
        connected_components_auto.last_strategy = "minlabel→star"
        return connected_components_star(e)
    connected_components_auto.last_strategy = "star"
    return connected_components_star(e)


def connected_components_star(edges: DataFrame, max_iter: int = 30) -> DataFrame:
    """Connected components by the alternating large-star/small-star
    algorithm (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14): converges in O(log n) rounds independent of
    graph DIAMETER, where min-label propagation
    (:func:`connected_components`) needs O(diameter) rounds — the
    difference between ~8 and ~1000 shuffles on a 100 TB dedup graph
    with long similarity chains. Returns (id, component), component =
    min vertex id, identical to :func:`connected_components`.

    Per round, both stars compose into ONE lineage with ONE
    localCheckpoint (1 job/round, same as min-label):
      large-star: every node's strictly-larger neighbors re-point to
        m(u) = min(N(u) ∪ {u});  small-star: every node and its
        smaller neighbors re-point to the minimum of the smaller
        neighborhood. No collect_list — both stars are a groupBy-min
        plus an equi-join back to the edge list, so a high-degree hub
        costs a join fan-out, never a single giant in-memory array.
    Convergence = the canonical big→small edge set reaches a fixpoint,
    detected by an order-independent xxhash64-sum fingerprint observed
    on the checkpoint job itself (no extra comparison job; a 64-bit
    sum collision is ~2⁻⁶⁴ per round).

    Diagnostics: ``connected_components_star.last_rounds`` holds the
    round count of the most recent call (tests assert the O(log n)
    bound on a planted path graph)."""
    verts = vertices(edges)
    # canonical big→small pairs; self-loops drop out
    e = (
        edges.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    prev_fp: tuple = ()
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # -- large-star over the symmetrized view ------------------
        sym = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        m_large = sym.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m")
        )
        ls = (
            sym.filter(F.col("dst") > F.col("src"))
            .join(m_large, "src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
        )  # invariant: src > dst
        # -- small-star over the big→small output ------------------
        m_small = ls.groupBy("src").agg(F.min("dst").alias("m"))
        ss = (
            ls.join(m_small, "src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .unionByName(m_small.select("src", F.col("m").alias("dst")))
            .distinct()
        )
        obs = Observation()
        e = ss.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            # decimal sum: ANSI mode makes a bigint sum of 64-bit hashes
            # throw on overflow; decimal(38,0) absorbs any edge count
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("fp"),
        ).localCheckpoint()
        got = obs.get
        fp = (got.get("n"), got.get("fp"))
        if fp == prev_fp:
            break
        prev_fp = fp
    connected_components_star.last_rounds = rounds
    return (
        verts.join(e.groupBy("src").agg(F.min("dst").alias("c")), verts.id == F.col("src"), "left")
        .select("id", F.coalesce("c", "id").alias("component"))
    )


def core_numbers(
    edges: DataFrame, max_iter: int = 100, *, assume_distinct: bool = False
) -> DataFrame:
    """K-core decomposition: (id, core) where ``core`` is the largest k
    such that the vertex survives in the k-core (the maximal subgraph
    of minimum degree k) — the standard graph-mining density measure
    (community cores, nucleus detection, influence pruning).

    Algorithm: the distributed H-operator iteration (Montresor et al.,
    "Distributed k-core decomposition"): start every vertex at its
    degree; each round set c(v) ← min(c(v), H-index of its neighbors'
    current values); the fixed point is exactly the core number. Each
    round is ONE join + ONE groupBy (neighbor values fold into the
    H-index via a sorted-array count — per-vertex work O(deg·log deg))
    with the convergence signal an Observation on the same aggregation
    (the connected_components job-count rule); state localCheckpoints
    per wave. Rounds needed ≈ how far degrees overestimate coreness —
    small for real graphs; each round shuffles only (vertex, value)
    pairs, never the edge payload."""
    # dropDuplicates: a neighbor listed twice (caller passed both
    # orientations of an already-bidirectional list) would inflate the
    # degree init AND the H-index counts. Callers whose edge list is
    # distinct BY CONSTRUCTION (e.g. graph_kcore_summary's
    # join+distinct projection) pass assume_distinct=True to skip the
    # redundant exchange+agg pass inside the checkpoint job (r15: the
    # optimizer cannot elide a dropDuplicates over an already-distinct
    # relation).
    proj = edges.select("src", "dst")
    if not assume_distinct:
        proj = proj.dropDuplicates()
    e = proj.localCheckpoint()
    deg = e.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("core")
    ).localCheckpoint()
    core_numbers.last_converged = False
    core_numbers.last_rounds = 0
    for _ in range(max_iter):
        core_numbers.last_rounds += 1
        obs = Observation()
        nbr = (
            deg.join(e, deg.id == e.src)
            .select(F.col("dst").alias("id"), F.col("core").alias("nc"))
        )
        # H-index of the sorted-desc neighbor values: count of i with
        # arr[i] >= i+1 (prefix-monotone once sorted)
        h = F.size(
            F.filter(
                F.reverse(F.array_sort(F.collect_list("nc"))),
                lambda x, i: x >= i + 1,
            )
        )
        nxt = (
            nbr.groupBy("id")
            .agg(h.alias("h"))
            .join(deg, "id")
            .select("id", F.least(F.col("core"), F.col("h")).alias("core"), F.col("core").alias("old"))
            .observe(obs, F.sum((F.col("core") < F.col("old")).cast("long")).alias("changed"))
            .localCheckpoint()
        )
        deg = nxt.select("id", "core")
        if not obs.get.get("changed"):
            core_numbers.last_converged = True
            break
    return deg


#: Broadcast ceiling for the triangle adjacency relation (one row per
#: vertex, sorted higher-neighbor array payload). Below it the
#: adjacency broadcasts to every task (two hash joins, zero shuffle of
#: the edge stream beyond its round-robin spread); above it the
#: formerly-silent node-count ceiling of the broadcast plan flips to
#: co-partitioned shuffle-hash joins on the edge endpoints (r8 verdict
#: item 7 — "a billion-node graph would co-partition", now shipped as
#: a dispatch instead of a docstring promise).
TRIANGLE_BROADCAST_MAX_VERTICES = 2_000_000


def triangle_count(
    edges: DataFrame,
    *,
    n_vertices: int | None = None,
    broadcast_max_vertices: int = TRIANGLE_BROADCAST_MAX_VERTICES,
    materialized: bool = False,
) -> DataFrame:
    """Exact triangle count over a canonical undirected edge list
    (columns ``x < y``, deduplicated) via compact-forward adjacency
    intersection (Latapy 2008): per edge (a,b), count
    |N_hi(a) ∩ N_hi(b)| over sorted higher-neighbor arrays — the
    intersection members are automatically > b, so each a<b<c triangle
    is found exactly once at its (a,b) edge and no triangle-sized
    intermediate ever materializes (the 3-way edge self-join's 166M-row
    intermediate at sf0.1).

    Size dispatch: the adjacency relation (one row per vertex) is
    BROADCAST while the vertex count stays under
    ``broadcast_max_vertices``; past that it joins co-partitioned
    (shuffle-hash, adjacency as build side) on each endpoint — the
    shape that survives a billion-node graph where a broadcast would
    OOM every executor. Pass ``n_vertices`` when the caller already
    knows the bound (a dimension-table count) to skip the counting job.
    Diagnostics: ``triangle_count.last_strategy`` records which path
    ran ('broadcast' | 'copartition'). Returns one row
    ``(n_triangles bigint)``. Pass ``materialized=True`` when the
    caller already localCheckpointed/cached ``edges`` — the operator
    references the edge list twice (adjacency build + stream side), so
    it materializes once itself otherwise; double-checkpointing an
    already-materialized projection costs a wasted pass (r9 bench)."""
    spark = edges.sparkSession
    proj = edges.select("x", "y")
    if not materialized:
        proj = proj.localCheckpoint()
    if n_vertices is None:
        n_vertices = (
            proj.select(F.explode(F.array("x", "y")).alias("v")).distinct().count()
        )
    adj = proj.groupBy("x").agg(F.sort_array(F.collect_list("y")).alias("nbrs"))
    na = adj.select(F.col("x").alias("a_"), F.col("nbrs").alias("na"))
    nb = adj.select(F.col("x").alias("b_"), F.col("nbrs").alias("nb"))
    if n_vertices <= broadcast_max_vertices:
        triangle_count.last_strategy = "broadcast"
        na, nb = F.broadcast(na), F.broadcast(nb)
        # Round-robin the edge stream: it is small in BYTES but the
        # per-edge intersection work is super-linear in degree — the
        # single-split-funnel class (r8) — so spread it explicitly.
        stream = proj.repartition(int(spark.conf.get("spark.sql.shuffle.partitions")))
    else:
        triangle_count.last_strategy = "copartition"
        # Shuffle-hash, adjacency as the (per-partition small) build
        # side; both joins shuffle on an edge endpoint, so the edge
        # stream is spread by the exchanges themselves.
        na, nb = na.hint("shuffle_hash"), nb.hint("shuffle_hash")
        stream = proj
    joined = stream.join(na, F.col("x") == F.col("a_")).join(
        # left: the globally-max vertex has no higher-neighbor row
        nb, F.col("y") == F.col("b_"), "left"
    )
    return joined.agg(
        F.sum(
            F.coalesce(F.size(F.array_intersect("na", "nb")), F.lit(0)).cast("long")
        ).alias("n_triangles")
    )
