"""Similarity search over embedding columns (``array<float>``).

Four tiers, cheapest-exact to scalable-approximate:

- brute-force top-k / threshold join: JVM-side higher-order-function
  cosine (functions/vectors.py) — the exact baseline. O(n·q) dot
  products; at 100 TB this is the verification path, not the scan path.
- blocked exact pair join (:func:`cosine_pairs_blocked`): distributed
  block-pair GEMM — every pair of row-blocks meets in exactly one
  ``applyInPandas`` task. Exact (same per-pair float64 dot as the
  broadcast path), no driver collect, per-task memory bounded by
  2·n/num_blocks rows. The DEFAULT exact-pairs engine.
- LSH-bucketed candidates (:func:`lsh_cosine_candidates`): banded
  random-hyperplane signatures → candidates share a band bucket →
  exact cosine re-rank on candidates only. Shuffle is O(n·bands);
  recall < 1 by design — the approximate path when even the blocked
  O(n²) GEMM is too much.
- IVF/LSH index tables (:func:`build_embedding_index`,
  :func:`ann_ivf_topk_indexed`): signatures become write-time partition
  keys via the catalog; queries partition-prune to the probed buckets.

Planes are generated from a fixed seed via MD5 folds (stable across
Python implementations/versions, unlike builtin ``hash``) so the index
is reproducible without storing plane state.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_lakehouse_spark.functions.vectors import cosine_similarity

__all__ = [
    "cosine_topk",
    "cosine_pairs",
    "cosine_pairs_blocked",
    "lsh_cosine_candidates",
    "random_hyperplane_signature",
    "ann_lsh_topk",
    "embedding_dedup_canonical",
    "ann_ivf_topk",
    "build_embedding_index",
    "ann_ivf_topk_indexed",
    "build_kmeans_ivf_index",
    "ann_kmeans_ivf_topk",
    "build_ivf_pq_index",
    "encode_ivf_pq",
    "add_to_ivf_pq_index",
    "ann_ivf_pq_topk",
    "semdedup",
    "semdedup_auto_k",
]


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 20,
) -> DataFrame:
    """Exact brute-force top-k by cosine against a literal query vector."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    sim = cosine_similarity(F.col(vec_col), q)
    return (
        df.select(F.col(id_col).cast("bigint").alias(id_col), sim.alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc(id_col))
        .limit(k)
    )


def cosine_pairs(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.5,
    max_broadcast_rows: int = 100_000,
    num_blocks: int = 8,
    max_exact_rows: int | None = 1_000_000,
) -> DataFrame:
    """Exact similarity self-join: all (a,b) pairs with cosine ≥ t —
    the RECOMMENDED entry point. One count decides the physical
    strategy: at or under ``max_broadcast_rows`` the comparison side
    broadcasts as a single numpy matrix (one GEMM per Arrow batch — the
    small-input fast path); above it, the fully distributed block-pair
    GEMM of :func:`cosine_pairs_blocked` runs with nothing on the
    driver. Identical arithmetic either way, so the choice is invisible
    in the results.

    **Quadratic-by-contract guard**: exact all-pairs is inherently
    O(n²) whatever the physical strategy — the one deliberately
    superlinear operator in the package (SCALING.md exemption). Above
    ``max_exact_rows`` the call REFUSES with the sub-quadratic twins
    named rather than silently launching an n² job a 100× scale-up
    turns into 10,000× the work: banded-LSH candidates
    (:func:`minhash candidates <data_lakehouse_spark.operators.dedup.
    minhash_lsh_candidates>`), :func:`lsh_cosine_candidates`, the
    ``ann_*`` top-k tiers, or :func:`semdedup_prune`. Pass
    ``max_exact_rows=None`` (or a higher bound) for a DELIBERATE exact
    run — the refusal exists so the quadratic can't be reached by
    accident at scale."""
    n = df.count()
    _guard_exact_pairs("cosine_pairs", n, max_exact_rows)
    if n <= max_broadcast_rows:
        return _pairs_broadcast(
            df, vec_col=vec_col, id_col=id_col, threshold=threshold
        )
    return cosine_pairs_blocked(
        df, vec_col=vec_col, id_col=id_col, threshold=threshold,
        num_blocks=num_blocks, max_exact_rows=None,  # guarded above
    )


def _guard_exact_pairs(caller: str, n: int, max_exact_rows: int | None) -> None:
    """Refuse an accidental O(n²) exact all-pairs launch above the row
    cap, naming the sub-quadratic twins. The exact tier stays available
    below the cap (and deliberately above it via max_exact_rows=None)."""
    if max_exact_rows is not None and n > max_exact_rows:
        raise ValueError(
            f"{caller}: exact all-pairs cosine over {n} rows is O(n²) "
            f"and exceeds max_exact_rows={max_exact_rows}. Use a "
            "sub-quadratic tier instead: dedup.minhash_lsh_candidates "
            "(banded LSH near-dup candidates), "
            "similarity.lsh_cosine_candidates, the ann_* top-k tiers "
            "(ann_lsh_topk / ann_ivf_topk / ann_kmeans_ivf_topk), or "
            "similarity.semdedup_prune — or pass max_exact_rows=None "
            "for a deliberate exact run."
        )


def _pairs_broadcast(
    df: DataFrame,
    *,
    vec_col: str,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Broadcast-matmul exact pair kernel: the scan side streams
    through Arrow-batched ``mapInPandas`` while the comparison side is
    one broadcast numpy matrix built on the driver — each batch is a
    single float64 GEMM instead of per-pair expression evaluation.
    Callers guarantee the comparison side fits in driver and executor
    memory (:func:`cosine_pairs` sizes this automatically)."""
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    side = df.select(
        F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("v")
    ).collect()
    b_ids = np.array([r["id"] for r in side], dtype=np.int64)
    b_mat = np.array([list(r["v"]) for r in side], dtype=np.float64)
    b_norm = np.linalg.norm(b_mat, axis=1)
    b_norm[b_norm == 0] = np.nan  # zero-norm → sim NULL → filtered out
    bc = spark.sparkContext.broadcast((b_ids, b_mat, b_norm))

    t = float(threshold)

    def gen(batches):
        ids_b, mat_b, norm_b = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a_ids = pdf["id"].to_numpy(dtype=np.int64)
            a_mat = np.array([list(v) for v in pdf["v"]], dtype=np.float64)
            a_norm = np.linalg.norm(a_mat, axis=1)
            a_norm[a_norm == 0] = np.nan
            # dot / (|a|·|b|): same formula shape as the SQL oracle
            with np.errstate(invalid="ignore", divide="ignore"):
                sims = (a_mat @ mat_b.T) / (a_norm[:, None] * norm_b[None, :])
                mask = (sims >= t) & (ids_b[None, :] > a_ids[:, None])
            ai, bi = np.nonzero(mask)
            yield pd.DataFrame(
                {
                    "id_a": a_ids[ai],
                    "id_b": ids_b[bi],
                    "cosine_sim": sims[ai, bi],
                }
            )

    src = df.select(
        F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("v")
    )
    return src.mapInPandas(
        gen, "id_a bigint, id_b bigint, cosine_sim double"
    )


def cosine_vs_anchors(
    df: DataFrame,
    anchors: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int | None = None,
    ceiling: float | None = None,
    exclude_self: bool = True,
    max_anchor_rows: int = 10_000,
) -> DataFrame:
    """Score every row of ``df`` against a SMALL fixed anchor set (hard-
    negative mining, probe queries): one float64 GEMM per Arrow batch
    against the broadcast anchor matrix — the same kernel/arithmetic as
    :func:`cosine_pairs`'s broadcast path, so results are oracle-
    identical to the JVM higher-order cosine, ~10× cheaper than the
    per-pair expression for multi-anchor scoring.

    ``k`` keeps only the per-batch top-k PER ANCHOR by
    (sim desc, id asc) — a safe pre-reduction (the global top-k under a
    total order is contained in the union of batch-local top-k), so the
    downstream per-anchor ranking window sorts batches×k×anchors rows,
    not n×anchors. ``ceiling`` drops near-duplicates (sim >= ceiling)
    before the top-k. Returns (anchor_id, neg_id, cosine_sim).

    Scale: anchors must be genuinely small (fail-fast over
    ``max_anchor_rows``); the scan side streams — nothing else is
    driver- or executor-resident."""
    import numpy as np
    import pandas as pd

    n_anchors = anchors.count()
    if n_anchors > max_anchor_rows:
        raise ValueError(
            f"cosine_vs_anchors: {n_anchors} anchors exceeds "
            f"max_anchor_rows={max_anchor_rows} — this kernel broadcasts "
            "the anchor matrix; use cosine_pairs_blocked for big×big"
        )
    side = anchors.select(
        F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("v")
    ).collect()
    a_ids = np.array([r["id"] for r in side], dtype=np.int64)
    a_mat = np.array([list(r["v"]) for r in side], dtype=np.float64)
    a_norm = np.linalg.norm(a_mat, axis=1)
    a_norm[a_norm == 0] = np.nan
    bc = df.sparkSession.sparkContext.broadcast((a_ids, a_mat, a_norm))
    ceil_v = None if ceiling is None else float(ceiling)
    topk = None if k is None else int(k)

    def gen(batches):
        ids_a, mat_a, norm_a = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            r_ids = pdf["id"].to_numpy(dtype=np.int64)
            r_mat = np.array([list(v) for v in pdf["v"]], dtype=np.float64)
            r_norm = np.linalg.norm(r_mat, axis=1)
            r_norm[r_norm == 0] = np.nan
            with np.errstate(invalid="ignore", divide="ignore"):
                sims = (r_mat @ mat_a.T) / (
                    r_norm[:, None] * norm_a[None, :]
                )  # rows × anchors
            mask = ~np.isnan(sims)
            if ceil_v is not None:
                mask &= sims < ceil_v
            if exclude_self:
                mask &= r_ids[:, None] != ids_a[None, :]
            out_a, out_r, out_s = [], [], []
            for j in range(len(ids_a)):
                rows = np.nonzero(mask[:, j])[0]
                if rows.size == 0:
                    continue
                if topk is not None and rows.size > topk:
                    # total order (sim desc, id asc) — identical to the
                    # final ranking, so batch-local winners suffice
                    order = np.lexsort((r_ids[rows], -sims[rows, j]))
                    rows = rows[order[:topk]]
                out_a.append(np.full(rows.size, ids_a[j], dtype=np.int64))
                out_r.append(r_ids[rows])
                out_s.append(sims[rows, j])
            if out_a:
                yield pd.DataFrame(
                    {
                        "anchor_id": np.concatenate(out_a),
                        "neg_id": np.concatenate(out_r),
                        "cosine_sim": np.concatenate(out_s),
                    }
                )

    src = df.select(
        F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("v")
    )
    return src.mapInPandas(
        gen, "anchor_id bigint, neg_id bigint, cosine_sim double"
    )


def cosine_pairs_blocked(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.5,
    num_blocks: int = 8,
    max_exact_rows: int | None = 1_000_000,
) -> DataFrame:
    """Exact similarity self-join with NO driver-side collect: a
    distributed block-pair GEMM.

    Rows are hashed into ``num_blocks`` blocks; each row is replicated
    to the ``num_blocks`` unordered block pairs it participates in, so
    every pair of rows meets in EXACTLY one ``applyInPandas`` group
    where one float64 GEMM scores the block-vs-block slab. Identical
    per-pair arithmetic to :func:`_pairs_broadcast` (same numpy dot /
    norm product), so results are interchangeable — but per-task memory
    is bounded by ~2·n/num_blocks vectors and nothing touches the
    driver. Shuffle volume is n·num_blocks rows; pick
    num_blocks ≈ n·dim·8 / target_task_bytes at scale (the total work
    stays the inherent exact O(n²) — for sub-quadratic use
    :func:`lsh_cosine_candidates`).

    ``max_exact_rows`` refuses an ACCIDENTAL quadratic above the cap
    (one count job — trivial next to the n² GEMM it prevents), naming
    the sub-quadratic twins; ``None`` runs exact at any size, for
    callers that already sized the input.
    """
    import numpy as np
    import pandas as pd

    if max_exact_rows is not None:
        _guard_exact_pairs("cosine_pairs_blocked", df.count(), max_exact_rows)
    B = int(num_blocks)
    t = float(threshold)
    src = df.select(
        F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("v")
    )
    blk = F.pmod(F.xxhash64(F.col("id")), F.lit(B)).cast("int")
    # every (lo, hi) block pair this row's block participates in;
    # injective in j, so no duplicate keys per row
    keys = F.transform(
        F.sequence(F.lit(0), F.lit(B - 1)),
        lambda j: F.struct(
            F.least(F.col("_blk"), j).cast("int").alias("lo"),
            F.greatest(F.col("_blk"), j).cast("int").alias("hi"),
        ),
    )
    tagged = (
        src.withColumn("_blk", blk)
        .withColumn("_k", F.explode(keys))
        .select(
            "id", "v", "_blk", F.col("_k.lo").alias("_lo"), F.col("_k.hi").alias("_hi")
        )
    )

    def gemm(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf["id"].to_numpy(dtype=np.int64)
        mat = np.array([list(v) for v in pdf["v"]], dtype=np.float64)
        norm = np.linalg.norm(mat, axis=1)
        norm[norm == 0] = np.nan
        lo, hi = int(pdf["_lo"].iat[0]), int(pdf["_hi"].iat[0])
        with np.errstate(invalid="ignore", divide="ignore"):
            if lo == hi:
                sims = (mat @ mat.T) / (norm[:, None] * norm[None, :])
                mask = (sims >= t) & (ids[None, :] > ids[:, None])
                ai, bi = np.nonzero(mask)
                id_a, id_b = ids[ai], ids[bi]
            else:
                sel = pdf["_blk"].to_numpy() == lo
                a_ids, b_ids = ids[sel], ids[~sel]
                a_mat, b_mat = mat[sel], mat[~sel]
                a_nrm, b_nrm = norm[sel], norm[~sel]
                sims = (a_mat @ b_mat.T) / (a_nrm[:, None] * b_nrm[None, :])
                mask = sims >= t
                ai, bi = np.nonzero(mask)
                id_a = np.minimum(a_ids[ai], b_ids[bi])
                id_b = np.maximum(a_ids[ai], b_ids[bi])
        return pd.DataFrame(
            {"id_a": id_a, "id_b": id_b, "cosine_sim": sims[ai, bi]}
        )

    return tagged.groupBy("_lo", "_hi").applyInPandas(
        gemm, "id_a bigint, id_b bigint, cosine_sim double"
    )


def lsh_cosine_candidates(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.5,
    num_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    max_bucket_size: int | None = 100_000,
) -> DataFrame:
    """APPROXIMATE cosine pairs: banded hyperplane-LSH candidates with
    exact cosine re-rank — the sub-quadratic scale path.

    The ``num_planes``-bit signature is split into ``bands`` bands of
    r = num_planes/bands bits; docs sharing any band value co-group.
    Exact cosine is then evaluated only on candidates (JVM higher-order
    expression — candidate sets are small). Recall < 1 by design:
    P(candidate) = 1-(1-p^r)^bands with p = 1-θ/π per bit. Hot band
    buckets (e.g. many zero vectors) are dropped above
    ``max_bucket_size`` — same skew guard as minhash
    (operators/dedup.py ``max_bucket_size``). Returns
    (id_a, id_b, cosine_sim) with id_a < id_b, like the exact engines.
    """
    rows = num_planes // bands
    src = df.select(
        F.col(id_col).cast("bigint").alias("doc_id"), F.col(vec_col).alias("v")
    ).withColumn(
        "_sig",
        random_hyperplane_signature(
            F.col("v"), _vec_dim(df, vec_col), num_planes=num_planes, seed=seed
        ),
    )
    banded = src.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("_sig"), b * rows)
                    .bitwiseAND(F.lit((1 << rows) - 1))
                    .cast("long")
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_sig"),
    )
    if max_bucket_size is not None:
        counts = banded.groupBy("band", "band_sig").agg(
            F.count("*").alias("_bn")
        )
        banded = banded.join(
            F.broadcast(counts.filter(F.col("_bn") <= max_bucket_size)),
            ["band", "band_sig"],
        ).drop("_bn")
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    va = df.select(
        F.col(id_col).cast("bigint").alias("id_a"), F.col(vec_col).alias("_va")
    )
    vb = df.select(
        F.col(id_col).cast("bigint").alias("id_b"), F.col(vec_col).alias("_vb")
    )
    sim = cosine_similarity(F.col("_va"), F.col("_vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= float(threshold))
    )


def _vec_dim(df: DataFrame, vec_col: str) -> int:
    """Embedding dimensionality from the first row (schema carries no
    fixed length for array columns). One tiny job, planning-time only."""
    row = df.select(F.size(vec_col).alias("d")).first()
    if row is None or row["d"] is None:
        raise ValueError(f"cannot infer dimension of empty {vec_col}")
    return int(row["d"])


def _plane(dim: int, plane_idx: int, seed: int = 42) -> list[float]:
    """Deterministic pseudo-random hyperplane: component c is an MD5
    fold of "seed:plane_idx:c" mapped to [-1, 1). MD5 (not builtin
    ``hash``) so signatures persisted in an index table keep matching
    query-side signatures across Python implementations/versions."""
    out = []
    for c in range(dim):
        h = int.from_bytes(
            hashlib.md5(f"{seed}:{plane_idx}:{c}".encode()).digest()[:4], "big"
        )
        out.append((h / 2**31) - 1.0)
    return out


def random_hyperplane_signature(
    vec: Column, dim: int, *, num_planes: int = 16, seed: int = 42
) -> Column:
    """LSH signature: integer whose bit p = sign(vec · plane_p)."""
    sig = F.lit(0).cast("long")
    for p in range(num_planes):
        plane = _plane(dim, p, seed)
        prods = F.zip_with(
            vec,
            F.array(*[F.lit(x) for x in plane]),
            lambda a, b: a.cast("double") * b,
        )
        dot = F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)
        sig = sig + F.when(dot >= 0, F.lit(2**p).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return sig


def ann_lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 20,
    num_planes: int = 12,
    probe_hamming: int = 1,
    seed: int = 42,
    n_probe: int | None = None,
    num_tables: int = 1,
    engine: str = "arrow",
) -> DataFrame:
    """Approximate top-k: candidates from the query's LSH bucket plus
    probed neighbor buckets, exact cosine re-rank.

    ``engine='arrow'`` (default) evaluates the per-row signature tests
    and the candidate cosine in ONE Arrow batch kernel (numpy GEMM
    against the broadcast plane/query matrices). The ``'sql'`` shape
    builds each signature from ``num_tables × num_planes``
    zip_with/aggregate dot products — higher-order functions are
    INTERPRETED per element (no codegen), measured ~1.9 s for 2 000
    rows × 18 planes at sf0.1 vs ~0.6 s for the kernel (guide §4.2).
    Same hash family (the planes are the shared md5 ``_plane`` fold);
    signatures agree except for vectors whose plane dot product sits
    within one ulp of 0 (sign test under a different but equally valid
    float64 summation order).

    Two probing modes:

    - legacy ``probe_hamming``: every bucket within h bit flips —
      uniform, ignores which planes the query is actually close to;
    - ``n_probe`` (recommended): DISTANCE-WEIGHTED multi-probe (Lv et
      al., "Multi-Probe LSH", VLDB 2007) — buckets ranked by the summed
      margins |q·plane| of their flipped bits, so the ``n_probe``
      most-likely buckets are probed first. Same recall at a fraction
      of the buckets, or much higher recall at the same probe budget.

    ``num_tables`` > 1 adds the other standard recall lever:
    independent hash tables (seeds ``seed + 1000·t``), candidates
    OR-ed in ONE scan — a miss must happen in every table, so recall
    compounds as ``1-(1-r)^L`` while the scan count stays 1 (each row
    evaluates at most L signatures; the OR short-circuits). Recommended
    setting ``num_planes=6, n_probe=16, num_tables=3`` measures 0.89
    recall@10 on the eval panel (ANN_EVAL.md; floor pinned in
    tests/test_dedup_similarity.py).

    INDEX-FREE variant: computes signatures at query time — one full
    scan per query (fine for ad-hoc / one-shot). For repeated queries
    materialize the signatures once with :func:`build_embedding_index`
    and probe with :func:`ann_ivf_topk_indexed`, which partition-prunes
    to the probed buckets instead of scanning.
    """
    dim = len(query_vec)
    table_probes: list[tuple[int, list[int]]] = []
    for t in range(max(int(num_tables), 1)):
        tseed = seed + 1000 * t
        if n_probe is not None:
            probe = _multiprobe_signatures(
                query_vec, num_planes, tseed, int(n_probe)
            )
        else:
            probe = _probe_signatures(
                query_vec, num_planes, tseed, probe_hamming
            )
        table_probes.append((tseed, [int(s) for s in probe]))

    if engine == "arrow":
        import numpy as np
        import pandas as pd

        planes = np.asarray(
            [
                [_plane(dim, p, tseed) for p in range(num_planes)]
                for tseed, _ in table_probes
            ],
            dtype=np.float64,
        )  # [tables, planes, dim]
        probe_sets = [
            np.asarray(sorted(ps), dtype=np.int64) for _, ps in table_probes
        ]
        weights = (1 << np.arange(num_planes)).astype(np.int64)
        qv = np.asarray(query_vec, dtype=np.float64)
        qn = float(np.linalg.norm(qv))

        def kernel(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    yield pd.DataFrame(
                        {
                            id_col: pd.array([], dtype="int64"),
                            "cosine_sim": pd.array([], dtype="float64"),
                        }
                    )
                    continue
                mat = np.array(
                    [list(v) for v in pdf[vec_col]], dtype=np.float64
                )
                keep = np.zeros(len(pdf), dtype=bool)
                for ti in range(len(table_probes)):
                    sig = ((mat @ planes[ti].T >= 0.0) * weights).sum(axis=1)
                    keep |= np.isin(sig, probe_sets[ti])
                sel = mat[keep]
                den = np.linalg.norm(sel, axis=1) * qn
                with np.errstate(invalid="ignore", divide="ignore"):
                    sim = (sel @ qv) / den
                sim = np.where(den == 0.0, np.nan, sim)
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col].to_numpy(dtype=np.int64)[keep],
                        "cosine_sim": sim,
                    }
                )

        # NULL/ragged guard: the SQL engine drops NULL or wrong-length
        # vectors (NULL signature/cosine fails the filter); np.array over
        # a ragged column would instead crash the task. Filter first so
        # the Arrow engine keeps the SQL path's degrade-gracefully
        # semantics on dirty embeddings.
        cands = (
            df.filter(
                F.col(vec_col).isNotNull() & (F.size(vec_col) == dim)
            )
            .select(F.col(id_col).cast("bigint").alias(id_col), F.col(vec_col))
            .mapInPandas(kernel, f"{id_col} bigint, cosine_sim double")
        )
        return cands.orderBy(F.desc("cosine_sim"), F.asc(id_col)).limit(k)

    cond = None
    for tseed, probe in table_probes:
        sig_col = random_hyperplane_signature(
            F.col(vec_col), dim, num_planes=num_planes, seed=tseed
        )
        c = sig_col.isin(*probe)
        cond = c if cond is None else (cond | c)

    q = F.array(*[F.lit(float(x)) for x in query_vec])
    sim = cosine_similarity(F.col(vec_col), q)
    return (
        df.filter(cond)
        .select(F.col(id_col).cast("bigint").alias(id_col), sim.alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc(id_col))
        .limit(k)
    )


def embedding_dedup_canonical(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.8,
    pairs: DataFrame | None = None,
    strategy: str = "blocked",
    num_blocks: int = 8,
) -> DataFrame:
    """Embedding-cosine near-dup dedup: map every vector to the minimum
    id among itself and its ≥-threshold cosine neighbors.

    One union-find-free single hop (A→min neighbor) — the standard
    first-pass cluster collapse for near-dup removal; iterate to a fixed
    point for full transitive closure if needed.

    Pair generation (``strategy``): ``"blocked"`` (default) uses the
    fully distributed exact block GEMM — no driver collect, the plan
    that survives scale while staying exact; ``"broadcast"`` is the
    collect-and-broadcast exact variant (small inputs only, guarded);
    ``"lsh"`` is the sub-quadratic approximate path
    (:func:`lsh_cosine_candidates`, recall < 1). ``pairs`` overrides
    with caller-supplied (id_a, id_b, cosine_sim) candidates.

    Returns (vec_id, canonical_id, is_duplicate).
    """
    if pairs is None:
        if strategy == "blocked":
            pairs = cosine_pairs_blocked(
                df, vec_col=vec_col, id_col=id_col, threshold=threshold,
                num_blocks=num_blocks,
            )
        elif strategy == "broadcast":
            pairs = cosine_pairs(
                df, vec_col=vec_col, id_col=id_col, threshold=threshold
            )
        elif strategy == "lsh":
            pairs = lsh_cosine_candidates(
                df, vec_col=vec_col, id_col=id_col, threshold=threshold
            )
        else:
            raise ValueError(f"unknown strategy {strategy!r}")
    else:
        pairs = pairs.filter(F.col("cosine_sim") >= threshold)
    sym = pairs.select(
        F.col("id_a").alias("vid"), F.col("id_b").alias("nb")
    ).unionByName(pairs.select(F.col("id_b").alias("vid"), F.col("id_a").alias("nb")))
    min_nb = sym.groupBy("vid").agg(F.min("nb").alias("min_nb"))
    return (
        df.select(F.col(id_col).cast("bigint").alias("vec_id"))
        .join(min_nb, F.col("vec_id") == F.col("vid"), "left")
        .select(
            "vec_id",
            F.least(F.col("vec_id"), F.coalesce("min_nb", F.col("vec_id"))).alias(
                "canonical_id"
            ),
        )
        .withColumn("is_duplicate", F.col("canonical_id") != F.col("vec_id"))
    )


def ann_ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 20,
    num_planes: int = 6,
    seed: int = 7,
    probe_hamming: int = 1,
    n_probe: int | None = None,
) -> DataFrame:
    """IVF-style approximate top-k, INDEX-FREE variant: coarse
    ``ivf_bucket`` assignment computed at query time (full scan), probe
    the query's bucket ± ``probe_hamming`` bit flips — or, with
    ``n_probe``, the ``n_probe`` distance-weighted most-likely buckets
    (:func:`_multiprobe_signatures`) — exact cosine re-rank inside.
    The materialized form — :func:`build_embedding_index` +
    :func:`ann_ivf_topk_indexed` — turns the same probe into a
    partition-pruned read of the probed buckets only."""
    dim = len(query_vec)
    bucket = ivf_bucket(F.col(vec_col), dim, num_planes=num_planes, seed=seed)
    if n_probe is not None:
        probe = _multiprobe_signatures(query_vec, num_planes, seed, int(n_probe))
    else:
        probe = _probe_signatures(query_vec, num_planes, seed, probe_hamming)

    q = F.array(*[F.lit(float(x)) for x in query_vec])
    sim = cosine_similarity(F.col(vec_col), q)
    return (
        df.withColumn("_bucket", bucket)
        .filter(F.col("_bucket").isin(*[int(s) for s in probe]))
        .select(F.col(id_col).cast("bigint").alias(id_col), sim.alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc(id_col))
        .limit(k)
    )


def ivf_bucket(vec: Column, dim: int, *, num_planes: int = 6, seed: int = 7) -> Column:
    """Coarse IVF-style bucket id (64 buckets by default) — the
    write-time partition key used by :func:`build_embedding_index`."""
    return random_hyperplane_signature(vec, dim, num_planes=num_planes, seed=seed)


def _query_signature(
    query_vec: list[float], num_planes: int, seed: int
) -> tuple[int, list[float]]:
    """Driver-side query signature + per-plane |dot| margins — the ONE
    definition of the plane arithmetic both probing strategies share
    (identical to the executor-side expression; a convention change
    here cannot desynchronize them). Pure arithmetic on the query
    vector — touches no data."""
    dim = len(query_vec)
    qsig = 0
    margins: list[float] = []
    for p in range(num_planes):
        plane = _plane(dim, p, seed)
        dot = 0.0
        for a, b in zip(query_vec, plane):
            dot = dot + float(a) * b
        if dot >= 0:
            qsig |= 1 << p
        margins.append(abs(dot))
    return qsig, margins


def _probe_signatures(
    query_vec: list[float], num_planes: int, seed: int, probe_hamming: int
) -> set[int]:
    """Query bucket plus all signatures within ``probe_hamming`` bit
    flips (uniform probing — see :func:`_multiprobe_signatures` for the
    margin-weighted variant)."""
    qsig, _ = _query_signature(query_vec, num_planes, seed)
    probe = {qsig}
    if probe_hamming >= 1:
        for p in range(num_planes):
            probe.add(qsig ^ (1 << p))
    if probe_hamming >= 2:
        for p in range(num_planes):
            for r in range(p + 1, num_planes):
                probe.add(qsig ^ (1 << p) ^ (1 << r))
    return probe


def _multiprobe_signatures(
    query_vec: list[float], num_planes: int, seed: int, n_probe: int
) -> list[int]:
    """Distance-weighted multi-probe (Lv et al. 2007): the ``n_probe``
    bucket signatures most likely to hold the query's neighbors. A
    bucket differing in bit set S costs ``sum_{p in S} |q . plane_p|``
    (flipping a plane the query is nearly ON is cheap; flipping a
    confident plane is expensive); buckets are probed in ascending
    cost. Pure driver arithmetic on the query vector — touches no data;
    exhaustive subset ranking, so ``num_planes`` is capped at 16 (the
    per-table bucket space, not the index size).
    """
    if num_planes > 16:
        raise ValueError(
            "weighted multi-probe enumerates the per-table bucket "
            f"space (2^num_planes); num_planes={num_planes} > 16 - "
            "use more tables (num_tables) instead of wider signatures"
        )
    qsig, margins = _query_signature(query_vec, num_planes, seed)
    masks = sorted(
        range(1 << num_planes),
        key=lambda m: (
            sum(margins[p] for p in range(num_planes) if m >> p & 1),
            m,
        ),
    )
    return [qsig ^ m for m in masks[: max(int(n_probe), 1)]]


def build_embedding_index(
    catalog,
    df: DataFrame,
    name: str,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 6,
    seed: int = 7,
    mode: str = "replace",
):
    """Materialize the ANN index table: (id, vector, ivf_bucket),
    written through the catalog PARTITIONED BY ivf_bucket — one
    directory per coarse bucket, so probes are partition-pruned reads.

    Index parameters (num_planes/seed/dim) are recorded as table
    properties; :func:`ann_ivf_topk_indexed` reads them back so the
    query-side signature always matches the write-side one. One full
    scan at build time, amortized over every subsequent query — the
    standard index economics (cf. the reference's serving-side ORDER-BY
    MergeTree layout, clickhouse/create_tables.sql:22-25: organize
    once at write time so reads don't scan).
    """
    dim = _vec_dim(df, vec_col)
    indexed = df.select(
        F.col(id_col).cast("bigint").alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        ivf_bucket(F.col(vec_col), dim, num_planes=num_planes, seed=seed).alias(
            "ivf_bucket"
        ),
    )
    return catalog.create_table(
        name,
        indexed,
        partition_by=["ivf_bucket"],
        properties={
            "index.kind": "ivf_hyperplane",
            "index.num_planes": str(num_planes),
            "index.seed": str(seed),
            "index.dim": str(dim),
        },
        mode=mode,
    )


def ann_ivf_topk_indexed(
    catalog,
    name: str,
    query_vec: list[float],
    *,
    k: int = 20,
    probe_hamming: int = 1,
    n_probe: int | None = None,
) -> DataFrame:
    """Approximate top-k over a materialized index table: compute the
    probe bucket set driver-side (pure arithmetic, no data touched),
    read ONLY the probed ``ivf_bucket=`` partitions, exact cosine
    re-rank inside them. The filter is on the partition column, so
    Catalyst prunes at planning time — only the probed buckets' files
    are read (asserted in tests/test_plans.py). ``n_probe`` switches
    to distance-weighted multi-probe: at the same partition-read
    budget, the probed buckets are the ones the query's neighbors most
    likely live in (the at-scale recall lever — probe cost is
    partitions read, so choosing them well is free recall)."""
    props = catalog.table_properties(name)
    num_planes = int(props["index.num_planes"])
    seed = int(props["index.seed"])
    dim = int(props["index.dim"])
    if len(query_vec) != dim:
        raise ValueError(f"query dim {len(query_vec)} != index dim {dim}")
    if n_probe is not None:
        probe = _multiprobe_signatures(query_vec, num_planes, seed, int(n_probe))
    else:
        probe = _probe_signatures(query_vec, num_planes, seed, probe_hamming)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    sim = cosine_similarity(F.col("embedding"), q)
    return (
        catalog.read(name)
        .filter(F.col("ivf_bucket").isin(*[int(s) for s in probe]))
        .select(F.col("vec_id"), sim.alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(k)
    )


def build_kmeans_ivf_index(
    catalog,
    df: DataFrame,
    name: str,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 16,
    seed: int = 7,
    max_iter: int = 20,
    mode: str = "replace",
):
    """Materialize a LEARNED IVF index: Spark ML KMeans centroids as the
    coarse quantizer (IVF-Flat), rows written through the catalog
    PARTITIONED BY their nearest-centroid cell.

    Versus the hyperplane buckets of :func:`build_embedding_index`,
    learned centroids adapt to the data distribution — cells are
    balanced where the data is dense, which is why IVF-Flat is the
    standard first tier of production ANN. Centroids are persisted as a
    table property (k·dim floats — trivially small), so the query side
    picks its probe cells with pure driver-side arithmetic and never
    touches data outside the probed partitions. Training cost is the
    usual index economics: one KMeans fit at build time (Spark ML runs
    it as distributed Lloyd iterations), amortized over every query.
    """
    import json

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    src = df.select(
        F.col(id_col).cast("bigint").alias("vec_id"),
        F.col(vec_col).alias("embedding"),
    )
    feats = src.withColumn(
        "_features", array_to_vector(F.col("embedding").cast("array<double>"))
    )
    model = KMeans(
        k=k,
        seed=seed,
        maxIter=max_iter,
        featuresCol="_features",
        predictionCol="ivf_cell",
    ).fit(feats)
    indexed = model.transform(feats).select(
        "vec_id", "embedding", F.col("ivf_cell").cast("int").alias("ivf_cell")
    )
    centroids = [[float(x) for x in c] for c in model.clusterCenters()]
    return catalog.create_table(
        name,
        indexed,
        partition_by=["ivf_cell"],
        properties={
            "index.kind": "ivf_kmeans",
            "index.k": str(k),
            "index.dim": str(len(centroids[0])),
            "index.centroids": json.dumps(centroids),
        },
        mode=mode,
    )


def ann_kmeans_ivf_topk(
    catalog,
    name: str,
    query_vec: list[float],
    *,
    k: int = 20,
    nprobe: int = 2,
) -> DataFrame:
    """Approximate top-k over a :func:`build_kmeans_ivf_index` table:
    rank the stored centroids against the query DRIVER-SIDE (pure
    arithmetic on k·dim floats), read only the ``nprobe`` nearest
    ``ivf_cell=`` partitions (Catalyst prunes on the partition column),
    exact cosine re-rank inside them.

    Cell selection uses squared-Euclidean distance — the metric KMeans
    assigned rows with, so probe cells are exactly the cells whose
    members are near the query under the quantizer's own geometry; the
    final ordering is exact cosine like every other tier. Recall
    depends on nprobe/k as usual for IVF (tests pin recall@k against
    the brute-force oracle on the fixture).
    """
    import json

    props = catalog.table_properties(name)
    if props.get("index.kind") != "ivf_kmeans":
        raise ValueError(f"{name} is not an ivf_kmeans index")
    centroids = json.loads(props["index.centroids"])
    dim = int(props["index.dim"])
    if len(query_vec) != dim:
        raise ValueError(f"query dim {len(query_vec)} != index dim {dim}")
    d2 = [
        (sum((float(a) - b) ** 2 for a, b in zip(query_vec, c)), i)
        for i, c in enumerate(centroids)
    ]
    cells = [i for _, i in sorted(d2)[: max(1, nprobe)]]
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    sim = cosine_similarity(F.col("embedding"), q)
    return (
        catalog.read(name)
        .filter(F.col("ivf_cell").isin(cells))
        .select(F.col("vec_id"), sim.alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(k)
    )


def build_ivf_pq_index(
    catalog,
    df: DataFrame,
    name: str,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 16,
    m: int = 8,
    nbits: int = 8,
    seed: int = 7,
    max_iter: int = 20,
    sample_size: int = 65_536,
    mode: str = "replace",
    source_table: str | None = None,
):
    """Materialize an IVF-PQ index (the FAISS ``IVFx,PQm`` shape — the
    tier that makes billion-vector search fit in memory): coarse KMeans
    cells like :func:`build_kmeans_ivf_index`, then each vector's
    RESIDUAL from its cell centroid is product-quantized — split into
    ``m`` subvectors, each encoded as its nearest codeword among
    ``2**nbits`` learned per-subspace codes. The index stores only
    ``(vec_id, ivf_cell, pq_code)`` — ``m`` small ints per vector
    instead of ``dim`` floats (64 byte-dims → 8 nibble-codes is 64×
    compression), which is what lets the probe side stay IN MEMORY at
    corpus scales where even the IVF-Flat cells no longer fit.

    Vectors are L2-NORMALIZED before assignment/encoding so squared-L2
    order equals cosine order (``||a−b||² = 2−2cos``) — queries rank by
    ADC distance and report ``1 − adc/2`` as the cosine estimate,
    keeping this tier's output comparable with every other ANN tier.
    Zero-norm vectors are excluded at build (cosine-undefined, same
    stance as the exact tiers' NULL).

    Codebooks (per-subspace Lloyd over a deterministic hash-sample of
    residuals — the same bounded-driver-fit economics as
    :func:`semdedup`) and centroids persist as table properties
    (``m · 2**nbits · dim/m + k · dim`` floats — metadata-sized), so
    the query side plans probes and distance tables with pure driver
    arithmetic. Partitioned by ``ivf_cell`` for partition-pruned
    probes. ``dim`` must be divisible by ``m``.
    """
    import json

    import numpy as np

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    K = 1 << int(nbits)
    src = df.select(
        F.col(id_col).cast("bigint").alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("embedding"),
    )
    # L2-normalize (JVM-side); drop zero-norm vectors
    nrm = F.sqrt(
        F.aggregate(
            F.col("embedding"), F.lit(0.0), lambda a, x: a + x * x
        )
    )
    src = (
        src.withColumn("_n", nrm)
        .filter(F.col("_n") > 0)
        .withColumn(
            "embedding",
            F.transform(F.col("embedding"), lambda x: x / F.col("_n")),
        )
        .drop("_n")
    )
    feats = src.withColumn("_features", array_to_vector(F.col("embedding")))
    model = KMeans(
        k=k, seed=seed, maxIter=max_iter,
        featuresCol="_features", predictionCol="ivf_cell",
    ).fit(feats)
    assigned = model.transform(feats).select(
        "vec_id", "embedding", F.col("ivf_cell").cast("int").alias("ivf_cell")
    )
    centroids = np.array(
        [[float(x) for x in c] for c in model.clusterCenters()],
        dtype=np.float64,
    )
    dim = centroids.shape[1]
    if dim % int(m) != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // int(m)

    # per-subspace codebooks from a bounded deterministic residual
    # sample (hash-order TakeOrdered — no global sort, retry-stable)
    sample = (
        assigned.select(
            "vec_id", "embedding", "ivf_cell",
            F.md5(
                F.concat_ws(":", F.lit(str(seed)), F.col("vec_id"))
            ).alias("_h"),
        )
        .orderBy("_h", "vec_id")
        .limit(int(sample_size))
        .collect()
    )
    smat = np.array([list(r["embedding"]) for r in sample], dtype=np.float64)
    scell = np.array([r["ivf_cell"] for r in sample], dtype=np.int64)
    resid = smat - centroids[scell]
    codebooks = np.empty((int(m), K, dsub), dtype=np.float64)
    rng_free = resid.reshape(len(resid), int(m), dsub)
    for j in range(int(m)):
        sub = rng_free[:, j, :]
        uniq, idx = np.unique(sub, axis=0, return_index=True)
        init = sub[np.sort(idx)[: min(K, len(idx))]]
        cents = np.zeros((K, dsub))
        cents[: len(init)] = init
        s2 = (sub * sub).sum(axis=1)
        for _ in range(max(int(max_iter), 1)):
            # GEMM form: the 3D-broadcast distance materializes an
            # (n, 256, dsub) temporary per iteration — ~1 GB at the
            # default sample — and dominated the index build wall time
            d2 = (
                s2[:, None]
                - 2.0 * (sub @ cents.T)
                + (cents * cents).sum(axis=1)[None, :]
            )
            a = d2.argmin(axis=1)
            new = cents.copy()
            for c in range(K):
                members = sub[a == c]
                if len(members):
                    new[c] = members.mean(axis=0)
            if np.allclose(new, cents, rtol=0, atol=1e-12):
                break
            cents = new
        codebooks[j] = cents

    bc = df.sparkSession.sparkContext.broadcast(
        (centroids, codebooks, int(m), dsub)
    )

    def encode(batches):
        import numpy as np
        import pandas as pd

        cents_, books_, m_, dsub_ = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame(
                    {
                        "vec_id": pd.array([], dtype="int64"),
                        "ivf_cell": pd.array([], dtype="int32"),
                        "pq_code": pd.array([], dtype=object),
                        "_qerr": pd.array([], dtype="float64"),
                        "_rn": pd.array([], dtype="float64"),
                    }
                )
                continue
            mat = np.array([list(v) for v in pdf["embedding"]], dtype=np.float64)
            cell = pdf["ivf_cell"].to_numpy(dtype=np.int64)
            res = (mat - cents_[cell]).reshape(len(mat), m_, dsub_)
            rn = (res * res).sum(axis=(1, 2))
            codes = np.empty((len(mat), m_), dtype=np.int32)
            qerr = np.zeros(len(mat), dtype=np.float64)
            for j in range(m_):
                # one small GEMM-shaped argmin per subspace
                d2 = ((res[:, j, None, :] - books_[j][None, :, :]) ** 2).sum(
                    axis=2
                )
                codes[:, j] = d2.argmin(axis=1)
                qerr += d2.min(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "ivf_cell": pdf["ivf_cell"],
                    "pq_code": list(codes.tolist()),
                    "_qerr": qerr,
                    "_rn": rn,
                }
            )

    from pyspark import StorageLevel

    # one encode pass feeds BOTH the table write and the MSE
    # aggregates (the drift baselines the add path compares against)
    indexed = assigned.mapInPandas(
        encode,
        "vec_id bigint, ivf_cell int, pq_code array<int>, "
        "_qerr double, _rn double",
    ).persist(StorageLevel.MEMORY_AND_DISK)
    mse_row = indexed.agg(
        F.avg("_qerr").alias("m"), F.sum("_qerr").alias("q"),
        F.sum("_rn").alias("r"),
    ).first()
    train_mse = float(mse_row["m"]) if mse_row["m"] is not None else 0.0
    # GENERALIZATION baseline: quantization error over build rows the
    # codebook sample EXCLUDED (the sample is the hash-prefix, so the
    # holdout is everything strictly above the last sampled (hash, id)
    # — a pure expression filter, no id list shipped). With 256 codes
    # per subspace, codebooks MEMORIZE a small training sample
    # (measured: train 0.066 vs held-out 0.347 on the 400-row
    # fixture), so drifting against train_mse false-alarms on
    # perfectly in-distribution adds; the holdout baseline is the
    # honest yardstick. Corpus fits inside the sample → no holdout →
    # fall back to train_mse (memorization caveat documented).
    baseline_mse = train_mse
    # scale-free drift yardstick: the fraction of residual ENERGY the
    # codebooks leave unexplained (sum qerr / sum ||residual||^2,
    # bounded [0,1]) — absolute MSE has a ceiling on unit-norm data,
    # which compresses the drifted-vs-clean gap at small scale
    baseline_rel = (
        float(mse_row["q"]) / float(mse_row["r"]) if mse_row["r"] else 0.0
    )
    if len(sample) >= int(sample_size) and sample:
        hmax, vmax = sample[-1]["_h"], sample[-1]["vec_id"]
        key = F.md5(F.concat_ws(":", F.lit(str(seed)), F.col("vec_id")))
        hrow = (
            indexed.withColumn("_h", key)
            .filter(
                (F.col("_h") > hmax)
                | ((F.col("_h") == hmax) & (F.col("vec_id") > vmax))
            )
            .agg(
                F.avg("_qerr").alias("m"), F.sum("_qerr").alias("q"),
                F.sum("_rn").alias("r"),
            )
            .first()
        )
        if hrow["m"] is not None:
            baseline_mse = float(hrow["m"])
            if hrow["r"]:
                baseline_rel = float(hrow["q"]) / float(hrow["r"])
    try:
        return catalog.create_table(
            name,
            indexed.drop("_qerr", "_rn"),
            partition_by=["ivf_cell"],
            # replace by default: a rebuild means the SOURCE moved under a
            # persisted index (freshness stamp mismatch) — erroring on the
            # stale table would wedge every consumer until manual cleanup
            mode=mode,
            properties={
                "index.kind": "ivf_pq",
                "index.dim": str(dim),
                "index.m": str(int(m)),
                "index.nbits": str(int(nbits)),
                "index.centroids": json.dumps(centroids.tolist()),
                "index.codebooks": json.dumps(codebooks.tolist()),
                # mean squared residual-quantization error over the
                # BUILD set, and over the codebook-sample HOLDOUT —
                # the generalization baseline add_to_ivf_pq_index
                # drifts each delta against
                "index.train_mse": repr(train_mse),
                "index.baseline_mse": repr(baseline_mse),
                "index.baseline_rel": repr(baseline_rel),
                # rebuild recipe: everything Catalog.maintain's
                # drift-policy step needs to re-run this build
                # faithfully from metadata alone
                "index.k": str(int(k)),
                "index.seed": str(int(seed)),
                "index.max_iter": str(int(max_iter)),
                "index.sample_size": str(int(sample_size)),
                "index.vec_col": vec_col,
                "index.id_col": id_col,
                # consecutive drifted adds since build (add path
                # increments/resets; maintain() keys its rebuild on it)
                "index.drift_consecutive": "0",
                **(
                    {"index.source_table": source_table}
                    if source_table
                    else {}
                ),
                },
        )
    finally:
        indexed.unpersist(blocking=False)


def ann_ivf_pq_topk(
    catalog,
    name: str,
    query_vec: list[float],
    *,
    k: int = 20,
    nprobe: int = 2,
    refine_with: DataFrame | None = None,
    refine_factor: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k over a :func:`build_ivf_pq_index` table via
    ADC (asymmetric distance computation): rank cells driver-side,
    then per probed cell build the query's residual distance table —
    ``m × 2**nbits`` floats — shipped as a TINY BROADCAST DataFrame
    (one ``(ivf_cell, lut array)`` row per probed cell) joined on
    ``ivf_cell``, and score every code row with a JVM-side
    ``zip_with`` lookup + ``aggregate`` sum (no Python in the scan
    path). The LUT travels as DATA, not as expression-tree literals:
    a ``create_map``/``F.lit(list)`` encoding expands to
    ``nprobe·m·2**nbits`` individual ``Literal`` nodes (~12k at
    nprobe=6, m=8, nbits=8), billing seconds of analysis/codegen to
    EVERY probe — a constant per-query cost that survives scale-up.
    The broadcast join costs one 6-row hash table instead.
    Partition pruning keeps I/O to the probed cells; output is
    ``(vec_id, cosine_sim)`` with the PQ cosine estimate
    ``1 − adc/2``.

    ``refine_with`` enables the standard FAISS refine stage: the top
    ``k·refine_factor`` ADC candidates join back to the ORIGINAL
    vectors (broadcast — it is k·refine_factor rows) for an exact
    cosine re-rank, trading one tiny join for near-exact ordering.
    """
    import json

    props = catalog.table_properties(name)
    if props.get("index.kind") != "ivf_pq":
        raise ValueError(f"{name} is not an ivf_pq index")
    dim = int(props["index.dim"])
    m = int(props["index.m"])
    K = 1 << int(props["index.nbits"])
    if len(query_vec) != dim:
        raise ValueError(f"query dim {len(query_vec)} != index dim {dim}")
    import math

    qn = math.sqrt(sum(float(x) * float(x) for x in query_vec))
    if qn == 0:
        raise ValueError("zero-norm query vector")
    q = [float(x) / qn for x in query_vec]
    centroids = json.loads(props["index.centroids"])
    books = json.loads(props["index.codebooks"])
    dsub = dim // m
    d2c = [
        (sum((a - b) ** 2 for a, b in zip(q, c)), i)
        for i, c in enumerate(centroids)
    ]
    cells = [i for _, i in sorted(d2c)[: max(1, nprobe)]]

    # one (cell, flattened LUT) row per probed cell: lut[j*K + c] =
    # ||res_sub_j - code_{j,c}||^2 with the residual taken PER PROBED
    # CELL. numpy builds the table (m*K*dsub fused ops, microseconds);
    # spark.createDataFrame ships it as Arrow DATA — the expression
    # tree stays O(m) nodes regardless of nprobe/K.
    import numpy as np

    qa = np.asarray(q, dtype=np.float64)
    ca = np.asarray(centroids, dtype=np.float64)
    ba = np.asarray(books, dtype=np.float64)  # (m, K, dsub)
    lut_rows = []
    for cell in cells:
        res = (qa - ca[cell]).reshape(m, dsub)  # per-subspace residual
        # (m, K): squared L2 of residual_j against every code in book j
        d2 = ((res[:, None, :] - ba) ** 2).sum(axis=2)
        lut_rows.append((int(cell), [float(x) for x in d2.reshape(-1)]))

    scan = catalog.read(name)
    lut_df = scan.sparkSession.createDataFrame(
        lut_rows, "ivf_cell int, _lut array<double>"
    )
    offs = F.lit([j * K for j in range(m)])
    adc = F.aggregate(
        F.zip_with(
            F.col("pq_code"),
            offs,
            lambda c, off: F.element_at(
                F.col("_lut"), (c + off + 1).cast("int")
            ),
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    n_cand = k * max(1, refine_factor) if refine_with is not None else k
    cand = (
        scan.filter(F.col("ivf_cell").isin([int(c) for c in cells]))
        .join(F.broadcast(lut_df), "ivf_cell")
        .select("vec_id", adc.alias("_adc"))
        .orderBy(F.asc("_adc"), F.asc("vec_id"))
        .limit(n_cand)
    )
    if refine_with is None:
        return cand.select(
            "vec_id",
            (F.lit(1.0) - F.col("_adc") / F.lit(2.0)).alias("cosine_sim"),
        )
    qcol = F.array(*[F.lit(float(x)) for x in query_vec])
    # Semi-join BEFORE computing the exact cosine: the join key is just
    # vec_id, and the cosine is an interpreted higher-order expression —
    # projected above the join it would be evaluated for EVERY refine
    # vector, not the k·refine_factor survivors (the optimizer does not
    # push a join below a projection).
    survivors = refine_with.select(
        F.col(id_col).cast("bigint").alias("vec_id"), F.col(vec_col)
    ).join(F.broadcast(cand.select("vec_id")), "vec_id", "left_semi")
    return (
        survivors.select(
            "vec_id",
            cosine_similarity(F.col(vec_col), qcol).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(k)
    )


def encode_ivf_pq(
    catalog,
    name: str,
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    with_error: bool = False,
) -> DataFrame:
    """Encode vectors against an EXISTING IVF-PQ index's stored coarse
    centroids and PQ codebooks — the encode half of FAISS
    ``IndexIVFPQ.add``, as a pure transform with NO training: one
    Arrow kernel per batch runs L2-normalize → coarse-cell argmin (one
    GEMM against the broadcast centroid matrix) → per-subspace
    residual code argmin, the same float64 arithmetic the builder's
    encode stage runs — so a vector encodes to identical
    ``(ivf_cell, pq_code)`` whether it was present at build time or
    added later (pinned in tests). Zero-norm vectors are excluded
    (cosine-undefined — the build-side stance). ``with_error=True``
    adds a ``_qerr`` column (per-vector squared residual-quantization
    error) — the drift signal :func:`add_to_ivf_pq_index` aggregates
    against the index's recorded build-time baseline."""
    import json as _json

    import numpy as np

    props = catalog.table_properties(name)
    if props.get("index.kind") != "ivf_pq":
        raise ValueError(f"{name} is not an ivf_pq index")
    dim = int(props["index.dim"])
    m = int(props["index.m"])
    dsub = dim // m
    centroids = np.asarray(
        _json.loads(props["index.centroids"]), dtype=np.float64
    )
    books = np.asarray(_json.loads(props["index.codebooks"]), dtype=np.float64)
    src = df.select(
        F.col(id_col).cast("bigint").alias("vec_id"),
        F.col(vec_col).alias("embedding"),
    )
    bc = df.sparkSession.sparkContext.broadcast((centroids, books, m, dsub))

    emit_err = bool(with_error)

    def enc(batches):
        import numpy as np
        import pandas as pd

        cents_, books_, m_, dsub_ = bc.value
        cc2 = (cents_ * cents_).sum(axis=1)
        empty_cols = {
            "vec_id": pd.array([], dtype="int64"),
            "ivf_cell": pd.array([], dtype="int32"),
            "pq_code": pd.array([], dtype=object),
        }
        if emit_err:
            empty_cols["_qerr"] = pd.array([], dtype="float64")
            empty_cols["_rn"] = pd.array([], dtype="float64")
        empty = pd.DataFrame(empty_cols)
        for pdf in batches:
            if len(pdf) == 0:
                yield empty
                continue
            mat = np.array([list(v) for v in pdf["embedding"]], dtype=np.float64)
            if mat.shape[1] != cents_.shape[1]:
                raise ValueError(
                    f"encode_ivf_pq: vector dim {mat.shape[1]} != index "
                    f"dim {cents_.shape[1]}"
                )
            n = np.sqrt((mat * mat).sum(axis=1))
            keep = n > 0
            if not keep.any():
                yield empty
                continue
            mat = mat[keep] / n[keep][:, None]
            ids = pdf["vec_id"].to_numpy()[keep]
            # argmin ||x-c||^2 = argmin (c.c - 2 x.c); x.x constant/row
            cell = (cc2[None, :] - 2.0 * (mat @ cents_.T)).argmin(axis=1)
            res = (mat - cents_[cell]).reshape(len(mat), m_, dsub_)
            rn = (res * res).sum(axis=(1, 2))
            codes = np.empty((len(mat), m_), dtype=np.int32)
            qerr = np.zeros(len(mat), dtype=np.float64)
            for j in range(m_):
                d2 = ((res[:, j, None, :] - books_[j][None, :, :]) ** 2).sum(
                    axis=2
                )
                codes[:, j] = d2.argmin(axis=1)
                qerr += d2.min(axis=1)
            out = {
                "vec_id": ids.astype("int64"),
                "ivf_cell": cell.astype("int32"),
                "pq_code": list(codes.tolist()),
            }
            if emit_err:
                out["_qerr"] = qerr
                out["_rn"] = rn
            yield pd.DataFrame(out)

    schema = "vec_id bigint, ivf_cell int, pq_code array<int>"
    if emit_err:
        schema += ", _qerr double, _rn double"
    return src.mapInPandas(enc, schema)


def add_to_ivf_pq_index(
    catalog,
    name: str,
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    drift_factor: float = 2.0,
) -> dict:
    """FAISS ``IndexIVFPQ.add`` at table granularity — the index
    MAINTENANCE path that makes the ANN tier viable at corpus scale:
    a daily embedding delta encodes against the index's STORED
    codebooks (:func:`encode_ivf_pq` — no retrain, no rebuild) and
    lands as ONE atomic equality-delete + append upsert on ``vec_id``
    (``Catalog.upsert_cdc``), so re-adding a re-embedded vector
    REPLACES its stale codes and an at-least-once replay converges.
    Appended dirs inherit the table's ``ivf_cell`` partition spec, so
    probes keep pruning to their ``nprobe`` cells.

    The 100 TB economics: O(batch) encode + commit per delta instead
    of re-encoding the whole corpus. Operational contract (same as
    FAISS adds): the codebooks are FROZEN — recall drifts if the data
    distribution drifts far from the training sample, so rebuild with
    ``build_ivf_pq_index(mode="replace")`` on a maintenance cadence;
    fold the accumulated delete files with
    ``rewrite_position_deletes`` like any CDC-maintained table.

    **Drift detection decides that cadence with data, not guesswork.**
    The builder records the fraction of residual ENERGY its codebooks
    leave unexplained over the codebook-sample HOLDOUT
    (``index.baseline_rel`` — scale-free, bounded [0,1]; the holdout
    matters because 256-codeword books MEMORIZE a small training
    sample, and absolute MSE saturates on unit-norm data — both
    false-call drift). Every add aggregates the same statistic over
    its batch (two extra columns on the encode pass it already pays)
    and returns ``batch_rel`` plus ``rebuild_recommended =
    batch_rel > drift_factor × baseline_rel`` — codebooks explain
    in-distribution residuals; a sustained unexplained-energy blow-up
    IS distribution drift. The batch statistics also land in the
    table properties (``index.last_add_mse`` / ``index.last_add_rel``)
    in the SAME atomic upsert commit, so an operator sees drift from
    table metadata alone.

    Zero-norm batch vectors (cosine-undefined, excluded by the encode
    kernel) are NOT silently skipped: their ids join the same commit
    as delete-without-image ops — a vector re-embedded to zero-norm
    must stop being probe-visible under its stale codes — and the
    returned dict reports them as ``dropped_zero_norm``."""
    from pyspark import StorageLevel

    enc = encode_ivf_pq(
        catalog, name, df, vec_col=vec_col, id_col=id_col, with_error=True
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        mrow = enc.agg(
            F.avg("_qerr").alias("m"), F.sum("_qerr").alias("q"),
            F.sum("_rn").alias("r"),
            # DISTINCT ids on the encoded side: a duplicated id in the
            # batch must not mask a zero-norm drop elsewhere in it
            F.count_distinct("vec_id").alias("n"),
        ).first()
        batch_mse = float(mrow["m"]) if mrow["m"] is not None else 0.0
        batch_rel = float(mrow["q"]) / float(mrow["r"]) if mrow["r"] else 0.0
        n_encoded = int(mrow["n"])
        ids_in = df.select(
            F.col(id_col).cast("bigint").alias("vec_id")
        ).distinct()
        n_in = ids_in.count()
        dropped = n_in - n_encoded
        upsert = enc.drop("_qerr", "_rn").withColumn("_op", F.lit("u"))
        if dropped > 0:
            # zero-norm re-embeds: delete the stale codes (no image) in
            # the SAME atomic commit — one anti-join over the batch
            # (ids_in is distinct, so at most one 'd' op per key — the
            # upsert contract)
            upsert = upsert.unionByName(
                ids_in.join(enc.select("vec_id"), "vec_id", "left_anti")
                .withColumn("ivf_cell", F.lit(None).cast("int"))
                .withColumn("pq_code", F.lit(None).cast("array<int>"))
                .withColumn("_op", F.lit("d"))
            )
        props = catalog.table_properties(name)
        train_mse = float(props.get("index.train_mse", "0.0"))
        # drift against the GENERALIZATION baseline, on the SCALE-FREE
        # statistic (fraction of residual energy the codebooks leave
        # unexplained): train MSE under-reads when the codebooks
        # memorized a small sample, and absolute MSE saturates on
        # unit-norm data — both false-call drift
        baseline = float(props.get("index.baseline_mse", "0.0")) or train_mse
        baseline_rel = float(props.get("index.baseline_rel", "0.0"))
        drifted = bool(
            baseline_rel > 0.0
            and batch_rel > float(drift_factor) * baseline_rel
        )
        # consecutive-drift counter: incremented/reset in the SAME
        # atomic commit, so Catalog.maintain's rebuild policy
        # ("rebuild_recommended held for N adds") reads it from table
        # metadata alone — no add history to replay
        consec = (
            int(props.get("index.drift_consecutive", "0")) + 1
            if drifted
            else 0
        )
        res = catalog.upsert_cdc(
            name,
            upsert,
            ["vec_id"],
            properties_update={
                "index.last_add_mse": repr(batch_mse),
                "index.last_add_rel": repr(batch_rel),
                "index.drift_consecutive": str(consec),
            },
        )
        return dict(
            res,
            batch_mse=batch_mse,
            train_mse=train_mse,
            baseline_mse=baseline,
            batch_rel=batch_rel,
            baseline_rel=baseline_rel,
            rebuild_recommended=drifted,
            drift_consecutive=consec,
            dropped_zero_norm=dropped,
        )
    finally:
        enc.unpersist(blocking=False)


def exact_recall_at_k(approx: DataFrame, exact: DataFrame, id_col: str = "vec_id") -> float:
    """Recall@k of an ANN result against the exact top-k (test helper)."""
    a = {r[0] for r in approx.select(id_col).collect()}
    e = {r[0] for r in exact.select(id_col).collect()}
    return len(a & e) / max(len(e), 1)


def _sample_kmeans_centroids(
    src: DataFrame,
    *,
    k: int,
    seed: int,
    max_iter: int,
    sample_size: int,
) -> list[list[float]]:
    """Deterministic k-means centroids from a bounded hash-sample:
    the ``sample_size`` rows with smallest ``md5(seed:vec_id)``
    (TakeOrdered — no global sort, stable across partitioning and
    retries), Lloyd on the driver. Initial centroids are the first k
    distinct sampled vectors in hash order; an emptied cluster reseeds
    to the point farthest from its assigned centroid (deterministic
    argmax). Convergence or ``max_iter``, whichever first."""
    import numpy as np

    sample = (
        src.select(
            "vec_id",
            "embedding",
            F.md5(
                F.concat_ws(":", F.lit(str(seed)), F.col("vec_id"))
            ).alias("_h"),
        )
        .orderBy("_h", "vec_id")
        .limit(int(sample_size))
        .collect()
    )
    mat = np.array([list(r["embedding"]) for r in sample], dtype=np.float64)
    uniq, idx = np.unique(mat, axis=0, return_index=True)
    first_k = mat[np.sort(idx)[: min(k, len(idx))]]
    cents = first_k.copy()
    # GEMM distance form: ||x-c||^2 = x.x - 2 x.c + c.c. The naive
    # 3D-broadcast form materializes an (n, k, dim) temporary — ~1 GB
    # per Lloyd iteration at n=64k, k=256 — and turns the driver fit
    # into the pipeline bottleneck at auto-scaled k.
    x2 = (mat * mat).sum(axis=1)
    for _ in range(max(int(max_iter), 1)):
        d2 = x2[:, None] - 2.0 * (mat @ cents.T) + (cents * cents).sum(axis=1)[None, :]
        assign = d2.argmin(axis=1)
        new = cents.copy()
        for j in range(len(cents)):
            members = mat[assign == j]
            if len(members):
                new[j] = members.mean(axis=0)
            else:
                new[j] = mat[d2.min(axis=1).argmax()]
        if np.allclose(new, cents, rtol=0, atol=1e-12):
            break
        cents = new
    return [[float(x) for x in c] for c in cents]


def semdedup_auto_k(n_rows: int, target_cluster_size: int) -> int:
    """The ``k="auto"`` rule, named so tests and the scale evidence can
    pin it: cluster count grows with the corpus (``k ≈ n / target``,
    clamped to [4, 65 536]), holding expected cluster size — and
    therefore per-row within-cluster GEMM work — CONSTANT as data
    grows. A fixed k is the quadratic trap (O(n²/k): measured 6.3× at
    the 10×-data step before auto-k)."""
    return int(
        min(65_536, max(4, n_rows // max(int(target_cluster_size), 1)))
    )


def semdedup(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int | str = 16,
    threshold: float = 0.95,
    seed: int = 7,
    max_iter: int = 20,
    max_cluster_size: int = 100_000,
    chunk: int = 2048,
    fit: str = "sample",
    sample_size: int = 65_536,
    target_cluster_size: int = 256,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by k-means clustering + within-cluster cosine
    pruning — the embedding-space analogue of MinHash near-dup, built
    for web-scale corpora where even LSH pair enumeration is too much.

    Algorithm (faithful to the paper): cluster all embeddings with
    k-means; within each cluster order items by cosine similarity TO
    THE CLUSTER CENTROID ascending (the paper's keep-the-least-typical
    choice, tie-broken by id for determinism) and mark an item a
    duplicate iff its max cosine to any EARLIER item in that order
    exceeds ``threshold``. Pairs in different clusters are never
    compared — that is the approximation that makes the O(n²) pairwise
    step O(Σ c_i²) with bounded c_i.

    ``fit='sample'`` (default, and what the paper itself does —
    centroids come from a subset): deterministic hash-sample of
    ``sample_size`` vectors (top-k by ``md5(seed:id)``, a TakeOrdered
    — no global sort), Lloyd iterations on the DRIVER over that
    bounded matrix (numpy, k·sample_size·dim flops — trivial next to
    the scan), empty clusters reseeded to the farthest point. Cluster
    ASSIGNMENT of the full corpus is a pure JVM expression (argmin of
    k squared distances via zip_with/aggregate) — no ML pipeline, no
    Python in the scan. ``fit='ml'`` keeps the Spark ML distributed
    Lloyd fit for when the fit itself must be exact over all rows.

    Scale shape: one fit (bounded sample or amortized ML job), one
    broadcast join against the k·dim centroid table for the centroid
    similarity (JVM expression), one shuffle keyed on cluster into an
    ``applyInPandas`` kernel that runs the intra-cluster comparison as
    chunked float64 GEMMs (memory bounded by chunk·|cluster|, never
    |cluster|²). Degenerate clusters larger than ``max_cluster_size``
    are deterministically sub-split by ``xxhash64(id)`` — sub-cells
    dedup independently (bounded recall loss on pathological data,
    same guard stance as ``max_bucket_size`` in operators/dedup.py).

    **``k="auto"`` is the 100 TB setting**: a FIXED cluster count is
    the quadratic trap — clusters grow linearly with the corpus, so
    the within-cluster GEMM grows as O(n²/k) (measured: the 10×-data
    sweep ratio rose 2.5× → 6.3× under fixed k). The paper itself
    scales cluster count with corpus size (50k clusters at LAION
    scale); ``k="auto"`` sets ``k ≈ n / target_cluster_size``
    (clamped to [4, 65 536]) from one count job, holding expected
    cluster size — and therefore per-row comparison work — CONSTANT
    as data grows: total work O(n · target). Above 32 clusters the
    sample-fit assignment switches from the k-branch JVM argmin
    expression to an Arrow batch kernel over the broadcast centroid
    matrix (one GEMM argmin per batch): a per-centroid expression
    chain at k=10 000 would be the same analysis/codegen pathology the
    IVF-PQ probe's literal LUT had.

    Returns one row per input: (vec_id, cluster, centroid_sim,
    max_prior_sim, keep). ``filter(keep)`` is the deduplicated corpus.
    No SQL-expressible oracle (k-means), so the query entry is
    rows-only; determinism + pruning semantics are pinned in tests.
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    src = df.select(
        F.col(id_col).cast("bigint").alias("vec_id"),
        F.col(vec_col).alias("embedding"),
    )
    if k == "auto":
        k = semdedup_auto_k(src.count(), target_cluster_size)
    elif not isinstance(k, int):
        raise ValueError(f"k must be an int or 'auto', got {k!r}")
    if fit == "sample":
        centroids = _sample_kmeans_centroids(
            src, k=k, seed=seed, max_iter=max_iter, sample_size=sample_size
        )
        # Assignment AND centroid similarity in ONE Arrow batch kernel
        # (broadcast centroid matrix, one GEMM per batch) for every k.
        # The previous small-k path was a per-centroid zip_with/aggregate
        # JVM expression chain — higher-order functions are INTERPRETED
        # (no codegen), and it was followed by a broadcast join + a
        # second interpreted HOF for the cosine: measured 1.3 s for the
        # argmin alone on 2 000 rows at sf0.1, ~2× the whole remaining
        # query. The GEMM already produces the x·c dot products, so the
        # cosine is a free byproduct (guide §4.2: batch native kernels
        # over interpreted per-row expression trees).
        bc = spark.sparkContext.broadcast(
            np.asarray(centroids, dtype=np.float64)
        )

        def assign(batches):
            cents_ = bc.value
            c2 = (cents_ * cents_).sum(axis=1)
            cnorm = np.sqrt(c2)
            for pdf in batches:
                if len(pdf) == 0:
                    yield pd.DataFrame(
                        {
                            "vec_id": pd.array([], dtype="int64"),
                            "embedding": pd.array([], dtype=object),
                            "cluster": pd.array([], dtype="int32"),
                            "centroid_sim": pd.array([], dtype="float64"),
                        }
                    )
                    continue
                mat = np.array(
                    [list(v) for v in pdf["embedding"]], dtype=np.float64
                )
                # argmin ||x-c||^2 = argmin (c.c - 2 x.c); x.x is
                # constant per row and drops out
                dots = mat @ cents_.T
                d = c2[None, :] - 2.0 * dots
                cl = d.argmin(axis=1)
                # cosine_similarity semantics: NULL when either norm is 0
                xnorm = np.linalg.norm(mat, axis=1)
                den = xnorm * cnorm[cl]
                with np.errstate(invalid="ignore", divide="ignore"):
                    sim = dots[np.arange(len(cl)), cl] / den
                sim = np.where(den == 0.0, np.nan, sim)
                out = pdf[["vec_id", "embedding"]].copy()
                out["cluster"] = cl.astype("int32")
                out["centroid_sim"] = sim
                yield out

        scored = src.mapInPandas(
            assign,
            "vec_id bigint, embedding array<double>, cluster int, "
            "centroid_sim double",
        )
    elif fit == "ml":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        feats = src.withColumn(
            "_features",
            array_to_vector(F.col("embedding").cast("array<double>")),
        )
        model = KMeans(
            k=k,
            seed=seed,
            maxIter=max_iter,
            featuresCol="_features",
            predictionCol="cluster",
        ).fit(feats)
        centroids = [[float(x) for x in c] for c in model.clusterCenters()]
        assigned = model.transform(feats).select(
            "vec_id",
            "embedding",
            F.col("cluster").cast("int").alias("cluster"),
        )
    else:
        raise ValueError(f"unknown fit mode {fit!r}: use sample|ml")
    if fit == "ml":
        cdf = spark.createDataFrame(
            [(i, c) for i, c in enumerate(centroids)],
            "cluster int, _centroid array<double>",
        )
        scored = assigned.join(F.broadcast(cdf), "cluster").select(
            "vec_id",
            "embedding",
            "cluster",
            cosine_similarity(
                F.col("embedding"), F.col("_centroid")
            ).alias("centroid_sim"),
        )
    # skew guard: sub-split clusters above max_cluster_size (counts is a
    # k-row aggregate — broadcast back, never a driver collect)
    counts = scored.groupBy("cluster").agg(F.count("*").alias("_cn"))
    sub = F.when(
        F.col("_cn") <= max_cluster_size, F.lit(0)
    ).otherwise(
        F.pmod(
            F.xxhash64(F.col("vec_id")),
            F.ceil(F.col("_cn") / F.lit(max_cluster_size)).cast("bigint"),
        )
    ).cast("int")
    keyed = (
        scored.join(F.broadcast(counts), "cluster")
        .withColumn("_sub", sub)
        .drop("_cn")
    )

    t = float(threshold)
    blk = int(chunk)

    def prune(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(
            ["centroid_sim", "vec_id"], kind="mergesort"
        ).reset_index(drop=True)
        n = len(pdf)
        mat = np.array([list(v) for v in pdf["embedding"]], dtype=np.float64)
        norm = np.linalg.norm(mat, axis=1)
        norm[norm == 0] = np.nan
        with np.errstate(invalid="ignore", divide="ignore"):
            unit = mat / norm[:, None]
        unit = np.nan_to_num(unit, nan=0.0)
        max_prior = np.full(n, -1.0)
        for s in range(0, n, blk):
            e = min(s + blk, n)
            if s > 0:
                sims = unit[s:e] @ unit[:s].T
                max_prior[s:e] = sims.max(axis=1)
            intra = unit[s:e] @ unit[s:e].T
            ii, jj = np.tril_indices(e - s, k=-1)
            if len(ii):
                intra_max = np.full(e - s, -1.0)
                np.maximum.at(intra_max, ii, intra[ii, jj])
                max_prior[s:e] = np.maximum(max_prior[s:e], intra_max)
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                "cluster": pdf["cluster"].to_numpy(dtype=np.int32),
                "centroid_sim": pdf["centroid_sim"].to_numpy(dtype=np.float64),
                "max_prior_sim": max_prior,
                "keep": max_prior < t,
            }
        )

    return keyed.groupBy("cluster", "_sub").applyInPandas(
        prune,
        "vec_id bigint, cluster int, centroid_sim double, "
        "max_prior_sim double, keep boolean",
    )
