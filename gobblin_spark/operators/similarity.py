"""Similarity search over an embedding column (array<float>).

- ``cosine_topk``        brute-force top-k: broadcast the (small) query set,
                         JVM-side dot/norm via zip_with + aggregate — the
                         exact baseline. Corpus scanned once, no shuffle.
- ``embedding_neardup_pairs``  EXACT all-pairs near-dup — blocked: chunk the
                         corpus, cross-join chunk pairs, score each block pair
                         with one vectorized numpy matmul (Arrow batches, no
                         per-row Python), then confirm candidates with the
                         bit-stable JVM expression. Same results as the naive
                         quadratic join, ~100× the arithmetic throughput, and
                         memory bounded by two chunks per task.
- ``lsh_neardup_pairs``  the SCALE path: multi-table random-hyperplane LSH
                         prefilter + exact verify. Work scales with bucket
                         sizes, not n². Recall = 1-(1-p^r)^T with
                         p = 1 - θ/π per hyperplane.
- ``ivf_topk``           IVF-style scale path: Lloyd-trained deterministic
                         coarse quantizer (``train_centroids`` — exact
                         integer arithmetic, engine-reproducible), queries
                         probe the nearest ``nprobe`` cells only.
- ``lsh_bucket_topk``    single-table hyperplane LSH top-k.

Determinism across engines: hyperplane signs are computed over INTEGER-
quantized components (floor(v·2²⁰), exact in IEEE double since ×2²⁰ is a
power-of-two scale), so bucket assignments are bit-identical in any engine —
the DuckDB contract oracles replicate the LSH pipelines value-for-value.
Similarities are rounded to 4 digits before ranking/thresholding (ties broken
by id) for the same reason.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_QSCALE = 1 << 20  # power-of-two quantizer: v*2^20 is EXACT in double


def _dot(a, b):
    # cast each element to double BEFORE multiplying: float32 values embed
    # exactly in float64, so the sequential double accumulation is bit-stable
    # and reproducible across engines
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def hyperplanes(dim: int, nbits: int, seed: int = 42) -> list[list[int]]:
    """Deterministic ±1 hyperplane coefficients (seeded)."""
    rnd = random.Random(seed)
    return [[1 if rnd.random() < 0.5 else -1 for _ in range(dim)] for _ in range(nbits)]


def _lsh_signatures(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    planes: list[list[int]],
    nbits: int,
    out_id: str = "id",
) -> DataFrame:
    """(id, tbl, bkt) signature rows: hyperplane sign bits over INTEGER-
    quantized components (floor(v·2²⁰), exact in double; ×±1 and summed in
    int64 — associative, so ANY evaluation order gives the same bits). The
    projection is one vectorized numpy int64 matmul per Arrow batch — no
    per-row Python, and bit-identical to the DuckDB replication oracle.
    ``planes`` is grouped into tables of ``nbits`` consecutive planes."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    n_tables = len(planes) // nbits
    pm = [list(p) for p in planes]

    def gen(batches):
        P = np.array(pm, dtype=np.int64)  # (n_tables*nbits, dim)
        weights = (1 << np.arange(nbits, dtype=np.int64))
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            V = np.array(list(pdf[vec_col]), dtype=np.float64)
            Q = np.floor(V * float(_QSCALE)).astype(np.int64)
            bits = (Q @ P.T > 0).astype(np.int64)  # (n, n_tables*nbits)
            bkt = bits.reshape(len(ids), n_tables, nbits) @ weights  # (n, n_tables)
            yield pd.DataFrame(
                {
                    out_id: np.repeat(ids, n_tables),
                    "tbl": np.tile(np.arange(n_tables, dtype=np.int32), len(ids)),
                    "bkt": bkt.reshape(-1),
                }
            )

    schema = T.StructType(
        [
            T.StructField(out_id, T.LongType()),
            T.StructField("tbl", T.IntegerType()),
            T.StructField("bkt", T.LongType()),
        ]
    )
    return df.select(id_col, vec_col).mapInPandas(gen, schema)


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Top-k cosine neighbors of each query among the corpus (self excluded).

    Returns (query_id, neighbor_id, rank). Similarity is rounded before
    ranking (ties then broken by neighbor id) so rankings are reproducible
    across engines and float summation orders."""
    # per-vector norms computed once (identical expression tree to the
    # inline form ⇒ bit-identical results; 3× less aggregate work per pair)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qn"),
    )
    c = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        _norm(F.col(vec_col)).alias("cn"),
    )
    sim = F.round(_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), round_digits)
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("sim"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _verify_pairs(
    cand: DataFrame, emb: DataFrame, id_col: str, vec_col: str, min_sim_x10k: int
) -> DataFrame:
    """Exact confirmation of candidate (a_id, b_id) pairs, in two stages:

    1. vectorized margin prefilter — candidates join their vectors and a
       numpy row-wise dot drops everything below threshold − 6e-5 (covers the
       round-4 half-step plus float error). This is what keeps verification
       cheap even when a candidate generator floods (LSH on data below its
       separable regime can emit a large fraction of all pairs).
    2. bit-stable JVM confirmation — survivors (output-sized by construction)
       are re-scored with the sequential-fold cosine rounded to 4 digits, the
       same expression the naive formulation used, so the final rows are
       value-identical to an exact engine replaying the pipeline."""
    import pandas as pd  # noqa: F401

    from pyspark.sql import types as T

    a = emb.select(F.col(id_col).alias("a_id"), F.col(vec_col).alias("av"))
    b = emb.select(F.col(id_col).alias("b_id"), F.col(vec_col).alias("bv"))
    withv = cand.join(a, "a_id").join(b, "b_id")
    thresh = min_sim_x10k / 10000.0 - 6e-5

    def gen(batches):
        import numpy as np
        import pandas as _pd

        for pdf in batches:
            if not len(pdf):
                continue
            A = np.array(list(pdf["av"]), dtype=np.float64)
            B = np.array(list(pdf["bv"]), dtype=np.float64)
            sims = np.einsum("ij,ij->i", A, B) / (
                np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
            )
            keep = sims >= thresh
            yield _pd.DataFrame(
                {
                    "a_id": pdf["a_id"].to_numpy(dtype=np.int64)[keep],
                    "b_id": pdf["b_id"].to_numpy(dtype=np.int64)[keep],
                }
            )

    pre_schema = T.StructType(
        [T.StructField("a_id", T.LongType()), T.StructField("b_id", T.LongType())]
    )
    pre = withv.mapInPandas(gen, pre_schema)

    av = emb.select(
        F.col(id_col).alias("a_id"), F.col(vec_col).alias("av"), _norm(F.col(vec_col)).alias("an")
    )
    bv = emb.select(
        F.col(id_col).alias("b_id"), F.col(vec_col).alias("bv"), _norm(F.col(vec_col)).alias("bn")
    )
    sim = F.round(_dot(F.col("av"), F.col("bv")) / (F.col("an") * F.col("bn")), 4)
    return (
        F.broadcast(pre)
        .join(av, "a_id")
        .join(bv, "b_id")
        .select("a_id", "b_id", sim.alias("sim"))
        .filter(F.col("sim") >= F.lit(min_sim_x10k) / F.lit(10000.0))
    )


def embedding_neardup_pairs(
    emb: DataFrame,
    min_sim_x10k: int = 9000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_chunks: int = 16,
) -> DataFrame:
    """EXACT embedding-cosine near-duplicate pairs: all (a < b) with
    round(cosine, 4)·10⁴ ≥ threshold.

    All-pairs is O(n²) by definition, but HOW the n² is spent matters: the
    round-1 formulation evaluated interpreted higher-order aggregates per
    pair (~µs each). Here the corpus is hashed into ``n_chunks`` blocks,
    block PAIRS are enumerated (C(C+1)/2 rows, each carrying two vector
    blocks), and each block pair is scored by ONE numpy float64 matmul inside
    mapInPandas — Arrow-batched, no per-row Python, memory bounded by two
    blocks per task, no driver collect. Pairs within 6e-5 of the threshold
    (covering the round-4 half-step plus matmul error) are then CONFIRMED by
    the bit-stable JVM expression, so the result is value-identical to the
    naive join. At 100 TB this operator is still quadratic — use
    ``lsh_neardup_pairs`` (the scale path) unless exactness is mandatory."""
    import pandas as pd  # noqa: F401 (mapInPandas batches)

    from pyspark.sql import types as T

    chunked = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_chunks)).alias("ck"),
    )
    blocks = chunked.groupBy("ck").agg(
        F.collect_list(F.struct(F.col("id"), F.col("vec"))).alias("blk")
    )
    pairs = (
        blocks.select(F.col("ck").alias("a_ck"), F.col("blk").alias("a_blk"))
        .join(
            blocks.select(F.col("ck").alias("b_ck"), F.col("blk").alias("b_blk")),
            F.col("a_ck") <= F.col("b_ck"),
        )
        .repartition(n_chunks * (n_chunks + 1) // 2)
    )
    thresh = min_sim_x10k / 10000.0 - 6e-5

    def gen(batches):
        import numpy as np

        for pdf in batches:
            a_ids, b_ids = [], []
            for a_blk, b_blk, same in zip(
                pdf["a_blk"], pdf["b_blk"], pdf["a_ck"] == pdf["b_ck"]
            ):
                ai = np.array([r["id"] for r in a_blk], dtype=np.int64)
                bi = np.array([r["id"] for r in b_blk], dtype=np.int64)
                A = np.array([r["vec"] for r in a_blk], dtype=np.float64)
                B = np.array([r["vec"] for r in b_blk], dtype=np.float64)
                an = np.linalg.norm(A, axis=1)
                bn = np.linalg.norm(B, axis=1)
                sims = (A @ B.T) / np.outer(an, bn)
                ia, ib = np.nonzero(sims >= thresh)
                lo = np.minimum(ai[ia], bi[ib])
                hi = np.maximum(ai[ia], bi[ib])
                keep = lo < hi  # drops self-pairs; same-chunk dups dedup below
                a_ids.append(lo[keep])
                b_ids.append(hi[keep])
            import pandas as _pd

            yield _pd.DataFrame(
                {
                    "a_id": np.concatenate(a_ids) if a_ids else np.array([], dtype=np.int64),
                    "b_id": np.concatenate(b_ids) if b_ids else np.array([], dtype=np.int64),
                }
            )

    cand_schema = T.StructType(
        [T.StructField("a_id", T.LongType()), T.StructField("b_id", T.LongType())]
    )
    cand = pairs.mapInPandas(gen, cand_schema).distinct()
    return _verify_pairs(cand, emb, id_col, vec_col, min_sim_x10k)


def lsh_neardup_pairs(
    emb: DataFrame,
    min_sim_x10k: int = 9000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_tables: int = 16,
    nbits: int = 12,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-dup at scale: ``n_tables`` independent hyperplane-LSH
    tables of ``nbits`` bits; a pair is a candidate if it shares a bucket in
    ANY table; candidates are confirmed with the exact rounded cosine. The
    shuffle key is (table, bucket) — work scales with bucket sizes, not n².

    Recall at cosine s: p = 1 - acos(s)/π per plane, 1-(1-p^nbits)^n_tables
    overall. The defaults target the NEAR-DUPLICATE population: ≈0.93 at
    s=0.9, ≈0.995 at s=0.95, →1 above. Below s≈0.7 hyperplane bits separate
    poorly (p barely moves between a 0.3 and a 0.5 pair), so low-threshold
    searches degrade toward all-pairs candidates — that regime belongs to
    ``embedding_neardup_pairs`` (exact blocked matmul); the margin prefilter
    in the verifier keeps even a flooded candidate set cheap to confirm.
    Precision is 1: verification is exact. Deterministic across engines via
    integer-quantized projections (module docstring)."""
    planes = hyperplanes(dim, n_tables * nbits, seed)
    sig = _lsh_signatures(emb, id_col, vec_col, planes, nbits)
    a, b = sig.alias("a"), sig.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bkt") == F.col("b.bkt"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .distinct()
    )
    return _verify_pairs(cand, emb, id_col, vec_col, min_sim_x10k)


def _quantize(vec):
    """Integer-quantize an array<float>: floor(v·2²⁰) per component, exact in
    IEEE double. All downstream sums/dots over these stay < 2⁵³, so double
    arithmetic on them is EXACT — order-independent, engine-independent."""
    return F.transform(vec, lambda x: F.floor(x.cast("double") * _QSCALE).cast("long"))


def _collect_cent_rows(cents: DataFrame) -> list[tuple[int, list[int], float]]:
    """Materialize a trained quantizer to the driver: n_cells rows — strictly
    metadata-sized (the coarse quantizer IS a constant of the index, like the
    hyperplane matrix). Sorted by cell so positional argmax ties resolve to
    the smallest cell id."""
    return sorted(
        (int(r["cell"]), [int(x) for x in r["cv"]], float(r["cnrm"]))
        for r in cents.collect()
    )


def _bind_once(value_col, body):
    """Evaluate ``value_col`` exactly once per row and pass it to ``body`` as
    a bound lambda variable. Catalyst's CollapseProject re-INLINES any
    deterministic projected column into every consumer expression (the
    round-2 lesson: an expensive expr referenced k times runs k times), but a
    higher-order-function lambda variable is bound to the evaluated VALUE —
    the one scoping construct in Spark SQL with call-by-value semantics."""
    return F.get(F.transform(F.array(value_col), body), 0)


def _cell_sims(cent_rows, qv, qn):
    """Per-row array of rounded cosines against every centroid (cell-ascending
    order). Centroids enter as LITERALS, so scoring is a pure per-row
    projection — zero shuffle, no join at all. The expression per cell is the
    identical double tree the round-2 crossJoin form evaluated (dot of exact
    quantized ints / (norm·cnrm), round 4), so values are bit-unchanged."""
    return F.array(
        *[
            F.round(_dot(qv, F.lit(cv)) / (qn * F.lit(cnrm)), 4)
            for _, cv, cnrm in cent_rows
        ]
    )


def _np_round4(x):
    """Round-half-away-from-zero to 4 decimals on float64 — the same decision
    DuckDB's round() makes; agrees with Spark's F.round everywhere a cosine
    of quantized-integer vectors can land (the quotient of an exact-integer
    dot by two irrational norms never sits within 1 ulp of a decimal tie)."""
    import numpy as np

    return np.copysign(np.floor(np.abs(x) * 1e4 + 0.5) / 1e4, x)


def _np_cell_argmax(Q, C, cn, cell_ids):
    """Vectorized assignment of quantized rows Q (int64 n×dim) to centroids C
    (int64 k×dim): one integer matmul — every intermediate is an exact
    integer < 2⁵³ (components ≤ ~2²⁰, dim ≤ 4096), so the doubles that come
    out are bit-identical to the JVM sequential-fold expression. Ties on the
    rounded cosine resolve to the smallest cell (argmax-first over
    cell-ascending columns — the round-2 Window's (desc csim, asc cell))."""
    import numpy as np

    dots = (Q @ C.T).astype(np.float64)
    qn = np.sqrt((Q * Q).sum(axis=1).astype(np.float64))
    sims = _np_round4(dots / (qn[:, None] * cn[None, :]))
    return cell_ids[np.argmax(sims, axis=1)]


def train_centroids(
    emb: DataFrame,
    n_cells: int = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd-trained coarse quantizer as a DataFrame
    (cell, cv array<long>, cnrm double) — see ``_train_centroid_rows`` for
    the algorithm; this wrapper exists for API/oracle symmetry, internal
    callers consume the driver-side rows directly (they are metadata-sized
    constants of the index, like a hyperplane matrix)."""
    rows = _train_centroid_rows(emb, n_cells, n_iters, id_col, vec_col)
    return emb.sparkSession.createDataFrame(
        [(c, cv, n) for c, cv, n in rows], "cell int, cv array<long>, cnrm double"
    )


def _train_centroid_rows(
    emb: DataFrame,
    n_cells: int = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[int], float]]:
    """Deterministic Lloyd (k-means) refinement of the coarse quantizer, on
    integer-quantized vectors. Returns (cell, cv array<long>, cnrm double).

    Seeding is the n_cells lowest-id vectors (relabelled 0..n_cells-1), but
    each Lloyd round reassigns every vector to its max-cosine centroid and
    recomputes centroids as the component-wise integer mean, so the final
    cells track the data distribution. Everything is exact integer arithmetic
    viewed through doubles (components ≤ 2²⁰, per-cell sums ≤ 2⁵³):
    assignment cosines, means and norms come out bit-identical in any engine,
    which is what lets the DuckDB oracle replicate the full training loop
    value-for-value. Cells that lose all members keep their previous centroid.

    Physical shape per round: ONE narrow mapInPandas pass over the corpus —
    centroids ride in as task constants, assignment is a vectorized int64
    matmul, and each task emits its per-cell component sums/counts (k rows
    per task, metadata-sized) which the driver folds in exact int arithmetic.
    Zero shuffle of the corpus, zero window (round 2 paid a corpus×n_cells
    exchange+sort per round here). At 10^10 vectors each round is exactly one
    scan; n_iters is a small constant (quality plateaus fast for a coarse
    quantizer whose only job is cell routing).

    Cross-engine determinism of the driver-side folds: component sums/counts
    are exact ints; the mean is floor(IEEE-double s/c) — the identical
    division every engine computes on exact integer inputs — and cnrm is
    sqrt of the exact integer self-dot (< 2⁵³), correctly rounded in every
    IEEE runtime."""
    import math

    import numpy as np
    import pandas as pd  # noqa: F401
    from pyspark.sql import types as T

    seed = sorted(
        emb.select(id_col, vec_col).orderBy(id_col).limit(n_cells).collect(),
        key=lambda r: r[id_col],
    )

    def _quant_py(vec) -> list[int]:
        # floor(float64(x) · 2²⁰): same IEEE mult+floor as the JVM expression
        return [int(math.floor(float(x) * float(_QSCALE))) for x in vec]

    def _cnrm(cv: list[int]) -> float:
        return math.sqrt(float(sum(x * x for x in cv)))

    rows: list[tuple[int, list[int], float]] = []
    for cell, r in enumerate(seed):
        cv = _quant_py(r[vec_col])
        rows.append((cell, cv, _cnrm(cv)))

    part_schema = T.StructType(
        [
            T.StructField("cell", T.IntegerType()),
            T.StructField("s", T.ArrayType(T.LongType())),
            T.StructField("c", T.LongType()),
        ]
    )
    for _ in range(max(0, n_iters)):
        C = np.array([cv for _, cv, _ in rows], dtype=np.int64)
        cn = np.array([n for _, _, n in rows], dtype=np.float64)
        cell_ids = np.array([c for c, _, _ in rows], dtype=np.int64)

        def gen(batches, C=C, cn=cn, cell_ids=cell_ids):
            import pandas as _pd

            sums = np.zeros_like(C)
            counts = np.zeros(len(cell_ids), dtype=np.int64)
            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.array(list(pdf[vec_col]), dtype=np.float64)
                Q = np.floor(V * float(_QSCALE)).astype(np.int64)
                idx = np.searchsorted(cell_ids, _np_cell_argmax(Q, C, cn, cell_ids))
                np.add.at(sums, idx, Q)
                counts += np.bincount(idx, minlength=len(cell_ids))
            yield _pd.DataFrame(
                {"cell": cell_ids.astype(np.int32), "s": list(sums), "c": counts}
            )

        part = emb.select(vec_col).mapInPandas(gen, part_schema).collect()
        tot_s: dict[int, list[int]] = {}
        tot_c: dict[int, int] = {}
        for r in part:
            c = int(r["cell"])
            tot_c[c] = tot_c.get(c, 0) + int(r["c"])
            if c in tot_s:
                tot_s[c] = [a + int(b) for a, b in zip(tot_s[c], r["s"])]
            else:
                tot_s[c] = [int(b) for b in r["s"]]
        nxt = []
        for c, cv, cnrm in rows:
            if tot_c.get(c):
                # floor of the exact IEEE double quotient — every engine
                # computes the identical division on exact integer inputs
                ncv = [int(math.floor(s / tot_c[c])) for s in tot_s[c]]
                nxt.append((c, ncv, _cnrm(ncv)))
            else:  # cell lost all members: keep previous centroid
                nxt.append((c, cv, cnrm))
        rows = nxt
    return rows


def assign_cells(
    emb: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_iters: int = 2,
    cents: DataFrame | None = None,
    cent_rows: list[tuple[int, list[int], float]] | None = None,
) -> DataFrame:
    """Assign every vector to its max-cosine trained centroid (cosine of the
    integer-quantized vector against the integer centroid, rounded to 4
    digits, ties broken by cell id — reproducible in any engine). Pass
    ``cents`` (from ``train_centroids``) to reuse an already-trained
    quantizer.

    Physical plan: one narrow mapInPandas over the corpus scan (vectorized
    int64 matmul argmax — the centroids are task constants) + a projection
    for the JVM-expression norm. ZERO Exchange (plan-shape-tested); round 2
    shuffled corpus×n_cells rows through a Window.partitionBy(id) to make
    the same per-row decision."""
    import numpy as np

    from pyspark.sql import types as T

    if cent_rows is None:
        if cents is None:
            cent_rows = _train_centroid_rows(emb, n_cells, n_iters, id_col, vec_col)
        else:
            cent_rows = _collect_cent_rows(cents)
    C = np.array([cv for _, cv, _ in cent_rows], dtype=np.int64)
    cn = np.array([n for _, _, n in cent_rows], dtype=np.float64)
    cell_ids = np.array([c for c, _, _ in cent_rows], dtype=np.int64)
    in_fields = emb.select(id_col, vec_col).schema.fields
    out_schema = T.StructType(list(in_fields) + [T.StructField("cell", T.IntegerType())])

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(list(pdf[vec_col]), dtype=np.float64)
            Q = np.floor(V * float(_QSCALE)).astype(np.int64)
            best = _np_cell_argmax(Q, C, cn, cell_ids)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    vec_col: pdf[vec_col],
                    "cell": best.astype(np.int32),
                }
            )

    return (
        emb.select(id_col, vec_col)
        .mapInPandas(gen, out_schema)
        .select(
            F.col(id_col),
            F.col(vec_col),
            # norm of the RAW float vector stays a JVM expression: its value
            # feeds the final rounded cosine, which must remain bit-identical
            # to the sequential-fold oracle replication (floats, unlike the
            # quantized ints, are order-sensitive under summation)
            _norm(F.col(vec_col)).alias("_nrm"),
            F.col("cell"),
        )
    )


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: probe only the ``nprobe`` nearest cells per
    query. Recall < 1 by design; the exact baseline is cosine_topk. The
    coarse quantizer is Lloyd-trained (``train_centroids``) — trained ONCE
    and shared by the index assignment and the query probes.

    Physical shape: training = n_iters scans (zero-shuffle argmax + tiny
    aggregate); index assignment = one narrow projection over the corpus
    (no Exchange); probe selection = per-row top-nprobe over the centroid
    literal array (comparator array_sort — no window); candidate join =
    broadcast of the probe set, so the corpus is never shuffled. The only
    exchange in the whole query is the final per-query top-k over the
    candidate set, which is the scored output itself."""
    cent_rows = _train_centroid_rows(emb, n_cells, id_col=id_col, vec_col=vec_col)
    cells = assign_cells(emb, n_cells, id_col, vec_col, cent_rows=cent_rows)
    qq = _quantize(F.col(vec_col))
    cell_ids = F.array(*[F.lit(c) for c, _, _ in cent_rows])
    # comparator sort ≡ the round-2 Window (desc qsim, asc cell), per row
    top = _bind_once(
        F.struct(qq.alias("q"), _norm(qq).alias("n")),
        lambda st: F.slice(
            F.array_sort(
                F.zip_with(
                    _cell_sims(cent_rows, st["q"], st["n"]),
                    cell_ids,
                    lambda s, c: F.struct(s.alias("s"), c.alias("cell")),
                ),
                lambda a, b: F.when(a["s"] > b["s"], F.lit(-1))
                .when(a["s"] < b["s"], F.lit(1))
                .otherwise((a["cell"] - b["cell"]).cast("int")),
            ),
            1,
            nprobe,
        ),
    )
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qn"),
        F.explode(top).alias("_pc"),
    ).select("query_id", "qv", "qn", F.col("_pc.cell").alias("cell"))
    cand = F.broadcast(probes).join(
        cells.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cv"),
            F.col("_nrm").alias("cn"),
            "cell",
        ),
        "cell",
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    sim = F.round(_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 4)
    from pyspark.sql import Window

    wr = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        cand.select("query_id", "neighbor_id", sim.alias("sim"))
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def lsh_bucket_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nbits: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Random-hyperplane LSH top-k: corpus and queries bucketed by an nbits
    sign signature; each query scores only same-bucket candidates. Search
    cost ≈ |corpus| / 2^nbits per query under even buckets; recall < 1
    (baseline: cosine_topk). ``dim`` is a parameter — no driver-side probe of
    the data, and the quantized-integer projections keep the signature
    expression compact and portable at any dimensionality."""
    from pyspark.sql import Window

    planes = hyperplanes(dim, nbits, seed)
    csig = _lsh_signatures(emb, id_col, vec_col, planes, nbits).select(
        F.col("id").alias("neighbor_id"), F.col("bkt").alias("bucket")
    )
    qsig = _lsh_signatures(queries, id_col, vec_col, planes, nbits).select(
        F.col("id").alias("query_id"), F.col("bkt").alias("bucket")
    )
    c = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        _norm(F.col(vec_col)).alias("cn"),
    ).join(csig, "neighbor_id")
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qn"),
    ).join(qsig, "query_id")
    cand = F.broadcast(q).join(c, "bucket").filter(F.col("query_id") != F.col("neighbor_id"))
    sim = F.round(_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 4)
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        cand.select("query_id", "neighbor_id", sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )
