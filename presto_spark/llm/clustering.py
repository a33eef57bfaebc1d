"""Embedding k-means for corpus curation (round 14, built ahead for
the r15 driver window).

Why a relational Lloyd's algorithm: semantic bucketing of a corpus —
domain balancing, semantic dedup beyond sign-LSH, IVF coarse-quantizer
TRAINING (llm/similarity.py ann_topk_ivf currently uses the first-k
deterministic bank; these trained centroids drop straight into its
``cents`` contract) — all want k centers learned from the data at
corpus scale.

Distributed design:
* Assignment is a broadcast of the tiny centroid bank (k × dim
  doubles) against every vector — argmin squared-L2 computed as one
  fold over the bank per row, map-side, no shuffle, no UDF.
* The update step is the posexplode shape: (cluster, pos, component)
  rows feed a partial-aggregatable sum/count per (cluster, pos) —
  the only shuffle per round, carrying n·dim scalars with map-side
  combine.  The k × dim result is the ONLY thing that reaches the
  driver each round.

Determinism (the engine's cross-engine discipline, queries/base.py):
double summation is order-dependent, so a plain avg() would make
centroids — and downstream assignments near ties — vary with
partitioning.  Component sums therefore run in DECIMAL(30,10)
(exact, order-free; embeddings are float32 ≪ 10 fractional digits),
and each new centroid component rounds at 9 decimals before going
back to DOUBLE.  Same input ⇒ bit-identical centroids on any
partition layout and any engine, which is what lets a SQL oracle
replay whole training runs.

Empty clusters keep their previous centroid (the standard Lloyd
fallback; deterministic).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SUM_DEC = "decimal(30,10)"
_ROUND = 9


def _np_dists(X, C):
    """Squared-L2 distance matrix (n x k) with the ENGINE's summation
    order: per (row, centroid) the fold is acc + (x_j - c_j)^2 in dim
    order, left to right — a dim loop of vectorized float64 ops issues
    the identical IEEE add sequence per cell, so every distance is
    bit-equal to a Column fold of the same terms and to
    the DuckDB list_reduce replay.  The r15 optimization-round change
    (guide §4.2): the interpreted-HOF fold cost ~µs per (row,
    centroid, dim) element; this runs the same arithmetic through
    numpy at C speed."""
    import numpy as np

    D = np.zeros((X.shape[0], C.shape[0]), dtype=np.float64)
    for j in range(C.shape[1]):
        t = X[:, j, None] - C[None, :, j]
        D += t * t
    return D


def _np_l2_normalize(X):
    """Row-wise L2 normalization matching similarity.l2_normalize
    bit-for-bit: norm = sqrt(fold acc + v*v in dim order), then each
    component divided by it; zero vectors pass through unchanged."""
    import numpy as np

    acc = np.zeros(X.shape[0], dtype=np.float64)
    for j in range(X.shape[1]):
        acc += X[:, j] * X[:, j]
    n = np.sqrt(acc)
    safe = np.where(n == 0.0, 1.0, n)
    out = X / safe[:, None]
    out[n == 0.0] = X[n == 0.0]
    return out


def _np_mat(col) -> "object":
    """pandas Series of float sequences -> (n x d) float64 matrix
    (exact widening, same as transform(x -> cast(x as double)))."""
    import numpy as np

    return np.array([np.asarray(v, dtype=np.float64) for v in col])


def _assign_components(
    df: DataFrame, centroids: list[list[float]], vec_col: str
) -> DataFrame:
    """(cluster_id, embedding ARRAY<DOUBLE>) rows for one Lloyd update:
    argmin assignment in an Arrow-batched numpy pass (bit-equal to the
    Column-fold form, see _np_dists; np.argmin's first-min matches the
    array_min struct tie-break of lowest cid).  Map-side, one Python
    crossing; only the vector column ships (guide §4.1)."""
    import numpy as np

    bank = [list(map(float, c)) for c in centroids]

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        C = np.asarray(bank, dtype=np.float64)
        for pdf in batches:
            if not len(pdf):
                continue
            X = _np_mat(pdf[vec_col])
            cid = np.argmin(_np_dists(X, C), axis=1).astype("int32")
            yield pd.DataFrame({
                "cluster_id": cid,
                "embedding": list(X),
            })

    return df.select(vec_col).mapInPandas(
        run, schema="cluster_id int, embedding array<double>")


# Corpora at or below this row count train on the driver (one bounded
# LIMIT n+1 collect — the BPE/CC size-gate pattern); larger corpora
# keep the unchanged distributed Lloyd loop.  100k rows x 64 dims x
# 8 B = ~50 MB collected, far under the driver's practical bound; the
# exact-integer component sums below stay inside int64 for
# n x max|unit| <= 2^62 (guarded at runtime).
LOCAL_TRAIN_ROWS = 100_000
# |component| bound for the local path: keeps the scaled-integer units
# (|x| * 1e10) small enough that 100k of them sum inside int64, and
# keeps the fast-tier boundary error analysis valid (ulp(8e10) and the
# string-parse slack are both ~2e-5 units, 5x inside _HALF_GUARD).
_LOCAL_MAX_ABS = 8.0
# Fast-tier band (in fractional units of 1e-10) around a .5 rounding
# boundary: values outside it quantize vectorized; values inside go
# through the exact per-value tier below.
_HALF_GUARD = 1e-4


def _quantize_one_exact(x: float):
    """Exact HALF_UP unit count for one double near a .5 boundary, or
    None when the engine's string-mediated cast is not provably equal.

    Spark's cast is double -> Double.toString -> BigDecimal ->
    setScale(10, HALF_UP).  Any round-trip string parses to a decimal
    within ulp(x)/2 of the exact binary value, so the cast result is
    determined by the exact value UNLESS that half-ulp interval
    straddles a .5 boundary.  Two provably-safe cases:

    * the exact fraction IS .5 and repr(x) is the exact decimal
      expansion (common for float32-origin values: short binary
      fractions) — every shortest-unique string is then the exact
      digits (possibly zero-padded), and HALF_UP rounds away from
      zero;
    * the exact fraction is farther from .5 than half an ulp — no
      valid string can flip the rounding.

    Anything else returns None and the caller falls back to the
    distributed loop."""
    import math
    from decimal import Decimal
    from fractions import Fraction

    p, q = abs(x).as_integer_ratio()
    n_, r = divmod(p * 10 ** 10, q)
    if 2 * r == q:
        if Decimal(repr(x)) == Decimal(x):
            return n_ + 1  # exact .5: HALF_UP rounds away from zero
        return None
    # half-ulp interval around the exact value, in 1e-10 units
    w = Fraction(math.ulp(x)) / 2 * 10 ** 10
    d = abs(Fraction(r, q) - Fraction(1, 2))
    if d <= w:
        return None
    return n_ + (1 if 2 * r > q else 0)


def _local_quantized_units(X):
    """Per-value DECIMAL(30,10) HALF_UP quantization as exact integer
    units of 1e-10 — the replica of Spark's
    ``cast(val AS DECIMAL(30,10))``.

    Fast tier: for values whose fractional part at the 10th digit is
    at least _HALF_GUARD away from .5, ``floor(|x|*1e10 + 0.5)`` in
    float64 is exact for any round-trip string (both the float error,
    ulp(|x|*1e10) <= 1.6e-5 units at |x| < 8, and the string-parse
    slack, ulp(x)/2 * 1e10 <= 0.9e-5 units, sit 5x inside the band).
    Values inside the band take the exact integer tier
    (_quantize_one_exact); an unresolvable value returns ok=False and
    the caller uses the distributed loop."""
    import numpy as np

    ax = np.abs(X)
    if np.any(~np.isfinite(X)) or np.any(ax >= _LOCAL_MAX_ABS):
        return None, False
    u = ax * 1e10
    f = u - np.floor(u)
    units = np.floor(u + 0.5)
    near = np.abs(f - 0.5) < _HALF_GUARD
    if np.any(near):
        flat = X.ravel()
        uf = units.ravel()
        for i in np.flatnonzero(near.ravel()):
            exact = _quantize_one_exact(float(flat[i]))
            if exact is None:
                return None, False
            uf[i] = exact
    return (np.sign(X) * units).astype(np.int64), True


def _kmeans_train_local(
    rows, k: int, n_iters: int
) -> list[list[float]] | None:
    """Driver-local Lloyd loop, bit-identical to the distributed one
    (pinned by test_kmeans_train_local_matches_distributed):

    * init: sort by (md5(str(id)), id) — hashlib.md5 of the decimal
      string is the same bytes the engine hashes;
    * assignment: the shared _np_dists / argmin kernel (already
      bit-equal to the Column fold);
    * update: exact integer-unit DECIMAL sums (see
      _local_quantized_units), float(Decimal(S) / 1e10) per component
      — the same nearest-double the engine's collect returns — then
      the identical ``round(float(s) / n, 9)`` line.

    Returns None when any guard trips (non-int/str ids, NULL/ragged
    vectors, duplicate ids, magnitude or rounding-boundary band,
    int64 headroom) — the caller falls back to the distributed loop.
    """
    import hashlib
    from decimal import Decimal, localcontext

    import numpy as np

    ids = [r[0] for r in rows]
    if any(i is None for i in ids) or len(set(ids)) != len(ids):
        return None
    if not all(isinstance(i, (int, str)) for i in ids):
        return None
    vecs = [r[1] for r in rows]
    if any(v is None for v in vecs):
        return None
    dim = len(vecs[0]) if vecs else 0
    if dim == 0 or any(len(v) != dim for v in vecs):
        return None
    order = sorted(
        range(len(ids)),
        key=lambda i: (hashlib.md5(str(ids[i]).encode()).hexdigest(),
                       ids[i]))
    centroids = [list(map(float, vecs[i])) for i in order[:k]]
    if len(centroids) < k:
        raise ValueError(
            f"need at least k={k} vectors, got {len(centroids)}")
    X = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
    units, ok = _local_quantized_units(X)
    if not ok or len(X) * float(np.abs(units).max(initial=0)) >= 2 ** 62:
        return None
    C = np.asarray(centroids, dtype=np.float64)
    with localcontext() as ctx:
        ctx.prec = 50
        ten10 = Decimal(10) ** 10
        for _ in range(n_iters):
            cid = np.argmin(_np_dists(X, C), axis=1)
            counts = np.bincount(cid, minlength=k)
            sums = np.zeros((k, dim), dtype=np.int64)
            np.add.at(sums, cid, units)
            new = C.copy()
            for c in range(k):
                n = int(counts[c])
                if n == 0:
                    continue  # empty clusters keep the old centroid
                new[c] = [
                    round(float(Decimal(int(sums[c, j])) / ten10) / n, _ROUND)
                    for j in range(dim)
                ]
            C = new
    return [list(map(float, c)) for c in C]


def kmeans_train(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_iters: int = 5,
) -> list[list[float]]:
    """Lloyd's k-means with deterministic hash-spread init and a
    FIXED iteration count (engine-replayable: a convergence test on
    doubles would couple the round count to float noise).  Returns the
    k × dim centroid bank (driver-side — small by construction).

    Init picks the k vectors whose ids sort first by
    (md5(id-as-string), id) — the deterministic_split trick.  Replayable
    like first-k-by-id (both engines hash the same decimal string) but
    without its degeneracy: the first k rows of a corpus are often
    CLUSTERED (one crawl batch, one domain), while an md5 order is a
    uniform sample of the id space (VERDICT r14 What's-wrong #4)."""
    if k <= 0 or n_iters <= 0:
        raise ValueError(f"k and n_iters must be positive: {k}, {n_iters}")
    # Size gate (r16, VERDICT r15 next-round #6 — the BPE/CC pattern):
    # at bench scale the init job + n_iters round jobs are ~0.35 s of
    # fixed overhead EACH on a ~1 MB corpus.  Probe with LIMIT n+1
    # (bounded collect either way); if the corpus fits, train on the
    # driver with the bit-identical local loop.  Web-scale corpora
    # overflow the probe and take the unchanged distributed loop, and
    # any local guard (id types, NULL/ragged vectors, rounding-boundary
    # band) falls back too.
    probe = (
        df.select(id_col, vec_col).limit(LOCAL_TRAIN_ROWS + 1).collect())
    if len(probe) <= LOCAL_TRAIN_ROWS:
        local = _kmeans_train_local(probe, k, n_iters)
        if local is not None:
            return local
    del probe
    init_rows = (
        df.orderBy(F.md5(F.col(id_col).cast("string")), id_col).limit(k)
        .select(F.transform(F.col(vec_col),
                            lambda x: x.cast("double")).alias("v"))
        .collect()
    )
    centroids = [list(r.v) for r in init_rows]
    if len(centroids) < k:
        raise ValueError(f"need at least k={k} vectors, got {len(centroids)}")
    dim = len(centroids[0])
    for _ in range(n_iters):
        comp = _assign_components(df, centroids, vec_col).select(
            "cluster_id",
            F.posexplode(F.col("embedding")).alias("pos", "val"),
        )
        sums = (
            comp.groupBy("cluster_id", "pos")
            .agg(
                F.sum(F.col("val").cast(_SUM_DEC)).alias("s"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        new = [list(c) for c in centroids]  # empty clusters keep old
        acc: dict[int, list] = {}
        for r in sums:
            acc.setdefault(r.cluster_id, [None] * dim)[r.pos] = (r.s, r.n)
        for cid, cells in acc.items():
            new[cid] = [
                round(float(s) / int(n), _ROUND) for (s, n) in cells
            ]
        centroids = new
    return centroids


def kmeans_fit_assign(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_iters: int = 5,
) -> DataFrame:
    """Train + final assignment in one call:
    (id, cluster_id, dist) rows, dist rounded at 6 for cross-engine
    comparison."""
    import numpy as np

    centroids = kmeans_train(df, k, vec_col, id_col, n_iters)
    bank = [list(map(float, c)) for c in centroids]

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        C = np.asarray(bank, dtype=np.float64)
        for pdf in batches:
            if not len(pdf):
                continue
            X = _np_mat(pdf[vec_col])
            D = _np_dists(X, C)
            cid = np.argmin(D, axis=1)
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "cluster_id": cid.astype("int32"),
                "__dist": D[np.arange(len(cid)), cid],
            })

    # ADVICE r15: derive the id type from the input schema (the
    # replaced Column form preserved any id type; hardcoding long broke
    # string/decimal ids and silently widened int ids).
    id_type = df.schema[id_col].dataType.simpleString()
    raw = df.select(id_col, vec_col).mapInPandas(
        run, schema=f"{id_col} {id_type}, cluster_id int, __dist double")
    # Rounding stays a JVM expression so HALF_UP semantics are the
    # engine's own (numpy would bankers-round); the raw distance out
    # of the Arrow pass is bit-equal to the Column-fold value.
    return raw.select(
        id_col, "cluster_id", F.round(F.col("__dist"), 6).alias("dist"))


def semantic_dedup_pairs(
    df: DataFrame,
    k: int,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_iters: int = 5,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs (Abbas et al.
    2023, "SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication" — public recipe): cluster the embedding
    space with k-means, then compare cosine similarity ONLY within
    each cluster and report unordered pairs at or above ``threshold``
    (the caller drops the higher id per pair, or feeds the pairs to
    dedup_clusters for transitive groups).

    Scale: this is the paper's own answer to all-pairs cosine being
    quadratic — the join is an equi-join on cluster_id, so compare
    volume is Σ_c |c|², bounded by choosing k ~ n/target_cluster_size
    (SemDeDup uses ~50k clusters at web scale).  Embeddings ride the
    cluster-keyed shuffle once; no corpus broadcast, no NL join
    (AQE keeps the equi-join hashed).  Each side L2-normalizes ONCE
    before the join, so the per-pair work is a single dot fold
    instead of dot + two norms — 3x less arithmetic on the quadratic
    stage (zero vectors pass through normalization and score 0
    instead of NULL-cosine; they never reach a positive threshold
    either way).  Cross-cluster near-duplicates at the Voronoi
    boundary are missed by construction — the paper's documented
    recall trade; raise k recall via the sign-LSH tier
    (embedding_near_dup_pairs) when boundary recall matters.
    """
    import numpy as np

    centroids = kmeans_train(df, k, vec_col, id_col, n_iters)
    bank = [list(map(float, c)) for c in centroids]

    # Stage 1 (map-side, one Arrow crossing): assignment + per-row L2
    # normalization fused into a single pass over (id, vector) — the
    # r14 shape re-joined the corpus against the assignment output and
    # re-derived the normalized vector in interpreted HOF folds; both
    # the join and the folds are gone (guide §2.4, §4.2).
    def stage1(batches: Iterator) -> Iterator:
        import pandas as pd

        C = np.asarray(bank, dtype=np.float64)
        for pdf in batches:
            if not len(pdf):
                continue
            X = _np_mat(pdf[vec_col])
            cid = np.argmin(_np_dists(X, C), axis=1).astype("int32")
            yield pd.DataFrame({
                "cluster_id": cid,
                "_id": pdf[id_col],
                "_e": list(_np_l2_normalize(X)),
            })

    # ADVICE r15: the id rides through both Python stages with its
    # input type instead of a hardcoded long.
    id_type = df.schema[id_col].dataType.simpleString()
    v = df.select(id_col, vec_col).mapInPandas(
        stage1, schema=f"cluster_id int, _id {id_type}, _e array<double>")

    # Stage 2: pairwise cosine ONLY inside each cluster.  The r14 form
    # was a cluster-keyed self-join whose per-pair dot ran as an
    # interpreted 64-step fold — the quadratic stage at interpreter
    # speed, and the dominant cost of the row (~8 s at sf0.1).  Each
    # cluster's rows now ship ONCE (n rows instead of the join's 2n),
    # and the same left-to-right dot runs vectorized over pair blocks
    # (bit-equal per pair; np.triu over id-sorted rows yields exactly
    # the id_a < id_b pair set).  Compare volume is unchanged —
    # Σ_c |c|², bounded by k (the SemDeDup recipe); one task per
    # cluster is the same placement the equi-join's shuffle produced.
    def pairs(pdf):
        import pandas as pd

        pdf = pdf.sort_values("_id", kind="mergesort")
        m = len(pdf)
        out_a: list = []
        out_b: list = []
        out_c: list = []
        if m > 1:
            N = np.array([np.asarray(v, dtype=np.float64)
                          for v in pdf["_e"]])
            # Transposed cluster matrix: each dim row is contiguous
            # and cache-resident, so the per-dim pair gathers below
            # never touch main memory for the source side (the
            # gather-whole-pair-matrices form moved ~100 MB/cluster
            # and was memory-bandwidth-bound; this form is ~30x
            # faster at identical op order).
            NT = np.ascontiguousarray(N.T)
            ids = pdf["_id"].to_numpy()
            ii, jj = np.triu_indices(m, 1)
            # Block the pair stream so peak memory stays bounded for
            # oversized clusters (the skew case k is meant to bound).
            step = 1 << 20
            for s in range(0, len(ii), step):
                a, b = ii[s:s + step], jj[s:s + step]
                # ADVICE r15: the old self-join's strict id_a < id_b
                # filter excluded pairs of DUPLICATE ids; mask them so
                # the triu enumeration matches it exactly.
                keep = ids[a] != ids[b]
                a, b = a[keep], b[keep]
                acc = np.zeros(len(a), dtype=np.float64)
                for j in range(NT.shape[0]):
                    acc += NT[j][a] * NT[j][b]
                out_a.append(ids[a])
                out_b.append(ids[b])
                out_c.append(acc)
        cid = pdf["cluster_id"].iloc[0] if m else None
        return pd.DataFrame({
            "cluster_id": np.repeat(cid, sum(map(len, out_a))),
            "id_a": np.concatenate(out_a) if out_a else [],
            "id_b": np.concatenate(out_b) if out_b else [],
            "_cos": np.concatenate(out_c) if out_c else [],
        })

    raw = v.groupBy("cluster_id").applyInPandas(
        pairs,
        schema=f"cluster_id int, id_a {id_type}, id_b {id_type}, "
               "_cos double")
    # Rounding + threshold stay JVM expressions: HALF_UP round at 6,
    # then the filter against the ROUNDED value — the engine's filter
    # order, which the oracle replays.
    return raw.select(
        "cluster_id", "id_a", "id_b",
        F.round(F.col("_cos"), 6).alias("cosine"),
    ).where(F.col("cosine") >= threshold)
