"""Similarity search over embedding columns (``array<float>``).

Beyond-reference surface: brute-force cosine top-k as the correctness
baseline, and a hyperplane-LSH bucketed variant as the 100-TB scale path.

Determinism design (so DuckDB oracles hash-match exactly):
* embeddings are widened float→double BEFORE any arithmetic (exact), then
  dot products accumulate sequentially left-to-right in double in both
  engines → bitwise-identical scores;
* "random" hyperplanes are md5-derived constants computed once in the
  Python planner and inlined as literals into BOTH the Spark plan and the
  oracle SQL;
* rankings tie-break on neighbor id after rounding scores to 6 decimals.

Scale shape: queries are broadcast (small side), the corpus streams through
one broadcast nested-loop/cross join for brute force; LSH replaces that with
an equi-join on bucket signature (one shuffle, work ∝ bucket sizes).
"""

from __future__ import annotations

import hashlib
from collections.abc import Sequence
from functools import lru_cache

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right double dot product (aggregate over zip_with)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


# ---------------------------------------------------------------------------
# Operator-internal persists and checkpoints go through functions/caching.py,
# whose release_caches() frees them.  _barrier / release_caches keep their
# names here — the public escape hatch is unchanged.
from ..functions.caching import barrier as _barrier
from ..functions.caching import release, release_caches  # noqa: F401


def as_double(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def brute_force_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query vector.

    ``queries`` (small) is broadcast; the corpus streams through a single
    broadcast join — no shuffle of the big side; the per-query ranking
    shuffles only (query, candidate, score) triples."""
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv")
    )
    c = df.select(F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("cv"))
    scored = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine_sim")
    )


def brute_force_topk_sql(
    source_sql: str,
    queries_sql: str,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    return f"""
with q as (
  select {id_col} as query_id, cast({vec_col} as double[]) as qv
  from ({queries_sql})
),
c as (
  select {id_col} as neighbor_id, cast({vec_col} as double[]) as cv
  from ({source_sql})
),
scored as (
  select query_id, neighbor_id,
    round(list_dot_product(qv, cv) /
          (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6)
      as cosine_sim
  from c join q on query_id != neighbor_id
)
select query_id, rank, neighbor_id, cosine_sim
from (
  select *, row_number() over (
      partition by query_id order by cosine_sim desc, neighbor_id asc
  ) as rank
  from scored
)
where rank <= {k}
"""


# ---------------------------------------------------------------------------
# Banded hyperplane LSH (scale path)
# ---------------------------------------------------------------------------
#
# b bands × r planes (sign-LSH analogue of minhash banding): each vector gets
# b independent r-bit signatures; candidates are pairs agreeing on ANY band
# (OR-amplification).  Bucket granularity is 2^r PER BAND, so candidate-set
# size stays ∝ corpus/2^r as the corpus grows (the single-band design's 2^p
# total buckets meant bucket size — and the verify join — grew linearly with
# the corpus), and recall at a given cosine is tuned by b independently of
# granularity: P(candidate) = 1-(1-p^r)^b with p = 1 - θ/π.
#
# Signature dots are QUANTIZED-INTEGER: sign(Σ_d floor(v_d·c_d·1e9 + 0.5))
# — int64 addition is accumulation-order independent, so the engine path
# (vectorized numpy over Arrow batches), the HOF reference path, and the
# DuckDB oracle agree EXACTLY by construction, with no dependence on any
# particular float fold order.  The 1e-9 quantization is far below any
# meaningful cosine margin; it only (deterministically) perturbs which side
# of a hyperplane a vector falls on when |dot| < ~3e-8 — irrelevant to LSH
# recall, identical in all implementations.  Verification cosines remain
# exact doubles (sequential fold, bitwise-matched to list_dot_product).


def hyperplanes(dims: int, planes: int, seed: str = "ann") -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5 — computed once in
    the planner, inlined as literals in both engines."""
    out = []
    for p in range(planes):
        row = []
        for d in range(dims):
            h = hashlib.md5(f"{seed}-{p}-{d}".encode()).hexdigest()
            row.append(round(int(h[:8], 16) / float(2**31) - 1.0, 6))
        out.append(row)
    return out


def banded_hyperplanes(
    dims: int, bands: int, rows_per_band: int, seed: str = "ann"
) -> list[list[list[float]]]:
    """``bands`` disjoint groups of ``rows_per_band`` hyperplanes."""
    hp = hyperplanes(dims, bands * rows_per_band, seed)
    return [hp[b * rows_per_band : (b + 1) * rows_per_band] for b in range(bands)]


QUANT = 1000000000.0  # signature-dot quantum: 1e-9 units


def _qdot(a: Column, b: Column) -> Column:
    """Quantized integer dot: Σ floor(aᵢ·bᵢ·1e9 + 0.5) as long.  Integer
    accumulation is order-independent — every implementation (numpy, HOF,
    DuckDB) produces the exact same value with no fold-order caveats."""
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: F.floor(x * y * F.lit(QUANT) + F.lit(0.5))
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket signature: one bit per hyperplane (quantized dot)."""
    bits = []
    for i, plane in enumerate(planes):
        # A constant array literal, built with ONE py4j round trip per plane
        # (F.lit(list) converts element-by-element: ~40ms/plane of driver
        # time; F.array(*lits) additionally re-materializes the array per
        # ROW — measured 11× slower at execution).
        lit = F.expr(
            "array(" + ", ".join(repr(c) + "D" for c in plane) + ")"
        )
        bits.append(F.when(_qdot(vec, lit) >= 0, F.lit(2**i)).otherwise(F.lit(0)))
    sig = bits[0]
    for b in bits[1:]:
        sig = sig + b
    return sig.cast("int")


@lru_cache(maxsize=8)
def _plane_tensor_sql(bhp: tuple) -> str:
    """Bands × rows × dims coefficient tensor as ONE SQL literal string.
    The STRING is cached (not a Column: a Column wraps a JVM expression
    handle, which goes stale if the SparkContext is restarted within the
    same Python process); ``F.expr`` re-wraps it per call, which is cheap."""
    return (
        "array("
        + ", ".join(
            "array("
            + ", ".join(
                "array(" + ", ".join(repr(c) + "D" for c in plane) + ")"
                for plane in band
            )
            + ")"
            for band in bhp
        )
        + ")"
    )


def _plane_tensor(bhp: tuple) -> Column:
    return F.expr(_plane_tensor_sql(bhp))


def banded_sigs(vec: Column, bhp: list[list[list[float]]]) -> Column:
    """All band signatures in ONE expression (``array<int>``, one element
    per band): the full plane tensor is a single nested array literal and
    the per-band/per-plane loops are higher-order functions over it.

    This is the REFERENCE implementation (quantized dots, same math as the
    vectorized numpy path in :func:`_banded` — a test asserts exact
    equality).  HOF lambdas evaluate interpreted (outside whole-stage
    codegen), so the hot path uses numpy over Arrow batches instead; an
    unrolled-literal codegen version was tried and rejected — 4k terms in
    one expression exceeds Janino's 64 KB method limit and Spark falls
    back to interpreted eval after a measured ~50 s compile-retry tax,
    while splitting into 64 projection fields compiled but ran ~1.8×
    slower than the HOF path."""
    tensor = _plane_tensor(
        tuple(tuple(tuple(plane) for plane in band) for band in bhp)
    )
    return F.transform(
        tensor,
        lambda band: F.aggregate(
            F.transform(
                band,
                lambda plane, i: F.when(
                    _qdot(vec, plane) >= 0,
                    F.pow(F.lit(2.0), i.cast("double")),
                ).otherwise(F.lit(0.0)),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).cast("int"),
    )


def unrolled_dot_sql(a_sql: str, b_sql: str, dims: int) -> str:
    """``a·b`` as a flat left-associated sum — ``a[0]*b[0] + a[1]*b[1] +
    …`` — which folds in exactly the same left-to-right order as the
    sequential :func:`_dot` aggregate and DuckDB's ``list_dot_product``
    (bitwise-identical doubles), but is plain codegen arithmetic instead
    of an interpreted higher-order function.  Safe for SINGLE dots in a
    projection; do not compose thousands of terms into one expression —
    a 64-plane signature tensor unrolled this way exceeds Janino's 64 KB
    method limit and Spark silently falls back to interpreted eval
    (measured: 50 s first-run compile-retry tax)."""
    return " + ".join(f"{a_sql}[{d}] * {b_sql}[{d}]" for d in range(dims))


def lsh_bucket_sql(vec_sql: str, planes: list[list[float]]) -> str:
    """DuckDB twin of :func:`lsh_bucket`/:func:`banded_sigs`: the quantized
    dot is Σᵢ floor(v[i]·c[i]·1e9 + 0.5) over a lambda — int64 sums match
    the engine exactly regardless of accumulation order."""
    parts = []
    for i, plane in enumerate(planes):
        arr = "[" + ", ".join(f"cast({c} as double)" for c in plane) + "]"
        qdot = (
            f"list_sum(list_transform(generate_series(1, {len(plane)}), "
            f"i -> cast(floor({vec_sql}[i] * ({arr})[i] * {QUANT!r} + 0.5)"
            f" as bigint)))"
        )
        parts.append(f"case when {qdot} >= 0 then {2**i} else 0 end")
    return "cast(" + " + ".join(parts) + " as int)"


def _parallelize_narrow(df: DataFrame) -> DataFrame:
    """See :func:`functions.partitioning.parallelize_narrow` (shared)."""
    from ..functions.partitioning import parallelize_narrow

    return parallelize_narrow(df)


def _banded(
    df: DataFrame, id_alias: str, vec_alias: str,
    id_col: str, vec_col: str, bhp: list[list[list[float]]],
    parallelize: bool = True,
) -> DataFrame:
    """One row per (vector, band): (id, vec, nrm, band, sig).

    Signatures are computed VECTORIZED in numpy over Arrow batches
    (``mapInPandas``): one (batch × dims) · (dims) multiply per plane plus
    integer sums — memory-bandwidth-bound BLAS-style work, ~10× the
    throughput of interpreted HOF lambda eval, with no JIT-warmup tax and
    no Janino method-size ceiling (both were measured failure modes of
    JVM-side alternatives; see :func:`banded_sigs`).  The quantized
    integer dot makes the numpy result EXACTLY equal to the HOF reference
    and the DuckDB oracle — no float fold-order dependence.  The vector
    and its norm ride through the Arrow round trip untouched (float64 is
    exact across Arrow), so downstream cosine verification still reuses
    ``nrm`` and the double-precision vector.

    The norm stays JVM-side: an unrolled codegen self-dot whose
    left-to-right fold matches DuckDB's ``list_dot_product`` bitwise —
    the norm feeds VALUE-compared cosines, where bitwise parity matters.
    ``parallelize=False`` skips the small-input repartition (use for a
    broadcast-bound query side: the extra shuffle costs more than the
    single-core signature pass saves)."""
    import numpy as np
    from pyspark.sql.types import IntegerType, StructField, StructType

    v = as_double(vec_col)
    src = _parallelize_narrow(df) if parallelize else df
    dims = len(bhp[0][0])
    bands, rows_per_band = len(bhp), len(bhp[0])
    nrm_sql = " + ".join(
        f"cast(`{vec_col}`[{d}] as double) * cast(`{vec_col}`[{d}] as double)"
        for d in range(dims)
    )
    nrm_alias = f"{vec_alias}_nrm"
    base = src.select(
        F.col(id_col).alias(id_alias),
        v.alias(vec_alias),
        F.sqrt(F.expr(nrm_sql)).alias(nrm_alias),
    )
    out_schema = StructType(
        base.schema.fields
        + [StructField("band", IntegerType()), StructField("sig", IntegerType())]
    )
    coef = np.asarray(bhp, dtype=np.float64).reshape(bands * rows_per_band, dims)
    weights = (2 ** np.arange(rows_per_band, dtype=np.int64)).reshape(1, 1, -1)

    def gen(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            vecs = np.asarray(
                [np.asarray(x, dtype=np.float64) for x in pdf[vec_alias]]
            )
            qdots = np.empty((n, bands * rows_per_band), dtype=np.int64)
            for p in range(bands * rows_per_band):
                # Same term math as _qdot / the oracle: floor(v·c·1e9 + .5)
                # per element, exact int64 sum (order-independent).
                qdots[:, p] = (
                    np.floor(vecs * coef[p] * QUANT + 0.5)
                    .astype(np.int64)
                    .sum(axis=1)
                )
            bits = (qdots >= 0).astype(np.int64).reshape(n, bands, rows_per_band)
            sigs = (bits * weights).sum(axis=2).astype(np.int32)
            out = pdf.loc[pdf.index.repeat(bands)].reset_index(drop=True)
            out["band"] = np.tile(np.arange(bands, dtype=np.int32), n)
            out["sig"] = sigs.reshape(-1)
            yield out

    return base.mapInPandas(gen, out_schema)


def _banded_sql(
    source_sql: str, id_alias: str, vec_alias: str,
    id_col: str, vec_col: str, bhp: list[list[list[float]]],
) -> str:
    """Oracle twin of _banded: one SELECT per band, unioned."""
    vec = f"cast({vec_col} as double[])"
    selects = [
        f"select {id_col} as {id_alias}, {vec} as {vec_alias}, "
        f"sqrt(list_dot_product({vec}, {vec})) as {vec_alias}_nrm, "
        f"{i} as band, {lsh_bucket_sql(vec, band)} as sig from ({source_sql})"
        for i, band in enumerate(bhp)
    ]
    return "\nunion all\n".join(selects)


def lsh_index(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 8,
    rows_per_band: int = 8,
    dims: int = 64,
) -> DataFrame:
    """The corpus-side banded hyperplane signature table
    (neighbor_id, cv, cv_nrm, band, sig) — build + persist once, probe
    many times via ``lsh_ann_topk(index=...)``; the probe then never
    re-signs the corpus.  Same deployment split as
    :func:`pq_codebooks`/:func:`bm25_index`."""
    bhp = banded_hyperplanes(dims, bands, rows_per_band)
    return _banded(df, "neighbor_id", "cv", id_col, vec_col, bhp)


def lsh_index_append(
    index: DataFrame,
    new_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 8,
    rows_per_band: int = 8,
    dims: int = 64,
) -> DataFrame:
    """Incremental index maintenance for the vector LSH index: hyperplane
    signatures are PER-ROW independent (no corpus-global statistics,
    unlike BM25's df/dl), so appending is exactly signing the new
    vectors and a union — equal to rebuilding from old ∪ new by
    construction, at the cost of one pass over the NEW vectors.  Band
    geometry must match the stored index's."""
    return index.unionByName(
        lsh_index(new_df, id_col, vec_col, bands, rows_per_band, dims)
    )


def save_lsh_index(index: DataFrame, path: str) -> None:
    """Persist an :func:`lsh_index` as parquet partitioned by band —
    same deployment layout as the minhash text index
    (operators/dedup.save_minhash_index): the signature table is built
    once per corpus snapshot and every probing session reads it back
    instead of re-signing the corpus."""
    index.select(
        "neighbor_id", "cv", "cv_nrm", "band", "sig"
    ).write.mode("overwrite").partitionBy("band").parquet(path)


def load_lsh_index(spark, path: str) -> DataFrame:
    """Read a :func:`save_lsh_index` back for ``lsh_ann_topk(index=)``.
    Band geometry (bands × rows_per_band) must match the probe's
    parameters — they drive the query-side signatures."""
    return spark.read.parquet(path).select(
        "neighbor_id", "cv", "cv_nrm",
        F.col("band").cast("int").alias("band"), "sig",
    )


def lsh_ann_topk(
    df: DataFrame,
    queries: DataFrame | None = None,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 8,
    rows_per_band: int = 8,
    dims: int = 64,
    query_ids: Sequence | None = None,
    index: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: exact ranking over the union of the query's
    per-band bucket collisions.

    Physical shape: both sides carry (band, sig) rows; the candidate join is
    an equi-join on (band, sig) with the (small) query side broadcast —
    work ∝ Σ per-band bucket sizes, never corpus².  Duplicate candidates
    from multi-band collisions collapse via distinct on the scored triple
    (the score is deterministic, so duplicates are exact).

    When the queries ARE corpus rows, pass ``query_ids`` instead of a
    ``queries`` DataFrame: the query side is then sliced out of the single
    persisted corpus signature table rather than signed in a second pass —
    at corpus scale that drops one full scan+signature job."""
    if queries is None and query_ids is None:
        raise ValueError(
            "lsh_ann_topk needs a query side: pass queries=<DataFrame> or "
            "query_ids=<ids of corpus rows to use as queries>"
        )
    bhp = banded_hyperplanes(dims, bands, rows_per_band)
    # a prebuilt index (lsh_index, caller-persisted) skips re-signing the
    # corpus; its band geometry must match the probe's (bands ×
    # rows_per_band drive the query-side signatures)
    c = (
        index
        if index is not None
        else _banded(df, "neighbor_id", "cv", id_col, vec_col, bhp)
    )
    if query_ids is not None:
        if queries is not None:
            raise ValueError("pass either queries or query_ids, not both")
        # Referenced by both join sides — persisted; caller releases via
        # release_caches() in long-lived sessions (see _LIVE_CACHES).
        # A caller-supplied index is caller-owned: not persisted here.
        if index is None:
            c = _barrier(c)
        q = c.filter(F.col("neighbor_id").isin(*query_ids)).select(
            F.col("neighbor_id").alias("query_id"),
            F.col("cv").alias("qv"),
            F.col("cv_nrm").alias("qv_nrm"),
            "band",
            "sig",
        )
    else:
        q = _banded(
            queries, "query_id", "qv", id_col, vec_col, bhp, parallelize=False
        )
    scored = (
        c.alias("c").join(
            F.broadcast(q.alias("q")),
            (F.col("q.band") == F.col("c.band"))
            & (F.col("q.sig") == F.col("c.sig"))
            & (F.col("q.query_id") != F.col("c.neighbor_id")),
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.expr(unrolled_dot_sql("qv", "cv", dims))
                / (F.col("qv_nrm") * F.col("cv_nrm")),
                6,
            ).alias("cosine_sim"),
        )
    )
    # dense_rank tolerates the multi-band duplicates (identical cosine per
    # (query, neighbor)), so the candidate-sized distinct moves after the
    # rank filter — see knn_graph for the measured rationale.
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.dense_rank().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine_sim")
        .distinct()
    )


def lsh_ann_topk_sql(
    source_sql: str,
    queries_sql: str,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 8,
    rows_per_band: int = 8,
    dims: int = 64,
) -> str:
    bhp = banded_hyperplanes(dims, bands, rows_per_band)
    return f"""
with qb as (
{_banded_sql(queries_sql, "query_id", "qv", id_col, vec_col, bhp)}
),
cb as (
{_banded_sql(source_sql, "neighbor_id", "cv", id_col, vec_col, bhp)}
),
scored as (
  select distinct query_id, neighbor_id,
    round(list_dot_product(qv, cv) / (qv_nrm * cv_nrm), 6) as cosine_sim
  from cb join qb on qb.band = cb.band and qb.sig = cb.sig
                 and query_id != neighbor_id
)
select query_id, rank, neighbor_id, cosine_sim
from (
  select *, row_number() over (
      partition by query_id order by cosine_sim desc, neighbor_id asc
  ) as rank
  from scored
)
where rank <= {k}
"""


def ivf_ann_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_ids: tuple[int, ...] = tuple(range(0, 480, 30)),
    nprobe: int = 2,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: corpus partitioned into inverted lists by nearest
    centroid; a query exact-ranks only its ``nprobe`` closest cells.

    Default centroids are corpus vectors with fixed ids (deterministic, no
    training dependency); pass ``centroids`` (cent_id, cv) — e.g. from
    :func:`kmeans_centroids` — for trained cells without any plan change.
    Scale shape: assignment is a broadcast join against the small centroid
    set; the probe join is an equi-join on cell id — work ∝ probed cell
    sizes, not corpus size.
    """
    if centroids is not None:
        cents = centroids.select("cent_id", "cv")
    else:
        cents = df.filter(F.col(id_col).isin(*centroid_ids)).select(
            F.col(id_col).alias("cent_id"), as_double(vec_col).alias("cv")
        )

    def assign(side: DataFrame, id_alias: str, out_vec: str, n: int) -> DataFrame:
        """n nearest centroids per vector (cosine, id tiebreak)."""
        scored = side.join(F.broadcast(cents)).select(
            F.col(id_alias),
            F.col(out_vec),
            "cent_id",
            F.round(cosine(F.col(out_vec), F.col("cv")), 6).alias("csim"),
        )
        w = Window.partitionBy(id_alias).orderBy(
            F.col("csim").desc(), F.col("cent_id").asc()
        )
        return (
            scored.withColumn("crank", F.row_number().over(w))
            .filter(F.col("crank") <= n)
            .drop("csim", "crank")
        )

    corpus = assign(
        df.select(F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("nv")),
        "neighbor_id", "nv", 1,
    )
    probes = assign(
        queries.select(F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv")),
        "query_id", "qv", nprobe,
    )
    scored = corpus.join(
        F.broadcast(probes),
        (corpus["cent_id"] == probes["cent_id"])
        & (F.col("query_id") != F.col("neighbor_id")),
    ).select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("qv"), F.col("nv")), 6).alias("cosine_sim"),
    )
    # dense_rank over the raw multi-probe stream: duplicate (query,
    # neighbor) rows from overlapping probe cells carry identical cosine,
    # so the candidate-sized distinct defers past the rank filter (see
    # knn_graph).
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.dense_rank().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine_sim")
        .distinct()
    )


def ivf_ann_topk_sql(
    source_sql: str,
    queries_sql: str,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_ids: tuple[int, ...] = tuple(range(0, 480, 30)),
    nprobe: int = 2,
    cents_sql: str | None = None,
) -> str:
    ids = ", ".join(str(i) for i in centroid_ids)
    cos = (
        "round(list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
    )
    if cents_sql is None:
        cents_sql = f"""
  select {id_col} as cent_id, cast({vec_col} as double[]) as cv
  from ({source_sql}) where {id_col} in ({ids})
"""
    return f"""
with cents as ({cents_sql}),
corpus as (
  select neighbor_id, nv, cent_id from (
    select c.{id_col} as neighbor_id, cast(c.{vec_col} as double[]) as nv,
           ce.cent_id,
           row_number() over (
             partition by c.{id_col}
             order by {cos.format(a=f"cast(c.{vec_col} as double[])", b="ce.cv")} desc,
                      ce.cent_id asc
           ) as crank
    from ({source_sql}) c cross join cents ce
  ) where crank <= 1
),
probes as (
  select query_id, qv, cent_id from (
    select q.{id_col} as query_id, cast(q.{vec_col} as double[]) as qv,
           ce.cent_id,
           row_number() over (
             partition by q.{id_col}
             order by {cos.format(a=f"cast(q.{vec_col} as double[])", b="ce.cv")} desc,
                      ce.cent_id asc
           ) as crank
    from ({queries_sql}) q cross join cents ce
  ) where crank <= {nprobe}
),
scored as (
  select distinct p.query_id, c.neighbor_id,
    {cos.format(a="p.qv", b="c.nv")} as cosine_sim
  from corpus c join probes p
    on c.cent_id = p.cent_id and p.query_id != c.neighbor_id
)
select query_id, rank, neighbor_id, cosine_sim
from (
  select *, row_number() over (
      partition by query_id order by cosine_sim desc, neighbor_id asc
  ) as rank
  from scored
)
where rank <= {k}
"""


def embedding_cosine_dedup(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 8,
    rows_per_band: int = 8,
    dims: int = 64,
) -> DataFrame:
    """Embedding near-duplicate pairs: banded-LSH candidate generation +
    exact cosine verification ≥ threshold (id_a < id_b).

    Self-join is an equi-join on (band, sig); per-band bucket size is
    ∝ n/2^rows_per_band, so verification work stays ∝ Σ bucket² per band
    with tunable granularity — never the all-pairs n²."""
    bhp = banded_hyperplanes(dims, bands, rows_per_band)
    # persist: the self-join references the banded relation twice; without
    # the barrier the signature projection runs twice (and CollapseProject
    # can inline it into the join condition — see operators/dedup.py).
    # Caller releases via release_caches() in long-lived sessions.
    e = _barrier(_banded(df, "id", "v", id_col, vec_col, bhp))
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(
                F.expr(unrolled_dot_sql("a.v", "b.v", dims))
                / (F.col("a.v_nrm") * F.col("b.v_nrm")),
                6,
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
        .distinct()
    )


def embedding_cosine_dedup_sql(
    source_sql: str,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 8,
    rows_per_band: int = 8,
    dims: int = 64,
) -> str:
    bhp = banded_hyperplanes(dims, bands, rows_per_band)
    cos = "round(list_dot_product(a.v, b.v) / (a.v_nrm * b.v_nrm), 6)"
    return f"""
with e as (
{_banded_sql(source_sql, "id", "v", id_col, vec_col, bhp)}
)
select distinct a.id as id_a, b.id as id_b, {cos} as cosine_sim
from e a join e b on a.band = b.band and a.sig = b.sig and a.id < b.id
where {cos} >= {threshold}
"""


def semantic_decontaminate(
    corpus: DataFrame,
    bench: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 16,
    rows_per_band: int = 8,
    dims: int = 64,
) -> DataFrame:
    """Embedding-space decontamination: flag every corpus vector whose
    cosine to ANY benchmark vector ≥ ``threshold`` — the semantic tier
    of the decontamination ladder (n-gram overlap → containment →
    embeddings), catching paraphrased/translated eval items that no
    lexical check can see.

    One row per CORPUS vector: (id, n_bench_matches, max_bench_cosine,
    is_contaminated) — max_bench_cosine is null for vectors with no
    candidate collisions.

    Scale shape: the corpus signs once (banded LSH); the BENCHMARK side
    (small by nature — eval sets are thousands of items vs billions of
    docs) signs and BROADCASTS; candidates are (band, sig) equi-join
    collisions only, verified by exact cosine.  Work ∝ colliding
    buckets, never corpus × benchmark."""
    bhp = banded_hyperplanes(dims, bands, rows_per_band)
    c = _banded(corpus, "id", "v", id_col, vec_col, bhp)
    b = _banded(bench, "bid", "bv", id_col, vec_col, bhp, parallelize=False)
    hits = (
        c.alias("c")
        .join(
            F.broadcast(b.alias("b")),
            (F.col("c.band") == F.col("b.band"))
            & (F.col("c.sig") == F.col("b.sig")),
        )
        .select(
            "id",
            "bid",
            F.round(
                F.expr(unrolled_dot_sql("c.v", "b.bv", dims))
                / (F.col("c.v_nrm") * F.col("b.bv_nrm")),
                6,
            ).alias("cosine_sim"),
        )
        .distinct()
        .filter(F.col("cosine_sim") >= threshold)
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_bench_matches"),
            F.max("cosine_sim").alias("max_bench_cosine"),
        )
    )
    return (
        corpus.select(F.col(id_col).alias("id"))
        .join(hits, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_bench_matches", F.lit(0))
            .cast("long")
            .alias("n_bench_matches"),
            "max_bench_cosine",
            (F.coalesce("n_bench_matches", F.lit(0)) > 0).alias(
                "is_contaminated"
            ),
        )
    )


def semantic_decontaminate_sql(
    corpus_sql: str,
    bench_sql: str,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 16,
    rows_per_band: int = 8,
    dims: int = 64,
) -> str:
    """DuckDB twin of :func:`semantic_decontaminate`."""
    bhp = banded_hyperplanes(dims, bands, rows_per_band)
    cos = "round(list_dot_product(c.v, b.bv) / (c.v_nrm * b.bv_nrm), 6)"
    return f"""
with c as (
{_banded_sql(corpus_sql, "id", "v", id_col, vec_col, bhp)}
),
b as (
{_banded_sql(bench_sql, "bid", "bv", id_col, vec_col, bhp)}
),
hits as (
  select id,
         cast(count(*) as bigint) as n_bench_matches,
         max(cosine_sim) as max_bench_cosine
  from (
    select distinct c.id, b.bid, {cos} as cosine_sim
    from c join b on c.band = b.band and c.sig = b.sig
  ) where cosine_sim >= {threshold}
  group by id
)
select s.{id_col},
       coalesce(h.n_bench_matches, 0) as n_bench_matches,
       h.max_bench_cosine,
       coalesce(h.n_bench_matches, 0) > 0 as is_contaminated
from (select {id_col} from ({corpus_sql})) s
left join hits h on s.{id_col} = h.id
"""


# ---------------------------------------------------------------------------
# k-means centroid training (Lloyd's iterations, DataFrame-only)
# ---------------------------------------------------------------------------


def _dist2(a: Column, b: Column) -> Column:
    """Squared L2 via the dot-product identity |a-b|² = a·a + b·b − 2·a·b.
    Built from three sequential dots so the engine and the DuckDB oracle
    (list_dot_product) produce bit-identical values — a zip_with of
    differences would fold in a different order."""
    return _dot(a, a) + _dot(b, b) - 2 * _dot(a, b)


def kmeans_centroids(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cent_id, cv): Lloyd's k-means as DataFrame ops, bit-deterministic.

    Seeds are the ``k`` lowest-id corpus vectors (no RNG).  Each iteration
    is one broadcast assignment join (argmin squared-L2, centroid-id
    tiebreak) and one per-dimension mean.  The mean quantizes components
    to integer micro-units (round(v·1e6) as long) and sums THOSE — long
    addition is accumulation-order independent, where double summation is
    not and double→decimal casts round differently across engines
    (measured ±5e-13/value ⇒ ~1e-14 drift per mean).  The 1e-6
    quantization noise is irrelevant to centroid quality and makes the
    training bit-reproducible anywhere.  Work per iteration: O(n·k)
    distance evaluations + one shuffle keyed on (cent_id, dim); the
    centroid table stays driver-small throughout.  A cluster that loses
    all points drops out (k shrinks), same in the oracle.
    """
    pts = _barrier(df.select(
        F.col(id_col).alias("pid"), as_double(vec_col).alias("pv")
    ))
    w0 = Window.orderBy("pid")
    cents = (
        pts.orderBy("pid")
        .limit(k)
        .select(
            (F.row_number().over(w0) - 1).cast("long").alias("cent_id"),
            F.col("pv").alias("cv"),
        )
    )
    for _ in range(iters):
        scored = pts.join(F.broadcast(cents)).select(
            "pid",
            "pv",
            "cent_id",
            _dist2(F.col("pv"), F.col("cv")).alias("d2"),
        )
        wa = Window.partitionBy("pid").orderBy(
            F.col("d2").asc(), F.col("cent_id").asc()
        )
        assigned = (
            scored.withColumn("rn", F.row_number().over(wa))
            .filter(F.col("rn") == 1)
            .select("cent_id", "pv")
        )
        means = (
            assigned.select("cent_id", F.posexplode("pv").alias("dim", "val"))
            .groupBy("cent_id", "dim")
            .agg(
                (
                    F.sum(F.round(F.col("val") * 1e6, 0).cast("long"))
                    .cast("double")
                    / (F.count(F.lit(1)) * F.lit(1000000)).cast("double")
                ).alias("mean")
            )
        )
        # Materialize: the next iteration references cents twice and the
        # lineage would otherwise recompute every prior iteration per ref.
        prev, cents = cents, _barrier(
            means.groupBy("cent_id").agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "mean"))),
                    lambda s: s["mean"],
                ).alias("cv")
            ),
            checkpoint=True,
        )
        release(prev)
    release(pts)
    return _local_result(cents)


def _local_result(df: DataFrame) -> DataFrame:
    """``df`` (driver-small: every round broadcasts it) as a local
    relation the caller owns, no longer built on this call's last
    checkpoint, which is freed — so no later release of the session's
    artifacts can invalidate a trained model the caller holds."""
    out = df.sparkSession.createDataFrame(df.collect(), df.schema)
    release(df)
    return out


def kmeans_centroids_vectorized(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means with the per-iteration assignment computed as ONE
    numpy matmul per Arrow batch — the scale-build variant of
    :func:`kmeans_centroids` for large k (the √n-cells coarse quantizer:
    the HOF path materializes n·k assignment rows per iteration, this
    path streams them).  Same seeds (k lowest-id vectors), same
    integer-micro mean arithmetic (round-HALF-AWAY-FROM-ZERO of v·1e6
    summed as int64 — matching Spark's F.round, NOT numpy's
    half-to-even; order-independent), same lowest-cent_id tie
    direction; per-batch
    partial sums aggregate in one tiny (k·dim)-row shuffle.  argmin ties
    between FLOAT distances may differ from the sequential-fold HOF path
    in ulp-collision cases — use the HOF path under oracle-gated
    queries, this for scale builds."""
    import numpy as np
    from pyspark.sql.types import LongType, StructField, StructType

    spark = df.sparkSession
    pts = _barrier(df.select(
        F.col(id_col).alias("pid"), as_double(vec_col).alias("pv")
    ))
    seed_rows = pts.orderBy("pid").limit(k).collect()
    C = np.array([list(r["pv"]) for r in seed_rows], dtype=np.float64)
    ids = list(range(len(C)))  # matrix row position -> cent_id label

    part_schema = StructType(
        [
            StructField("cent_id", LongType()),
            StructField("dim", LongType()),
            StructField("s_micro", LongType()),
            StructField("cnt", LongType()),
        ]
    )
    for _ in range(iters):
        Cc, idc = C, list(ids)
        cnorm = (Cc * Cc).sum(axis=1)

        # positions are ordered by ascending cent_id, so argmin's
        # first-hit tie direction IS the lowest-cent_id tie direction
        def part(batches, Cc=Cc, cnorm=cnorm, idc=idc):
            import pandas as pd

            for pdf in batches:
                X = np.array(pdf["pv"].tolist(), dtype=np.float64)
                if len(X) == 0:
                    continue
                d2 = (
                    (X * X).sum(axis=1)[:, None]
                    + cnorm[None, :]
                    - 2.0 * (X @ Cc.T)
                )
                pick = d2.argmin(axis=1)
                # Spark F.round is HALF_UP (away from zero); np.round is
                # half-to-even — an exact .5 micro boundary would flip
                # the partial sums between the two paths
                Xs = X * 1.0e6
                Xm = np.copysign(
                    np.floor(np.abs(Xs) + 0.5), Xs
                ).astype(np.int64)
                out = []
                for c in np.unique(pick):
                    sel = Xm[pick == c]
                    out.append(
                        pd.DataFrame(
                            {
                                "cent_id": idc[int(c)],
                                "dim": np.arange(X.shape[1], dtype=np.int64),
                                "s_micro": sel.sum(axis=0),
                                "cnt": int(sel.shape[0]),
                            }
                        )
                    )
                yield pd.concat(out, ignore_index=True)

        agg = (
            pts.mapInPandas(part, part_schema)
            .groupBy("cent_id", "dim")
            .agg(F.sum("s_micro").alias("s"), F.sum("cnt").alias("n"))
            .collect()
        )
        by_cent: dict[int, dict[int, float]] = {}
        for r in agg:
            by_cent.setdefault(int(r["cent_id"]), {})[int(r["dim"])] = (
                float(r["s"]) / (float(r["n"]) * 1.0e6)
            )
        # clusters that lose every point drop out (k shrinks) — same
        # behavior as the HOF path; survivors keep their labels
        ids = sorted(by_cent)
        C = np.array(
            [[by_cent[c][d] for d in sorted(by_cent[c])] for c in ids],
            dtype=np.float64,
        )
    release(pts)
    return spark.createDataFrame(
        [(int(c), [float(x) for x in C[i]]) for i, c in enumerate(ids)],
        "cent_id long, cv array<double>",
    )


def kmeans_centroids_sql(
    source_sql: str,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
) -> str:
    """Oracle twin of :func:`kmeans_centroids` (returns SQL whose result is
    (cent_id, cv)).  Dimensions are 1-based here vs 0-based posexplode —
    only the array ORDER matters, and both sort by dimension."""
    d2 = (
        "(list_dot_product({a}, {a}) + list_dot_product({b}, {b})"
        " - 2 * list_dot_product({a}, {b}))"
    )
    sql = f"""
pts as (
  select {id_col} as pid, cast({vec_col} as double[]) as pv
  from ({source_sql})
),
cents0 as (
  select cast(row_number() over (order by pid) - 1 as bigint) as cent_id,
         pv as cv
  from (select * from pts order by pid limit {k})
)"""
    prev = "cents0"
    for i in range(1, iters + 1):
        sql += f""",
asg{i} as (
  select cent_id, pv from (
    select p.pid, p.pv, c.cent_id,
           row_number() over (
             partition by p.pid
             order by {d2.format(a="p.pv", b="c.cv")} asc, c.cent_id asc
           ) as rn
    from pts p cross join {prev} c
  ) where rn = 1
),
cents{i} as (
  select cent_id, list(mean order by dim) as cv
  from (
    select cent_id, dim,
           cast(sum(cast(round(pv[dim] * 1000000) as bigint)) as double)
             / cast(count(*) * 1000000 as double) as mean
    from asg{i}, (select unnest(generate_series(1, {dims})) as dim) dims
    group by cent_id, dim
  )
  group by cent_id
)"""
        prev = f"cents{i}"
    return f"with {sql}\nselect cent_id, cv from {prev}"


# ---------------------------------------------------------------------------
# IVF index persistence
# ---------------------------------------------------------------------------


def save_centroids(centroids: DataFrame, path: str) -> None:
    """Persist a trained centroid set (``cent_id``, ``cv``) as parquet — the
    build-once-probe-many IVF deployment: train on a corpus snapshot, store
    next to the table, and every query session loads the (tiny) index
    instead of re-running Lloyd iterations over the corpus."""
    centroids.select("cent_id", "cv").write.mode("overwrite").parquet(path)


def load_centroids(spark, path: str) -> DataFrame:
    """Load a :func:`save_centroids` index for ``ivf_ann_topk(centroids=)``.
    The set is broadcast at probe time, so this read is a few KB however
    large the corpus it indexes."""
    return spark.read.parquet(path).select("cent_id", "cv")


def save_codebooks(codebooks: DataFrame, path: str) -> None:
    """Persist trained PQ codebooks (``sub_id``, ``cent_id``, ``cv``) as
    parquet — the second build-once artifact of the IVF-PQ deployment
    (next to :func:`save_centroids` for the coarse quantizer).  A few KB
    regardless of corpus size; broadcast at probe/encode time."""
    codebooks.select("sub_id", "cent_id", "cv").write.mode(
        "overwrite"
    ).parquet(path)


def load_codebooks(spark, path: str) -> DataFrame:
    """Load a :func:`save_codebooks` artifact for
    ``ivf_pq_topk(codebooks=)`` / :func:`ivf_pq_index_append`."""
    return spark.read.parquet(path).select("sub_id", "cent_id", "cv")


def save_ivf_pq_index(encoded: DataFrame, path: str) -> None:
    """Persist an :func:`ivf_pq_encode` table as parquet PARTITIONED BY
    CELL — the billion-vector deployment layout: a probe joins the codes
    on the (query, cell) probe set, so dynamic partition pruning reads
    ONLY the ``nprobe`` cells each query hits, never the whole inverted
    file (the same touch-only-what-you-probe story as the BM25 term
    buckets, operators/search.save_bm25_index).  Store the coarse
    centroids (:func:`save_centroids`) and codebooks
    (:func:`save_codebooks`) it was built with next to it — probing under
    different artifacts is undefined."""
    encoded.select("neighbor_id", "sub_id", "code", "cell").write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(path)


def load_ivf_pq_index(spark, path: str) -> DataFrame:
    """Read a :func:`save_ivf_pq_index` back for
    ``ivf_pq_topk(encoded=)``.  The cell partition column rides along;
    the probe's equi-join on it prunes the scan to the probed cells."""
    return spark.read.parquet(path).select(
        "neighbor_id", "sub_id", "code",
        F.col("cell").cast("long").alias("cell"),
    )


# ---------------------------------------------------------------------------
# int8 scalar quantization (compressed ANN)
# ---------------------------------------------------------------------------


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, code): symmetric int8 scalar quantization of the L2-normalized
    vector — ``code_i = round(v_i / ||v|| * 127)``.

    The compressed index is 4× smaller than float32 (8× vs double) — at
    100 TB of embeddings that factor IS the scan/shuffle/cache budget — and
    the integer dot of two codes approximates ``cosine · 127²`` with < 1%
    ranking error at 64 dims.  Zero vectors quantize to all-zero codes.

    Determinism: the norm is the same sequential double fold both engines
    share (module header), and round() is half-away-from-zero in both Spark
    (HALF_UP) and DuckDB — codes are integer-exact across engines, so
    downstream ranking is hash-identical, not merely approximately equal."""
    v = as_double(vec_col)
    norm = F.sqrt(_dot(v, v))
    code = F.when(norm == 0.0, F.transform(v, lambda x: F.lit(0))).otherwise(
        F.transform(v, lambda x: F.round(x / norm * 127).cast("int"))
    )
    return df.select(F.col(id_col).alias("id"), code.alias("code"))


def _int_dot(a: Column, b: Column) -> Column:
    """Exact int64 dot of two int-code arrays (order-independent)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def ann_quantized_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k over int8-quantized codes:
    (query_id, rank, neighbor_id, qdot) with qdot ≈ cosine · 127².

    Same broadcast shape as :func:`brute_force_topk` — queries (small) are
    broadcast, the corpus streams — but the per-pair work is an integer dot
    over codes ¼ the size of the float vectors: the memory-bandwidth-bound
    scan goes ~4× faster and the ranking is integer-exact (no float
    tie ambiguity).  At deployment the quantized index is what you persist;
    re-rank the top-k with full-precision vectors if exactness matters."""
    q = quantize_embeddings(queries, id_col, vec_col).select(
        F.col("id").alias("query_id"), F.col("code").alias("qc")
    )
    c = quantize_embeddings(df, id_col, vec_col).select(
        F.col("id").alias("neighbor_id"), F.col("code").alias("cc")
    )
    scored = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        _int_dot(F.col("qc"), F.col("cc")).alias("qdot"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qdot").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "qdot")
    )


def _quantize_sql(vec_sql: str) -> str:
    v = f"cast({vec_sql} as double[])"
    norm = f"sqrt(list_dot_product({v}, {v}))"
    return (
        f"case when {norm} = 0 then list_transform({v}, x -> 0) "
        f"else list_transform({v}, x -> cast(round(x / {norm} * 127) as int)) end"
    )


def ann_quantized_topk_sql(
    source_sql: str,
    queries_sql: str,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    code = _quantize_sql(vec_col)
    return f"""
with q as (
  select {id_col} as query_id, {code} as qc from ({queries_sql})
),
c as (
  select {id_col} as neighbor_id, {code} as cc from ({source_sql})
),
scored as (
  select query_id, neighbor_id,
         cast(list_dot_product(qc, cc) as bigint) as qdot
  from c join q on query_id != neighbor_id
)
select query_id, rank, neighbor_id, qdot
from (
  select *, row_number() over (
      partition by query_id order by qdot desc, neighbor_id asc
  ) as rank
  from scored
)
where rank <= {k}
"""


def _cap_buckets(
    e: DataFrame, max_bucket: int | None, keys: tuple[str, str] = ("band", "sig")
) -> DataFrame:
    """Drop LSH buckets larger than ``max_bucket`` before a self-join —
    the mega-bucket safety valve (same rationale and shape as
    ``dedup.minhash_lsh_pairs(max_bucket=)``): an exact-duplicate
    embedding flood hashes everything into one bucket and the
    within-bucket join goes quadratic.  One map-side-combined count on
    the join key; None = no-op."""
    if max_bucket is None:
        return e
    small = (
        e.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_bn"))
        .filter(F.col("_bn") <= max_bucket)
        .select(*keys)
    )
    return e.join(small, list(keys), "left_semi")


def knn_graph(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 16,
    rows_per_band: int = 8,
    dims: int = 64,
    max_bucket: int | None = None,
) -> DataFrame:
    """Approximate k-NN graph over an embedding corpus: for every vector,
    its top-``k`` most-cosine-similar neighbors among the banded-LSH
    candidates — the input structure for SemDeDup-style semantic
    clustering and graph-based curation.

    Same blocking as :func:`embedding_cosine_dedup` (per-band bucket size
    ∝ n/2^rows_per_band; never the n² all-pairs), but the reduction is a
    per-source top-k window instead of a global threshold: candidates
    dedup across bands first, then ONE row_number window per source
    ordered by (cosine desc, neighbor id asc) — a total order, so rank
    assignment is engine-exact.  Approximate by construction: a true
    neighbor hashing into no shared band is unseen (recall tunes with
    ``bands``), identical to the recall story of ``lsh_ann_topk``.

    Default ``bands=16``: on the planted-twin corpus (scripts/
    recall_curve.py, BASELINE.md §knn-recall) measured recall of the true
    nearest neighbor for cosine>=0.9 pairs is 1.00 at 16 bands vs 0.83 at
    8, for 2× the candidate pairs (28k vs 14k on 600 vectors — still ~8%
    of the 360k all-pairs); the sign-LSH theory curve at the 0.9 boundary
    is 1-(1-p^8)^16 ≈ 0.996 with p = 1 - arccos(0.9)/π ≈ 0.856.

    ``max_bucket`` drops signature buckets over the cap before the
    self-join (:func:`_cap_buckets`) — a pair is lost only if EVERY
    band it collides in is flooded; collapse exact-duplicate vectors
    upstream and the cap never fires."""
    bhp = banded_hyperplanes(dims, bands, rows_per_band)
    e = _barrier(
        _cap_buckets(_banded(df, "id", "v", id_col, vec_col, bhp), max_bucket)
    )
    a, b = e.alias("a"), e.alias("b")
    pairs = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.sig") == F.col("b.sig"))
        & (F.col("a.id") != F.col("b.id")),
    ).select(
        F.col("a.id").alias("src"),
        F.col("b.id").alias("dst"),
        F.round(
            F.expr(unrolled_dot_sql("a.v", "b.v", dims))
            / (F.col("a.v_nrm") * F.col("b.v_nrm")),
            6,
        ).alias("cosine_sim"),
    )
    # A pair sharing j bands appears j times.  dense_rank over the RAW
    # pair stream ≡ row_number over the deduped stream — duplicates of
    # (src, dst) carry the identical cosine, and within a src the
    # (cosine desc, dst asc) key is unique per distinct dst — so the
    # corpus-sized distinct (a full extra exchange+hashagg of every
    # candidate pair, measured 13 s of a 27 s query at 8.3M pairs) moves
    # AFTER the rank filter, where ≤ k·n·(1+dup rate) rows survive.
    w = Window.partitionBy("src").orderBy(
        F.col("cosine_sim").desc(), F.col("dst").asc()
    )
    return (
        pairs.withColumn("rank", F.dense_rank().over(w))
        .filter(F.col("rank") <= k)
        .select("src", "dst", "cosine_sim", F.col("rank").cast("long").alias("rank"))
        .distinct()
    )


def _cap_sql(max_bucket: int | None) -> tuple[str, str]:
    """(extra CTEs, join-source name) mirroring :func:`_cap_buckets`."""
    if max_bucket is None:
        return "", "e"
    return (
        f""",
kept as (
  select band, sig from e group by 1, 2 having count(*) <= {max_bucket}
),
e_capped as (
  select e.* from e join kept using (band, sig)
)""",
        "e_capped",
    )


def knn_graph_sql(
    source_sql: str,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 16,
    rows_per_band: int = 8,
    dims: int = 64,
    max_bucket: int | None = None,
) -> str:
    bhp = banded_hyperplanes(dims, bands, rows_per_band)
    cos = "round(list_dot_product(a.v, b.v) / (a.v_nrm * b.v_nrm), 6)"
    cap, src = _cap_sql(max_bucket)
    return f"""
with e as (
{_banded_sql(source_sql, "id", "v", id_col, vec_col, bhp)}
){cap},
pairs as (
  select distinct a.id as src, b.id as dst, {cos} as cosine_sim
  from {src} a join {src} b
    on a.band = b.band and a.sig = b.sig and a.id <> b.id
)
select src, dst, cosine_sim,
  cast(row_number() over (
    partition by src order by cosine_sim desc, dst asc
  ) as bigint) as rank
from pairs
qualify rank <= {k}
"""


def _half_up_micro(x: float) -> int:
    """round(1e6·x) with ties away from zero — the driver-side twin of
    DuckDB's ``round()`` (Python's built-in round is banker's)."""
    import math

    return int(math.floor(abs(x) * 1.0e6 + 0.5)) * (1 if x >= 0 else -1)


def knn_graph_pq(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 16,
    rows_per_band: int = 8,
    dims: int = 64,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
    codebooks: DataFrame | None = None,
    vectorized_encode: bool = False,
    rerank: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """:func:`knn_graph` with the exact-cosine verification replaced by
    PQ symmetric distance computation (SDC, Jégou et al. TPAMI'11 §III):
    both endpoints are PQ codes and score(x, y) ≈ cos(x, y) =
    Σ_s dot(ĉ_{x,s}, ĉ_{y,s}) — m integer lookups into a broadcast
    m·ksub² table of centroid-pair dots instead of a dims-wide float
    dot.  Same banded-LSH blocking, same (score desc, dst asc)
    dense-rank top-k contract; output carries ``sdc_cos_micro`` (the
    micro-quantized cosine ESTIMATE) instead of an exact cosine.

    Why it exists — the measured shape (BASELINE.md §round-7c): exact
    knn_graph's candidate pairs carry two full vectors through the
    bucket self-join (~1 KB/pair; 140M pairs at 500k vectors) and that
    shuffle+FMA volume made it the one superlinear build on the 100×
    curve.  Here the join rows carry (id, band, sig, codes[m bytes]) —
    ~60× less shuffle, 8 table lookups per pair — and the SDC table
    (m·ksub² = 2048 entries here) broadcasts as one literal row.
    Quantization trades recall for that, measured on the planted-twin
    corpus in tests (twins survive; far pairs reorder).  ``rerank=C``
    (IVFADC+R, Jégou et al.) recovers TRUE cosines: SDC keeps each
    node's top-C candidates, then an exact cosine over only those n·C
    slim pairs re-ranks to the final top-k — output becomes
    (src, dst, cosine_sim, rank), a drop-in for threshold consumers
    like semantic dedup, while the bucket-sized candidate stream (the
    expensive part) still never carries a vector.

    The SDC table is computed driver-side from the collected codebook
    (m·ksub rows — bounded like every k-means collect in this module)
    with a SEQUENTIAL double fold and half-away-from-zero rounding, so
    the entries are bit-identical to the DuckDB twin's
    ``round(1e6·list_dot_product)``."""
    if rerank is not None and rerank < k:
        raise ValueError(
            f"rerank ({rerank}) must be >= k ({k}): the exact re-rank "
            "filters rank <= k over only the SDC top-rerank candidates, "
            "so rerank < k silently returns fewer than k neighbors"
        )
    sub = dims // m
    books = (
        codebooks
        if codebooks is not None
        else _barrier(pq_codebooks(df, dims, m, ksub, iters, id_col, vec_col))
    )

    # vectorized_encode: the numpy-matmul encode (pq_codes_vectorized,
    # pinned bit-equal to the HOF path by test) — at 500k vectors the
    # windowed HOF encode is the dominant cost; the HOF default stays
    # bit-identical to the DuckDB oracle for gated use.
    if vectorized_encode:
        codes = pq_codes_vectorized(
            df, books, dims, m, id_col=id_col, vec_col=vec_col, out_id="id"
        )
    else:
        codes = _pq_codes_hof(
            _pq_subvecs(df, "id", sub, m, id_col, vec_col), books, "id"
        )
    codes_arr = codes.groupBy("id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub_id", "code"))),
            lambda s: s["code"].cast("int"),
        ).alias("codes")
    )

    # SDC table: t[s·ksub² + i·ksub + j] = round_micro(dot(cv_si, cv_sj)).
    cents = {
        (r["sub_id"], r["cent_id"]): list(r["cv"])
        for r in books.select("sub_id", "cent_id", "cv").collect()
    }
    t = [0] * (m * ksub * ksub)
    for (s, i), a in cents.items():
        for j in range(ksub):
            b = cents.get((s, j))
            if b is None:
                continue  # degenerate subspace: fewer centroids than ksub
            acc = 0.0
            for d in range(sub):
                acc += a[d] * b[d]
            t[int(s) * ksub * ksub + int(i) * ksub + j] = _half_up_micro(acc)
    tdf = df.sparkSession.createDataFrame([(t,)], "t array<bigint>")

    bhp = banded_hyperplanes(dims, bands, rows_per_band)
    e = _barrier(
        _cap_buckets(
            _banded(df, "id", "v", id_col, vec_col, bhp).select(
                "id", "band", "sig"
            ),
            max_bucket,
        ).join(codes_arr, "id")
    )
    a, b = e.alias("a"), e.alias("b")
    score = None
    for s in range(m):
        term = F.element_at(
            F.col("t"),
            (
                F.lit(s * ksub * ksub)
                + F.col("a.codes").getItem(s) * ksub
                + F.col("b.codes").getItem(s)
                + 1
            ).cast("int"),
        )
        score = term if score is None else score + term
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.id") != F.col("b.id")),
        )
        .crossJoin(F.broadcast(tdf))
        .select(
            F.col("a.id").alias("src"),
            F.col("b.id").alias("dst"),
            score.alias("sdc_cos_micro"),
        )
    )
    # duplicates of (src, dst) across bands carry the identical score, so
    # dense_rank over the raw stream ≡ row_number over the deduped stream
    # (same argument as knn_graph) and the corpus-sized distinct moves
    # after the rank filter.
    w = Window.partitionBy("src").orderBy(
        F.col("sdc_cos_micro").desc(), F.col("dst").asc()
    )
    sdc_topc = (
        pairs.withColumn("rank", F.dense_rank().over(w))
        .filter(F.col("rank") <= (rerank or k))
        .select(
            "src", "dst", "sdc_cos_micro",
            F.col("rank").cast("long").alias("rank"),
        )
        .distinct()
    )
    if rerank is None:
        return sdc_topc
    # Exact re-rank (IVFADC+R): n·C slim (src, dst) pairs pick up the raw
    # vectors by two id-joins — the same cosine expression as knn_graph
    # (unrolled dot over raw doubles / norms, DuckDB fold order).
    nrm_sql = " + ".join(
        f"_rv[{d}] * _rv[{d}]" for d in range(dims)
    )
    vecs = df.select(
        F.col(id_col).alias("_rid"),
        as_double(vec_col).alias("_rv"),
    ).select(
        "_rid", "_rv", F.sqrt(F.expr(nrm_sql)).alias("_rn")
    )
    wr = Window.partitionBy("src").orderBy(
        F.col("cosine_sim").desc(), F.col("dst").asc()
    )
    return (
        sdc_topc.select("src", "dst")
        .join(vecs.alias("ra"), F.col("src") == F.col("ra._rid"))
        .join(vecs.alias("rb"), F.col("dst") == F.col("rb._rid"))
        .select(
            "src",
            "dst",
            F.round(
                F.expr(unrolled_dot_sql("ra._rv", "rb._rv", dims))
                / (F.col("ra._rn") * F.col("rb._rn")),
                6,
            ).alias("cosine_sim"),
        )
        .withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= k)
    )


def knn_graph_pq_sql(
    source_sql: str,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 16,
    rows_per_band: int = 8,
    dims: int = 64,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
    rerank: int | None = None,
    max_bucket: int | None = None,
) -> str:
    """DuckDB twin of :func:`knn_graph_pq` — identical subspace k-means
    and argmin encode (the pq_ann_topk_sql patterns), the SDC table as a
    books self-join, scoring by the long-form (sub, code, code) join,
    and the optional exact re-rank over the SDC top-C candidates."""
    if rerank is not None and rerank < k:
        raise ValueError(
            f"rerank ({rerank}) must be >= k ({k}): the exact re-rank "
            "filters rank <= k over only the SDC top-rerank candidates, "
            "so rerank < k silently returns fewer than k neighbors"
        )
    sub = dims // m
    bhp = banded_hyperplanes(dims, bands, rows_per_band)
    dv = f"cast({vec_col} as double[])"
    nv = (
        f"case when sqrt(list_dot_product({dv}, {dv})) = 0 then {dv} "
        f"else list_transform({dv}, x -> x / "
        f"sqrt(list_dot_product({dv}, {dv}))) end"
    )
    normed = f"select {id_col}, {nv} as _nv from ({source_sql})"
    d2 = (
        "(list_dot_product({a}, {a}) + list_dot_product({b}, {b})"
        " - 2 * list_dot_product({a}, {b}))"
    )
    book_branches = "\n  union all\n".join(
        f"  select cast({j} as bigint) as sub_id, cent_id, cv from ("
        + kmeans_centroids_sql(
            f"select {id_col}, list_slice(_nv, "
            f"{j * sub + 1}, {(j + 1) * sub}) as subv "
            f"from ({normed})",
            k=ksub,
            iters=iters,
            id_col=id_col,
            vec_col="subv",
            dims=sub,
        )
        + ")"
        for j in range(m)
    )
    sub_branches = "\n  union all\n".join(
        f"  select {id_col} as id, cast({j} as bigint) as sub_id, "
        f"list_slice(_nv, {j * sub + 1}, "
        f"{(j + 1) * sub}) as subv from ({normed})"
        for j in range(m)
    )
    return f"""
with books as (
{book_branches}
),
csub as (
{sub_branches}
),
codes as (
  select id, sub_id, cent_id as code from (
    select c.id, c.sub_id, b.cent_id,
           row_number() over (
             partition by c.id, c.sub_id
             order by {d2.format(a="c.subv", b="b.cv")} asc, b.cent_id asc
           ) as rn
    from csub c join books b using (sub_id)
  ) where rn = 1
),
sdc as (
  select a.sub_id, a.cent_id as ca, b.cent_id as cb,
         cast(round(1.0e6 * list_dot_product(a.cv, b.cv)) as bigint)
           as t_micro
  from books a join books b using (sub_id)
),
e as (
{_banded_sql(source_sql, "id", "v", id_col, vec_col, bhp)}
){_cap_sql(max_bucket)[0]},
pairs as (
  select distinct a.id as src, b.id as dst
  from {_cap_sql(max_bucket)[1]} a join {_cap_sql(max_bucket)[1]} b
    on a.band = b.band and a.sig = b.sig and a.id <> b.id
),
scored as (
  select p.src, p.dst, cast(sum(s.t_micro) as bigint) as sdc_cos_micro
  from pairs p
  join codes x on x.id = p.src
  join codes y on y.id = p.dst and y.sub_id = x.sub_id
  join sdc s on s.sub_id = x.sub_id and s.ca = x.code and s.cb = y.code
  group by 1, 2
),
sdc_topc as (
  select src, dst, sdc_cos_micro,
    cast(row_number() over (
      partition by src order by sdc_cos_micro desc, dst asc
    ) as bigint) as rank
  from scored
  qualify rank <= {rerank or k}
)
{f'''
, vecs as (
  select {id_col} as rid, cast({vec_col} as double[]) as rv,
         sqrt(list_dot_product(cast({vec_col} as double[]),
                               cast({vec_col} as double[]))) as rn
  from ({source_sql})
),
reranked as (
  select c.src, c.dst,
    round(list_dot_product(a.rv, b.rv) / (a.rn * b.rn), 6) as cosine_sim
  from sdc_topc c join vecs a on a.rid = c.src join vecs b on b.rid = c.dst
)
select src, dst, cosine_sim,
  cast(row_number() over (
    partition by src order by cosine_sim desc, dst asc
  ) as bigint) as rank
from reranked
qualify rank <= {k}
''' if rerank is not None else
 "select src, dst, sdc_cos_micro, rank from sdc_topc"}
"""


# ---------------------------------------------------------------------------
# Group pooling: many vectors → one L2-normalized centroid per group
# ---------------------------------------------------------------------------


def pool_embeddings(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Mean-pool the vectors of each group into one L2-NORMALIZED centroid
    — the chunk-embeddings→document-embedding (or cluster-centroid) step
    of an embedding pipeline.  Output: ``(group_col, n_vecs, pooled)``
    with ``pooled`` an array<bigint> of micro-quantized unit-vector
    components.

    Cross-engine exactness: each component is quantized to integer micros
    BEFORE summation, so group sums are order-independent int64 arithmetic;
    and because L2 normalization is scale-invariant, normalize(mean) ≡
    normalize(sum) — the ÷n never happens, so no intermediate float sum
    exists anywhere.  norm² = Σ_pos (Σ_rows micro)² stays exact int64
    (|component sums| ≤ ~1e10 even at million-row groups squares to < 2^63
    per term only for sums < 3e9 — micro-quantized unit-scale embeddings
    keep component sums ~1e6·√n, safe past 1e6-row groups).

    Scale shape: posexplode → ONE groupBy on (group, pos) with map-side
    partials (never a per-group collect of vectors), then a (group)-keyed
    reassembly window.  Skewed group sizes combine map-side before the
    shuffle."""
    vm = "cast(round(cast(v as double) * 1.0e6) as bigint)"
    comp = (
        df.select(F.col(group_col).alias("g"), F.posexplode(vec_col).alias("pos", "v"))
        .select("g", "pos", F.expr(vm).alias("vm"))
        .groupBy("g", "pos")
        .agg(F.sum("vm").alias("s"))
    )
    norms = comp.groupBy("g").agg(F.sum(F.col("s") * F.col("s")).alias("norm_sq"))
    out_expr = (
        "case when norm_sq = 0 then cast(0 as bigint) "
        "else cast(round(1.0e6 * s / sqrt(norm_sq)) as bigint) end"
    )
    pooled = (
        comp.join(norms, "g")
        .select("g", "pos", F.expr(out_expr).alias("o"))
        .groupBy("g")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "o"))),
                lambda st: st["o"],
            ).alias("pooled")
        )
    )
    counts = df.groupBy(F.col(group_col).alias("g")).agg(
        F.count(F.lit(1)).alias("n_vecs")
    )
    return pooled.join(counts, "g").select(
        F.col("g").alias(group_col), "n_vecs", "pooled"
    )


def pool_embeddings_sql(
    source_sql: str,
    dim: int,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`pool_embeddings` (``dim`` must match the
    vector length; the engine side infers it per row)."""
    return f"""
with ex as (
  select {group_col} as g, pos,
         cast(round(cast({vec_col} as double[])[pos + 1] * 1.0e6) as bigint)
           as vm
  from ({source_sql}), (select unnest(range({dim})) as pos)
),
comp as (select g, pos, cast(sum(vm) as bigint) as s from ex group by 1, 2),
norms as (
  select g, cast(sum(s * s) as bigint) as norm_sq from comp group by 1
),
pooled as (
  select g,
         list(case when norm_sq = 0 then cast(0 as bigint)
              else cast(round(1.0e6 * s / sqrt(norm_sq)) as bigint) end
              order by pos) as pooled
  from comp join norms using (g)
  group by g
),
counts as (
  select {group_col} as g, count(*) as n_vecs from ({source_sql}) group by 1
)
select g as {group_col}, cast(n_vecs as bigint) as n_vecs, pooled
from pooled join counts using (g)
"""


# ---------------------------------------------------------------------------
# Signed random projection (Achlioptas-style ±1 dimensionality reduction)
# ---------------------------------------------------------------------------


@lru_cache(maxsize=None)
def signed_projection_matrix(
    dim_in: int, dim_out: int, seed: str = "rp"
) -> tuple[tuple[int, ...], ...]:
    """Deterministic ±1 projection matrix derived from md5 — the same
    matrix on every executor, every engine, every run (no RNG state to
    ship).  ±1 entries satisfy the JL lemma like Gaussians do
    (Achlioptas 2003, 'Database-friendly random projections') and keep
    the arithmetic integer-exact."""
    sign = lambda i, j: (  # noqa: E731
        1
        if int(hashlib.md5(f"{seed}-{i}-{j}".encode()).hexdigest()[0], 16) % 2
        == 0
        else -1
    )
    return tuple(
        tuple(sign(i, j) for i in range(dim_in)) for j in range(dim_out)
    )


def random_projection(
    df: DataFrame,
    dim_in: int,
    dim_out: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "rp",
) -> DataFrame:
    """Project ``vec_col`` (``dim_in`` floats) to ``dim_out`` exact-integer
    components: proj_j = Σ_i ±(round(1e6·v_i)) with the md5-derived sign
    matrix.  Distances are preserved to JL tolerance at a quarter of the
    scan cost — the cheap front-end for brute-force re-ranking or
    coarse blocking when 100 TB of full-width vectors won't fit the
    scan budget.

    Scale shape: a pure NARROW map (one generated expression per output
    dim, all whole-stage codegen) — no shuffle, no UDF, no broadcast; the
    matrix lives in the plan as literals."""
    mat = signed_projection_matrix(dim_in, dim_out, seed)
    # Literal matrix laid out by INPUT index: SIGNS[i] = the dim_out signs
    # of component i.  CreateArray-of-literals constant-folds to ONE
    # Literal node, so generated code size is ∝ dim_out, not
    # dim_in × dim_out (a flat sum-of-1024-terms expression compiles past
    # janino's 64 KB method limit at dim_out ≥ 32 and falls back to
    # interpreted — measured).
    by_i = ", ".join(
        "array(" + ", ".join(str(mat[j][i]) for j in range(dim_out)) + ")"
        for i in range(dim_in)
    )
    ex = df.select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                f"transform(cast({vec_col} as array<double>), "
                "x -> cast(round(x * 1.0e6) as bigint))"
            )
        ).alias("i", "vm"),
    ).withColumn("sgn", F.expr(f"element_at(array({by_i}), i + 1)"))
    return (
        ex.groupBy(id_col)
        .agg(
            *[
                F.sum(
                    F.col("vm") * F.expr(f"element_at(sgn, {j + 1})")
                ).alias(f"_p{j}")
                for j in range(dim_out)
            ]
        )
        .select(
            F.col(id_col),
            F.array(*[F.col(f"_p{j}") for j in range(dim_out)]).alias("proj"),
        )
    )


def random_projection_sql(
    source_sql: str,
    dim_in: int,
    dim_out: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "rp",
) -> str:
    """DuckDB twin of :func:`random_projection` (same literal matrix)."""
    mat = signed_projection_matrix(dim_in, dim_out, seed)
    proj = ", ".join(
        " + ".join(f"({s})*vm[{i + 1}]" for i, s in enumerate(row))
        for row in mat
    )
    return f"""
with q as (
  select {id_col},
         list_transform(cast({vec_col} as double[]),
                        x -> cast(round(x * 1.0e6) as bigint)) as vm
  from ({source_sql})
)
select {id_col}, [{proj}] as proj from q
"""


# ---------------------------------------------------------------------------
# Product quantization (PQ) — trained sub-space codebooks + ADC scoring
# ---------------------------------------------------------------------------


def _l2_normalize(v: Column) -> Column:
    """v / ‖v‖ with the module's oracle-stable sequential-fold norm;
    zero vectors pass through unscaled.  PQ trains, encodes, and scores
    NORMALIZED vectors so the ADC inner product IS cosine — on raw
    vectors inner-product ranking diverges from the cosine ground truth
    (measured: twin recall 1/36 unnormalized → 31/36 normalized)."""
    norm = F.sqrt(_dot(v, v))
    return F.when(norm == 0, v).otherwise(
        F.transform(v, lambda x: x / norm)
    )


def pq_codebooks(
    df: DataFrame,
    dim: int,
    m: int = 4,
    ksub: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Train PQ codebooks: split each vector into ``m`` contiguous
    subvectors of ``dim/m`` dims and run the bit-deterministic DataFrame
    k-means (:func:`kmeans_centroids`) independently per subspace —
    ``(sub_id, cent_id, cv)``.  This is the codebook of Jégou et al.,
    "Product Quantization for Nearest Neighbor Search" (TPAMI'11): the
    code space has ksub^m cells from only m·ksub trained centroids.

    All ``m`` subspaces train TOGETHER: the Lloyd loop runs once with
    ``sub_id`` carried as a grouping key (one broadcast-assign join, one
    per-(sub, cent, dim) mean per iteration for the whole codebook), so
    job count is ∝ iters, not m·iters — measured 16.2 s → ~5 s on the
    sf0.1 bench vs the per-subspace loop.  Values are IDENTICAL to
    independent per-subspace training (same lowest-id seeds, same argmin
    tiebreaks, same integer-micro means), which is what the DuckDB twin
    computes.  The codebook table is m·ksub rows — driver-small at any
    corpus size, persisted/loaded exactly like IVF centroids
    (:func:`save_centroids`)."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    normed = df.select(
        F.col(id_col).alias("pid"),
        _l2_normalize(as_double(vec_col)).alias("_nv"),
    )
    arr = F.array(*[F.slice("_nv", j * sub + 1, sub) for j in range(m)])
    pts = _barrier(normed.select(
        "pid", F.posexplode(arr).alias("sub_id", "pv")
    ).withColumn("sub_id", F.col("sub_id").cast("long")))
    w0 = Window.partitionBy("sub_id").orderBy("pid")
    cents = (
        pts.withColumn("rn", F.row_number().over(w0))
        .filter(F.col("rn") <= ksub)
        .select(
            "sub_id",
            (F.col("rn") - 1).cast("long").alias("cent_id"),
            F.col("pv").alias("cv"),
        )
    )
    for _ in range(iters):
        scored = pts.join(F.broadcast(cents), "sub_id").select(
            "sub_id",
            "pid",
            "pv",
            "cent_id",
            _dist2(F.col("pv"), F.col("cv")).alias("d2"),
        )
        wa = Window.partitionBy("sub_id", "pid").orderBy(
            F.col("d2").asc(), F.col("cent_id").asc()
        )
        assigned = (
            scored.withColumn("rn", F.row_number().over(wa))
            .filter(F.col("rn") == 1)
            .select("sub_id", "cent_id", "pv")
        )
        means = (
            assigned.select(
                "sub_id", "cent_id", F.posexplode("pv").alias("dim", "val")
            )
            .groupBy("sub_id", "cent_id", "dim")
            .agg(
                (
                    F.sum(F.round(F.col("val") * 1e6, 0).cast("long"))
                    .cast("double")
                    / (F.count(F.lit(1)) * F.lit(1000000)).cast("double")
                ).alias("mean")
            )
        )
        prev, cents = cents, _barrier(
            means.groupBy("sub_id", "cent_id").agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "mean"))),
                    lambda s: s["mean"],
                ).alias("cv")
            ),
            checkpoint=True,
        )
        release(prev)
    release(pts)
    return _local_result(cents).select("sub_id", "cent_id", "cv")


def _pq_subvecs(
    src: DataFrame,
    out_id: str,
    sub: int,
    m: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prenormed: bool = False,
) -> DataFrame:
    """(out_id, sub_id, subv): the m contiguous subvectors of each
    L2-NORMALIZED vector — the shared front half of every PQ
    encode/LUT site.  ``prenormed`` sources carry (pid, nv) and skip
    re-normalizing."""
    if prenormed:
        n = src.select(
            F.col("pid").alias(out_id), F.col("nv").alias("_nv")
        )
    else:
        n = src.select(
            F.col(id_col).alias(out_id),
            _l2_normalize(as_double(vec_col)).alias("_nv"),
        )
    arr = F.array(*[F.slice("_nv", j * sub + 1, sub) for j in range(m)])
    return n.select(
        F.col(out_id), F.posexplode(arr).alias("sub_id", "subv")
    ).withColumn("sub_id", F.col("sub_id").cast("long"))


def _pq_codes_hof(subv: DataFrame, books: DataFrame, out_id: str) -> DataFrame:
    """argmin sub-centroid per (vector, subspace) over a subvector
    table — THE HOF PQ-encode semantics (d2 asc, cent_id tiebreak);
    every oracle-exact encode site routes here so the semantics exist
    once."""
    wenc = Window.partitionBy(out_id, "sub_id").orderBy(
        F.col("d2").asc(), F.col("cent_id").asc()
    )
    return (
        subv.join(F.broadcast(books), "sub_id")
        .select(
            out_id,
            "sub_id",
            "cent_id",
            _dist2(F.col("subv"), F.col("cv")).alias("d2"),
        )
        .withColumn("rn", F.row_number().over(wenc))
        .filter(F.col("rn") == 1)
        .select(out_id, "sub_id", F.col("cent_id").alias("code"))
    )


def pq_ann_topk(
    df: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    m: int = 4,
    ksub: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: DataFrame | None = None,
    rerank: int | None = None,
) -> DataFrame:
    """PQ approximate top-k by asymmetric distance computation (ADC):
    corpus vectors are ENCODED to m small codes (the 100 TB index is
    m·log2(ksub) bits per vector — 4 bytes here vs 256 for the floats);
    each query computes an m×ksub lookup table of exact
    query-subvector·centroid dots over the L2-NORMALIZED vectors (so the
    estimated inner product IS cosine), and score(q, x) =
    Σ_j LUT[j, code_j(x)] ≈ cos(q, x) without touching the original
    vectors.

    With ``rerank=C`` (IVFADC+R, Jégou et al.): ADC keeps the top-C
    candidates per query, then the EXACT cosine re-ranks them to the
    final top-``k`` — output (query_id, rank, neighbor_id, cosine_sim).
    Without, output is (query_id, rank, neighbor_id, score_micro) ranked
    by the raw ADC estimate.  The quantization-error/recall tradeoff is
    measured in BASELINE.md §pq-recall: on the planted-twin corpus ADC
    alone reaches 28/36 twins at m=8·ksub=16 while rerank=50 recovers
    every twin brute force finds.

    Scale shape: encoding is one broadcast codebook join + one
    (id, sub) window over n·m rows; scoring joins the CODES (not the
    vectors) against a broadcast LUT of queries·m·ksub rows and
    aggregates map-side; the re-rank touches only q·C full vectors.
    Nothing ever shuffles the full-width vector table."""
    sub = dim // m
    # a caller-supplied codebook is caller-OWNED: its storage lifetime
    # (persist or not) is the caller's decision — persisting it here was
    # a side effect on caller state (round-5 ADVICE fix).  Own-trained
    # books go through the registered barrier so release_caches() frees
    # them.
    books = (
        codebooks
        if codebooks is not None
        else _barrier(pq_codebooks(df, dim, m, ksub, iters, id_col, vec_col))
    )

    codes = _pq_codes_hof(
        _pq_subvecs(df, "neighbor_id", sub, m, id_col, vec_col),
        books,
        "neighbor_id",
    )
    lut = (
        _pq_subvecs(queries, "query_id", sub, m, id_col, vec_col)
        .join(F.broadcast(books), "sub_id")
        .select(
            "query_id",
            "sub_id",
            F.col("cent_id").alias("code"),
            F.expr(
                "cast(round(1.0e6 * "
                "aggregate(zip_with(subv, cv, (x, y) -> x * y), "
                "cast(0.0 as double), (acc, v) -> acc + v)) as bigint)"
            ).alias("lut_micro"),
        )
    )
    scored = (
        codes.join(F.broadcast(lut), ["sub_id", "code"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("lut_micro").alias("score_micro"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col("neighbor_id").asc()
    )
    adc = (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= (rerank or k))
        .select("query_id", "rank", "neighbor_id", "score_micro")
    )
    if rerank is None:
        return adc
    qv = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv")
    )
    cv = df.select(
        F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("cvv")
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    # candidate list (q·C rows) BROADCASTS against the streaming corpus
    # vectors — joining the other way would shuffle the full-width
    # vector table for a handful of candidates
    return (
        cv.join(
            F.broadcast(adc.select("query_id", "neighbor_id")),
            "neighbor_id",
        )
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cvv")), 6).alias("cosine_sim"),
        )
        .withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine_sim")
    )


def pq_ann_topk_sql(
    source_sql: str,
    queries_sql: str,
    dim: int,
    k: int = 5,
    m: int = 4,
    ksub: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank: int | None = None,
) -> str:
    """DuckDB twin of :func:`pq_ann_topk` (identical subspace k-means,
    encoding argmin, micro-quantized LUT, and optional exact re-rank)."""
    sub = dim // m
    d2 = (
        "(list_dot_product({a}, {a}) + list_dot_product({b}, {b})"
        " - 2 * list_dot_product({a}, {b}))"
    )
    dv = f"cast({vec_col} as double[])"
    nv = (
        f"case when sqrt(list_dot_product({dv}, {dv})) = 0 then {dv} "
        f"else list_transform({dv}, x -> x / "
        f"sqrt(list_dot_product({dv}, {dv}))) end"
    )
    normed = lambda src: (  # noqa: E731
        f"select {id_col}, {nv} as _nv from ({src})"
    )
    book_branches = "\n  union all\n".join(
        f"  select cast({j} as bigint) as sub_id, cent_id, cv from ("
        + kmeans_centroids_sql(
            f"select {id_col}, list_slice(_nv, "
            f"{j * sub + 1}, {(j + 1) * sub}) as subv "
            f"from ({normed(source_sql)})",
            k=ksub,
            iters=iters,
            id_col=id_col,
            vec_col="subv",
            dims=sub,
        )
        + ")"
        for j in range(m)
    )
    sub_branches = lambda src, out_id: "\n  union all\n".join(  # noqa: E731
        f"  select {id_col} as {out_id}, cast({j} as bigint) as sub_id, "
        f"list_slice(_nv, {j * sub + 1}, "
        f"{(j + 1) * sub}) as subv from ({normed(src)})"
        for j in range(m)
    )
    return f"""
with books as (
{book_branches}
),
csub as (
{sub_branches(source_sql, "neighbor_id")}
),
qsub as (
{sub_branches(queries_sql, "query_id")}
),
codes as (
  select neighbor_id, sub_id, cent_id as code from (
    select c.neighbor_id, c.sub_id, b.cent_id,
           row_number() over (
             partition by c.neighbor_id, c.sub_id
             order by {d2.format(a="c.subv", b="b.cv")} asc, b.cent_id asc
           ) as rn
    from csub c join books b using (sub_id)
  ) where rn = 1
),
lut as (
  select q.query_id, q.sub_id, b.cent_id as code,
         cast(round(1.0e6 * list_dot_product(q.subv, b.cv)) as bigint)
           as lut_micro
  from qsub q join books b using (sub_id)
),
scored as (
  select query_id, neighbor_id,
         cast(sum(lut_micro) as bigint) as score_micro
  from codes join lut using (sub_id, code)
  where query_id != neighbor_id
  group by 1, 2
),
adc as (
  select query_id,
         cast(row_number() over (
           partition by query_id order by score_micro desc, neighbor_id asc
         ) as bigint) as rank,
         neighbor_id, score_micro
  from scored
  qualify rank <= {rerank or k}
)
{"select query_id, rank, neighbor_id, score_micro from adc" if rerank is None else f'''
select query_id,
       cast(row_number() over (
         partition by query_id order by cosine_sim desc, neighbor_id asc
       ) as bigint) as rank,
       neighbor_id, cosine_sim
from (
  select a.query_id, a.neighbor_id,
         round(list_dot_product(qv.v_, cv.v_) /
               (sqrt(list_dot_product(qv.v_, qv.v_)) *
                sqrt(list_dot_product(cv.v_, cv.v_))), 6) as cosine_sim
  from adc a
  join (select {id_col} as neighbor_id, cast({vec_col} as double[]) as v_
        from ({source_sql})) cv using (neighbor_id)
  join (select {id_col} as query_id, cast({vec_col} as double[]) as v_
        from ({queries_sql})) qv using (query_id)
)
qualify rank <= {k}
'''}
"""


# ---------------------------------------------------------------------------
# Hard-negative mining (contrastive-training data prep)
# ---------------------------------------------------------------------------


def hard_negatives(
    df: DataFrame,
    positives: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    positive_id_col: str = "positive_id",
) -> DataFrame:
    """DPR-style hard-negative mining: for each (query, positive) pair,
    the top-``k`` corpus items MOST similar to the query that are
    neither the query itself nor any of its positives — the negatives
    that actually teach a contrastive model (random negatives are too
    easy; the near-misses carry the gradient signal).

    Scoring is the int8-quantized dot (:func:`quantize_embeddings` —
    integer-exact ranking, and at 100 TB the quantized index IS what
    you'd scan); output ``(query_id, rank, negative_id, qdot)``.

    Scale shape: queries ⊂ corpus are broadcast (both the codes and the
    positive-pair table); the corpus streams through one broadcast join,
    the exclusion is a broadcast LEFT ANTI on (query, candidate), and
    the per-query top-k is a row_number window over candidates."""
    qids = positives.select(
        F.col(query_id_col).alias(id_col)
    ).distinct()
    q = quantize_embeddings(
        df.join(qids, id_col, "left_semi"), id_col, vec_col
    ).select(F.col("id").alias("query_id"), F.col("code").alias("qc"))
    c = quantize_embeddings(df, id_col, vec_col).select(
        F.col("id").alias("negative_id"), F.col("code").alias("cc")
    )
    scored = c.join(
        F.broadcast(q), F.col("query_id") != F.col("negative_id")
    ).select(
        "query_id",
        "negative_id",
        _int_dot(F.col("qc"), F.col("cc")).alias("qdot"),
    )
    excl = positives.select(
        F.col(query_id_col).alias("query_id"),
        F.col(positive_id_col).alias("negative_id"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qdot").desc(), F.col("negative_id").asc()
    )
    return (
        scored.join(F.broadcast(excl), ["query_id", "negative_id"], "left_anti")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "negative_id", "qdot")
    )


def hard_negatives_sql(
    source_sql: str,
    positives_sql: str,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    positive_id_col: str = "positive_id",
) -> str:
    """DuckDB twin of :func:`hard_negatives`."""
    code = _quantize_sql(vec_col)
    return f"""
with pos as (
  select {query_id_col} as query_id, {positive_id_col} as negative_id
  from ({positives_sql})
),
q as (
  select {id_col} as query_id, {code} as qc from ({source_sql})
  where {id_col} in (select query_id from pos)
),
c as (
  select {id_col} as negative_id, {code} as cc from ({source_sql})
),
scored as (
  select query_id, negative_id,
         cast(list_dot_product(qc, cc) as bigint) as qdot
  from c join q on query_id != negative_id
),
kept as (
  select s.* from scored s
  where not exists (
    select 1 from pos p
    where p.query_id = s.query_id and p.negative_id = s.negative_id
  )
)
select query_id,
       cast(row_number() over (
         partition by query_id order by qdot desc, negative_id asc
       ) as bigint) as rank,
       negative_id, qdot
from kept
qualify rank <= {k}
"""


# ---------------------------------------------------------------------------
# IVF-PQ: coarse cell restriction + PQ ADC within probed cells
# ---------------------------------------------------------------------------


def assign_cells_vectorized(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_id: str = "neighbor_id",
    out_cell: str = "cell",
) -> DataFrame:
    """Nearest-centroid assignment computed VECTORIZED in numpy over
    Arrow batches — the O(n·cells) pass that dominates IVF builds, as
    one (batch × dim) · (dim × cells) matmul per batch instead of
    n·cells interpreted HOF dot products (same engineering as the
    banded-LSH signatures; measured ~20× on the scale corpus).

    Centroids are collected to the driver (driver-small by
    construction — cells ≪ corpus) and shipped in the task closure.
    Ties break toward the lowest cent_id (numpy argmin first-hit over
    cent_id-ordered columns), matching the HOF path's ordering; exact-
    tie argmins could differ from the sequential-fold path only when
    two distances collide to the same double after different fold
    orders — use the HOF path inside oracle-gated queries, this one for
    scale builds."""
    import numpy as np
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    rows = sorted(
        ((r["cent_id"], list(r["cv"])) for r in centroids.collect()),
        key=lambda t: t[0],
    )
    cent_ids = [int(c) for c, _ in rows]
    C = np.array([v for _, v in rows], dtype=np.float64)  # (k, d)
    cnorm = (C * C).sum(axis=1)  # (k,)
    id_field = df.schema[id_col].dataType
    schema = StructType(
        [
            StructField(out_id, id_field),
            StructField(out_cell, LongType()),
        ]
    )
    src = df.select(F.col(id_col), as_double(vec_col).alias("_v"))

    def part(batches):
        for pdf in batches:
            X = np.array(pdf["_v"].tolist(), dtype=np.float64)  # (b, d)
            if len(X) == 0:
                continue
            d2 = (X * X).sum(axis=1)[:, None] + cnorm[None, :] - 2.0 * (
                X @ C.T
            )
            pick = d2.argmin(axis=1)
            out = pdf[[id_col]].copy()
            out.columns = [out_id]
            out[out_cell] = [cent_ids[i] for i in pick]
            yield out

    return src.mapInPandas(part, schema)


def pq_codes_vectorized(
    df: DataFrame,
    codebooks: DataFrame,
    dim: int,
    m: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_id: str = "neighbor_id",
) -> DataFrame:
    """PQ encoding computed VECTORIZED in numpy over Arrow batches: for
    each batch, m small (batch × sub)·(sub × ksub) matmuls pick the
    nearest sub-centroid per subspace — replacing the n·m·ksub
    interpreted HOF distance evals of the windowed formulation.  Input
    vectors are L2-normalized HERE (same as the HOF path); ties break
    toward the lowest cent_id.  Output (out_id, sub_id, code)."""
    import numpy as np
    from pyspark.sql.types import LongType, StructField, StructType

    sub = dim // m
    by_sub: dict[int, list[tuple[int, list[float]]]] = {}
    for r in codebooks.collect():
        by_sub.setdefault(int(r["sub_id"]), []).append(
            (int(r["cent_id"]), list(r["cv"]))
        )
    mats = {}
    for j, rows in by_sub.items():
        rows.sort(key=lambda t: t[0])
        C = np.array([v for _, v in rows], dtype=np.float64)
        mats[j] = ([c for c, _ in rows], C, (C * C).sum(axis=1))
    id_field = df.schema[id_col].dataType
    schema = StructType(
        [
            StructField(out_id, id_field),
            StructField("sub_id", LongType()),
            StructField("code", LongType()),
        ]
    )
    src = df.select(
        F.col(id_col), _l2_normalize(as_double(vec_col)).alias("_nv")
    )

    def part(batches):
        import pandas as pd

        for pdf in batches:
            X = np.array(pdf["_nv"].tolist(), dtype=np.float64)
            if len(X) == 0:
                continue
            frames = []
            for j in sorted(mats):
                cent_ids, C, cnorm = mats[j]
                Xj = X[:, j * sub : (j + 1) * sub]
                d2 = (
                    (Xj * Xj).sum(axis=1)[:, None]
                    + cnorm[None, :]
                    - 2.0 * (Xj @ C.T)
                )
                pick = d2.argmin(axis=1)
                out = pdf[[id_col]].copy()
                out.columns = [out_id]
                out["sub_id"] = j
                out["code"] = [cent_ids[i] for i in pick]
                frames.append(out)
            yield pd.concat(frames, ignore_index=True)

    return src.mapInPandas(part, schema)


def ivf_pq_encode(
    df: DataFrame,
    dim: int,
    coarse: DataFrame,
    codebooks: DataFrame,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vectorized_assign: bool = False,
) -> DataFrame:
    """The IVF-PQ ENCODED corpus: one row per (vector, subspace) —
    (neighbor_id, cell, sub_id, code) — i.e. the inverted lists with
    their PQ codes attached.  This is the billion-vector index artifact:
    build it once per corpus snapshot (one assignment pass + one encode
    pass), persist it partitioned by cell, and every probe session joins
    against it — the probe never touches raw vectors except the q·C
    it re-ranks.  ``ivf_pq_topk(encoded=...)`` consumes it.

    ``vectorized_assign=True`` runs BOTH O(n) build passes as numpy
    matmuls over Arrow batches — the cell assignment
    (:func:`assign_cells_vectorized`, O(n·cells) pairs) and the PQ code
    encode (:func:`pq_codes_vectorized`, O(n·m·ksub) pairs) — the scale
    build path; the default HOF path is bit-identical to the DuckDB
    oracle and belongs under gated queries."""
    normed = df.select(
        F.col(id_col).alias("pid"),
        _l2_normalize(as_double(vec_col)).alias("nv"),
    )
    if vectorized_assign:
        assign = assign_cells_vectorized(
            normed, coarse, id_col="pid", vec_col="nv"
        )
        codes = pq_codes_vectorized(
            df, codebooks, dim, m, id_col=id_col, vec_col=vec_col
        )
        return codes.join(assign, "neighbor_id")
    else:
        # both HOF passes (assignment, sub-encode) read the normalized
        # corpus — barrier so the normalize scan runs once
        normed = _barrier(normed)
        wassign = Window.partitionBy("pid").orderBy(
            F.col("d2").asc(), F.col("cent_id").asc()
        )
        assign = (
            normed.join(F.broadcast(coarse))
            .select(
                "pid",
                "cent_id",
                _dist2(F.col("nv"), F.col("cv")).alias("d2"),
            )
            .withColumn("rn", F.row_number().over(wassign))
            .filter(F.col("rn") == 1)
            .select(
                F.col("pid").alias("neighbor_id"),
                F.col("cent_id").alias("cell"),
            )
        )
    sub = dim // m
    # reuse the assignment pass's normalization — re-deriving it from
    # raw df would add a second full O(n·dim) normalize scan per build
    codes = _pq_codes_hof(
        _pq_subvecs(normed, "neighbor_id", sub, m, prenormed=True),
        codebooks,
        "neighbor_id",
    )
    return codes.join(assign, "neighbor_id")


def ivf_pq_index_append(
    encoded: DataFrame,
    new_df: DataFrame,
    dim: int,
    coarse: DataFrame,
    codebooks: DataFrame,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vectorized_assign: bool = False,
) -> DataFrame:
    """Incremental index maintenance for the IVF-PQ encoded corpus —
    the encode-only fold-in that completes the append family
    (:func:`lsh_index_append`, ``search.bm25_index_append``): under
    FIXED ``coarse`` centroids and ``codebooks``, a vector's (cell,
    codes) row depends only on the vector itself, so appending is
    exactly encoding the NEW vectors under the stored artifacts and a
    union — equal to :func:`ivf_pq_encode` of old ∪ new by
    construction (pinned in tests/test_pq_ann.py).  Cost: one
    O(new·cells + new·m·ksub) pass over the APPENDED vectors only; the
    existing billion-row lists are never touched.

    This is FAISS's ``IndexIVFPQ.add``: fold-ins reuse the trained
    quantizers, so cell boundaries and code words drift from what a
    retrain would pick as the appended distribution shifts — recall
    decays, the index does not break.  When drift accumulates, retrain
    (the ``ann_pq_refresh`` path); until then append is O(new) instead
    of O(corpus)."""
    return encoded.unionByName(
        ivf_pq_encode(
            new_df, dim, coarse, codebooks, m,
            id_col=id_col, vec_col=vec_col,
            vectorized_assign=vectorized_assign,
        )
    )


def ivf_pq_topk(
    df: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_cells: int = 8,
    nprobe: int = 2,
    m: int = 4,
    ksub: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse: DataFrame | None = None,
    codebooks: DataFrame | None = None,
    encoded: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ approximate top-k — the FAISS ``IndexIVFPQ`` shape: a
    COARSE k-means over the L2-normalized vectors partitions the corpus
    into ``n_cells`` inverted lists; each query probes its ``nprobe``
    nearest cells and runs PQ asymmetric-distance scoring ONLY against
    the codes in those lists.  Candidate work per query is
    ~``nprobe/n_cells`` of the corpus instead of all of it — this
    multiplies with PQ's per-candidate compression, which is why the
    combination is the workhorse billion-vector index.

    Non-residual variant (codes quantize the normalized vectors, not
    cell residuals — documented deviation from Jégou et al.'s residual
    encoding; residuals sharpen ADC precision but need per-cell LUTs,
    n_cells× the broadcast).  Output (query_id, rank, neighbor_id,
    score_micro), micro-quantized exact integers like
    :func:`pq_ann_topk`.

    Scale shape: coarse centroids and codebooks broadcast (both
    driver-small); the cell-restriction is an equi-join of the CODES
    table against the broadcast (query, cell) probe set; nothing
    shuffles full-width vectors.

    ``encoded``: a prebuilt :func:`ivf_pq_encode` table (requires
    ``coarse`` and ``codebooks`` too — the same artifacts it was built
    with).  The probe then touches ONLY the probed cells' codes: no
    corpus assignment, no re-encode — the recurring per-query cost is
    O(queries · nprobe · cell size), genuinely sublinear in corpus
    size when cells ∝ √n."""
    if encoded is not None and (coarse is None or codebooks is None):
        raise ValueError(
            "ivf_pq_topk(encoded=...) needs the coarse and codebooks the "
            "encoding was built with"
        )
    if coarse is None:
        coarse = kmeans_centroids(
            _barrier(
                df.select(
                    F.col(id_col).alias("pid"),
                    _l2_normalize(as_double(vec_col)).alias("nv"),
                )
            ),
            k=n_cells,
            iters=iters,
            id_col="pid",
            vec_col="nv",
        )
    qnorm = queries.select(
        F.col(id_col).alias("pid"),
        _l2_normalize(as_double(vec_col)).alias("nv"),
    )
    wprobe = Window.partitionBy("pid").orderBy(
        F.col("d2").asc(), F.col("cent_id").asc()
    )
    qcells = (
        qnorm.join(F.broadcast(coarse))
        .select(
            "pid",
            "cent_id",
            _dist2(F.col("nv"), F.col("cv")).alias("d2"),
        )
        .withColumn("rn", F.row_number().over(wprobe))
        .filter(F.col("rn") <= nprobe)
        .select(F.col("pid").alias("query_id"), F.col("cent_id").alias("cell"))
    )
    # caller-owned codebooks are never persisted here (see pq_ann_topk)
    books = (
        codebooks
        if codebooks is not None
        else _barrier(pq_codebooks(df, dim, m, ksub, iters, id_col, vec_col))
    )
    sub = dim // m

    lut = (
        _pq_subvecs(queries, "query_id", sub, m, id_col, vec_col)
        .join(F.broadcast(books), "sub_id")
        .select(
            "query_id",
            "sub_id",
            F.col("cent_id").alias("code"),
            F.expr(
                "cast(round(1.0e6 * "
                "aggregate(zip_with(subv, cv, (x, y) -> x * y), "
                "cast(0.0 as double), (acc, v) -> acc + v)) as bigint)"
            ).alias("lut_micro"),
        )
    )
    # the inline path IS the index build — ONE implementation of the
    # assign+encode semantics lives in ivf_pq_encode; probing a
    # caller-prebuilt encoding just skips it
    if encoded is None:
        encoded = ivf_pq_encode(
            df, dim, coarse, books, m, id_col=id_col, vec_col=vec_col
        )
    candidates = encoded.join(F.broadcast(qcells), "cell")
    scored = (
        candidates.join(F.broadcast(lut), ["query_id", "sub_id", "code"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("lut_micro").alias("score_micro"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "score_micro")
    )


def ivf_pq_topk_sql(
    source_sql: str,
    queries_sql: str,
    dim: int,
    k: int = 5,
    n_cells: int = 8,
    nprobe: int = 2,
    m: int = 4,
    ksub: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sql: str | None = None,
) -> str:
    """DuckDB twin of :func:`ivf_pq_topk`.  ``train_sql`` (default: the
    corpus itself) is the source the coarse centroids and codebooks
    train on — pass the pre-append base corpus to twin the
    :func:`ivf_pq_index_append` fold-in, where the full corpus is
    encoded under artifacts trained before the append."""
    sub = dim // m
    d2 = (
        "(list_dot_product({a}, {a}) + list_dot_product({b}, {b})"
        " - 2 * list_dot_product({a}, {b}))"
    )
    dv = f"cast({vec_col} as double[])"
    nv = (
        f"case when sqrt(list_dot_product({dv}, {dv})) = 0 then {dv} "
        f"else list_transform({dv}, x -> x / "
        f"sqrt(list_dot_product({dv}, {dv}))) end"
    )
    normed_src = f"select {id_col}, {nv} as nv from ({source_sql})"
    normed_q = f"select {id_col}, {nv} as nv from ({queries_sql})"
    normed_train = (
        normed_src
        if train_sql is None
        else f"select {id_col}, {nv} as nv from ({train_sql})"
    )
    coarse = kmeans_centroids_sql(
        normed_train, k=n_cells, iters=iters, id_col=id_col, vec_col="nv",
        dims=dim,
    )
    book_branches = "\n  union all\n".join(
        f"  select cast({j} as bigint) as sub_id, cent_id, cv from ("
        + kmeans_centroids_sql(
            f"select {id_col}, list_slice(nv, {j * sub + 1}, "
            f"{(j + 1) * sub}) as subv from ({normed_train})",
            k=ksub,
            iters=iters,
            id_col=id_col,
            vec_col="subv",
            dims=sub,
        )
        + ")"
        for j in range(m)
    )
    sub_branches = lambda src, out_id: "\n  union all\n".join(  # noqa: E731
        f"  select {id_col} as {out_id}, cast({j} as bigint) as sub_id, "
        f"list_slice(nv, {j * sub + 1}, {(j + 1) * sub}) as subv "
        f"from ({src})"
        for j in range(m)
    )
    return f"""
with coarse as materialized ({coarse}),
cnorm as materialized ({normed_src}),
qnorm as materialized ({normed_q}),
assign as materialized (
  select {id_col} as neighbor_id, cent_id as cell from (
    select n.{id_col}, c.cent_id,
           row_number() over (
             partition by n.{id_col}
             order by {d2.format(a="n.nv", b="c.cv")} asc, c.cent_id asc
           ) as rn
    from cnorm n cross join coarse c
  ) where rn = 1
),
qcells as materialized (
  select {id_col} as query_id, cent_id as cell from (
    select n.{id_col}, c.cent_id,
           row_number() over (
             partition by n.{id_col}
             order by {d2.format(a="n.nv", b="c.cv")} asc, c.cent_id asc
           ) as rn
    from qnorm n cross join coarse c
  ) where rn <= {nprobe}
),
books as materialized (
{book_branches}
),
csub as materialized (
{sub_branches("select * from cnorm", "neighbor_id")}
),
qsub as materialized (
{sub_branches("select * from qnorm", "query_id")}
),
codes as materialized (
  select neighbor_id, sub_id, cent_id as code from (
    select c.neighbor_id, c.sub_id, b.cent_id,
           row_number() over (
             partition by c.neighbor_id, c.sub_id
             order by {d2.format(a="c.subv", b="b.cv")} asc, b.cent_id asc
           ) as rn
    from csub c join books b using (sub_id)
  ) where rn = 1
),
lut as materialized (
  select q.query_id, q.sub_id, b.cent_id as code,
         cast(round(1.0e6 * list_dot_product(q.subv, b.cv)) as bigint)
           as lut_micro
  from qsub q join books b using (sub_id)
),
scored as (
  select qc.query_id, a.neighbor_id,
         cast(sum(l.lut_micro) as bigint) as score_micro
  from codes co
  join assign a using (neighbor_id)
  join qcells qc using (cell)
  join lut l on l.query_id = qc.query_id
            and l.sub_id = co.sub_id and l.code = co.code
  where qc.query_id != a.neighbor_id
  group by 1, 2
)
select query_id,
       cast(row_number() over (
         partition by query_id order by score_micro desc, neighbor_id asc
       ) as bigint) as rank,
       neighbor_id, score_micro
from scored
qualify rank <= {k}
"""
